import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, REPO)


@pytest.fixture(scope="session")
def work(tmp_path_factory):
    return str(tmp_path_factory.mktemp("perfbench"))


@pytest.fixture(scope="session")
def spark(work):
    """One UI-enabled session, configured the way ``perfbench/run.py``
    configures its traced phase."""
    from perfbench.run import _prepare_env, _shutdown
    from perfbench.workloads import start_session

    _prepare_env(work)
    s = start_session(work, ui=True)
    yield s
    _shutdown(s)

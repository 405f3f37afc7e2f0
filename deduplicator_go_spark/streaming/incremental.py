"""Incremental batch processing — the engine's "streaming" model.

The reference has no streaming operators (SURVEY.md §2.9); its
incremental character is a 1-minute systemd timer re-running
``files hash --count 100`` against a ``hash IS NULL`` work queue
(/root/reference/systemd/deduplicator-hash.timer:5-8,
/root/reference/scripts/hash-files.sh:16, files/hash.go:27-33).

The Spark-native equivalent is *incremental batch over snapshots*:
each tick processes the frontier — rows of the input not yet present
in the stage's committed output — and appends.  This matches the
reference's semantics exactly (at-least-once per row, resumable,
bounded batches) without inventing streaming semantics the reference
does not have.  On Iceberg this frontier is snapshot-diff; here it is
an anti-join on the key.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import CheckpointCatalog


def frontier(
    inputs: DataFrame,
    done: DataFrame | None,
    key: str | list[str],
    limit: int | None = None,
    large_first: str | None = None,
    priority_prefixes: list[str] | None = None,
) -> DataFrame:
    """Rows of ``inputs`` whose key is absent from ``done``.

    ``limit`` mirrors the reference's --count batch bound
    (files/hash.go:268); ``large_first`` mirrors --large-first ordering
    (files/hash.go:109-123); ``priority_prefixes`` mirrors the
    priority root folders that are hashed first
    (files/hash.go:142-178 resolveHashPriorityRootFolders) — rows whose
    key starts with an earlier prefix sort first. At scale ordering is
    only meaningful with a limit, so both are applied just before the
    bound."""
    keys = [key] if isinstance(key, str) else list(key)
    out = inputs
    if done is not None:
        out = out.join(done.select(*keys).distinct(), keys, "left_anti")
    if limit is not None:
        order = []
        if priority_prefixes:
            rank = F.lit(len(priority_prefixes))
            for i, p in reversed(list(enumerate(priority_prefixes))):
                rank = F.when(F.col(keys[0]).startswith(p), F.lit(i)).otherwise(rank)
            order.append(rank.asc())
        if large_first is not None:
            order.append(F.desc(F.coalesce(F.col(large_first), F.lit(-1))))
        if order:
            out = out.orderBy(*order)
        out = out.limit(limit)
    return out


def run_incremental(
    spark: SparkSession,
    catalog: CheckpointCatalog,
    table: str,
    inputs: DataFrame,
    transform: Callable[[DataFrame], DataFrame],
    key: str | list[str] = "url",
    params_hash: str = "",
    batch_limit: int | None = None,
    max_ticks: int = 1_000_000,
    large_first: str | None = None,
    priority_prefixes: list[str] | None = None,
) -> int:
    """Drive ``transform`` over the frontier until drained (the systemd
    re-run loop collapsed into a driver loop).  Returns rows appended
    across all ticks of this call.

    CONTRACT: ``transform`` must be KEY-PRESERVING — emit at least one
    output row per frontier key. A key the transform drops never
    commits, so it re-enters every subsequent frontier: the queue can
    neither drain it nor distinguish it from unprocessed work (no
    termination rule fixes that — it is why the reference writes
    sentinel hash values for failed files rather than skipping them,
    files/hash.go:27-33, and why sign_documents emits status rows
    instead of filtering failures). Keys that must be excluded belong
    in a filter on ``inputs``; per-key failures belong in a status
    column (operators/signatures.py).

    Termination is derived from lineage (rows after minus rows before
    each commit) — no extra ``batch.count()`` job recomputing the
    frontier plan per tick. Under the contract, ``appended <
    batch_limit`` ⇔ the frontier batch was short ⇔ drained.
    """
    # kept only if its record carries params_hash, else dropped
    catalog.incremental_begin(table, params_hash)
    before = catalog.table_rows(table)
    appended_total = 0
    for _ in range(max_ticks):
        done = catalog.read(spark, table) if catalog.exists(table) else None
        batch = frontier(
            inputs, done, key, limit=batch_limit,
            large_first=large_first, priority_prefixes=priority_prefixes,
        )
        out = transform(batch)
        info = catalog.write(out, table, params_hash, mode="append")
        appended = info.rows - before
        before = info.rows
        appended_total += appended
        if appended <= 0:
            # appended == 0 normally means the frontier drained; but a
            # key-dropping transform (contract violation) looks exactly
            # the same from lineage. Probe the frontier cheaply: rows
            # remaining + nothing appended = the queue can never drain.
            leftover = frontier(inputs, catalog.read(spark, table), key,
                                limit=1).count()
            if leftover > 0:
                raise RuntimeError(
                    f"run_incremental({table!r}): transform appended 0 rows "
                    f"while the frontier still has work — the transform "
                    f"dropped keys, violating the key-preserving contract "
                    f"(emit status rows for failures instead)."
                )
            break
        if batch_limit is None or appended < batch_limit:
            break
    return appended_total


def staleness_filter(
    done: DataFrame,
    ts_col: str = "sig_ts",
    max_age: str = "INTERVAL 1 WEEK",
) -> DataFrame:
    """Rows due for re-computation (reference --renew staleness,
    files/hash.go:27-31): signature older than ``max_age``."""
    return done.filter(
        F.col(ts_col) < F.current_timestamp() - F.expr(max_age)
    )

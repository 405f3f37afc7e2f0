"""Per-query timing and plan capture for optimization work.

Usage:
  python bench_extra.py [--sf DIR] [--runs N] [--queries a,b,c]
                        [--plans plans/r06] [--tag before]

Runs the named queries (default: bench.py's HEADLINE set) for N passes,
each pass in a fresh bench-identical session. Each query is timed as
build plus `.collect()`, the way bench.py times it, and on the first
pass its `.explain("formatted")` plan is written to
<plans>/<query>_<tag>.txt. The last line is JSON with each query's
samples, best of N and median; no figure is combined across queries
or carried across invocations.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import time


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--queries", default=None, help="comma list; default = bench HEADLINE")
    ap.add_argument("--plans", default=None, help="dir for explain dumps (skip if unset)")
    ap.add_argument("--tag", default="before")
    ap.add_argument("--cpus", type=int, default=None,
                    help="default: the session factory's (SPARK_GRAFT_CPUS or all cores)")
    args = ap.parse_args()

    import __spark_entry__ as E
    from bench import HEADLINE, _fresh_spark

    names = args.queries.split(",") if args.queries else HEADLINE
    samples: dict[str, list[float]] = {n: [] for n in names}
    for p in range(args.runs):
        spark = _fresh_spark(args.cpus)
        qs = E.queries()
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            # time build+collect together, as bench.py does: eager work
            # at DataFrame-build time (localCheckpoint materialization,
            # first() probes) is part of the query's cost
            t0 = time.time()
            df = qs[name](spark, args.sf)
            df.collect()
            dt = round(time.time() - t0, 3)
            if p == 0 and args.plans:
                os.makedirs(args.plans, exist_ok=True)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                with open(os.path.join(args.plans, f"{name}_{args.tag}.txt"), "w") as f:
                    f.write(plan)
            samples[name].append(dt)
            print(f"  pass {p} {name}: {dt}s", flush=True)
        spark.stop()
    print(json.dumps({
        "sf": args.sf,
        "samples": samples,
        "best": {n: min(v) for n, v in samples.items()},
        "median": {n: round(statistics.median(v), 3) for n, v in samples.items()},
    }))


if __name__ == "__main__":
    main()

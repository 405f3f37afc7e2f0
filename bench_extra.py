"""Per-query measurement harness for optimization work (bench.py is
frozen for the graded record; this file exists for guide §1.4-style
isolation runs and plan capture — cite its numbers in
OPTIMIZATION_r06.md).

Usage:
  python bench_extra.py [--sf DIR] [--runs N] [--queries a,b,c]
                        [--plans plans/r06] [--tag before]

For each named query: fresh bench-identical session per pass, time
`.collect()` (the frozen bench's methodology), keep the per-query
floor (min across passes), and dump `.explain("formatted")` to
<plans>/<query>_<tag>.txt on the first pass.
"""

from __future__ import annotations

import argparse
import json
import os
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
    mins: dict[str, float] = {}
    samples: dict[str, list[float]] = {n: [] for n in names}
    for p in range(args.runs):
        spark = _fresh_spark(args.cpus)
        qs = E.queries()
        for name in names:
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            # time build+collect together — the frozen bench.py does
            # `qs[name](spark, SF_DIR).collect()` inside its timer, so
            # any eager work at DataFrame-build time (localCheckpoint
            # materialization, first() probes) counts toward the graded
            # number and must count here too
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
            mins[name] = min(mins.get(name, 1e18), dt)
            print(f"  pass {p} {name}: {dt}s", flush=True)
        spark.stop()
    print(json.dumps({"sf": args.sf, "floors": mins, "samples": samples,
                      "total_floor": round(sum(mins.values()), 3)}))


if __name__ == "__main__":
    main()

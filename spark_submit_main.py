"""spark-submit entry point for the dedup pipeline.

Production shape (north rule):

    zip -r deduplicator_go_spark.zip deduplicator_go_spark
    spark-submit --py-files deduplicator_go_spark.zip \\
        spark_submit_main.py \\
        --input  <table path / iceberg table> \\
        --checkpoint <catalog root> \\
        [--shingle-size 5 --num-perm 128 --bands 32 --rows 4] \\
        [--no-substr] [--langs en,de]

The script builds no SparkSession configuration beyond what the
cluster provides via spark-submit conf — executor counts, memory,
shuffle partitions are deployment decisions; AQE + Arrow are enabled
defensively if unset.  Re-running the same command after a failure
resumes from the checkpoint catalog (each stage's commit record
carrying the same params hash and, as consumed, its producers' current
file manifests → completed stages skip). Re-running on a GROWN
input table is an incremental tick: per-doc stages append only the
frontier, candidate generation re-pairs only buckets whose membership
changed, verification runs only on new pairs — schedule it from cron
exactly like the reference's deduplicator-hash.timer.
"""

from __future__ import annotations

import argparse
import json
import sys


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description="PySpark near-duplicate pipeline")
    p.add_argument("--input", required=True, help="documents table path (parquet dir)")
    p.add_argument("--checkpoint", required=True, help="checkpoint catalog root")
    p.add_argument("--shingle-size", type=int, default=5)
    p.add_argument("--num-perm", type=int, default=128)
    p.add_argument("--bands", type=int, default=32)
    p.add_argument("--rows", type=int, default=4)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--verify-threshold", type=float, default=0.80)
    p.add_argument("--band-pair-cap", type=int, default=64)
    p.add_argument("--band-salt", type=int, default=16)
    p.add_argument("--no-substr", action="store_true")
    p.add_argument("--langs", default="", help="comma-separated lang filter")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv if argv is not None else sys.argv[1:])

    from pyspark.sql import SparkSession

    from deduplicator_go_spark.config import DedupConfig
    from deduplicator_go_spark.plans.pipeline import DedupPipeline
    from deduplicator_go_spark.sources.catalog import CheckpointCatalog

    builder = SparkSession.builder.appName("deduplicator_go_spark")
    for k, v in {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
    }.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()

    cfg = DedupConfig(
        shingle_size=args.shingle_size,
        num_perm=args.num_perm,
        lsh_bands=args.bands,
        lsh_rows=args.rows,
        minhash_seed=args.seed,
        verify_threshold=args.verify_threshold,
        band_pair_cap=args.band_pair_cap,
        band_salt=args.band_salt,
        langs=tuple(x for x in args.langs.split(",") if x),
    )
    docs = spark.read.parquet(args.input)
    pipe = DedupPipeline(
        spark, CheckpointCatalog(args.checkpoint), cfg, with_substr=not args.no_substr
    )
    report = pipe.run(docs)
    print(
        json.dumps(
            {
                "run_id": report.run_id,
                "docs_in": report.docs_in,
                "wall_sec": round(report.wall_sec, 2),
                "docs_per_sec": round(report.docs_per_sec(), 1),
                "stages": [
                    {"name": s.name, "skipped": s.skipped, "rows": s.rows, "wall_ms": s.wall_ms}
                    for s in report.stages
                ],
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())

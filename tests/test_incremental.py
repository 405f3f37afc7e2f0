"""Frontier-based incremental batch (streaming/incremental.py)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from deduplicator_go_spark.sources.catalog import CheckpointCatalog
from deduplicator_go_spark.streaming.incremental import frontier, run_incremental, staleness_filter


def test_frontier_anti_join_and_limit(spark):
    inputs = spark.createDataFrame([(f"u{i}", i) for i in range(10)], "url string, size long")
    done = spark.createDataFrame([("u0",), ("u1",)], "url string")
    f1 = frontier(inputs, done, "url")
    assert f1.count() == 8
    f2 = frontier(inputs, done, "url", limit=3, large_first="size")
    rows = f2.collect()
    assert len(rows) == 3
    assert sorted(r["url"] for r in rows) == ["u7", "u8", "u9"]  # largest first


def test_run_incremental_drains_in_batches(spark, tmp_path):
    cat = CheckpointCatalog(str(tmp_path / "cat"))
    inputs = spark.createDataFrame([(f"u{i}",) for i in range(25)], "url string")

    def transform(batch):
        return batch.withColumn("sig", F.sha2(F.col("url"), 256))

    total = run_incremental(
        spark, cat, "sigs", inputs, transform, key="url",
        params_hash="p1", batch_limit=10,
    )
    assert total == 25
    out = cat.read(spark, "sigs")
    assert out.count() == 25
    assert out.select("url").distinct().count() == 25


def test_run_incremental_rebuilds_under_new_params(spark, tmp_path):
    """run_incremental keeps a table only while its commit record
    carries the call's params: under p1, then p2, the second call
    rebuilds the table instead of appending to it, and a table holding
    data files but no record is rebuilt too."""
    cat = CheckpointCatalog(str(tmp_path / "cat"))
    inputs = spark.createDataFrame([(f"u{i}",) for i in range(10)], "url string")

    def run(params):
        return run_incremental(
            spark, cat, "sigs", inputs,
            lambda batch: batch.withColumn("params", F.lit(params)),
            params_hash=params,
        )

    assert run("p1") == 10
    assert run("p1") == 0  # drained under the same params
    assert run("p2") == 10
    out = cat.read(spark, "sigs")
    assert sorted((r.url, r.params) for r in out.collect()) == sorted(
        (f"u{i}", "p2") for i in range(10)
    )
    assert cat.commit_info("sigs").params_hash == "p2"

    cat.drop("sigs")
    inputs.limit(4).withColumn("params", F.lit("stray")).write.parquet(cat.table_path("sigs"))
    assert run("p3") == 10
    assert {r.params for r in cat.read(spark, "sigs").collect()} == {"p3"}


def test_staleness_filter(spark):
    df = spark.createDataFrame(
        [("a",), ("b",)], "url string"
    ).withColumn(
        "sig_ts",
        F.when(F.col("url") == "a",
               F.current_timestamp() - F.expr("INTERVAL 8 DAYS"))
        .otherwise(F.current_timestamp()),
    )
    stale = [r["url"] for r in staleness_filter(df).collect()]
    assert stale == ["a"]


def test_run_incremental_key_preserving_status_rows_drain(spark, tmp_path):
    """The documented contract for per-key failures: emit status rows
    (tombstones), never filter keys — then batched ticks drain the
    whole frontier and failures stay queryable (the reference's
    sentinel-hash pattern, files/hash.go:27-33)."""
    from pyspark.sql import functions as F

    from deduplicator_go_spark.sources.catalog import CheckpointCatalog
    from deduplicator_go_spark.streaming.incremental import run_incremental

    cat = CheckpointCatalog(str(tmp_path / "cat"))
    inputs = spark.createDataFrame(
        [(f"u{i:02d}", i) for i in range(20)], "url string, v int"
    )

    # odd v "fails": keep the key, mark the row — never drop it
    def transform(batch):
        return batch.select(
            "url",
            F.when(F.col("v") % 2 == 0, F.col("v")).alias("v"),
            F.when(F.col("v") % 2 == 0, F.lit("ok")).otherwise(F.lit("error")).alias("status"),
        )

    total = run_incremental(
        spark, cat, "signed", inputs, transform, key="url",
        params_hash="t", batch_limit=5,
    )
    assert total == 20  # every key committed across 4 batches
    out = cat.read(spark, "signed")
    assert out.filter("status = 'error'").count() == 10
    assert out.filter("status = 'ok' and v is null").count() == 0


def test_append_lineage_records_each_file_once(spark, tmp_path):
    """Append-mode ticks must not re-record prior ticks' files: lineage
    rows stay one per output file with the run that actually wrote it
    (review regression: quadratic duplicate lineage)."""
    from pyspark.sql import functions as F

    from deduplicator_go_spark.sources.catalog import CheckpointCatalog

    cat = CheckpointCatalog(str(tmp_path / "cat"))
    for tick in range(3):
        df = spark.createDataFrame([(f"u{tick}-{i}",) for i in range(4)], "url string")
        info = cat.write(df.repartition(2), "inc", params_hash="p", mode="append")
    assert info.rows == 12  # commit info still totals the whole table
    lin = cat.lineage(spark).filter("stage = 'inc'")
    per_file = lin.groupBy("partition").agg(F.count("*").alias("n"))
    assert per_file.filter("n > 1").count() == 0  # each file exactly once
    assert lin.agg(F.sum("rows")).collect()[0][0] == 12


def test_record_older_than_files_keeps_lineage_once(spark, tmp_path):
    """A record written before it held ``files`` (an older catalog):
    the next append emits lineage rows for its new files only, not
    again for the files already in the table."""
    import json

    cat = CheckpointCatalog(str(tmp_path / "cat"))
    for tick in range(2):
        df = spark.createDataFrame([(f"u{tick}-{i}",) for i in range(4)], "url string")
        cat.write(df.repartition(2), "inc", params_hash="p", mode="append")
    marker = cat._marker("inc")
    with open(marker) as f:
        info = json.load(f)
    del info["files"]
    with open(marker, "w") as f:
        json.dump(info, f)
    df = spark.createDataFrame([(f"u2-{i}",) for i in range(4)], "url string")
    cat.write(df.repartition(2), "inc", params_hash="p", mode="append")
    lin = cat.lineage(spark).filter("stage = 'inc'")
    assert lin.groupBy("partition").count().filter("count > 1").count() == 0
    assert lin.agg(F.sum("rows")).collect()[0][0] == 12


def test_incremental_begin_drops_record_without_directory(spark, tmp_path):
    """An overwrite killed between removing the old directory and
    renaming the new one in leaves the previous record with no table:
    ``incremental_begin`` drops that record, so the stage rebuilds
    instead of reading a missing table."""
    import shutil

    cat = CheckpointCatalog(str(tmp_path / "cat"))
    cat.write(spark.createDataFrame([("u1",)], "url string"), "t", params_hash="p")
    assert cat.incremental_begin("t", "p") == cat.commit_info("t")
    shutil.rmtree(cat.table_path("t"))
    assert cat.incremental_begin("t", "p") is None
    assert cat.commit_info("t") is None


def test_overwrite_cleans_orphan_tmp_dirs(spark, tmp_path):
    """A killed run's leftover .tmp-<dead-run> copy is removed by the
    next overwrite of the same table (review regression: orphaned
    full-size table copies accumulate)."""
    import os

    from deduplicator_go_spark.sources.catalog import CheckpointCatalog

    root = str(tmp_path / "cat")
    c1 = CheckpointCatalog(root, run_id="deadrun")
    orphan = c1.table_path("t") + ".tmp-deadrun"
    os.makedirs(orphan)
    c2 = CheckpointCatalog(root, run_id="liverun")
    df = spark.createDataFrame([(1,)], "x int")
    c2.write(df, "t", params_hash="p")
    assert not os.path.exists(orphan)
    assert c2.read(spark, "t").count() == 1


def test_read_cache_invalidates_on_data_change(spark, tmp_path):
    """catalog.read caches source resolution per (session, data-file
    set): an unchanged table returns the SAME DataFrame handle (no
    re-resolution — the fixed driver cost taxes scaling efficiency),
    while any append — including an orphan file from a killed append
    that no commit record lists — changes the fingerprint
    and forces a fresh read that sees the new rows (the kill-window
    frontier defence reads actual contents, not the manifest)."""
    import pandas as pd

    from deduplicator_go_spark.sources.catalog import CheckpointCatalog

    cat = CheckpointCatalog(str(tmp_path / "cat"))
    df = spark.createDataFrame([("u1",), ("u2",)], "url string")
    cat.write(df, "t", params_hash="p", mode="append")
    r1 = cat.read(spark, "t")
    assert r1 is cat.read(spark, "t")  # unchanged table → cache hit
    assert r1.count() == 2

    # committed append invalidates
    cat.write(spark.createDataFrame([("u3",)], "url string"), "t",
              params_hash="p", mode="append")
    r2 = cat.read(spark, "t")
    assert r2 is not r1
    assert r2.count() == 3

    # orphan file written behind the catalog's back (killed mid-append:
    # data file exists, record never replaced) ALSO invalidates
    pd.DataFrame({"url": ["u4"]}).to_parquet(
        cat.table_path("t") + "/part-orphan.parquet"
    )
    r3 = cat.read(spark, "t")
    assert r3 is not r2
    assert r3.count() == 4

    cat.drop("t")
    assert cat._read_cache.get("t") is None


def _jobs_started(spark, fn):
    """(fn(), number of Spark jobs fn started)."""
    sc = spark.sparkContext
    sc.setJobGroup("catalog-read", "catalog-read")
    try:
        before = set(sc.statusTracker().getJobIdsForGroup("catalog-read"))
        out = fn()
        after = set(sc.statusTracker().getJobIdsForGroup("catalog-read"))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(after - before)


def test_committed_schema_reads_start_no_job(spark, tmp_path):
    """read and appended_since resolve a committed table from the
    schema in its commit marker: no footer (inference) job and no
    partition-listing job, on a plain append table and on a
    pbucket-partitioned cow table with more bucket directories than
    Spark's default parallel-listing threshold. Rows and schema equal
    an inferring read."""
    cat = CheckpointCatalog(str(tmp_path / "cat"))
    ids = spark.range(300)
    cat.write(ids.select(F.col("id").cast("string").alias("url"), "id"),
              "plain", params_hash="p", mode="append")
    cat.write(ids.select(F.concat(F.lit("v"), F.col("id")).alias("url"), "id"),
              "plain", params_hash="p", mode="append")
    part = ids.select(
        F.col("id").cast("string").alias("url"),
        (F.col("id") % 7).alias("cluster_id"),
        F.pmod(F.xxhash64("id"), F.lit(64)).cast("int").alias("pbucket"),
    )
    cat.write(part.repartition("pbucket"), "part", params_hash="p",
              partition_by=["pbucket"])
    # the cow DataFrame carries the full new content of the buckets it
    # touches; the other buckets' files carry forward
    cat.write(part.filter("pbucket < 10").withColumn("cluster_id", F.lit(0).cast("long")),
              "part", params_hash="p", mode="cow", partition_by=["pbucket"])

    for name, n in (("plain", 600), ("part", 300)):
        inferred = spark.read.parquet(cat.table_path(name))
        got, jobs = _jobs_started(spark, lambda: cat.read(spark, name))
        assert jobs == 0, name
        assert got.schema == inferred.schema
        assert sorted(got.collect()) == sorted(inferred.collect())
        assert got.count() == n
        new, jobs = _jobs_started(
            spark, lambda: cat.appended_since(spark, name, cat.current_files(name)[:1])
        )
        assert jobs == 0, name
        assert new.schema == inferred.schema


def test_marker_without_schema_reads_by_inference(spark, tmp_path):
    """A commit marker written before CommitInfo.schema existed (an old
    catalog) still reads, through schema inference."""
    import json

    cat = CheckpointCatalog(str(tmp_path / "cat"))
    cat.write(spark.createDataFrame([("u1", 1), ("u2", 2)], "url string, n long"),
              "t", params_hash="p")
    marker = cat._marker("t")
    with open(marker) as f:
        info = json.load(f)
    del info["schema"]
    with open(marker, "w") as f:
        json.dump(info, f)
    assert cat.commit_info("t").schema is None
    got = cat.read(spark, "t")
    assert got.columns == ["url", "n"]
    assert sorted(got.collect()) == [("u1", 1), ("u2", 2)]


def test_append_with_mismatched_schema_raises(spark, tmp_path):
    """An append or cow write whose column names or types differ from
    the committed schema raises instead of leaving a mixed-schema
    directory whose rows read back as NULLs. Column order and
    nullability do not count: parquet reads by name."""
    import pytest

    cat = CheckpointCatalog(str(tmp_path / "cat"))
    cat.write(spark.createDataFrame([("u1", 1)], "url string, n long"),
              "t", params_hash="p", mode="append")
    for bad in ("url string, n int", "url string, m long",
                "url string, n long, extra string"):
        row = ("u2", 2, "x")[: len(bad.split(","))]
        with pytest.raises(ValueError, match="committed schema"):
            cat.write(spark.createDataFrame([row], bad), "t",
                      params_hash="p", mode="append")
    # reordered, non-nullable columns are the same table schema
    same = spark.createDataFrame([(3, "u3")], "n long not null, url string")
    cat.write(same, "t", params_hash="p", mode="append")
    assert sorted((r.url, r.n) for r in cat.read(spark, "t").collect()) == [
        ("u1", 1), ("u3", 3)
    ]

    cat.write(spark.createDataFrame([("u1", 1, 0)], "url string, n long, b int"),
              "c", params_hash="p", partition_by=["b"])
    with pytest.raises(ValueError, match="committed schema"):
        cat.write(spark.createDataFrame([("u1", "1", 0)], "url string, n string, b int"),
                  "c", params_hash="p", mode="cow", partition_by=["b"])
    # an overwrite may change the schema
    cat.write(spark.createDataFrame([("u1", "1")], "url string, n string"),
              "c", params_hash="p")
    assert cat.read(spark, "c").columns == ["url", "n"]


def test_empty_append_leaves_manifest_unchanged(spark, tmp_path):
    """An append of zero rows leaves no data file in a table that has
    one, so the manifest that consumers' records compare against is
    unchanged; the first write of a table keeps its empty file, so the
    table still reads with its schema."""
    cat = CheckpointCatalog(str(tmp_path / "cat"))
    empty = spark.createDataFrame([], "url string, n long")
    cat.write(empty, "t", params_hash="p", mode="append")
    assert len(cat.current_files("t")) == 1
    assert cat.read(spark, "t").columns == ["url", "n"]
    assert cat.table_rows("t") == 0

    cat.write(spark.range(10).selectExpr("cast(id as string) url", "id n"), "t",
              params_hash="p", mode="append")
    files = cat.current_files("t")
    listing = sorted(os.listdir(cat.table_path("t")))
    cat.write(empty, "t", params_hash="p", mode="append")
    assert cat.current_files("t") == files
    assert cat.table_rows("t") == 10
    # nothing left over, checksum sidecars included
    assert sorted(os.listdir(cat.table_path("t"))) == listing

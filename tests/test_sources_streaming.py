"""Ingest sources, URL algebra, age filter."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from deduplicator_go_spark.functions import url as U
from deduplicator_go_spark.sources import readers


def test_read_listing_text(spark, tmp_path):
    p = tmp_path / "listing.txt"
    p.write_text("/data/a.txt\n  /data/b.txt  \n\n/data/c.txt\n")
    got = sorted(r["path"] for r in readers.read_listing_text(spark, str(p)).collect())
    assert got == ["/data/a.txt", "/data/b.txt", "/data/c.txt"]


def test_read_binary_files_hashes(spark, tmp_path):
    import hashlib

    d = tmp_path / "files"
    d.mkdir()
    (d / "x.bin").write_bytes(b"hello")
    (d / "y.bin").write_bytes(b"world!")
    rows = {os.path.basename(r["path"]): r for r in
            readers.read_binary_files(spark, str(d)).collect()}
    assert rows["x.bin"]["hash"] == hashlib.sha256(b"hello").hexdigest()
    assert rows["x.bin"]["size"] == 5
    assert rows["y.bin"]["size"] == 6


def test_upsert_merge_semantics(spark):
    stored = spark.createDataFrame(
        [("k1", "h1", 1), ("k2", "h2", 2)], "key string, hash string, v long"
    )
    incoming = spark.createDataFrame(
        [("k2", "h2x", 2), ("k3", "h3", 3)], "key string, hash string, v long"
    )
    out = {r["key"]: r["hash"] for r in
           readers.upsert(stored, incoming, ["key"], ["hash", "v"]).collect()}
    assert out == {"k1": "h1", "k2": "h2x", "k3": "h3"}


def test_url_functions(spark):
    df = spark.createDataFrame(
        [("HTTPS://Site01.Example/news/Doc1#frag",),
         ("https://site02.example/blog/doc2/",)],
        "url string",
    )
    got = df.select(
        U.url_domain(F.col("url")).alias("dom"),
        U.is_under(F.col("url"), "https://site02").alias("under"),
    ).collect()
    assert got[0]["dom"] == "Site01"
    assert [r["under"] for r in got] == [False, True]


def test_age_filter(spark):
    df = spark.createDataFrame([("old",), ("new",)], "k string").withColumn(
        "ts",
        F.when(F.col("k") == "old", F.current_timestamp() - F.expr("INTERVAL 90 MINUTES"))
        .otherwise(F.current_timestamp()),
    )
    got = [r["k"] for r in readers.age_filter(df, "ts", 60).collect()]
    assert got == ["old"]

"""Extraction + text-analysis functions.

The extraction invariant (text byte-identical per url after html →
extract_text) is the per-row invariant from BASELINE.json."""

from __future__ import annotations

from pyspark.sql import functions as F

from deduplicator_go_spark.functions import text as X


def test_extract_text_byte_identical(docs, spark):
    extracted = docs.select(
        "url", "text", X.extract_text(F.col("html")).alias("ex")
    )
    bad = extracted.filter(F.col("ex") != F.col("text")).count()
    assert bad == 0


def test_token_count(spark):
    df = spark.createDataFrame(
        [("a b  c",), ("",), ("   ",), ("one",)], "t string"
    )
    got = [r[0] for r in df.select(X.token_count(F.col("t"))).collect()]
    assert got == [3, 0, 0, 1]


def test_fingerprint_collapses_whitespace_case(spark):
    df = spark.createDataFrame(
        [("Hello   World",), ("hello world",)], "t string"
    )
    fps = [r[0] for r in df.select(X.fingerprint(F.col("t"))).collect()]
    assert fps[0] == fps[1]


def test_quality_flags_rules(spark):
    """Gopher-style hygiene rules: each flag fires on its own pathology
    and keep is the conjunction."""
    long_good = ("the quick brown fox jumps over the lazy dog and keeps "
                 "running through the sunny field today ") * 4
    df = spark.createDataFrame(
        [("good", long_good),
         ("short", "tiny text"),
         ("symbols", "$$$ %%% ### !!! @@@ ^^^ &&& *** ((( ))) " * 8),
         ("onetoken", "x" * 400)],
        "name string, t string",
    )
    f = X.quality_flags(F.col("t"))
    rows = {r["name"]: r for r in df.select(
        "name", f["too_short"].alias("ts"), f["low_alpha"].alias("la"),
        f["bad_token_len"].alias("btl"), f["keep"].alias("keep")).collect()}
    assert rows["good"]["keep"] and not rows["good"]["ts"]
    assert rows["short"]["ts"] and not rows["short"]["keep"]
    assert rows["symbols"]["la"] and not rows["symbols"]["keep"]
    assert rows["onetoken"]["btl"] and not rows["onetoken"]["keep"]

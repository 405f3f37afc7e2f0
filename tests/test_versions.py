"""Semver compare (SURVEY §2 C9): hashicorp/go-version ordering
semantics re-expressed as a native sortable key."""

from __future__ import annotations

from pyspark.sql import functions as F

from deduplicator_go_spark.functions import versions as V


def test_version_ordering_matches_hashicorp_semantics(spark):
    cases = [
        # (older, newer) — per hashicorp/go-version GreaterThan
        ("1.3.5", "1.10.0"),      # numeric, not lexicographic
        ("1.9.9", "2.0.0"),
        ("2.0.0-rc1", "2.0.0"),   # pre-release < release
        ("1.2.3-alpha", "1.2.3-beta"),
        ("0.9", "1.0"),
        ("1.2", "1.2.1"),         # 1.2 == 1.2.0 < 1.2.1
        ("1.2.3", "1.2.3.1"),     # 4-segment builds
        # semver §11 dotted pre-release identifiers (round-4 advisor):
        ("1.0.0-rc.9", "1.0.0-rc.10"),   # numeric identifiers numeric
        ("1.0.0-alpha", "1.0.0-alpha.1"),  # fewer fields sorts first
        ("1.0.0-1", "1.0.0-alpha"),      # numeric < alphanumeric
    ]
    df = spark.createDataFrame(cases, "older string, newer string")
    out = df.select(
        V.is_newer("newer", "older").alias("fwd"),
        V.is_newer("older", "newer").alias("bwd"),
    ).collect()
    assert all(r["fwd"] and not r["bwd"] for r in out)

    # padding equivalence: 1.2 == 1.2.0 (neither is newer)
    eq = spark.createDataFrame([("1.2", "1.2.0")], "a string, b string").select(
        V.is_newer("a", "b").alias("ab"), V.is_newer("b", "a").alias("ba")
    ).first()
    assert not eq["ab"] and not eq["ba"]


def test_latest_versions_per_group(spark):
    rows = [
        ("app", "1.3.5"), ("app", "1.10.0"), ("app", "2.0.0-rc1"), ("app", "1.10.0"),
        ("lib", "0.1.0"), ("lib", "0.0.9"),
    ]
    df = spark.createDataFrame(rows, "name string, version string")
    out = {r["name"]: (r["latest_version"], r["n_versions"])
           for r in V.latest_versions(df, ["name"]).collect()}
    # 2.0.0-rc1 outranks 1.10.0 (higher core wins regardless of pre tag)
    assert out == {"app": ("2.0.0-rc1", 3), "lib": ("0.1.0", 2)}

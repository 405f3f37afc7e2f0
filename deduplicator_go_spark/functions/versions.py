"""Semantic-version parsing/comparison as native column expressions.

Closes SURVEY §2 C9: the reference compares deployment versions with
hashicorp/go-version (/root/reference/mq/rabbitmq.go:143-187 — a
listener shuts the instance down when a strictly newer version is
announced; /root/reference/mq/rabbitmq.go:201-205 validates semver on
publish). The engine re-expresses the comparison as a data-plane
primitive: a SORTABLE STRING KEY computed with native expressions
(no UDF), so "newest version per group" is one window rank and
"is a newer than b" is one string comparison — usable at any scale
and expressible identically in ANSI SQL for the oracle.

Key construction (hashicorp ordering semantics):
- numeric core segments (up to 4, missing = 0, so 1.2 == 1.2.0)
  zero-padded to 10 digits → numeric compare via string compare;
- a release (no pre-release suffix) sorts AFTER any pre-release of
  the same core: the key appends '|' (0x7C) for releases vs
  '-<pre>' (0x2D...) for pre-releases, and 0x2D < 0x7C;
- pre-release DOTTED IDENTIFIERS follow semver §11 (hashicorp
  ordering): purely-numeric identifiers are zero-padded to 10
  digits inside the key ('rc.9' < 'rc.10', not lexicographic), which
  also makes numerics sort before alphanumerics ('0'..'9' < 'A') and
  keeps 'alpha' < 'alpha.1' (prefix sorts first) — the full §11
  precedence, all with native expressions (F.transform over the
  split identifiers, no UDF).

Scope cut (disclosed): numeric segments — core or pre-release — wider
than 10 digits truncate in the key; no version scheme in the wild
carries >10^10 in a segment.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

def version_sort_key(col: Column | str) -> Column:
    """→ string key whose lexicographic order IS the version order."""
    v = F.col(col) if isinstance(col, str) else col
    core = F.regexp_extract(v, r"^([0-9]+(?:\.[0-9]+)*)", 1)
    pre = F.regexp_extract(v, r"-(.+)$", 1)
    segs = F.split(core, r"\.")
    padded = [
        F.lpad(F.coalesce(F.get(segs, i), F.lit("0")), 10, "0") for i in range(4)
    ]
    # semver §11: numeric pre-release identifiers compare numerically
    # ('rc.9' < 'rc.10') — zero-pad each purely-numeric dotted
    # identifier so string order matches numeric order
    pre_norm = F.array_join(
        F.transform(
            F.split(pre, r"\."),
            lambda s: F.when(s.rlike(r"^[0-9]+$"), F.lpad(s, 10, "0")).otherwise(s),
        ),
        ".",
    )
    tail = F.when(pre == "", F.lit("|")).otherwise(F.concat(F.lit("-"), pre_norm))
    return F.concat(F.concat_ws(".", *padded), tail)


def is_newer(a: Column | str, b: Column | str) -> Column:
    """True iff version a is strictly newer than version b — the
    listener's shutdown predicate (rabbitmq.go:177)."""
    return version_sort_key(a) > version_sort_key(b)


def latest_versions(
    df: DataFrame, group_cols: list[str], version_col: str = "version"
) -> DataFrame:
    """Newest version per group → (*group_cols, latest_version,
    n_versions). One distinct + one window rank; ties on the sort key
    are the same version modulo zero-padding (1.2 vs 1.2.0) and break
    toward the longer/greater literal for determinism."""
    vk = version_sort_key(version_col)
    distinct = df.select(*group_cols, version_col).distinct()
    w = Window.partitionBy(*group_cols).orderBy(
        vk.desc(), F.col(version_col).desc()
    )
    counts = distinct.groupBy(*group_cols).agg(
        F.countDistinct(version_col).alias("n_versions")
    )
    return (
        distinct.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(*group_cols, F.col(version_col).alias("latest_version"))
        .join(counts, group_cols)
    )

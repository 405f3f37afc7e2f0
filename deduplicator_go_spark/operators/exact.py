"""Exact-duplicate operators — the reference's core dedup semantics
re-expressed as declarative DataFrame plans.

Reference parity (SURVEY.md §2):
- valid-row filter F3/F5 (files/utils.go:71-73, files/process.go:89-101)
- size-blocking agg A1 (files/hash.go:37-48)
- dup-group agg A2 + rejoin J1 (files/utils.go:67-108, files/move.go:57-90)
- member assembly A8 (files/utils.go:118-151) via collect_list, not
  client-side run-length grouping
- keeper elections W2/W3 (files/move.go:226-246,
  files/group_dedup.go:263-289) as row_number windows; the legacy
  dir-count keeper W1 (files/dedupe.go:168-181) is not reproduced
- top-N by total size W4/O1 (files/utils.go:89-95)
- savings A4 (files/utils.go:181-188)

Scale notes: the dup-key set after HAVING n>1 is tiny relative to the
corpus, so the member rejoin broadcasts it (Catalyst/AQE would pick
this anyway below the threshold; we hint it explicitly).  All
aggregations get map-side partial aggregation for free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.text import content_sha


def valid_documents(docs: DataFrame, min_chars: int = 1, langs: tuple[str, ...] = ()) -> DataFrame:
    """F3/F5: exclude empty/blank rows (the webtext analog of the
    reference's regular-file + valid-hash predicates); optional language
    scoping (F1 host-scoping analog)."""
    # regexp strip (not F.trim): covers tabs/newlines like Python's str.strip
    out = docs.filter(F.length(F.regexp_replace(F.col("text"), r"\s", "")) >= min_chars)
    if langs:
        out = out.filter(F.col("lang").isin(*langs))
    return out


def with_signature(docs: DataFrame) -> DataFrame:
    """Exact stage: content sha + size. sha2 is a native vectorized
    expression (reference C1 computes this row-at-a-time in goroutines,
    files/files.go:119-155)."""
    return docs.select(
        "url",
        content_sha(F.col("text")).alias("content_sha"),
        F.length("text").alias("size"),
    )


def size_blocking(sigs: DataFrame) -> DataFrame:
    """A1: sizes occurring >=2 times are candidates (files/hash.go:37-48).
    Cheap blocking before expensive pairwise work."""
    return (
        sigs.groupBy("size")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > 1)
        .select("size")
    )


def dup_groups(sigs: DataFrame, min_size: int = 0) -> DataFrame:
    """A2: GROUP BY (hash, size) HAVING COUNT(*)>1 with savings-ready
    aggregates (files/utils.go:67-96). Grouping on hash AND size keeps
    the reference's 'same hash, different size splits groups' rule
    (files/duplicates_scenarios_test.go:60)."""
    g = (
        sigs.filter(F.col("size") >= min_size)
        .groupBy("content_sha", "size")
        .agg(F.count("*").alias("n_copies"), F.sum("size").alias("total_size"))
        .filter(F.col("n_copies") > 1)
    )
    return g


def top_groups(groups: DataFrame, limit: int | None = None) -> DataFrame:
    """W4/O1: ORDER BY total_size DESC, hash, size [LIMIT n]
    (files/utils.go:89-95) — Spark plans a TakeOrderedAndProject."""
    out = groups.orderBy(F.desc("total_size"), "content_sha", "size")
    return out.limit(limit) if limit is not None else out


def dup_members(sigs: DataFrame, groups: DataFrame) -> DataFrame:
    """J1: rejoin dup keys to the catalog to enumerate members
    (files/utils.go:97-108). The dup-key side is small → broadcast."""
    return sigs.join(
        F.broadcast(groups.select("content_sha", "size", "n_copies", "total_size")),
        ["content_sha", "size"],
        "inner",
    )


def assemble_groups(members: DataFrame) -> DataFrame:
    """A8: one row per group with a sorted member array
    (client-side run-length assembly in the reference,
    files/utils.go:118-151; here a single agg)."""
    return (
        members.groupBy("content_sha", "size")
        .agg(
            F.sort_array(F.collect_list("url")).alias("urls"),
            F.count("*").alias("n_copies"),
            F.sum("size").alias("total_size"),
        )
    )


def elect_keeper_lexicographic(members: DataFrame) -> DataFrame:
    """W2: deterministic global keeper = lexicographically-first member
    (files/move.go:226-246; hosts converge on the same keeper from
    shared attributes only). Adds is_keeper."""
    w = Window.partitionBy("content_sha", "size").orderBy("url")
    return members.withColumn("rank", F.row_number().over(w)).withColumn(
        "is_keeper", F.col("rank") == 1
    )


def elect_keepers_priority(
    members: DataFrame,
    policy_members: DataFrame,
    min_copies: int = 2,
    max_copies: int | None = None,
    respect_limits: bool = False,
) -> DataFrame:
    """W3: priority keeper(s) — keep the top `keep_count` members by
    (priority asc, domain asc) per group (files/group_dedup.go:263-289):
    keep all when group <= min_copies; otherwise keep min_copies
    (or max_copies when --respect-limits and the group exceeds it).

    policy_members(domain, priority) is a tiny policy table →
    broadcast join (reference J2/J3 joins host/member metadata the
    same way)."""
    from ..functions.url import url_domain

    # url_domain is try_parse_url-based: malformed urls yield NULL
    # domain (→ default priority) instead of an ANSI INVALID_URL abort
    m = members.withColumn("domain", url_domain(F.col("url")))
    m = m.join(F.broadcast(policy_members), "domain", "left").withColumn(
        "priority", F.coalesce(F.col("priority"), F.lit(100))
    )
    w = Window.partitionBy("content_sha", "size").orderBy("priority", "domain", "url")
    ranked = m.withColumn("rank", F.row_number().over(w))
    # keep all when n<=min; keep max_copies when --respect-limits and the
    # group exceeds max; else keep min_copies (files/group_dedup.go:274-289)
    keep_count = F.when(F.col("n_copies") <= min_copies, F.col("n_copies"))
    if respect_limits and max_copies is not None:
        keep_count = keep_count.when(F.col("n_copies") > max_copies, F.lit(max_copies))
    keep_count = keep_count.otherwise(F.lit(min_copies))
    return ranked.withColumn("is_keeper", F.col("rank") <= keep_count)


def savings(groups: DataFrame) -> DataFrame:
    """A4: reclaimable bytes = size * (n-1) per group, plus total
    (files/utils.go:181-188, files/dedupe.go:96-98)."""
    return groups.agg(
        F.sum((F.col("n_copies") - 1) * F.col("size")).alias("savings_bytes"),
        F.count("*").alias("n_groups"),
        F.sum("n_copies").alias("n_members"),
    )


def exact_edges(sigs: DataFrame) -> DataFrame:
    """Exact-duplicate edges for the clustering stage: connect every
    member to the lexicographic min url of its (hash, size) group —
    star edges, linear in group size (never n^2)."""
    w = Window.partitionBy("content_sha", "size")
    starred = sigs.withColumn("root", F.min("url").over(w))
    return (
        starred.filter(F.col("url") != F.col("root"))
        .select(F.col("root").alias("src"), F.col("url").alias("dst"))
    )

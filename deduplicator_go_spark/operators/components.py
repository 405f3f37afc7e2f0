"""Connected components: alternating large-star / small-star.

The reference's "clustering" is GROUP BY exact hash (SURVEY.md §4 —
no iterative computation exists there); near-dup clustering needs
true connected components.  This is the large-star/small-star
algorithm (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC'14) as an iterative DataFrame job:

- large-star: every node connects its *larger* neighbors to its
  minimum neighbor (or itself);
- small-star: every node connects its smaller-or-equal neighbors to
  the minimum one.

Converges in O(log n) rounds — important here because salted-chain
edges (operators/lsh.py) can have O(bucket/salt) diameter, which
would sink plain min-label propagation.

Node ids are urls; the final label is min(url) of the component —
deterministic, the W2 keeper rule at cluster scope
(/root/reference/files/move.go:226-236).

Scale notes: each round is two shuffles on node id; ``localCheckpoint``
truncates lineage every round so plans don't grow; convergence is
detected with a one-pass count+checksum aggregate, not exceptAll.

Small graphs skip the round loop: at most ``LOCAL_MAX_EDGES`` edges
are collected and labelled by a union-find in the driver, with one
collect and no session-conf swap. A tick's affected graph is a few
hundred edges, where the rounds' ~14 jobs were pure per-job latency.
The distributed loop stays for larger graphs, because it is the only
path that runs on a graph too big for the driver's memory.
"""

from __future__ import annotations

import threading

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

# serializes the shuffle-partition set/restore across concurrent
# pipelines sharing one SparkSession (see connected_components)
_CC_CONF_LOCK = threading.RLock()

# edge-count bound of the in-driver path: the union-find labels 200k
# edges between 150k url-sized ids in ~0.7 s of driver CPU
LOCAL_MAX_EDGES = 200_000


def _symmetrize(edges: DataFrame) -> DataFrame:
    return edges.select(F.col("src").alias("u"), F.col("dst").alias("v")).unionByName(
        edges.select(F.col("dst").alias("u"), F.col("src").alias("v"))
    )


def _large_star(sym: DataFrame) -> DataFrame:
    """emit (v, m) for v in N(u), v > u, where m = min(N(u) ∪ {u}).

    Deliberately NOT distinct'd: duplicates (same (v, m) via different
    u) are rare — they need two neighbors of v sharing the same local
    minimum — and the consumer (_small_star) flows straight into a
    partial-aggregated groupBy plus a terminal distinct, so set
    semantics are restored one operator later. Dropping the
    intermediate distinct removes a full shuffle from every CC round
    (per-round latency is a fixed cost that taxes N-vs-4N scaling
    efficiency identically at both levels)."""
    nbr_min = sym.groupBy("u").agg(F.min("v").alias("mn"))
    m = nbr_min.withColumn("m", F.least("u", "mn")).select("u", "m")
    return (
        sym.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """orient edges (u,v) with v <= u; emit (v, m) for v in N(u) ∪ {u} \\ m."""
    oriented = edges.select(
        F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
    )
    nbr_min = oriented.groupBy("u").agg(F.min("v").alias("m"))
    linked = (
        oriented.join(nbr_min, "u")
        .filter(F.col("v") != F.col("m"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )
    self_link = nbr_min.filter(F.col("u") != F.col("m")).select(
        F.col("u").alias("src"), F.col("m").alias("dst")
    )
    return linked.unionByName(self_link).distinct()


def _fingerprint(edges: DataFrame) -> tuple[int, int]:
    # bit_xor, not sum: overflow-safe under Spark 4's default ANSI mode
    row = edges.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def _local_components(edges: DataFrame) -> DataFrame:
    """Union-find over the collected edges; each component's root is its
    minimum id, the label the star rounds converge to. The id column
    keeps the edges' type."""
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]  # path halving
            x = parent[x]
        return x

    for src, dst in edges.collect():
        a, b = find(src), find(dst)
        if a != b:
            parent[max(a, b)] = min(a, b)
    id_type = edges.schema["src"].dataType
    # an Arrow table is handed to the JVM as Arrow batches; a list of
    # tuples would become a Python RDD whose every scan starts
    # pyspark.daemon workers (~300 MB of extra driver-host RSS)
    labels = pa.table({"url": list(parent), "cluster_id": [find(x) for x in parent]})
    return edges.sparkSession.createDataFrame(
        labels,
        StructType([StructField("url", id_type), StructField("cluster_id", id_type)]),
    )


def connected_components(edges: DataFrame, max_iters: int = 20) -> DataFrame:
    """edges(src, dst) → assignments(url, cluster_id); singletons absent
    (callers left-join and coalesce to self-label). Graphs of at most
    ``LOCAL_MAX_EDGES`` distinct edges are labelled in the driver
    (``_local_components``); larger ones by the star rounds below.

    Shuffle sizing: each round is several tiny shuffles; with the
    session's byte-based AQE coalescing off (see session.py), running
    them at the global shuffle-partition count pays per-task scheduling
    overhead × rounds for sub-MB data. The round loop therefore sizes
    shuffle partitions from the measured edge count (~50k edges/task,
    clamped to [4, global]) and restores the session conf after.

    Shared-session semantics: the shuffle-partition count is a
    PERF-ONLY knob (never a correctness one); the set/restore is
    serialized behind a process-level lock, so two pipelines sharing a
    SparkSession can interleave CC runs without torn set/restore pairs
    — a concurrent non-CC query merely runs its shuffles at the
    temporarily smaller count. Two session-safe alternatives were
    measured and rejected: explicit repartition-on-key shaping (2.5-5x
    slower — the extra exchanges outweigh any reuse) and batching two
    star rounds per convergence job (deeper un-checkpointed plans,
    ~1.3-2x slower).
    """
    sess = edges.sparkSession
    cur = edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    # lazy checkpoint + fingerprint: the init is ONE job, same fusion
    # as the round loop below
    cur = cur.localCheckpoint(eager=False)
    n0, _ = _fingerprint(cur)
    if n0 <= LOCAL_MAX_EDGES:
        return _local_components(cur)
    global_parts = int(sess.conf.get("spark.sql.shuffle.partitions"))
    global_aqe = sess.conf.get("spark.sql.adaptive.enabled")
    cc_parts = max(4, min(global_parts, n0 // 50_000 + 1))
    prev_fp = None
    with _CC_CONF_LOCK:
        try:
            sess.conf.set("spark.sql.shuffle.partitions", str(cc_parts))
            # AQE off for the round loop: partitions are already sized
            # from the measured edge count, so adaptivity buys nothing
            # here — but it costs a LOT: AQE materializes every shuffle
            # stage as its own job (~5 jobs/round instead of 1), and
            # each job boundary is a fixed driver-side barrier paid
            # identically at N and 4N executors (measured: the clusters
            # stage ran 45 jobs with ~2.9 s of scheduling gap at both
            # parallelism levels — pure N-vs-4N efficiency tax). Like
            # the partition count this is a perf-only knob, serialized
            # behind the same lock.
            sess.conf.set("spark.sql.adaptive.enabled", "false")
            for _ in range(max_iters):
                cur = _small_star(_large_star(_symmetrize(cur)))
                # lazy checkpoint: the fingerprint action below
                # materializes it, so each round is ONE job
                # (checkpoint+converge fused)
                cur = cur.localCheckpoint(eager=False)
                fp = _fingerprint(cur)
                if fp == prev_fp:
                    break
                prev_fp = fp
        finally:
            sess.conf.set("spark.sql.shuffle.partitions", str(global_parts))
            sess.conf.set("spark.sql.adaptive.enabled", global_aqe)
    # converged state is a star forest: src (member) -> dst (root)
    members = cur.select(F.col("src").alias("url"), F.col("dst").alias("cluster_id"))
    roots = cur.select(F.col("dst").alias("url"), F.col("dst").alias("cluster_id")).distinct()
    return members.unionByName(roots).groupBy("url").agg(
        F.min("cluster_id").alias("cluster_id")
    )


def assign_all(docs: DataFrame, assignments: DataFrame) -> DataFrame:
    """Every url gets a label; non-clustered docs are their own cluster."""
    return (
        docs.select("url")
        .join(assignments, "url", "left")
        .select("url", F.coalesce("cluster_id", "url").alias("cluster_id"))
    )

"""LSH banding + candidate-pair generation with explicit skew control.

New join class the reference lacks (SURVEY.md §2.3): the LSH
candidate self-join.  The north rule calls out hot-band skew
(boilerplate pages collapsing into one band value) as the thing to
handle explicitly — AQE's skew-join splitting cannot split a single
hot key of a self-join, so we never materialize the n^2 pair
explosion for hot buckets at all:

- **small buckets** (2 <= n <= band_pair_cap): all pairs via a
  self-join on (band_id, band_hash) with url_a < url_b;
- **hot buckets** (n > cap): *salted chaining* — members are salted
  into ``band_salt`` sub-buckets (pmod(xxhash64(url), S)), sorted by
  url within each sub-bucket and linked into a chain (lag window),
  then the per-salt representatives (min url) are chained across
  sub-buckets.  This yields O(n) edges per hot bucket, bounds every
  task to ~n/S rows, and preserves connectivity for the clustering
  stage (a hot bucket is overwhelmingly a true template cluster —
  every member shares the band value by construction).

All candidate pairs are later verified against exact shingle Jaccard
(operators/verify.py); chain edges are marked ``origin='chain'`` so
verification-failure analysis can distinguish them.

Band hashing itself is native (xxhash64 over signature slices) — no
Python.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def band_hash_array(bands: int, rows: int, sig_col: str = "sig"):
    """array<bigint> column of per-band hashes over a signature column.

    band_hash = xxhash64 over the band's r signature components plus
    the band id (an INT literal) — extracted with element_at rather
    than hashing a slice() value: the slice form allocates a fresh
    array per (row, band) (bands x corpus temporary arrays), which
    measurably inflated task time under concurrency; element_at
    extraction stays allocation-free inside codegen.

    Built as ONE SQL expression string: the same tree assembled from
    Column calls costs a py4j round-trip per node (~320 for the default
    32x4 banding; with minhash.packed_sig16, ~1.4 s of driver time per
    pipeline run in a warm JVM).
    """
    hashes = (
        "xxhash64("
        + ", ".join(f"element_at(`{sig_col}`, {b * rows + i + 1})" for i in range(rows))
        + f", {b})"
        for b in range(bands)
    )
    return F.expr(f"array({', '.join(hashes)})")


def band_table(sigs: DataFrame, bands: int, rows: int) -> DataFrame:
    """Explode url×sig into (url, band_id, band_hash).

    One output row per (doc, band). When the input already carries a
    precomputed ``bands`` array column (the pipeline's signature stage
    emits one in the same job that writes the signature table), the
    explode reads ONLY that column — the scan never decodes the
    num_perm-bigint signature array, which is ~4x the bytes and was
    the whole cost of this stage (parquet decode is bandwidth-bound,
    the N-vs-4N fixed tax the round-4 verdict flagged on band_rows).
    """
    if "bands" in sigs.columns:
        # the precomputed column must have been built under the SAME
        # (bands, rows) config — a caller passing a table whose bands
        # column came from a different banding would get silently wrong
        # band hashes (ADVICE r5, low). Safe in-pipeline (params changes
        # wipe the table), but guard the fast path with a per-row length
        # check: one int compare in codegen, raises instead of
        # mis-bucketing.
        checked = F.when(F.size("bands") == bands, F.col("bands")).otherwise(
            F.raise_error(
                F.lit(
                    f"band_table: precomputed 'bands' column length != "
                    f"bands={bands} — table built under a different banding config"
                )
            )
        )
        return sigs.select(
            "url", F.posexplode(checked).alias("band_id", "band_hash")
        )
    return sigs.select(
        "url", F.posexplode(band_hash_array(bands, rows)).alias("band_id", "band_hash")
    )


def candidate_pairs(
    band_df: DataFrame,
    band_pair_cap: int = 64,
    band_salt: int = 16,
    materialize: bool = True,
    collision_broadcast: bool = True,
) -> DataFrame:
    """Candidate edges (url_a < url_b, origin) from band buckets.

    Dedupes pairs discovered by multiple bands (distinct on the pair
    key) — at scale this distinct is the dominant shuffle and is
    exactly the work saved versus verifying per-band duplicates.

    Plan shape: the band table feeds four consumers (bucket sizing,
    both self-join sides, hot-bucket chains); without materialization
    Spark re-derives it — re-exploding and re-hashing every signature
    — once per consumer. ``materialize`` pins it once (localCheckpoint;
    on a production run, write it to the stage catalog instead).

    Bucket sizing is a partial-aggregated groupBy *restricted to
    colliding buckets* (n >= 2 after map-side combine), then joined
    back. Only rows in colliding buckets ever shuffle into the
    self-join — singleton buckets (the overwhelming majority under a
    well-tuned banding) never leave the map side. With
    ``collision_broadcast`` the collision-size table is broadcast
    (right for corpora where collisions are sparse); at extreme dup
    density pass False and the join degrades gracefully to shuffle.
    A window-over-everything alternative full-sorts the entire band
    table — measured 1.4x the stage wall at 60k docs.
    """
    if materialize:
        band_df = band_df.localCheckpoint(eager=True)
    sizes = (
        band_df.groupBy("band_id", "band_hash")
        .agg(F.count("*").alias("bn"))
        .filter(F.col("bn") >= 2)
    )
    if collision_broadcast:
        sizes = F.broadcast(sizes)
    tagged = band_df.join(sizes, ["band_id", "band_hash"])

    # --- small buckets: exact all-pairs self-join ---
    small = tagged.filter(F.col("bn") <= band_pair_cap).select(
        "band_id", "band_hash", "url"
    )
    a = small.alias("a")
    b = small.alias("b")
    pair_edges = (
        a.join(b, ["band_id", "band_hash"])
        .filter(F.col("a.url") < F.col("b.url"))
        .select(
            F.col("a.url").alias("url_a"),
            F.col("b.url").alias("url_b"),
            F.lit("pair").alias("origin"),
        )
    )

    # --- hot buckets: salted chaining, O(n) edges, bounded tasks ---
    hot = tagged.filter(F.col("bn") > band_pair_cap).select(
        "band_id", "band_hash", "url"
    ).withColumn("salt", F.pmod(F.xxhash64("url"), F.lit(band_salt)))

    w_sub = Window.partitionBy("band_id", "band_hash", "salt").orderBy("url")
    chain_sub = (
        hot.withColumn("prev", F.lag("url").over(w_sub))
        .filter(F.col("prev").isNotNull())
        .select(
            F.least("prev", "url").alias("url_a"),
            F.greatest("prev", "url").alias("url_b"),
            F.lit("chain").alias("origin"),
        )
    )
    reps = hot.groupBy("band_id", "band_hash", "salt").agg(F.min("url").alias("url"))
    w_rep = Window.partitionBy("band_id", "band_hash").orderBy("url")
    chain_rep = (
        reps.withColumn("prev", F.lag("url").over(w_rep))
        .filter(F.col("prev").isNotNull())
        .select(
            F.least("prev", "url").alias("url_a"),
            F.greatest("prev", "url").alias("url_b"),
            F.lit("chain").alias("origin"),
        )
    )

    edges = reduce(DataFrame.unionByName, [pair_edges, chain_sub, chain_rep])
    # a pair may be found by many bands; keep one row ('pair' wins over
    # 'chain' so verification stats stay meaningful).  max() because
    # 'pair' > 'chain' lexicographically.
    return (
        edges.groupBy("url_a", "url_b").agg(F.max("origin").alias("origin"))
    )


def grid_cells(
    band_df: DataFrame,
    key_cols: list[str],
    id_col: str = "id",
    cell_cap: int = 256,
    broadcast_sizes: bool = True,
) -> DataFrame:
    """Assign bucket members to theta-join grid cells (the exploded,
    bounded-cell form of an all-pairs bucket self-join).

    Members of a bucket of size n are hashed into g = ceil(n/cell_cap)
    groups; each member replicates to the g cells its group touches
    ((min(gid, j), max(gid, j)) for j in 0..g-1), so each unordered
    pair of members lands in EXACTLY one cell and every cell holds
    ~2·cell_cap members regardless of bucket size (Okcan & Riedewald's
    1-bucket theta-join grid, SIGMOD'11, specialized to self-join).

    Output: (*key_cols, id, gid, ci, cj). Singleton buckets are pruned
    (collision-only sizing, same shape as candidate_pairs).
    """
    sizes = (
        band_df.groupBy(*key_cols)
        .agg(F.count("*").alias("bn"))
        .filter(F.col("bn") >= 2)
    )
    if broadcast_sizes:
        sizes = F.broadcast(sizes)
    tagged = band_df.join(sizes, key_cols)
    g = F.greatest(F.lit(1), F.ceil(F.col("bn") / F.lit(cell_cap))).cast("int")
    m = tagged.select(
        *key_cols,
        id_col,
        g.alias("g"),
        F.pmod(F.xxhash64(F.col(id_col)), g).cast("int").alias("gid"),
    )
    return m.select(
        *key_cols, id_col, "gid",
        F.explode(F.sequence(F.lit(0), F.col("g") - 1)).alias("other"),
    ).select(
        *key_cols,
        F.col(id_col),
        "gid",
        F.least("gid", "other").alias("ci"),
        F.greatest("gid", "other").alias("cj"),
    )


def grid_all_pairs(
    band_df: DataFrame,
    key_cols: list[str],
    id_col: str = "id",
    cell_cap: int = 256,
    materialize: bool = True,
    broadcast_sizes: bool = True,
) -> DataFrame:
    """EXACT all-pairs within each bucket with bounded per-task work.

    Complementary to ``candidate_pairs``: salted chaining preserves
    connectivity with O(n) edges — right when pairs feed clustering —
    but top-k / scoring consumers need EVERY within-bucket pair. The
    grid keeps them all: total work stays O(n² per bucket) — the honest
    cost of the banding config — but no task ever evaluates more than
    ~(2·cell_cap)² pairs, so one viral bucket can neither straggle a
    stage for hours nor OOM an executor (AQE cannot split a single hot
    key of a self-join; the grid pre-splits it).

    → (id_a, id_b) with id_a < id_b, deduped across buckets/bands.
    """
    cells = grid_cells(band_df, key_cols, id_col, cell_cap, broadcast_sizes)
    if materialize:
        # the cell table feeds both self-join sides; unpinned, Spark
        # re-derives the sizing groupBy + join + explode once per side
        # (the multi-consumer rule, SCALE.md)
        cells = cells.localCheckpoint(eager=True)
    a = cells.alias("a")
    b = cells.alias("b")
    return (
        a.join(b, key_cols + ["ci", "cj"])
        .filter(
            (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            # off-diagonal cells pair only across the two groups; a
            # same-group pair materializes in its diagonal cell alone
            & ((F.col("ci") == F.col("cj")) | (F.col("a.gid") != F.col("b.gid")))
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )

"""Action planning: turn keeper elections into executable plans.

The reference's action layer physically moves/deletes files (rsync +
os.Rename in files/dedupe.go:211-225, files/move.go:283-305) and
deletes catalog rows per move.  In the Spark engine actions are
*data*: a committed plan table that a downstream MERGE/DELETE (or an
external mover) consumes — the audit trail the reference keeps only
in logs.

Also covers:
- F6 dest-exclusion (files/dedupe.go:72-84): groups with any member
  already under the archive prefix are skipped;
- A4 savings accounting per plan;
- O7 determinism: plans are fully ordered by (cluster, url).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def plan_removals(
    elected: DataFrame,
    archive_prefix: str | None = None,
) -> DataFrame:
    """elected (…, content_sha, size, url, is_keeper) → plan rows
    (content_sha, size, url, action ∈ {keep, remove}, freed_bytes).

    If ``archive_prefix`` is given, any group containing a member
    already under that prefix is excluded entirely (reference
    skip-dest-dir rule)."""
    df = elected
    if archive_prefix is not None:
        flagged = df.withColumn(
            "_under", F.col("url").startswith(F.lit(archive_prefix)).cast("int")
        )
        bad = (
            flagged.groupBy("content_sha", "size")
            .agg(F.max("_under").alias("any_under"))
            .filter(F.col("any_under") == 1)
            .select("content_sha", "size")
        )
        df = flagged.join(bad, ["content_sha", "size"], "left_anti").drop("_under")
    return df.select(
        "content_sha",
        "size",
        "url",
        F.when(F.col("is_keeper"), F.lit("keep")).otherwise(F.lit("remove")).alias("action"),
        F.when(~F.col("is_keeper"), F.col("size")).otherwise(F.lit(0)).alias("freed_bytes"),
    ).orderBy("content_sha", "size", "url")


def plan_summary(plan: DataFrame) -> DataFrame:
    """Run-level accounting (A4 savings + A3 counts)."""
    return plan.agg(
        F.sum(F.when(F.col("action") == "remove", 1).otherwise(0)).alias("n_removals"),
        F.sum(F.when(F.col("action") == "keep", 1).otherwise(0)).alias("n_keepers"),
        F.sum("freed_bytes").alias("freed_bytes"),
    )


def plan_import(
    incoming: DataFrame,
    stored: DataFrame | None,
    key: str = "path",
    age_minutes: int = 0,
    count: int | None = None,
    duplicate_prefix: str | None = None,
    dest_root: str = "",
) -> DataFrame:
    """S4/import parity (files/import.go:136-260 ImportFiles): classify
    incoming rows against the stored catalog into an executable plan
    (path, size, action, dest):

    - ``skip_too_new``  — mod_time within ``age_minutes`` of now
      (import.go:148-156 age gate);
    - ``duplicate``     — key already cataloged; dest under
      ``duplicate_prefix`` when given (import.go:199-216 move to the
      duplicates dir), else ``skip_exists`` (import.go:245-250);
    - ``transfer``      — new row, dest under ``dest_root``.

    ``count`` bounds the WORK rows per run — transfers, plus duplicate
    moves when ``duplicate_prefix`` routes them (import.go:159-162
    counts every visited file, but its duplicate-dir move physically
    drains the source; a declarative plan does not, so counting no-op
    skip_exists rows against the bound would pin repeated bounded runs
    to the same already-cataloged keys forever). Skip rows pass through
    unbounded (informational, like the reference's SKIP prints). The
    bound is the lexicographically-first ``count`` work keys —
    deterministic across retries (O7); re-runs compose like the
    reference's systemd loop once a mover consumes the plan.
    """
    inc = incoming
    too_new = (
        (F.col("mod_time").isNotNull())
        & (F.col("mod_time") > F.current_timestamp() - F.expr(f"INTERVAL {int(age_minutes)} MINUTES"))
        if age_minutes > 0
        else F.lit(False)
    )
    inc = inc.withColumn("_too_new", too_new)
    if stored is not None:
        hit = stored.select(F.col(key)).distinct().withColumn("_exists", F.lit(True))
        inc = inc.join(hit, key, "left").withColumn(
            "_exists", F.coalesce(F.col("_exists"), F.lit(False))
        )
    else:
        inc = inc.withColumn("_exists", F.lit(False))
    dup_action = F.lit("duplicate") if duplicate_prefix is not None else F.lit("skip_exists")
    dup_dest = (
        F.concat(F.lit(duplicate_prefix.rstrip("/") + "/"), F.col(key))
        if duplicate_prefix is not None
        else F.lit(None).cast("string")
    )
    classified = inc.filter(~F.col("_too_new")).select(
        key,
        "size",
        F.when(F.col("_exists"), dup_action).otherwise(F.lit("transfer")).alias("action"),
        F.when(F.col("_exists"), dup_dest)
        .otherwise(F.concat(F.lit(dest_root.rstrip("/") + "/"), F.col(key)))
        .alias("dest"),
    )
    work = classified.filter(F.col("action") != "skip_exists")
    if count is not None:
        work = work.orderBy(key).limit(count)
    planned = work.unionByName(classified.filter(F.col("action") == "skip_exists"))
    skipped = inc.filter(F.col("_too_new")).select(
        key, "size", F.lit("skip_too_new").alias("action"),
        F.lit(None).cast("string").alias("dest"),
    )
    return planned.unionByName(skipped).orderBy("action", key)


def import_summary(plan: DataFrame) -> DataFrame:
    """Per-action counts + byte totals (the reference's end-of-run
    report, import.go:376-396)."""
    return plan.groupBy("action").agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum("size"), F.lit(0)).alias("bytes"),
    )

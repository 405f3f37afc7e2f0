"""CLI verbs — the reference's command surface re-expressed over the
Spark engine (reference dispatch: /root/reference/main.go:70-74 →
cmd/app.go:32-207 → cmd/files.go).

Verb parity (reference → here):
  update       (files/process.go:19 stdin ingest)      → ingest
  files find   (files/find.go:18 walk+catalog)         → ingest --walk
  files hash   (files/hash.go:186 signature backfill)  → hash
  files list-dupes (files/duplicates.go:9)             → list-dupes
  files move-dupes (files/move.go:23)                  → move-dupes (plan)
  files prune  (files/prune.go)                        → prune
  files import (files/import.go:23 classify+transfer)  → import-plan
  files mirror (files/mirror.go)                       → mirror-check
  files hash work-queue flags (files/hash.go:18-51)    → sign
  problematic  (cmd/app.go:175)                        → problematic
  files hash-upgrade (files/hash_upgrade.go:17)        → hash-upgrade
  files dedupe-group (files/group_dedup.go)            → dedupe-group
  server       (cmd/server.go:79 HTTP search)          → serve
  (new) full near-dup pipeline                         → pipeline
  (new) corpus hygiene (chunk dedup / decontamination /
        PII scrub / token-budget sampling)             → corpus-clean,
        decontaminate, pii-redact, sample-budget

Every verb reads/writes parquet tables under a --catalog directory via
the checkpoint catalog, so verbs compose and resume exactly like the
reference's DB-backed commands. Actions are *plans* (data), not
filesystem mutations — the Spark engine's action layer is a table a
mover consumes (operators/actions.py).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.sizes import format_size, parse_size


def dedupe_args(values: list[str] | None) -> list[str]:
    """U5: order-preserving dedupe of repeated path args, empties
    dropped (files/hash.go:142-156 resolveHashPriorityRootFolders)."""
    return list(dict.fromkeys(v.strip() for v in values or [] if v and v.strip()))


def _maybe_sample(df: DataFrame) -> tuple[DataFrame, bool]:
    """O8: DEDUP_ENVIRONMENT=local applies a random LIMIT 1000-1099 to
    input reads for quick iteration (files/utils.go:17-27, applied by
    prune.go:67,80). DEDUP_SAMPLE_LIMIT pins the limit for tests.

    The trigger is namespaced (not the generic ENVIRONMENT) so a
    deployment that sets ENVIRONMENT=local for unrelated reasons never
    gets silently sampled results; verbs surface ``sampled: true`` in
    their JSON output whenever the profile was applied."""
    if os.environ.get("DEDUP_ENVIRONMENT") != "local":
        return df, False
    limit = int(
        os.environ.get("DEDUP_SAMPLE_LIMIT") or 1000 + random.randint(0, 99)
    )
    print(f"[debug] DEDUP_ENVIRONMENT=local, applying LIMIT {limit}", file=sys.stderr)
    return df.limit(limit), True


def _spark(args) -> SparkSession:
    from .session import get_spark

    return get_spark("deduplicator-cli", cores=args.cores)


def _catalog(args):
    from .sources.catalog import CheckpointCatalog

    return CheckpointCatalog(args.catalog)


def cmd_ingest(args) -> dict:
    spark = _spark(args)
    cat = _catalog(args)
    from .sources.readers import read_binary_files, read_listing_text, upsert

    if args.walk:
        incoming = read_binary_files(spark, args.input)
    else:
        listing = read_listing_text(spark, args.input)
        incoming = listing.select(
            "path", F.lit(None).cast("long").alias("size"),
            F.current_timestamp().alias("mod_time"),
            F.lit(None).cast("string").alias("hash"),
        )
    if cat.exists("catalog"):
        stored = cat.read(spark, "catalog")
        merged = upsert(stored, incoming, ["path"], ["size", "hash"])
    else:
        merged = incoming.dropDuplicates(["path"])  # ON CONFLICT parity
    info = cat.write(merged, "catalog", params_hash="ingest")
    return {"verb": "ingest", "rows": info.rows}


def cmd_hash(args) -> dict:
    """Signature backfill over the documents table — incremental like the
    reference's `hash IS NULL` queue, honoring --count batches."""
    spark = _spark(args)
    cat = _catalog(args)
    from .config import DedupConfig
    from .operators.minhash import minhash_signatures
    from .streaming.incremental import run_incremental

    cfg = DedupConfig()
    # Normalize to (url, text) once, so the frontier anti-join, the
    # committed table, and any resumed run all share the key name
    # regardless of --id-col/--text-col.
    raw = spark.read.parquet(args.input)
    # --large-first needs a size to order by: the table's own size column
    # or text length (the reference orders its file rows by size,
    # files/hash.go:109-123)
    size_col = (
        [F.col("size")] if args.large_first and "size" in raw.columns
        else [F.length(args.text_col).alias("size")] if args.large_first
        else []
    )
    docs = raw.select(
        F.col(args.id_col).alias("url"), F.col(args.text_col).alias("text"), *size_col
    )

    def transform(batch):
        from .operators.exact import with_signature

        sha = with_signature(batch)
        mh = minhash_signatures(batch, cfg.shingle_size, cfg.num_perm, cfg.minhash_seed)
        return sha.join(mh, "url")

    total = run_incremental(
        spark, cat, "signatures",
        docs, transform, key="url",
        params_hash=cfg.params_hash(), batch_limit=args.count,
        large_first="size" if args.large_first else None,
        priority_prefixes=dedupe_args(args.priority_path) or None,
    )
    return {"verb": "hash", "rows": total}


def cmd_list_dupes(args) -> dict:
    spark = _spark(args)
    from .operators import exact

    docs, sampled = _maybe_sample(spark.read.parquet(args.input))
    min_size = parse_size(args.min_size)
    # sigs and the group table feed several downstream jobs (top-N,
    # members, savings, count + collect): pin both once instead of
    # re-running the sha scan per job (the multi-consumer rule,
    # SCALE.md / BENCH/EVIDENCE.md round 2)
    sigs = exact.with_signature(
        exact.valid_documents(
            docs.select(F.col(args.id_col).alias("url"), F.col(args.text_col).alias("text"),
                        *(["lang"] if "lang" in docs.columns else []))
        )
    ).localCheckpoint(eager=True)
    all_groups = exact.dup_groups(sigs, min_size=min_size).localCheckpoint(eager=True)
    groups = exact.top_groups(all_groups, limit=args.count)
    members = exact.assemble_groups(exact.dup_members(sigs, groups))
    ordered = members.orderBy(F.desc("total_size"), "content_sha").localCheckpoint(eager=True)
    n_groups = ordered.count()
    sample = [r.asDict() for r in ordered.limit(5).collect()]  # slice before collect
    sav = exact.savings(all_groups).collect()[0].asDict()
    if sav.get("savings_bytes") is not None:
        sav["savings_human"] = format_size(int(sav["savings_bytes"]))
    return {"verb": "list-dupes", "groups": n_groups, "savings": sav,
            "sample": sample, "sampled": sampled}


def cmd_move_dupes(args) -> dict:
    spark = _spark(args)
    cat = _catalog(args)
    from .operators import actions, exact

    docs, sampled = _maybe_sample(spark.read.parquet(args.input))
    sigs = exact.with_signature(
        exact.valid_documents(docs.select(F.col(args.id_col).alias("url"), F.col(args.text_col).alias("text")))
    )
    members = exact.dup_members(sigs, exact.dup_groups(sigs, min_size=parse_size(args.min_size)))
    elected = exact.elect_keeper_lexicographic(members)
    plan = actions.plan_removals(elected, archive_prefix=args.exclude_prefix)
    info = cat.write(plan, "move_plan", params_hash="move")
    summary = actions.plan_summary(cat.read(spark, "move_plan")).collect()[0].asDict()
    return {"verb": "move-dupes", "plan_rows": info.rows, "sampled": sampled, **summary}


def cmd_prune(args) -> dict:
    spark = _spark(args)
    cat = _catalog(args)
    from .operators.joins import prune_missing

    stored = cat.read(spark, "catalog")
    from .sources.readers import read_listing_text

    live = read_listing_text(spark, args.input)
    # the O8 sampling profile bounds what gets CHECKED this run (the
    # reference limits its SELECT the same way, prune.go:80); the
    # rewrite below is full-stored minus dead — never the sample, which
    # would silently delete every catalog row outside it
    checked, sampled = _maybe_sample(stored)
    dead = prune_missing(checked, live, "path").localCheckpoint(eager=True)
    n_dead = dead.count()
    if not args.dry_run:
        remaining = stored.join(dead.select("path"), "path", "left_anti")
        cat.write(remaining, "catalog", params_hash="prune")
    return {"verb": "prune", "removed": n_dead, "dry_run": args.dry_run,
            "sampled": sampled}


def cmd_mirror_check(args) -> dict:
    spark = _spark(args)
    from .operators.joins import mirror_conflicts, mirror_missing

    cat_df = spark.read.parquet(args.input)
    hosts = cat_df.select(args.host_col).distinct()
    missing = mirror_missing(cat_df, args.host_col, args.key_col, hosts)
    conflicts = mirror_conflicts(cat_df, args.key_col, args.hash_col)
    return {
        "verb": "mirror-check",
        "missing": missing.count(),
        "conflicts": conflicts.count(),
    }


def cmd_mirror_plan(args) -> dict:
    """J7: composed group-mirror task planner (group_mirror.go:281-362) —
    emits tasks + conflicts tables into the catalog."""
    spark = _spark(args)
    cat = _catalog(args)
    from .operators.mirror_plan import group_mirror_plan

    cat_df = spark.read.parquet(args.input)
    tasks, conflicts = group_mirror_plan(
        cat_df, member_col=args.member_col, path_col=args.path_col,
        hash_col=args.hash_col, size_col=args.size_col,
    )
    t_info = cat.write(tasks, "mirror_tasks", params_hash="mirror-plan")
    c_info = cat.write(conflicts, "mirror_conflicts", params_hash="mirror-plan")
    by_reason = {
        r["reason"]: r["n"]
        for r in cat.read(spark, "mirror_conflicts")
        .groupBy("reason").agg(F.count("*").alias("n")).collect()
    }
    return {"verb": "mirror-plan", "tasks": t_info.rows,
            "conflicts": c_info.rows, "conflicts_by_reason": by_reason}


def cmd_manage(args) -> dict:
    """Policy-table management verbs (cmd/manage.go:313-430):
    group-add / group-list / group-show / group-delete /
    group-add-path / group-remove-path."""
    spark = _spark(args)
    from .sources.policy import PolicyStore

    store = PolicyStore(spark, _catalog(args))
    a, pos = args.action, args.pos
    arity = {"group-add": 1, "group-delete": 1, "group-show": 1,
             "group-list": 0, "group-add-path": 3, "group-remove-path": 2}
    if len(pos) != arity[a]:
        raise SystemExit(
            f"manage {a} takes {arity[a]} positional argument(s), got {len(pos)}"
        )
    if a == "group-add":            # group-add <group>
        store.group_add(pos[0], args.description or "",
                        args.min_copies, args.max_copies)
        return {"verb": "manage", "action": a, "group": pos[0]}
    if a == "group-delete":         # group-delete <group>
        store.group_delete(pos[0])
        return {"verb": "manage", "action": a, "group": pos[0]}
    if a == "group-add-path":       # group-add-path <group> <host> <path>
        store.group_add_path(pos[0], pos[1], pos[2], args.priority)
        return {"verb": "manage", "action": a, "group": pos[0],
                "path": f"{pos[1]}:{pos[2]}"}
    if a == "group-remove-path":    # group-remove-path <host> <path>
        store.group_remove_path(pos[0], pos[1])
        return {"verb": "manage", "action": a, "path": f"{pos[0]}:{pos[1]}"}
    if a == "group-show":           # group-show <group>
        return {"verb": "manage", "action": a, **store.group_show(pos[0])}
    if a == "group-list":
        rows = [r.asDict() for r in store.groups().orderBy("group_name").collect()]
        return {"verb": "manage", "action": a, "groups": rows}
    raise SystemExit(f"unknown manage action: {a}")


def cmd_import_plan(args) -> dict:
    """files import parity (files/import.go ImportFiles), as a plan:
    classify incoming rows against the catalog into transfer /
    duplicate / skip_exists / skip_too_new actions. Input: a parquet
    table (path,size,mod_time), a directory to --walk, or a path
    listing."""
    spark = _spark(args)
    cat = _catalog(args)
    from .operators.actions import import_summary, plan_import
    from .sources.readers import read_binary_files, read_listing_text

    if args.input.endswith(".parquet"):
        incoming = spark.read.parquet(args.input)
    elif args.walk:
        incoming = read_binary_files(spark, args.input)
    else:
        incoming = read_listing_text(spark, args.input).select(
            "path", F.lit(None).cast("long").alias("size"),
            F.lit(None).cast("timestamp").alias("mod_time"),
        )
    stored = cat.read(spark, "catalog") if cat.exists("catalog") else None
    plan = plan_import(
        incoming, stored, key="path",
        age_minutes=args.age, count=args.count,
        duplicate_prefix=args.duplicate_prefix, dest_root=args.dest_root,
    )
    if not args.dry_run:
        cat.write(plan, "import_plan", params_hash="import")
        plan = cat.read(spark, "import_plan")
    summary = {
        r["action"]: {"n": r["n"], "bytes": r["bytes"],
                      "human": format_size(int(r["bytes"]))}
        for r in import_summary(plan).collect()
    }
    return {"verb": "import-plan", "dry_run": args.dry_run, "actions": summary}


def cmd_sign(args) -> dict:
    """Status-column signature backfill (hash.go:18-51 work queue):
    --retry-problematic / --renew / --refresh compose the queue
    predicates; --prefix-chars writes legacy partial hashes
    (hash_upgrade.go's stored-hash population)."""
    spark = _spark(args)
    cat = _catalog(args)
    from .operators.signatures import sign_documents, work_queue

    docs = spark.read.parquet(args.input).select(
        F.col(args.id_col).alias("url"), F.col(args.text_col).alias("text")
    )
    done = cat.read(spark, "signatures_status") if cat.exists("signatures_status") else None
    queue = work_queue(
        docs, done, retry_problematic=args.retry_problematic,
        renew=args.renew, refresh=args.refresh,
        size_blocking=args.size_blocking,
    )
    # partial hashes must never carry the full-hash version stamp, or
    # hash-upgrade (params_version != current) can never find them
    version = args.params_version or (
        f"v1-partial-{args.prefix_chars}" if args.prefix_chars else "v2-full"
    )
    signed = sign_documents(queue, prefix_chars=args.prefix_chars,
                            params_version=version)
    if done is not None:
        # replace re-signed rows, keep the rest (MERGE-shaped upsert).
        # --refresh re-signs everything *in this input* but must never
        # delete signatures for rows absent from it (the reference
        # --refresh re-hashes; it does not drop out-of-scope rows).
        merged = done.join(signed.select("url"), "url", "left_anti").unionByName(signed)
    else:
        merged = signed
    info = cat.write(merged, "signatures_status", params_hash="sign")
    by_status = {r["status"]: r["n"] for r in
                 cat.read(spark, "signatures_status")
                 .groupBy("status").agg(F.count("*").alias("n")).collect()}
    return {"verb": "sign", "rows": info.rows, "by_status": by_status}


def cmd_problematic(args) -> dict:
    """List signature rows in error statuses (cmd/app.go:175-197 +
    files.ListProblematicFiles) — the status-column analog of the
    reference's hash-sentinel scan."""
    spark = _spark(args)
    cat = _catalog(args)
    from .operators.signatures import PROBLEM_STATUSES

    if not cat.exists("signatures_status"):
        return {"verb": "problematic", "rows": 0, "sample": []}
    bad = (
        cat.read(spark, "signatures_status")
        .filter(F.col("status").isin(*PROBLEM_STATUSES))
        .orderBy("url")
    )
    n = bad.count()
    sample = [r.asDict() for r in bad.limit(args.count or 20).collect()]
    return {"verb": "problematic", "rows": n, "sample": sample}


def cmd_hash_upgrade(args) -> dict:
    """Selective re-sign of rows computed under an older params version
    (files/hash_upgrade.go:17-99) — upgrade without recomputing
    everything."""
    spark = _spark(args)
    cat = _catalog(args)
    from .operators.signatures import upgrade_signatures

    if not cat.exists("signatures_status"):
        raise SystemExit("no signatures_status table; run `sign` first")
    docs = spark.read.parquet(args.input).select(
        F.col(args.id_col).alias("url"), F.col(args.text_col).alias("text")
    )
    done = cat.read(spark, "signatures_status")
    upgraded, stats = upgrade_signatures(done, docs, params_version=args.params_version)
    if not args.dry_run:
        cat.write(upgraded, "signatures_status", params_hash="sign")
    return {"verb": "hash-upgrade", "dry_run": args.dry_run, **stats}


def cmd_dedupe_group(args) -> dict:
    """Group-scoped priority dedupe (files/group_dedup.go, `files
    dedupe-group <group>`): members under the group's hosts, keepers by
    (priority, domain), honoring the group's min/max copies."""
    spark = _spark(args)
    cat = _catalog(args)
    from .operators import actions, exact
    from .sources.policy import PolicyStore

    store = PolicyStore(spark, _catalog(args))
    group = store.group_show(args.group)
    policy_members = spark.createDataFrame(
        [(m["host_name"], m["priority"]) for m in group["members"]] or
        [(None, None)], "domain string, priority int",
    ).filter(F.col("domain").isNotNull())

    docs, sampled = _maybe_sample(spark.read.parquet(args.input))
    sigs = exact.with_signature(
        exact.valid_documents(
            docs.select(F.col(args.id_col).alias("url"), F.col(args.text_col).alias("text"))
        )
    )
    # group scoping: only urls whose domain is a member of the group
    # (the reference scopes by the group's host+path rows) — same
    # url_domain expression keeper election uses, so scoping and
    # election can never disagree on what a 'domain' is
    from .functions.url import url_domain

    hosts = [m["host_name"] for m in group["members"]]
    scoped = sigs.filter(
        url_domain(F.col("url")).isin(hosts) if hosts else F.lit(False)
    )
    members = exact.dup_members(scoped, exact.dup_groups(scoped, min_size=parse_size(args.min_size)))
    elected = exact.elect_keepers_priority(
        members, policy_members,
        min_copies=group["min_copies"],
        max_copies=group["max_copies"],
        respect_limits=args.respect_limits,
    )
    plan = actions.plan_removals(elected)
    summary = actions.plan_summary(plan).collect()[0].asDict()
    if not args.dry_run:
        cat.write(plan, f"dedupe_plan_{args.group}", params_hash="dedupe-group")
    return {"verb": "dedupe-group", "group": args.group,
            "dry_run": args.dry_run, "sampled": sampled, **summary}


def cmd_serve(args) -> dict:
    """S6: HTTP search service over a catalog table (cmd/server.go:79)."""
    spark = _spark(args)
    from .server import SearchService, serve

    service = SearchService(
        spark, _catalog(args), table=args.table,
        host=args.host, delete_enabled=not args.read_only,
    )
    serve(service, addr=args.addr, port=args.port)  # blocks until ^C
    return {"verb": "serve", "table": args.table}


def cmd_pipeline(args) -> dict:
    spark = _spark(args)
    cat = _catalog(args)
    from .config import DedupConfig
    from .plans.pipeline import DedupPipeline

    docs = spark.read.parquet(args.input)
    pipe = DedupPipeline(spark, cat, DedupConfig(), with_substr=not args.no_substr)
    report = pipe.run(docs)
    return {
        "verb": "pipeline",
        "run_id": report.run_id,
        "docs_in": report.docs_in,
        "wall_sec": round(report.wall_sec, 2),
        "docs_per_sec": round(report.docs_per_sec(), 1),
        "stages": {s.name: ("skip" if s.skipped else s.wall_ms) for s in report.stages},
    }


def cmd_media_dupes(args) -> dict:
    """Multimodal near-dup detection over a media table (media_id, kind,
    payload, mime, ...): decode (BMP/WAV), perceptual-hash, banded
    Hamming candidates kind-scoped. The list-dupes verb for payloads
    the exact-sha path can't see through (re-encodes / noisy copies)."""
    spark = _spark(args)
    from .operators.multimodal import exact_dup_media, phash_dup_pairs

    media, sampled = _maybe_sample(spark.read.parquet(args.input))
    media = media.localCheckpoint(eager=True)  # feeds phash + exact paths
    pairs = phash_dup_pairs(
        media, max_hamming=args.max_hamming, strict=args.strict
    ).localCheckpoint(eager=True)
    n_pairs = pairs.count()
    sample = [r.asDict() for r in
              pairs.orderBy("kind", "media_id_a", "media_id_b").limit(5).collect()]
    n_exact = exact_dup_media(media).count()
    return {
        "verb": "media-dupes",
        "near_dup_pairs": n_pairs,
        "exact_dup_rows": n_exact,
        "sample": sample,
        "sampled": sampled,
    }


def cmd_media_transcode(args) -> dict:
    """Lossless distributed image transcode (BMP ↔ PNG with the
    engine's zero-dependency codecs): decode + re-encode in
    mapInPandas, write the transcoded table to --output. Perceptual
    hashes are computed over decoded pixels, so transcoded rows keep
    deduping against their originals (media_cross_format_dups)."""
    spark = _spark(args)
    from .operators.multimodal import transcode_media

    media, sampled = _maybe_sample(spark.read.parquet(args.input))
    out = transcode_media(
        media, to_mime=args.to_mime, id_prefix=args.id_prefix, strict=args.strict
    )
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    return {
        "verb": "media-transcode",
        "to_mime": args.to_mime,
        "rows_out": n,
        "output": args.output,
        "sampled": sampled,
    }


def cmd_media_resize(args) -> dict:
    """Distributed box-resample of every supported image payload to
    --width x --height (decode + resize + re-encode in mapInPandas).
    Block-mean perceptual hashes survive the resample, so thumbnails
    keep deduping against their originals (media_resized_dups)."""
    spark = _spark(args)
    from .operators.multimodal import resize_media

    media, sampled = _maybe_sample(spark.read.parquet(args.input))
    out = resize_media(
        media, args.width, args.height, to_mime=args.to_mime,
        id_prefix=args.id_prefix, strict=args.strict,
    )
    out.write.mode("overwrite").parquet(args.output)
    n = spark.read.parquet(args.output).count()
    return {
        "verb": "media-resize",
        "width": args.width,
        "height": args.height,
        "rows_out": n,
        "output": args.output,
        "sampled": sampled,
    }


def cmd_corpus_clean(args) -> dict:
    """CCNet-style chunk (paragraph) dedup over a documents table:
    strip corpus-duplicated word chunks (min-id keeper retains), write
    the cleaned table to --output."""
    spark = _spark(args)
    from .operators.corpus import strip_duplicated_chunks

    docs, sampled = _maybe_sample(spark.read.parquet(args.input))
    out = strip_duplicated_chunks(
        docs, chunk_words=args.chunk_words, min_docs=args.min_docs,
        id_col=args.id_col, text_col=args.text_col,
    )
    out.write.mode("overwrite").parquet(args.output)
    written = spark.read.parquet(args.output)
    agg = written.agg(
        F.count("*").alias("docs"),
        F.sum("n_removed_chunks").alias("removed"),
    ).first()
    return {
        "verb": "corpus-clean",
        "docs": agg["docs"],
        "chunks_removed": int(agg["removed"] or 0),
        "output": args.output,
        "sampled": sampled,
    }


def cmd_decontaminate(args) -> dict:
    """Benchmark decontamination: flag training docs sharing any word
    n-gram with --benchmark; write per-doc overlap counts to --output."""
    spark = _spark(args)
    from .operators.corpus import benchmark_overlap

    train, sampled = _maybe_sample(spark.read.parquet(args.input))
    bench = spark.read.parquet(args.benchmark)
    out = benchmark_overlap(
        train, bench, n=args.ngram, id_col=args.id_col, text_col=args.text_col
    )
    out.write.mode("overwrite").parquet(args.output)
    written = spark.read.parquet(args.output)
    n_bad = written.filter("contaminated").count()
    return {
        "verb": "decontaminate",
        "docs": written.count(),
        "contaminated": n_bad,
        "output": args.output,
        "sampled": sampled,
    }


def cmd_pii_redact(args) -> dict:
    """PII scrub: typed-placeholder redaction + per-type counts,
    written to --output with the original columns preserved."""
    spark = _spark(args)
    from .functions.pii import pii_counts, redact_pii

    docs, sampled = _maybe_sample(spark.read.parquet(args.input))
    c = pii_counts(F.col(args.text_col))
    out = docs.withColumn("n_emails", c["n_emails"]) \
        .withColumn("n_ips", c["n_ips"]) \
        .withColumn("n_phones", c["n_phones"]) \
        .withColumn(args.text_col, redact_pii(F.col(args.text_col)))
    out.write.mode("overwrite").parquet(args.output)
    written = spark.read.parquet(args.output)
    agg = written.agg(
        F.count("*").alias("docs"),
        F.sum(F.col("n_emails") + F.col("n_ips") + F.col("n_phones")).alias("hits"),
    ).first()
    return {
        "verb": "pii-redact",
        "docs": agg["docs"],
        "pii_matches": int(agg["hits"] or 0),
        "output": args.output,
        "sampled": sampled,
    }


def cmd_recrawl_dedup(args) -> dict:
    """Canonical-URL re-crawl dedup: keep the newest capture per
    canonical url (tracking params / case / fragment / trailing-slash
    noise collapsed), write keepers to --output (and superseded rows
    to --losers if given)."""
    spark = _spark(args)
    from .operators.recrawl import latest_crawl_dedup, recrawl_losers

    docs, sampled = _maybe_sample(spark.read.parquet(args.input))
    keep = latest_crawl_dedup(docs, url_col=args.url_col, ts_col=args.ts_col)
    keep.write.mode("overwrite").parquet(args.output)
    n_keep = spark.read.parquet(args.output).count()
    n_losers = None
    if args.losers:
        lose = recrawl_losers(docs, url_col=args.url_col, ts_col=args.ts_col)
        lose.write.mode("overwrite").parquet(args.losers)
        n_losers = spark.read.parquet(args.losers).count()
    return {
        "verb": "recrawl-dedup",
        "canonical_pages": n_keep,
        "superseded_crawls": n_losers,
        "output": args.output,
        "sampled": sampled,
    }


def cmd_host_spam(args) -> dict:
    """Host-level spam/mirror sieve: per-host dup-share stats; writes
    the flagged host table to --output (every host, is_spam column)."""
    spark = _spark(args)
    from .operators.hosts import host_stats, spam_hosts
    from pyspark.sql import functions as F

    docs, sampled = _maybe_sample(spark.read.parquet(args.input))
    stats = host_stats(
        docs, url_col=args.url_col, text_col=args.text_col,
        lang_col=args.lang_col if args.lang_col != "none" else None,
    )
    spam = spam_hosts(stats, args.dup_share_min, args.min_pages).select(
        "host", "is_spam"
    )
    out = stats.join(spam, "host", "left").withColumn(
        "is_spam", F.coalesce("is_spam", F.lit(False))
    )
    out.write.mode("overwrite").parquet(args.output)
    written = spark.read.parquet(args.output)
    return {
        "verb": "host-spam",
        "hosts": written.count(),
        "spam_hosts": written.filter("is_spam").count(),
        "output": args.output,
        "sampled": sampled,
    }


def cmd_trap_scan(args) -> dict:
    """Crawler-trap scan: group urls by digit/hex-collapsed path
    template, write the per-(host, template) stats table with the
    is_trap flag to --output; with --flagged also write every page
    annotated with its template's verdict."""
    spark = _spark(args)
    from .operators.traps import flag_trap_pages, trap_templates

    docs, sampled = _maybe_sample(spark.read.parquet(args.input))
    traps = trap_templates(
        docs, url_col=args.url_col,
        min_pages=args.min_pages, min_distinct_paths=args.min_distinct_paths,
    )
    traps.write.mode("overwrite").parquet(args.output)
    written = spark.read.parquet(args.output)
    n_trap_pages = None
    if args.flagged:
        pages = flag_trap_pages(docs, written, url_col=args.url_col)
        pages.write.mode("overwrite").parquet(args.flagged)
        n_trap_pages = (
            spark.read.parquet(args.flagged).filter("is_trap").count()
        )
    return {
        "verb": "trap-scan",
        "templates": written.count(),
        "trap_templates": written.filter("is_trap").count(),
        "trap_pages": n_trap_pages,
        "output": args.output,
        "sampled": sampled,
    }


def cmd_host_cap(args) -> dict:
    """Per-host over-representation cap: keep at most --cap pages per
    host by the deterministic md5 key (salt re-rollable); writes the
    kept (host, url, sample_rank) table to --output."""
    spark = _spark(args)
    from .operators.hosts import host_cap_sample

    docs, sampled = _maybe_sample(spark.read.parquet(args.input))
    kept = host_cap_sample(
        docs, cap=args.cap, url_col=args.url_col, salt=args.salt,
    )
    kept.write.mode("overwrite").parquet(args.output)
    written = spark.read.parquet(args.output)
    return {
        "verb": "host-cap",
        "kept_pages": written.count(),
        "hosts": written.select("host").distinct().count(),
        "output": args.output,
        "sampled": sampled,
    }


def cmd_bloom_new(args) -> dict:
    """Crawl-frontier filter: rows of --input whose key is definitely
    absent from --seen (distributed Bloom; no false negatives, FPs
    only defer genuinely-new rows to the exact path)."""
    spark = _spark(args)
    from .operators.bloom import definitely_new

    probe, sampled = _maybe_sample(spark.read.parquet(args.input))
    seen = spark.read.parquet(args.seen)
    new = definitely_new(probe, seen, args.key_col,
                         bits_per_key=args.bits_per_key)
    new.write.mode("overwrite").parquet(args.output)
    return {
        "verb": "bloom-new",
        "definitely_new": spark.read.parquet(args.output).count(),
        "probed": probe.count(),
        "output": args.output,
        "sampled": sampled,
    }


def cmd_exactsubstr_strip(args) -> dict:
    """ExactSubstr span surgery (Lee et al. 2022): find >= --min-len
    shared blocks via the anchor-blocked substring pass, then rewrite
    losers with the span removed (winners keep the block)."""
    spark = _spark(args)
    from .operators.exactsubstr import shared_blocks, strip_shared_blocks
    from .operators.suffix import substr_candidates

    docs, sampled = _maybe_sample(spark.read.parquet(args.input))
    docs = docs.select(F.col(args.url_col).alias("url"),
                       F.col(args.text_col).alias("text"))
    # shared_blocks is the verification: one LCS per candidate
    pairs = substr_candidates(docs, min_len=args.min_len)
    blocks = shared_blocks(pairs, docs, min_len=args.min_len)
    out = strip_shared_blocks(docs, blocks)
    out.write.mode("overwrite").parquet(args.output)
    written = spark.read.parquet(args.output)
    return {
        "verb": "exactsubstr-strip",
        "docs": written.count(),
        "docs_rewritten": written.filter("n_blocks_removed > 0").count(),
        "chars_removed": written.agg(F.sum("chars_removed")).collect()[0][0],
        "output": args.output,
        "sampled": sampled,
    }


def cmd_line_dedup(args) -> dict:
    """CCNet/RefinedWeb line-level boilerplate removal: lines occurring
    in >= --min-docs distinct documents (optionally scoped per
    --scope-col, e.g. host) are cut from every document; each document
    keeps its unique remainder in original order."""
    spark = _spark(args)
    from .operators.lines import strip_duplicate_lines

    docs, sampled = _maybe_sample(spark.read.parquet(args.input))
    out = strip_duplicate_lines(
        docs, min_docs=args.min_docs, min_chars=args.min_chars,
        url_col=args.url_col, text_col=args.text_col,
        scope_col=args.scope_col,
    )
    out.write.mode("overwrite").parquet(args.output)
    written = spark.read.parquet(args.output)
    return {
        "verb": "line-dedup",
        "docs": written.count(),
        "docs_rewritten": written.filter("n_lines_removed > 0").count(),
        "chars_removed": written.agg(F.sum("chars_removed")).collect()[0][0],
        "output": args.output,
        "sampled": sampled,
    }


def cmd_assign_splits(args) -> dict:
    """Deterministic train/val/test assignment (md5-keyed, salt
    re-rollable); with --clusters, keys the split on the dedup cluster
    so no near-dup family straddles train/eval."""
    spark = _spark(args)
    from .operators.splits import assign_split, assign_split_by_cluster

    weights = {}
    for part in args.weights.split(","):
        name, frac = part.split("=")
        weights[name.strip()] = float(frac)
    docs, sampled = _maybe_sample(spark.read.parquet(args.input))
    if args.clusters:
        clusters = spark.read.parquet(args.clusters)
        out = assign_split_by_cluster(
            docs, clusters, weights, id_col=args.id_col,
            cluster_col=args.cluster_col, salt=args.salt,
        )
    else:
        out = assign_split(docs, weights, id_col=args.id_col, salt=args.salt)
    out.write.mode("overwrite").parquet(args.output)
    counts = {
        r["split"]: r["count"]
        for r in spark.read.parquet(args.output).groupBy("split").count().collect()
    }
    return {
        "verb": "assign-splits",
        "splits": counts,
        "leakage_guarded": bool(args.clusters),
        "output": args.output,
        "sampled": sampled,
    }


def cmd_write_sharded(args) -> dict:
    """Hash-sharded parquet writer: stable md5-keyed shard in
    [0, n), one whole shard per task, shard=K partition dirs."""
    spark = _spark(args)
    from .operators.splits import shard_stats, write_sharded

    docs, sampled = _maybe_sample(spark.read.parquet(args.input))
    write_sharded(docs, args.output, args.n_shards,
                  id_col=args.id_col, salt=args.salt)
    back = spark.read.parquet(args.output)
    stats = shard_stats(back).collect()
    n = [r.n_docs for r in stats]
    return {
        "verb": "write-sharded",
        "n_shards": args.n_shards,
        "docs": sum(n),
        "balance_max_over_mean": round(max(n) / (sum(n) / len(n)), 3) if n else None,
        "output": args.output,
        "sampled": sampled,
    }


def cmd_sample_budget(args) -> dict:
    """Deterministic per-source token-budget downsampling; writes the
    kept rows (with cum_tokens lineage) to --output."""
    spark = _spark(args)
    from .operators.corpus import token_budget_sample

    docs, sampled = _maybe_sample(spark.read.parquet(args.input))
    out = token_budget_sample(
        docs, budget_tokens=args.budget,
        id_col=args.id_col, source_col=args.source_col, text_col=args.text_col,
    )
    out.filter("kept").write.mode("overwrite").parquet(args.output)
    kept = spark.read.parquet(args.output).count()
    return {
        "verb": "sample-budget",
        "kept_docs": kept,
        "budget_tokens": args.budget,
        "output": args.output,
        "sampled": sampled,
    }


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="deduplicator_go_spark")
    p.add_argument("--catalog", default="/tmp/dedup-catalog")
    p.add_argument("--cores", default=None)
    sub = p.add_subparsers(dest="verb", required=True)

    s = sub.add_parser("ingest");  s.add_argument("--input", required=True)
    s.add_argument("--walk", action="store_true"); s.set_defaults(fn=cmd_ingest)

    s = sub.add_parser("hash"); s.add_argument("--input", required=True)
    s.add_argument("--count", type=int, default=None)
    s.add_argument("--id-col", default="url"); s.add_argument("--text-col", default="text")
    s.add_argument("--large-first", action="store_true")
    s.add_argument("--priority-path", action="append", default=[])
    s.set_defaults(fn=cmd_hash)

    s = sub.add_parser("list-dupes"); s.add_argument("--input", required=True)
    s.add_argument("--count", type=int, default=None)
    s.add_argument("--min-size", default="0")  # accepts "10M" (C7)
    s.add_argument("--id-col", default="url"); s.add_argument("--text-col", default="text")
    s.set_defaults(fn=cmd_list_dupes)

    s = sub.add_parser("move-dupes"); s.add_argument("--input", required=True)
    s.add_argument("--min-size", default="0")  # accepts "10M" (C7)
    s.add_argument("--exclude-prefix", default=None)
    s.add_argument("--id-col", default="url"); s.add_argument("--text-col", default="text")
    s.set_defaults(fn=cmd_move_dupes)

    s = sub.add_parser("prune"); s.add_argument("--input", required=True)
    s.add_argument("--dry-run", action="store_true"); s.set_defaults(fn=cmd_prune)

    s = sub.add_parser("mirror-check"); s.add_argument("--input", required=True)
    s.add_argument("--host-col", default="host"); s.add_argument("--key-col", default="relpath")
    s.add_argument("--hash-col", default="hash"); s.set_defaults(fn=cmd_mirror_check)

    s = sub.add_parser("pipeline"); s.add_argument("--input", required=True)
    s.add_argument("--no-substr", action="store_true"); s.set_defaults(fn=cmd_pipeline)

    s = sub.add_parser("mirror-plan"); s.add_argument("--input", required=True)
    s.add_argument("--member-col", default="member")
    s.add_argument("--path-col", default="relpath")
    s.add_argument("--hash-col", default="hash")
    s.add_argument("--size-col", default="size")
    s.set_defaults(fn=cmd_mirror_plan)

    s = sub.add_parser("import-plan"); s.add_argument("--input", required=True)
    s.add_argument("--walk", action="store_true")
    s.add_argument("--age", type=int, default=0)        # minutes, 0 = off
    s.add_argument("--count", type=int, default=None)
    s.add_argument("--duplicate-prefix", default=None)
    s.add_argument("--dest-root", default="/imported")
    s.add_argument("--dry-run", action="store_true")
    s.set_defaults(fn=cmd_import_plan)

    s = sub.add_parser("sign"); s.add_argument("--input", required=True)
    s.add_argument("--id-col", default="url"); s.add_argument("--text-col", default="text")
    s.add_argument("--retry-problematic", action="store_true")
    s.add_argument("--renew", action="store_true")
    s.add_argument("--refresh", action="store_true")
    s.add_argument("--size-blocking", action="store_true")
    s.add_argument("--prefix-chars", type=int, default=None)
    s.add_argument("--params-version", default=None)  # derived if unset
    s.set_defaults(fn=cmd_sign)

    s = sub.add_parser("problematic")
    s.add_argument("--count", type=int, default=20)
    s.set_defaults(fn=cmd_problematic)

    s = sub.add_parser("hash-upgrade"); s.add_argument("--input", required=True)
    s.add_argument("--id-col", default="url"); s.add_argument("--text-col", default="text")
    s.add_argument("--params-version", default="v2-full")
    s.add_argument("--dry-run", action="store_true")
    s.set_defaults(fn=cmd_hash_upgrade)

    s = sub.add_parser("dedupe-group")
    s.add_argument("group")
    s.add_argument("--input", required=True)
    s.add_argument("--id-col", default="url"); s.add_argument("--text-col", default="text")
    s.add_argument("--min-size", default="0")
    s.add_argument("--respect-limits", action="store_true")
    s.add_argument("--dry-run", action="store_true")
    s.set_defaults(fn=cmd_dedupe_group)

    s = sub.add_parser("media-dupes"); s.add_argument("--input", required=True)
    s.add_argument("--max-hamming", type=int, default=3)
    # fail fast on undecodable payloads instead of hashing them to NULL
    s.add_argument("--strict", action="store_true")
    s.set_defaults(fn=cmd_media_dupes)

    s = sub.add_parser("media-resize")
    s.add_argument("--input", required=True)
    s.add_argument("--output", required=True)
    s.add_argument("--width", type=int, required=True)
    s.add_argument("--height", type=int, required=True)
    s.add_argument("--to-mime", default="image/bmp",
                   choices=["image/png", "image/bmp", "image/jpeg"])
    s.add_argument("--id-prefix", default="r")
    s.add_argument("--strict", action="store_true")
    s.set_defaults(fn=cmd_media_resize)

    s = sub.add_parser("media-transcode")
    s.add_argument("--input", required=True)
    s.add_argument("--output", required=True)
    s.add_argument("--to-mime", default="image/png",
                   choices=["image/png", "image/bmp", "image/jpeg",
                            "image/gif", "audio/wav", "audio/adpcm"])
    s.add_argument("--id-prefix", default="p")
    # fail fast on undecodable/non-image payloads instead of dropping them
    s.add_argument("--strict", action="store_true")
    s.set_defaults(fn=cmd_media_transcode)

    s = sub.add_parser("corpus-clean")
    s.add_argument("--input", required=True)
    s.add_argument("--output", required=True)
    s.add_argument("--chunk-words", type=int, default=8)
    s.add_argument("--min-docs", type=int, default=2)
    s.add_argument("--id-col", default="doc_id")
    s.add_argument("--text-col", default="text")
    s.set_defaults(fn=cmd_corpus_clean)

    s = sub.add_parser("decontaminate")
    s.add_argument("--input", required=True)
    s.add_argument("--benchmark", required=True)
    s.add_argument("--output", required=True)
    s.add_argument("--ngram", type=int, default=8)
    s.add_argument("--id-col", default="doc_id")
    s.add_argument("--text-col", default="text")
    s.set_defaults(fn=cmd_decontaminate)

    s = sub.add_parser("pii-redact")
    s.add_argument("--input", required=True)
    s.add_argument("--output", required=True)
    s.add_argument("--text-col", default="text")
    s.set_defaults(fn=cmd_pii_redact)

    s = sub.add_parser("recrawl-dedup")
    s.add_argument("--input", required=True)
    s.add_argument("--output", required=True)
    s.add_argument("--losers", default=None)
    s.add_argument("--url-col", default="url")
    s.add_argument("--ts-col", default="warc_ts")
    s.set_defaults(fn=cmd_recrawl_dedup)

    s = sub.add_parser("exactsubstr-strip")
    s.add_argument("--input", required=True)
    s.add_argument("--output", required=True)
    s.add_argument("--url-col", default="url")
    s.add_argument("--text-col", default="text")
    s.add_argument("--min-len", type=int, default=512)
    s.set_defaults(fn=cmd_exactsubstr_strip)

    s = sub.add_parser("assign-splits")
    s.add_argument("--input", required=True)
    s.add_argument("--output", required=True)
    s.add_argument("--weights", default="train=0.98,val=0.01,test=0.01")
    s.add_argument("--clusters", default=None)
    s.add_argument("--cluster-col", default="cluster_id")
    s.add_argument("--id-col", default="url")
    s.add_argument("--salt", default="")
    s.set_defaults(fn=cmd_assign_splits)

    s = sub.add_parser("write-sharded")
    s.add_argument("--input", required=True)
    s.add_argument("--output", required=True)
    s.add_argument("--n-shards", type=int, default=16)
    s.add_argument("--id-col", default="url")
    s.add_argument("--salt", default="")
    s.set_defaults(fn=cmd_write_sharded)

    s = sub.add_parser("line-dedup")
    s.add_argument("--input", required=True)
    s.add_argument("--output", required=True)
    s.add_argument("--url-col", default="url")
    s.add_argument("--text-col", default="text")
    s.add_argument("--scope-col", default=None)
    s.add_argument("--min-docs", type=int, default=2)
    s.add_argument("--min-chars", type=int, default=1)
    s.set_defaults(fn=cmd_line_dedup)

    s = sub.add_parser("host-spam")
    s.add_argument("--input", required=True)
    s.add_argument("--output", required=True)
    s.add_argument("--url-col", default="url")
    s.add_argument("--text-col", default="text")
    s.add_argument("--lang-col", default="lang")
    s.add_argument("--dup-share-min", type=float, default=0.5)
    s.add_argument("--min-pages", type=int, default=3)
    s.set_defaults(fn=cmd_host_spam)

    s = sub.add_parser("trap-scan")
    s.add_argument("--input", required=True)
    s.add_argument("--output", required=True)
    s.add_argument("--flagged", default=None)
    s.add_argument("--url-col", default="url")
    s.add_argument("--min-pages", type=int, default=100)
    s.add_argument("--min-distinct-paths", type=int, default=50)
    s.set_defaults(fn=cmd_trap_scan)

    s = sub.add_parser("host-cap")
    s.add_argument("--input", required=True)
    s.add_argument("--output", required=True)
    s.add_argument("--url-col", default="url")
    s.add_argument("--cap", type=int, required=True)
    s.add_argument("--salt", default="")
    s.set_defaults(fn=cmd_host_cap)

    s = sub.add_parser("bloom-new")
    s.add_argument("--input", required=True)
    s.add_argument("--seen", required=True)
    s.add_argument("--output", required=True)
    s.add_argument("--key-col", default="url")
    s.add_argument("--bits-per-key", type=int, default=16)
    s.set_defaults(fn=cmd_bloom_new)

    s = sub.add_parser("sample-budget")
    s.add_argument("--input", required=True)
    s.add_argument("--output", required=True)
    s.add_argument("--budget", type=int, required=True)
    s.add_argument("--id-col", default="doc_id")
    s.add_argument("--source-col", default="source")
    s.add_argument("--text-col", default="text")
    s.set_defaults(fn=cmd_sample_budget)

    s = sub.add_parser("serve")
    s.add_argument("--table", default="catalog")
    s.add_argument("--addr", default="0.0.0.0")
    s.add_argument("--port", type=int, default=19111)  # reference :19111
    s.add_argument("--host", default=None)
    s.add_argument("--read-only", action="store_true")
    s.set_defaults(fn=cmd_serve)

    s = sub.add_parser("manage")
    s.add_argument("action", choices=[
        "group-add", "group-list", "group-show", "group-delete",
        "group-add-path", "group-remove-path",
    ])
    s.add_argument("pos", nargs="*", default=[])
    s.add_argument("--min-copies", type=int, default=2)
    s.add_argument("--max-copies", type=int, default=None)
    s.add_argument("--description", default="")
    s.add_argument("--priority", type=int, default=100)
    s.set_defaults(fn=cmd_manage)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    out = args.fn(args)
    print(json.dumps(out, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())

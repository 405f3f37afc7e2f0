"""CLI verb parity — each reference command verb drives the engine
end-to-end through the argparse surface."""

from __future__ import annotations

import json
import os

import pytest

from deduplicator_go_spark.cli import main


@pytest.fixture(scope="module")
def docs_parquet(spark, corpus, tmp_path_factory):
    d = tmp_path_factory.mktemp("cli-docs")
    p = str(d / "documents.parquet")
    corpus.documents.drop(columns=["kind"]).to_parquet(
        p, coerce_timestamps="us", allow_truncated_timestamps=True
    )
    return p


def _run(capsys, argv):
    rc = main(argv)
    assert rc == 0
    return json.loads(capsys.readouterr().out.strip().splitlines()[-1])


def test_cli_list_dupes(capsys, docs_parquet, tmp_path):
    out = _run(capsys, ["--catalog", str(tmp_path / "cat"), "--cores", "8",
                        "list-dupes", "--input", docs_parquet])
    assert out["groups"] == 18
    assert out["savings"]["n_groups"] == 18
    assert len(out["sample"]) == 5


def test_cli_move_dupes_plan(capsys, docs_parquet, tmp_path):
    cat = str(tmp_path / "cat")
    out = _run(capsys, ["--catalog", cat, "--cores", "8",
                        "move-dupes", "--input", docs_parquet])
    assert out["n_keepers"] == 18
    assert out["n_removals"] == 59 - 18
    assert os.path.exists(os.path.join(cat, "move_plan"))


def test_cli_ingest_prune_roundtrip(capsys, tmp_path):
    cat = str(tmp_path / "cat")
    listing = tmp_path / "listing.txt"
    listing.write_text("/a/x\n/a/y\n/a/z\n")
    out = _run(capsys, ["--catalog", cat, "--cores", "8",
                        "ingest", "--input", str(listing)])
    assert out["rows"] == 3
    # shrink the live listing; prune removes the dead row
    listing2 = tmp_path / "listing2.txt"
    listing2.write_text("/a/x\n/a/y\n")
    out = _run(capsys, ["--catalog", cat, "--cores", "8",
                        "prune", "--input", str(listing2), "--dry-run"])
    assert out["removed"] == 1 and out["dry_run"]
    out = _run(capsys, ["--catalog", cat, "--cores", "8",
                        "prune", "--input", str(listing2)])
    assert out["removed"] == 1
    out = _run(capsys, ["--catalog", cat, "--cores", "8",
                        "prune", "--input", str(listing2), "--dry-run"])
    assert out["removed"] == 0


def test_cli_mirror_check(capsys, spark, tmp_path):
    p = str(tmp_path / "cat.parquet")
    spark.createDataFrame(
        [("h1", "p1", "x"), ("h2", "p1", "x"), ("h1", "p2", "y"),
         ("h1", "p3", "a"), ("h2", "p3", "b")],
        "host string, relpath string, hash string",
    ).write.parquet(p)
    out = _run(capsys, ["--cores", "8", "mirror-check", "--input", p])
    assert out["missing"] == 1   # p2 missing on h2
    assert out["conflicts"] == 1  # p3 hash divergence


def test_cli_hash_incremental_batches(capsys, docs_parquet, tmp_path):
    cat = str(tmp_path / "cat")
    out = _run(capsys, ["--catalog", cat, "--cores", "8",
                        "hash", "--input", docs_parquet, "--count", "250"])
    assert out["rows"] == 600  # drained in 3 batches


def test_cli_hash_custom_id_col(capsys, corpus, tmp_path):
    """--id-col other than 'url' must survive multi-batch frontier
    anti-joins and resume (regression: the key was hardcoded to 'url'
    while the input kept its original column name)."""
    p = str(tmp_path / "renamed.parquet")
    corpus.documents.drop(columns=["kind"]).rename(columns={"url": "doc_id"}).to_parquet(
        p, coerce_timestamps="us", allow_truncated_timestamps=True
    )
    cat = str(tmp_path / "cat")
    out = _run(capsys, ["--catalog", cat, "--cores", "8",
                        "hash", "--input", p, "--id-col", "doc_id", "--count", "250"])
    assert out["rows"] == 600
    # resumed run over the same input: frontier fully drained, 0 appended
    out = _run(capsys, ["--catalog", cat, "--cores", "8",
                        "hash", "--input", p, "--id-col", "doc_id", "--count", "250"])
    assert out["rows"] == 0


def test_cli_min_size_human(capsys, docs_parquet, tmp_path):
    """C7: --min-size accepts '1K'-style sizes (ParseSize parity); the
    savings summary carries a formatted human total."""
    out = _run(capsys, ["--catalog", str(tmp_path / "cat"), "--cores", "8",
                        "list-dupes", "--input", docs_parquet,
                        "--min-size", "1K"])
    # groups survive only when duplicated text >= 1024 chars
    assert out["groups"] < 18
    assert out["savings"]["savings_human"].split()[1] in ("B", "KB", "MB")


def test_cli_sampling_profile(capsys, docs_parquet, tmp_path, monkeypatch):
    """O8: DEDUP_ENVIRONMENT=local caps input reads for quick iteration
    (files/utils.go:17-27); DEDUP_SAMPLE_LIMIT pins the limit. The
    trigger is namespaced (generic ENVIRONMENT must NOT sample) and the
    verb output discloses sampled: true."""
    monkeypatch.setenv("ENVIRONMENT", "local")  # generic var: no effect
    monkeypatch.setenv("DEDUP_SAMPLE_LIMIT", "50")
    out = _run(capsys, ["--catalog", str(tmp_path / "cat"), "--cores", "8",
                        "list-dupes", "--input", docs_parquet])
    assert out["sampled"] is False
    monkeypatch.setenv("DEDUP_ENVIRONMENT", "local")
    out = _run(capsys, ["--catalog", str(tmp_path / "cat2"), "--cores", "8",
                        "list-dupes", "--input", docs_parquet])
    assert out["sampled"] is True
    # 50-doc sample must see far fewer dup groups than the full corpus
    assert out["groups"] < 18


def test_cli_media_transcode(capsys, spark, tmp_path):
    """media-transcode verb: BMP → PNG losslessly in mapInPandas; the
    transcoded table still dedups against the originals via perceptual
    hash (decoded pixels unchanged)."""
    from deduplicator_go_spark.fixtures import media as fx
    from deduplicator_go_spark.operators import multimodal

    ids = spark.range(0, 16).withColumnRenamed("id", "doc_id").filter(
        "doc_id % 2 = 0"
    )
    p = str(tmp_path / "media.parquet")
    fx.synthetic_media(ids, "doc_id").write.parquet(p)
    outp = str(tmp_path / "png.parquet")
    out = _run(capsys, ["--catalog", str(tmp_path / "cat"), "--cores", "8",
                        "media-transcode", "--input", p, "--output", outp])
    assert out["rows_out"] == 8 and out["to_mime"] == "image/png"
    png = spark.read.parquet(outp)
    assert {r["mime"] for r in png.select("mime").distinct().collect()} == {"image/png"}
    both = spark.read.parquet(p).unionByName(png)
    hashes = {r["media_id"]: r["phash"]
              for r in multimodal.perceptual_hashes(both, strict=True).collect()}
    for i in range(0, 16, 2):
        # transcoded id = prefix + FULL original id (collision-proof for
        # arbitrary catalogs — round-4 advisor finding)
        assert hashes[f"m{i:08d}"] == hashes["p" + f"m{i:08d}"]


def test_cli_media_dupes(capsys, spark, tmp_path):
    """media-dupes verb: decode + perceptual-hash + banded Hamming over
    a media parquet table — finds exactly the planted noisy re-renders
    (which the exact-sha path cannot see: 0 exact dups)."""
    from deduplicator_go_spark.fixtures import media as fx

    ids = spark.range(0, 64).withColumnRenamed("id", "doc_id")
    p = str(tmp_path / "media.parquet")
    fx.synthetic_media(ids, "doc_id").write.parquet(p)
    out = _run(capsys, ["--catalog", str(tmp_path / "cat"), "--cores", "8",
                        "media-dupes", "--input", p])
    assert out["near_dup_pairs"] == len(fx.truth_pairs(list(range(64))))
    assert out["exact_dup_rows"] == 0  # noisy copies differ byte-wise
    assert len(out["sample"]) == 5
    assert out["sampled"] is False


def test_cli_hash_priority_paths(capsys, corpus, spark, tmp_path):
    """U5 + O4: repeated --priority-path args are deduped
    order-preserving, and the frontier hashes priority-prefix rows
    first (hash.go:142-178 resolveHashPriorityRootFolders)."""
    from deduplicator_go_spark.cli import dedupe_args
    from deduplicator_go_spark.streaming.incremental import frontier

    assert dedupe_args(["/a", "/b", "/a", " ", "/b"]) == ["/a", "/b"]

    # frontier ordering: with a limit, priority prefixes fill the batch
    # first, in the order they were given
    rows = spark.createDataFrame(
        [("/low/x", 9), ("/p2/a", 1), ("/p1/b", 2), ("/low/y", 8), ("/p1/c", 3)],
        "url string, size long",
    )
    batch = frontier(rows, None, "url", limit=3,
                     priority_prefixes=["/p1", "/p2"])
    urls = [r["url"] for r in batch.collect()]
    assert set(urls[:2]) == {"/p1/b", "/p1/c"} and urls[2] == "/p2/a"
    # large_first breaks ties inside the same priority class
    batch = frontier(rows, None, "url", limit=2, large_first="size",
                     priority_prefixes=["/p1"])
    assert [r["url"] for r in batch.collect()] == ["/p1/c", "/p1/b"]

    # end-to-end through the CLI: drains fully with the knobs set
    p = str(tmp_path / "docs.parquet")
    corpus.documents.drop(columns=["kind"]).to_parquet(
        p, coerce_timestamps="us", allow_truncated_timestamps=True
    )
    prefix = corpus.documents["url"].iloc[0].rsplit("/", 1)[0]
    out = _run(capsys, ["--catalog", str(tmp_path / "cat"), "--cores", "8",
                        "hash", "--input", p, "--count", "250",
                        "--large-first", "--priority-path", prefix,
                        "--priority-path", prefix])
    assert out["rows"] == 600


def test_cli_sign_problematic_retry_upgrade(capsys, spark, tmp_path):
    """The reference's signature lifecycle through the CLI: sign with a
    failing row -> problematic lists it -> the fixed input +
    --retry-problematic heals it -> hash-upgrade re-signs legacy
    partial hashes without touching current rows."""
    import pandas as pd

    cat = str(tmp_path / "cat")
    rows = pd.DataFrame({
        "url": [f"https://h.example/d{i}" for i in range(6)],
        "text": ["alpha beta gamma", "delta epsilon", None,
                 "zeta", "eta theta iota kappa", "abc"],
    })
    p = str(tmp_path / "docs.parquet"); rows.to_parquet(p)

    # legacy partial signatures (first 4 chars), one hash_error row
    out = _run(capsys, ["--catalog", cat, "--cores", "8", "sign",
                        "--input", p, "--prefix-chars", "4",
                        "--params-version", "v1-partial"])
    assert out["rows"] == 6
    assert out["by_status"] == {"ok": 5, "hash_error": 1}

    out = _run(capsys, ["--catalog", cat, "--cores", "8", "problematic"])
    assert out["rows"] == 1
    assert out["sample"][0]["url"].endswith("/d2")

    # the doc is fixed upstream; --retry-problematic re-signs only it
    rows.loc[2, "text"] = "fixed now"
    rows.to_parquet(p)
    out = _run(capsys, ["--catalog", cat, "--cores", "8", "sign",
                        "--input", p, "--retry-problematic",
                        "--prefix-chars", "4", "--params-version", "v1-partial"])
    assert out["by_status"] == {"ok": 6}

    # upgrade: docs <= 4 chars have partial == full sha (unchanged);
    # longer docs get re-signed under the new version
    out = _run(capsys, ["--catalog", cat, "--cores", "8", "hash-upgrade",
                        "--input", p, "--params-version", "v2-full"])
    assert out["checked"] == 6
    assert out["upgraded"] == 4          # the four docs longer than 4 chars
    assert out["unchanged"] == 2         # "zeta", "abc"
    assert out["failed"] == 0
    # second upgrade is a no-op (everything already v2-full)
    out = _run(capsys, ["--catalog", cat, "--cores", "8", "hash-upgrade",
                        "--input", p, "--params-version", "v2-full"])
    assert out["checked"] == 0


def test_cli_dedupe_group(capsys, spark, tmp_path):
    """files dedupe-group parity: keepers elected by the group's host
    priorities, honoring min_copies, plan rows written unless --dry-run."""
    import os

    import pandas as pd

    cat = str(tmp_path / "cat")
    # same text on three hosts; 'b' has the best (lowest) priority
    rows = pd.DataFrame({
        "url": ["https://a.example/x", "https://b.example/y",
                "https://c.example/z", "https://a.example/solo"],
        "text": ["shared content here"] * 3 + ["unique text"],
    })
    p = str(tmp_path / "docs.parquet"); rows.to_parquet(p)

    _run(capsys, ["--catalog", cat, "--cores", "8", "manage", "group-add",
                  "media", "--min-copies", "1"])
    for host, prio in (("a", 20), ("b", 5), ("c", 30)):
        _run(capsys, ["--catalog", cat, "--cores", "8", "manage",
                      "group-add-path", "media", host, f"/srv/{host}",
                      "--priority", str(prio)])

    out = _run(capsys, ["--catalog", cat, "--cores", "8", "dedupe-group",
                        "media", "--input", p, "--dry-run"])
    assert out["n_keepers"] == 1 and out["n_removals"] == 2
    assert not os.path.exists(os.path.join(cat, "dedupe_plan_media"))

    out = _run(capsys, ["--catalog", cat, "--cores", "8", "dedupe-group",
                        "media", "--input", p])
    assert out["n_keepers"] == 1 and out["n_removals"] == 2
    from deduplicator_go_spark.sources.catalog import CheckpointCatalog

    plan = CheckpointCatalog(cat).read(spark, "dedupe_plan_media")
    keeper = plan.filter("action = 'keep'").collect()
    assert len(keeper) == 1 and keeper[0]["url"] == "https://b.example/y"


def test_cli_sign_refresh_keeps_out_of_scope_rows(capsys, tmp_path):
    """--refresh re-signs the given input but must not delete
    signatures for rows absent from it (review regression)."""
    import pandas as pd

    cat = str(tmp_path / "cat")
    a = pd.DataFrame({"url": ["https://h/a1", "https://h/a2"],
                      "text": ["one one", "two two"]})
    b = pd.DataFrame({"url": ["https://h/b1"], "text": ["three three"]})
    pa_ = str(tmp_path / "a.parquet"); a.to_parquet(pa_)
    pb_ = str(tmp_path / "b.parquet"); b.to_parquet(pb_)
    out = _run(capsys, ["--catalog", cat, "--cores", "8", "sign", "--input", pa_])
    assert out["rows"] == 2
    out = _run(capsys, ["--catalog", cat, "--cores", "8", "sign",
                        "--input", pb_, "--refresh"])
    assert out["rows"] == 3  # a1, a2 kept; b1 added


def test_cli_manage_arity_errors(capsys, tmp_path):
    import pytest as _pytest

    with _pytest.raises(SystemExit):
        main(["--catalog", str(tmp_path / "cat"), "--cores", "8",
              "manage", "group-add"])  # missing <group>


def test_cli_import_plan(capsys, spark, tmp_path):
    """files import parity: incoming rows classify into transfer /
    duplicate / skip_too_new against the catalog, with --count bounding
    a run and the age gate composing (import.go:136-260)."""
    import datetime as dt

    import pandas as pd

    cat = str(tmp_path / "cat")
    # seed the catalog with two known paths
    listing = tmp_path / "seed.txt"
    listing.write_text("a/kept.txt\na/dup.txt\n")
    _run(capsys, ["--catalog", cat, "--cores", "8",
                  "ingest", "--input", str(listing)])

    now = dt.datetime.now(dt.timezone.utc)
    incoming = pd.DataFrame({
        "path": ["a/dup.txt", "b/new1.txt", "b/new2.txt", "b/fresh.txt"],
        "size": [100, 200, 300, 400],
        "mod_time": [now - dt.timedelta(hours=2)] * 3 + [now],  # fresh is too new
    })
    p = str(tmp_path / "incoming.parquet")
    incoming.to_parquet(p, coerce_timestamps="us", allow_truncated_timestamps=True)

    out = _run(capsys, ["--catalog", cat, "--cores", "8", "import-plan",
                        "--input", p, "--age", "30",
                        "--duplicate-prefix", "/dups", "--dry-run"])
    acts = out["actions"]
    assert acts["transfer"]["n"] == 2 and acts["transfer"]["bytes"] == 500
    assert acts["duplicate"]["n"] == 1
    assert acts["skip_too_new"]["n"] == 1 and acts["skip_too_new"]["bytes"] == 400
    assert acts["transfer"]["human"] == "500 B"

    # --count bounds eligible rows; plan persists when not --dry-run
    out = _run(capsys, ["--catalog", cat, "--cores", "8", "import-plan",
                        "--input", p, "--age", "30", "--count", "1",
                        "--duplicate-prefix", "/dups"])
    assert sum(v["n"] for k, v in out["actions"].items()
               if k != "skip_too_new") == 1
    from deduplicator_go_spark.sources.catalog import CheckpointCatalog

    plan = CheckpointCatalog(cat).read(spark, "import_plan")
    dest = {r["path"]: r["dest"] for r in plan.collect()}
    assert dest["a/dup.txt"] == "/dups/a/dup.txt"  # count=1 takes lexicographic first


def test_cli_prune_sampling_never_deletes_unchecked_rows(capsys, tmp_path, monkeypatch):
    """DEDUP_ENVIRONMENT=local bounds what prune CHECKS, never what it keeps:
    the rewrite must be full-catalog minus dead (review regression —
    rewriting from the sample silently dropped every unsampled row)."""
    cat = str(tmp_path / "cat")
    listing = tmp_path / "all.txt"
    paths = [f"/d/f{i:03d}" for i in range(40)]
    listing.write_text("\n".join(paths) + "\n")
    _run(capsys, ["--catalog", cat, "--cores", "8", "ingest", "--input", str(listing)])

    live = tmp_path / "live.txt"
    live.write_text("\n".join(paths[1:]) + "\n")  # f000 is dead
    monkeypatch.setenv("DEDUP_ENVIRONMENT", "local")
    monkeypatch.setenv("DEDUP_SAMPLE_LIMIT", "5")  # check only 5 rows
    out = _run(capsys, ["--catalog", cat, "--cores", "8",
                        "prune", "--input", str(live)])
    assert out["removed"] <= 5  # at most the checked sample can die
    assert out["sampled"] is True
    monkeypatch.delenv("DEDUP_ENVIRONMENT")
    out = _run(capsys, ["--catalog", cat, "--cores", "8",
                        "prune", "--input", str(live), "--dry-run"])
    # everything except (possibly) f000 must still be cataloged
    assert out["removed"] in (0, 1)
    from deduplicator_go_spark.sources.catalog import CheckpointCatalog
    from deduplicator_go_spark.session import get_spark

    n = CheckpointCatalog(cat).read(get_spark("t", cores=8), "catalog").count()
    assert n >= 39


def test_cli_ingest_dedupes_repeated_listing_lines(capsys, tmp_path):
    """ON CONFLICT parity: a listing repeating a path yields one catalog
    row, and re-ingesting an unchanged listing is idempotent (the
    all-NULL compare columns must classify as unchanged, not insert)."""
    cat = str(tmp_path / "cat")
    listing = tmp_path / "l.txt"
    listing.write_text("/a/x\n/a/x\n/a/y\n")
    out = _run(capsys, ["--catalog", cat, "--cores", "8",
                        "ingest", "--input", str(listing)])
    assert out["rows"] == 2
    out = _run(capsys, ["--catalog", cat, "--cores", "8",
                        "ingest", "--input", str(listing)])
    assert out["rows"] == 2  # re-ingest stays 2 (no duplicate inserts)


def test_cli_dedupe_group_survives_malformed_urls(capsys, spark, tmp_path):
    """ANSI parse_url throws on malformed urls; the engine must yield
    NULL domain (default priority) instead of aborting the job."""
    import pandas as pd

    cat = str(tmp_path / "cat")
    rows = pd.DataFrame({
        "url": ["https://a.example/x", "https://b.example/y", "notaurl %% ^"],
        "text": ["same text", "same text", "same text"],
    })
    p = str(tmp_path / "docs.parquet"); rows.to_parquet(p)
    _run(capsys, ["--catalog", cat, "--cores", "8", "manage", "group-add",
                  "g", "--min-copies", "1"])
    _run(capsys, ["--catalog", cat, "--cores", "8", "manage",
                  "group-add-path", "g", "a", "/srv/a", "--priority", "1"])
    _run(capsys, ["--catalog", cat, "--cores", "8", "manage",
                  "group-add-path", "g", "b", "/srv/b", "--priority", "2"])
    out = _run(capsys, ["--catalog", cat, "--cores", "8", "dedupe-group",
                        "g", "--input", p, "--dry-run"])
    # the malformed url is outside the group scope (NULL domain); the
    # two scoped copies elect one keeper
    assert out["n_keepers"] == 1 and out["n_removals"] == 1


def test_cli_sign_partial_default_version_upgradeable(capsys, tmp_path):
    """--prefix-chars without an explicit --params-version must stamp a
    distinct legacy version so hash-upgrade can select those rows."""
    import pandas as pd

    cat = str(tmp_path / "cat")
    rows = pd.DataFrame({"url": ["https://h/a", "https://h/b"],
                         "text": ["x" * 300, "y" * 300]})
    p = str(tmp_path / "docs.parquet"); rows.to_parquet(p)
    out = _run(capsys, ["--catalog", cat, "--cores", "8", "sign",
                        "--input", p, "--prefix-chars", "100"])
    assert out["by_status"] == {"ok": 2}
    out = _run(capsys, ["--catalog", cat, "--cores", "8", "hash-upgrade",
                        "--input", p])
    assert out["checked"] == 2 and out["upgraded"] == 2


def test_cli_corpus_clean_and_decontaminate(capsys, spark, tmp_path):
    """corpus-clean strips corpus-duplicated chunks; decontaminate
    flags docs overlapping the benchmark table."""
    import pandas as pd

    shared = "alpha beta gamma delta"
    docs = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": [shared + " one two three four",
                 shared + " five six seven eight",
                 "clean words only nine ten eleven twelve"],
        "source": ["s1", "s1", "s2"],
    })
    p = str(tmp_path / "docs.parquet"); docs.to_parquet(p)
    outp = str(tmp_path / "clean.parquet")
    out = _run(capsys, ["--catalog", str(tmp_path / "cat"), "--cores", "8",
                        "corpus-clean", "--input", p, "--output", outp,
                        "--chunk-words", "4"])
    assert out["docs"] == 3 and out["chunks_removed"] == 1
    cleaned = {r["id"]: r["clean_text"]
               for r in spark.read.parquet(outp).collect()}
    assert cleaned[2] == "five six seven eight"

    bench = pd.DataFrame({"doc_id": [99], "text": [shared + " one two three four"]})
    bp = str(tmp_path / "bench.parquet"); bench.to_parquet(bp)
    op2 = str(tmp_path / "decon.parquet")
    out = _run(capsys, ["--catalog", str(tmp_path / "cat2"), "--cores", "8",
                        "decontaminate", "--input", p, "--benchmark", bp,
                        "--output", op2, "--ngram", "4"])
    assert out["docs"] == 3 and out["contaminated"] >= 1


def test_cli_pii_redact_and_sample_budget(capsys, spark, tmp_path):
    import pandas as pd

    docs = pd.DataFrame({
        "doc_id": [1, 2],
        "text": ["mail me at bob@example.org today",
                 "nothing sensitive in this one at all"],
        "source": ["s", "s"],
    })
    p = str(tmp_path / "docs.parquet"); docs.to_parquet(p)
    outp = str(tmp_path / "red.parquet")
    out = _run(capsys, ["--catalog", str(tmp_path / "cat"), "--cores", "8",
                        "pii-redact", "--input", p, "--output", outp])
    assert out["docs"] == 2 and out["pii_matches"] == 1
    red = {r["doc_id"]: r["text"] for r in spark.read.parquet(outp).collect()}
    assert red[1] == "mail me at [EMAIL] today"

    op2 = str(tmp_path / "kept.parquet")
    out = _run(capsys, ["--catalog", str(tmp_path / "cat2"), "--cores", "8",
                        "sample-budget", "--input", p, "--output", op2,
                        "--budget", "6"])
    assert out["kept_docs"] == 1


def test_cli_line_dedup_splits_shards(capsys, spark, tmp_path):
    import pandas as pd

    docs = pd.DataFrame({
        "url": [f"u{i}" for i in range(8)],
        "text": [f"unique {i}\nshared footer line" for i in range(8)],
    })
    p = str(tmp_path / "docs.parquet"); docs.to_parquet(p)

    outp = str(tmp_path / "clean.parquet")
    out = _run(capsys, ["--catalog", str(tmp_path / "cat"), "--cores", "8",
                        "line-dedup", "--input", p, "--output", outp,
                        "--min-docs", "3"])
    assert out["docs"] == 8 and out["docs_rewritten"] == 8
    cleaned = {r["url"]: r["text"]
               for r in spark.read.parquet(outp).collect()}
    assert cleaned["u3"] == "unique 3"

    op2 = str(tmp_path / "split.parquet")
    out = _run(capsys, ["--catalog", str(tmp_path / "cat2"), "--cores", "8",
                        "assign-splits", "--input", p, "--output", op2,
                        "--weights", "train=0.5,val=0.5"])
    assert sum(out["splits"].values()) == 8 and not out["leakage_guarded"]

    op3 = str(tmp_path / "sharded")
    out = _run(capsys, ["--catalog", str(tmp_path / "cat3"), "--cores", "8",
                        "write-sharded", "--input", p, "--output", op3,
                        "--n-shards", "4"])
    assert out["docs"] == 8 and out["n_shards"] == 4
    assert sorted(
        r["shard"] for r in
        spark.read.parquet(op3).select("shard").distinct().collect()
    ) == [0, 1, 2, 3]


def test_cli_trap_scan_and_host_cap(capsys, spark, tmp_path):
    import pandas as pd

    urls = [f"https://trap.com/cal/{2000 + i % 4}/{i % 12}/d{i}"
            for i in range(40)]
    urls += [f"https://site{i}.org/about-us" for i in range(5)]
    docs = pd.DataFrame({"url": urls})
    p = str(tmp_path / "docs.parquet"); docs.to_parquet(p)

    outp = str(tmp_path / "traps.parquet")
    flg = str(tmp_path / "flagged.parquet")
    out = _run(capsys, ["--catalog", str(tmp_path / "cat"), "--cores", "8",
                        "trap-scan", "--input", p, "--output", outp,
                        "--flagged", flg,
                        "--min-pages", "10", "--min-distinct-paths", "5"])
    assert out["trap_templates"] == 1 and out["trap_pages"] == 40
    assert out["templates"] == 6  # 1 trap family + 5 article singletons

    op2 = str(tmp_path / "capped.parquet")
    out = _run(capsys, ["--catalog", str(tmp_path / "cat2"), "--cores", "8",
                        "host-cap", "--input", p, "--output", op2,
                        "--cap", "12"])
    assert out["kept_pages"] == 12 + 5 and out["hosts"] == 6
    kept = spark.read.parquet(op2)
    assert kept.filter("host = 'trap.com'").count() == 12


def test_cli_exactsubstr_strip(capsys, spark, tmp_path):
    """exactsubstr-strip cuts a planted shared block out of the larger
    url only; a doc sharing a block shorter than --min-len, and a doc
    sharing none, are left as they were."""
    import random

    import pandas as pd

    rng = random.Random(7)

    def words(n):
        return " ".join(
            "".join(rng.choice("abcdefghij") for _ in range(rng.randint(3, 8)))
            for _ in range(n)
        )

    block = words(80)
    texts = {
        "u0": "X" + words(30) + " " + block + " Z" + words(30),
        "u1": block + " Q" + words(40),
        "u2": words(120),
        "u3": words(30) + " " + block[:150] + " W" + words(20),
    }
    p = str(tmp_path / "docs.parquet")
    pd.DataFrame({"url": list(texts), "text": list(texts.values())}).to_parquet(p)
    outp = str(tmp_path / "stripped.parquet")
    out = _run(capsys, ["--catalog", str(tmp_path / "cat"), "--cores", "8",
                        "exactsubstr-strip", "--input", p, "--output", outp,
                        "--min-len", "200"])
    assert (out["docs"], out["docs_rewritten"]) == (4, 1)
    # the block plus the space after it in both docs
    assert out["chars_removed"] == len(block) + 1
    got = {r["url"]: r["text"] for r in spark.read.parquet(outp).collect()}
    assert got["u1"] == texts["u1"][len(block) + 1:]
    assert all(got[u] == texts[u] for u in ("u0", "u2", "u3"))

"""Action planning: removals, archive-prefix exclusion, summary."""

from __future__ import annotations

from deduplicator_go_spark.operators import actions, exact


def _elected(spark):
    sigs = spark.createDataFrame(
        [("a://1", "h1", 10), ("b://2", "h1", 10), ("c://3", "h1", 10),
         ("arch://x", "h2", 5), ("d://4", "h2", 5),
         ("e://5", "h3", 7), ("f://6", "h3", 7)],
        "url string, content_sha string, size long",
    )
    members = exact.dup_members(sigs, exact.dup_groups(sigs))
    return exact.elect_keeper_lexicographic(members)


def test_plan_removals(spark):
    plan = actions.plan_removals(_elected(spark)).collect()
    by_action = {}
    for r in plan:
        by_action.setdefault(r["action"], []).append(r["url"])
    assert sorted(by_action["keep"]) == ["a://1", "arch://x", "e://5"]
    assert len(by_action["remove"]) == 4
    # deterministic ordering
    assert plan == sorted(plan, key=lambda r: (r["content_sha"], r["size"], r["url"]))


def test_archive_prefix_excludes_group(spark):
    plan = actions.plan_removals(_elected(spark), archive_prefix="arch://").collect()
    shas = {r["content_sha"] for r in plan}
    assert shas == {"h1", "h3"}  # h2 group skipped entirely


def test_plan_summary_and_apply(spark):
    elected = _elected(spark)
    plan = actions.plan_removals(elected)
    s = actions.plan_summary(plan).collect()[0]
    assert s["n_keepers"] == 3
    assert s["n_removals"] == 4
    assert s["freed_bytes"] == 10 + 10 + 5 + 7

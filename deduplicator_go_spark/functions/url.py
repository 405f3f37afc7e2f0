"""URL algebra — the webtext analog of the reference's path algebra
(SURVEY.md §2.8 C4: filepath.Join/Rel/Clean, prefix strips,
archiveRelativePath at files/move.go:316-330, safeIndexedPath at
cmd/server.go:440-468). Native expressions only."""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def url_host(url: Column) -> Column:
    # try_parse_url, not parse_url: under Spark 4 ANSI mode (on in this
    # engine) parse_url THROWS on any malformed url, aborting the whole
    # job; try_ yields NULL, which downstream COALESCE/priority defaults
    # already handle
    return F.try_parse_url(url, F.lit("HOST"))


def url_path(url: Column) -> Column:
    return F.try_parse_url(url, F.lit("PATH"))


def url_domain(url: Column) -> Column:
    """First DNS label of the host — the engine's 'host' grouping key."""
    return F.substring_index(url_host(url), ".", 1)


TRACKING_PARAM_RE = r"^(utm_[a-z]+|fbclid|gclid|msclkid|ref|mc_cid|mc_eid)="


def canonical_url(url: Column) -> Column:
    """Crawl-dedup canonical form — the key under which re-crawls of
    the same page collapse:

    1. strip ``#fragment``;
    2. lowercase ``scheme://host`` (path case preserved);
    3. drop tracking query params (``utm_*``, ``fbclid``, ``gclid``,
       ``msclkid``, ``ref``, ``mc_cid``, ``mc_eid``) and sort the
       survivors so param order never splits a group;
    4. strip a trailing slash from the pre-query part.

    Built ONLY from operations with exact ANSI-SQL twins (split_part /
    list_filter / list_sort / constant-replacement regex), so the
    re-crawl dedup oracle mirrors it verbatim — notably the
    scheme+host lowercasing avoids a computed regexp replacement
    (Spark allows a Column replacement, standard SQL does not):
    extract the prefix, lowercase it, re-concat the remainder."""
    x = F.regexp_replace(url, r"#.*$", "")
    schemehost = F.regexp_extract(x, r"^[A-Za-z]+://[^/]+", 0)
    x = F.concat(
        F.lower(schemehost),
        F.substring(x, F.length(schemehost) + 1, F.length(x)),
    )
    pre = F.regexp_replace(F.substring_index(x, "?", 1), r"/$", "")
    query = F.when(
        F.length(x) > F.length(F.substring_index(x, "?", 1)),
        F.substring(x, F.length(F.substring_index(x, "?", 1)) + 2, F.length(x)),
    )
    kept = F.array_sort(
        F.filter(F.split(query, "&"), lambda p: ~p.rlike(TRACKING_PARAM_RE))
    )
    return F.when(
        query.isNotNull() & (F.size(kept) > 0),
        F.concat(pre, F.lit("?"), F.concat_ws("&", kept)),
    ).otherwise(pre)


def is_under(url: Column, prefix: str) -> Column:
    """F6 dest-dir exclusion predicate (files/dedupe.go:72-84)."""
    return url.startswith(F.lit(prefix))

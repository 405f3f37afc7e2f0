"""Text-analysis column functions — native pyspark.sql.functions only
(JVM-side, whole-stage-codegen'd; no Python in the hot path).

Covers the scalar-function surface of the reference (SURVEY.md §2.8:
sha-256 content hash files/files.go:119-155, case folding, coalesce
defaults, LIKE containment) plus the text-analysis operators a
training-data pipeline needs: extraction, quality features and
filter flags, token counting, fingerprinting.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# extraction: html binary -> text, the exact inverse of
# fixtures/webtext.render_html — pure function of html, byte-identical per
# url (BASELINE.json per-row invariant).
# ---------------------------------------------------------------------------


def extract_text(html: Column) -> Column:
    """Recover the document text from the fixture html template.

    <main><p>a</p><p>b</p></main>  ->  "a\n\nb"
    Implemented as native regexp expressions so extraction stays inside
    whole-stage codegen (no UDF).
    """
    page = F.decode(html, "UTF-8")
    main = F.regexp_extract(page, r"<main>(.*)</main>", 1)
    # paragraph joins first, then strip the outer <p> tags
    joined = F.regexp_replace(main, r"</p><p>", "\n\n")
    return F.regexp_replace(joined, r"</?p>", "")


# ---------------------------------------------------------------------------
# hashing / fingerprints (reference C1: sha-256 hex of full content,
# files/files.go:119-155 — here a vectorized native column op)
# ---------------------------------------------------------------------------


def content_sha(text: Column) -> Column:
    return F.sha2(F.encode(text, "UTF-8"), 256)


def normalize_text(text: Column) -> Column:
    """Case-fold + collapse whitespace (reference C2 normalize-once-at-
    ingest lesson, files/process.go:27)."""
    return F.trim(F.regexp_replace(F.lower(text), r"\s+", " "))


def fingerprint(text: Column) -> Column:
    """Normalized-content fingerprint: sha-256 over normalized text."""
    return content_sha(normalize_text(text))


# ---------------------------------------------------------------------------
# token counting
# ---------------------------------------------------------------------------


def token_count(text: Column) -> Column:
    """Whitespace token count; 0 for empty/blank strings."""
    t = F.trim(text)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, r"\s+")))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: word pieces + digits + punctuation runs,
    a cheap deterministic stand-in for a BPE tokenizer."""
    return F.size(F.regexp_extract_all(text, F.lit(r"[A-Za-z]{1,4}|[0-9]+|[^\sA-Za-z0-9]"), 0))


# ---------------------------------------------------------------------------
# quality features (length / alpha / punctuation / whitespace ratios)
# ---------------------------------------------------------------------------


def quality_features(text: Column) -> dict[str, Column]:
    n_chars = F.length(text)
    n_alpha = F.length(F.regexp_replace(text, r"[^A-Za-z]", ""))
    n_punct = F.length(F.regexp_replace(text, r"[^\.,;:!\?]", ""))
    n_space = F.length(F.regexp_replace(text, r"[^\s]", ""))
    toks = token_count(text)
    safe = F.greatest(n_chars.cast("double"), F.lit(1.0))
    return {
        "n_chars": n_chars,
        "n_tokens": toks,
        "alpha_ratio": (n_alpha / safe),
        "punct_ratio": (n_punct / safe),
        "space_ratio": (n_space / safe),
        "mean_token_len": F.when(toks > 0, (n_chars - n_space) / toks.cast("double")).otherwise(F.lit(0.0)),
    }


def quality_flags(text: Column,
                  min_chars: int = 120,
                  min_tokens: int = 25,
                  min_alpha_ratio: float = 0.75,
                  token_len_range: tuple[float, float] = (2.5, 12.0)) -> dict[str, Column]:
    """Gopher-style per-document filter rules over the native quality
    features: each flag marks a failed rule; ``keep`` is the composite
    decision. Pure column algebra (SQL-expressible, oracle-checked) —
    the pre-training corpus hygiene pass that runs BEFORE dedup so
    boilerplate junk never pays signature cost."""
    f = quality_features(text)
    flags = {
        "too_short": (f["n_chars"] < min_chars) | (f["n_tokens"] < min_tokens),
        "low_alpha": f["alpha_ratio"] < min_alpha_ratio,
        "bad_token_len": (f["mean_token_len"] < token_len_range[0])
        | (f["mean_token_len"] > token_len_range[1]),
    }
    keep = ~flags["too_short"] & ~flags["low_alpha"] & ~flags["bad_token_len"]
    return {**flags, "keep": keep}

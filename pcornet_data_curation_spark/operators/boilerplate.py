"""Boilerplate line classification — a jusText-style content/
boilerplate segmenter (Pomikálek 2011, "Removing boilerplate and
duplicate content from web corpora") reduced to its deterministic,
engine-portable core, over line-structured text (the extractor's
output, extract.extract_text_lines_col).

Each non-empty line gets a three-way initial class from cheap
surface features:

  - BAD    if it carries a navigation/legal marker (©, "cookie",
           "subscribe", "all rights reserved", …) — the stand-in for
           jusText's link-density rule (anchor counts don't survive
           text extraction),
           or it fails both thresholds below;
  - GOOD   if it is long (>= `length_low` chars) AND stopword-dense
           (>= `stopwords_high` fraction of its words in the builtin
           English function-word list) — fluent prose;
  - NEAR   if it is at least mildly stopword-dense
           (>= `stopwords_low`) with >= 3 words — headline/short-
           paragraph material whose fate depends on context.

Then jusText's context rule: a NEAR line is kept iff an ADJACENT
line (previous or next surviving line) is GOOD; GOOD lines are always
kept, BAD never. The reference's analog is the rule-predicate engine
(potential_code_errors.sas:310-344): per-record surface predicates
plus a deterministic verdict — here the predicate set is per-LINE and
one hop of context joins the verdict.

Scale shape: per-row JVM Column algebra ONLY — split, array HOFs,
zip_with; no UDF, no shuffle, no state: a map-only stage that
pipelines into the scan at 10^12 docs and is streaming-safe as-is.
The per-line class array is referenced three times in the final
projection (itself, shifted left, shifted right), so Catalyst inlines
the class computation 3x per row — a deliberate CONSTANT factor on a
cheap regex/split expression (BENCH.md's inlining rule bans only
super-constant blowups like per-token hashing; the row-wise explode
alternative would buy one doc-keyed corpus shuffle to save a 3x
map-side recompute, a bad trade at any scale).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# line-internal whitespace, engine-portable (same class as c4.LINE_WS)
LINE_WS = "[ \\t\\r\\f\\x0B]+"

# English function words — the stopword-density feature's vocabulary
# (jusText ships per-language stoplists; this is the deterministic
# builtin used by both engines). Lowercase; matched after punctuation
# stripping.
STOPWORDS: tuple[str, ...] = (
    "the", "a", "an", "and", "or", "but", "of", "in", "on", "at",
    "to", "for", "with", "by", "from", "as", "is", "are", "was",
    "were", "be", "been", "it", "this", "that", "these", "those",
    "he", "she", "they", "we", "you", "i", "not", "have", "has",
    "had", "do", "does", "did", "will", "would", "can", "could",
)

# navigation/legal markers — any occurrence (case-insensitive via
# explicit lower(), never (?i)) classifies the line BAD outright
MARKERS: tuple[str, ...] = (
    "©",
    "cookie",
    "subscribe",
    "sign in",
    "privacy policy",
    "terms of",
    "all rights reserved",
)

# strip leading/trailing non-alphanumerics off a lowercased word
# before the stopword lookup ("The," -> "the"); explicit class,
# identical semantics in Java regex and DuckDB RE2
_EDGE_PUNCT = "^[^a-z0-9]+|[^a-z0-9]+$"

BAD, NEAR, GOOD = 0, 1, 2


def trimmed_lines_col(col: Column) -> Column:
    """Non-empty, whitespace-collapsed lines of a text column (NULL
    folds to no lines)."""
    return F.filter(
        F.transform(
            F.split(F.coalesce(col, F.lit("")), "\n"),
            lambda l: F.trim(F.regexp_replace(l, LINE_WS, " ")),
        ),
        lambda l: l != "",
    )


def classes_col(
    lines: Column,
    length_low: int = 70,
    stopwords_high: float = 0.30,
    stopwords_low: float = 0.15,
) -> Column:
    """Per-line initial class array (the expensive part: one stopword
    transform per line).

    Chained struct-array transforms, not one whole-class expression per
    element: higher-order-function lambdas are interpreted, and an
    interpreted expression tree re-evaluates a subexpression per
    REFERENCE — a single expression references lower(line) 8× (7 marker
    `contains` + the word split) and the word split 3× (stopword
    filter, denominator, word count), so the dominant lower/split work
    would run ~10×/3× per line. Binding each intermediate to a struct FIELD
    of the previous transform's output makes every later use a cheap
    GetStructField on a materialized value: one lower, one split, one
    per-word edge-punct regex per line. Same operators, same values —
    byte-identical classes (pinned by the boilerplate_lines oracle)."""
    packed = F.transform(
        lines, lambda l: F.struct(l.alias("line"), F.lower(l).alias("low"))
    )
    packed = F.transform(
        packed,
        lambda s: F.struct(
            s["line"].alias("line"),
            s["low"].alias("low"),
            F.split(s["low"], LINE_WS).alias("words"),
        ),
    )

    def feats(s: Column) -> Column:
        low, words = s["low"], s["words"]
        marker = F.lit(False)
        for m in MARKERS:
            marker = marker | low.contains(m)
        stop_n = F.size(
            F.filter(
                F.transform(words, lambda w: F.regexp_replace(w, _EDGE_PUNCT, "")),
                lambda w: w.isin(*STOPWORDS),
            )
        )
        return F.struct(
            marker.alias("marker"),
            F.length(s["line"]).alias("len"),
            stop_n.alias("stop_n"),
            F.size(words).alias("n"),
        )

    # the class ratio is referenced by TWO when-branches — packing the
    # per-word stopword count as a scalar field first keeps the word
    # filter at exactly one evaluation per line; the final transform
    # is pure arithmetic on materialized fields
    packed = F.transform(packed, feats)

    def cls(t: Column) -> Column:
        ratio = t["stop_n"] / t["n"]
        return (
            F.when(t["marker"], F.lit(BAD))
            .when(
                (t["len"] >= length_low) & (ratio >= stopwords_high),
                F.lit(GOOD),
            )
            .when((ratio >= stopwords_low) & (t["n"] >= 3), F.lit(NEAR))
            .otherwise(F.lit(BAD))
        )

    return F.transform(packed, cls)


def kept_lines_from_classes(lines: Column, cls: Column) -> Column:
    """Surviving (GOOD + context-promoted NEAR) lines, given the line
    array and its class array. BOTH arguments should be projected
    ATTRIBUTES: each is referenced several times here, and Catalyst
    inlines non-attribute expressions per REFERENCE — for the class
    array (a stopword transform per line) that triples the dominant
    cost. The DataFrame forms below stage the attributes through
    intermediate projections; CollapseProject's multi-reference guard
    then keeps each computed exactly once per row."""
    n = F.size(lines)
    # one-hop context: prev/next class arrays via shift-and-pad —
    # full-array expressions evaluated once each (never element_at
    # inside a lambda, which would inline the whole class computation
    # per ELEMENT: the O(n^2)-per-doc trap BENCH.md documents)
    prev = F.concat(F.array(F.lit(BAD)), F.slice(cls, 1, F.greatest(n - 1, F.lit(0))))
    nxt = F.concat(F.slice(cls, 2, n), F.array(F.lit(BAD)))
    ctx_good = F.zip_with(
        prev, nxt, lambda p, x: (p == GOOD) | (x == GOOD)
    )
    keep = F.zip_with(
        cls, ctx_good, lambda c, g: (c == GOOD) | ((c == NEAR) & g)
    )
    return F.filter(
        F.zip_with(lines, keep, lambda l, k: F.when(k, l)),
        lambda l: l.isNotNull(),
    )


def with_boilerplate_removed(
    df: DataFrame,
    text_col: str = "text",
    length_low: int = 70,
    stopwords_high: float = 0.30,
    stopwords_low: float = 0.15,
) -> DataFrame:
    """Replace `text_col` with its boilerplate-cleaned form (NULL
    stays NULL) — the pipeline-stage form. The line and class arrays
    are staged as intermediate projected attributes so the per-line
    stopword transform runs exactly ONCE per row (CollapseProject's
    multi-reference guard refuses to inline a non-cheap alias
    referenced more than once); inlined, it would run 3x.
    Still map-only: projections add no exchange."""
    d = df.withColumn("_bp_lines", trimmed_lines_col(F.col(text_col)))
    d = d.withColumn(
        "_bp_cls",
        classes_col(F.col("_bp_lines"), length_low, stopwords_high, stopwords_low),
    )
    cleaned = F.array_join(
        kept_lines_from_classes(F.col("_bp_lines"), F.col("_bp_cls")), "\n"
    )
    d = d.withColumn(
        text_col, F.when(F.col(text_col).isNotNull(), cleaned)
    )
    return d.drop("_bp_lines", "_bp_cls")


def boilerplate_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    length_low: int = 70,
    stopwords_high: float = 0.30,
    stopwords_low: float = 0.15,
) -> DataFrame:
    """(id, text_content, lines_n, content_n, boilerplate_ratio):
    jusText-style line segmentation. `text_content` is the kept
    (GOOD + promoted NEAR) lines joined with '\\n'; empty lines are
    structure, not content, and are dropped before classification —
    so context adjacency is between surviving non-empty lines, the
    jusText paragraph convention. boilerplate_ratio is the dropped
    fraction of non-empty lines (0.0 for an empty document)."""
    base = df.select(F.col(id_col), trimmed_lines_col(F.col(text_col)).alias("_lines"))
    staged = base.select(
        F.col(id_col),
        F.col("_lines"),
        classes_col(
            F.col("_lines"), length_low, stopwords_high, stopwords_low
        ).alias("_cls"),
    )
    n = F.size(F.col("_lines"))
    kept_lines = kept_lines_from_classes(F.col("_lines"), F.col("_cls"))
    content_n = F.size(kept_lines)
    return staged.select(
        F.col(id_col),
        F.array_join(kept_lines, "\n").alias("text_content"),
        n.alias("lines_n"),
        content_n.alias("content_n"),
        F.when(n > 0, (n - content_n) / n).otherwise(F.lit(0.0)).alias(
            "boilerplate_ratio"
        ),
    )

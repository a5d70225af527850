"""Text-analysis expressions for the documents table (north-star ops).

All pure Column expressions — tokenization, counting, quality scoring,
language heuristics, and fingerprinting run JVM-side under whole-stage
codegen. At 100 TB these are embarrassingly parallel map stages with
zero shuffle; keeping them out of Python is the difference between
scan-speed and 10-100x slower.

The reference has no text ops; closest analogs are its string cleanup
expressions (reference: dags/etl.py:60,63-64).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_WS = r"\s+"

# Tiny stopword inventories for the language-ID heuristic. Any real
# deployment swaps in a model; the heuristic is deliberately
# SQL-expressible so the oracle can mirror it token-for-token.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "a"),
    "es": ("el", "la", "de", "que", "los"),
    "fr": ("le", "la", "et", "les", "des"),
    "de": ("der", "die", "und", "das", "ein"),
}


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def normalize_text(col: Column | str) -> Column:
    """Lowercase + collapse whitespace — the canonical form used by
    fingerprinting and dedup so trivially-different bytes hash equal."""
    return F.trim(F.regexp_replace(F.lower(_c(col)), _WS, " "))


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization → array<string>. Empty/blank text yields
    an empty array (split('') would yield ['']).

    Trims ALL ASCII whitespace at the edges (F.trim strips spaces
    only, so tab/newline-padded text would otherwise produce a phantom
    leading empty token). Whitespace = regex \\s, ASCII semantics —
    identical in Java and RE2/DuckDB; U+00A0 etc. are NOT whitespace.
    """
    stripped = F.regexp_replace(_c(col), r"^\s+|\s+$", "")
    return F.when(stripped == "", F.array().cast("array<string>")).otherwise(
        F.split(stripped, _WS)
    )


def token_count(col: Column | str) -> Column:
    """Whitespace token count as long (matches BIGINT oracles)."""
    return F.size(tokens(col)).cast("long")


def bpe_ish_token_count(col: Column | str) -> Column:
    """A BPE-flavored proxy token count: word chunks + digits + each
    punctuation mark counts separately (regex segmentation, no real
    merges table). Useful as a budget estimator in a training-data
    pipeline; exactness is not the point, determinism is."""
    c = _c(col)
    # count matches of: word runs | digit runs | single non-space symbol
    arr = F.regexp_extract_all(c, F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0)
    return F.size(arr).cast("long")


def punct_ratio(col: Column | str) -> Column:
    """Fraction of characters that are non-alphanumeric, non-space."""
    c = _c(col)
    n = F.length(c)
    stripped = F.length(F.regexp_replace(c, r"[^A-Za-z0-9\s]", ""))
    return F.when(n == 0, F.lit(0.0)).otherwise((n - stripped) / n.cast("double"))


def stopword_ratio(col: Column | str, markers: tuple[str, ...] = LANG_MARKERS["en"]) -> Column:
    """Fraction of tokens that are in the marker set.

    Single-pass aggregate (same rationale as lang_id): the
    filter-then-size form referenced the interpreted token subtree
    twice; accumulating (hits, n) in one pass and dividing in the
    finish lambda tokenizes once. Identical arithmetic: the hit count
    equals size(filter(...)) and n equals size(toks)."""
    toks = tokens(F.lower(_c(col)))
    zero = F.struct(F.lit(0).alias("hits"), F.lit(0).alias("n"))

    def _merge(acc: Column, t: Column) -> Column:
        return F.struct(
            (acc["hits"] + F.when(t.isin(*markers), 1).otherwise(0)).alias("hits"),
            (acc["n"] + 1).alias("n"),
        )

    def _finish(acc: Column) -> Column:
        return F.when(acc["n"] == 0, F.lit(0.0)).otherwise(
            acc["hits"].cast("double") / acc["n"].cast("double")
        )

    return F.aggregate(toks, zero, _merge, _finish)


def quality_score(col: Column | str) -> Column:
    """Composite quality score in [0,1]: rewards moderate length,
    penalizes punctuation soup, rewards stopword presence (prose-ness).
    Mirrors the shape of public quality filters (C4-style heuristics),
    kept SQL-expressible for oracle checking."""
    # NULL text scores as EMPTY text (0.3), not as a phantom
    # mid-quality doc: F.least skips NULLs, so without the coalesce a
    # NULL row would score 0.7 — higher than most real prose
    c = F.coalesce(_c(col), F.lit(""))
    len_score = F.least(F.length(c).cast("double") / F.lit(500.0), F.lit(1.0))
    punct_pen = F.lit(1.0) - F.least(punct_ratio(c) * 4.0, F.lit(1.0))
    stop_score = F.least(stopword_ratio(c) * 5.0, F.lit(1.0))
    return (len_score * 0.4 + punct_pen * 0.3 + stop_score * 0.3)


def quality_features(col: Column | str) -> dict[str, Column]:
    """The individual quality signals, for feature-store style output."""
    c = _c(col)
    return {
        "n_chars_actual": F.length(c).cast("long"),
        "n_tokens": token_count(c),
        "punct_ratio": punct_ratio(c),
        "stopword_ratio": stopword_ratio(c),
        "quality_score": quality_score(c),
    }


def lang_id(col: Column | str) -> Column:
    """Pick the language with the most marker hits; 'und' when all zero.
    Ties break by fixed language order (en > es > fr > de) so the
    result is deterministic and oracle-mirrorable as a CASE chain.

    Single-pass form: higher-order functions are interpreted (no
    codegen subexpression elimination), so the natural when-chain over
    four ``size(filter(tokens(...)))`` scores re-ran the tokenizer and
    a full marker scan once per score REFERENCE — ~10 copies per row
    across greatest() + the chain. One ``aggregate`` accumulates all
    four counts in a struct and makes the decision in the *finish*
    lambda, where the accumulator is a bound variable (free to
    reference many times): one tokenize, one token pass, same CASE
    semantics bit-for-bit."""
    toks = tokens(F.lower(F.coalesce(_c(col), F.lit(""))))
    langs = list(LANG_MARKERS)

    def _merge(acc: Column, t: Column) -> Column:
        return F.struct(
            *[
                (acc[lang] + F.when(t.isin(*LANG_MARKERS[lang]), 1).otherwise(0)).alias(lang)
                for lang in langs
            ]
        )

    def _finish(acc: Column) -> Column:
        en, es, fr, de = acc["en"], acc["es"], acc["fr"], acc["de"]
        return (
            F.when(F.greatest(en, es, fr, de) == 0, F.lit("und"))
            .when((en >= es) & (en >= fr) & (en >= de), F.lit("en"))
            .when((es >= fr) & (es >= de), F.lit("es"))
            .when(fr >= de, F.lit("fr"))
            .otherwise(F.lit("de"))
        )

    zero = F.struct(*[F.lit(0).alias(lang) for lang in langs])
    return F.aggregate(toks, zero, _merge, _finish)


def quality_lang_gate(col: Column | str, min_quality: float, lang: str) -> Column:
    """ONE-tokenize boolean form of the llm_prep filter

        floor(quality_score(col) * 10000) >= min_quality * 10000
        AND lang_id(col) == lang

    bit-for-bit. The composed form tokenizes twice (stopword_ratio
    inside quality_score + lang_id) and scans the token array twice;
    this runs ONE ``aggregate`` pass accumulating all four language
    hit counts plus the token count, and makes BOTH decisions in the
    finish lambda, where the accumulator is a bound variable — free to
    reference repeatedly (the interpreted-HOF rule: every reference
    outside a lambda re-evaluates the whole subtree, guide §4.1).

    Equivalence, term by term:
    - ``stopword_ratio``'s default markers ARE ``LANG_MARKERS['en']``,
      so its hit count equals the ``en`` accumulator and its token
      count equals ``n`` — the ratio/score arithmetic below is the
      same expression shape on the same longs;
    - ``len_score``/``punct_pen`` never touch tokens and appear once
      each, copied verbatim from ``quality_score``;
    - the language CASE chain is ``lang_id``'s finish lambda verbatim;
    - NULL text coalesces to "" in both forms (empty token array ->
      n == 0 -> stop ratio 0.0, lang 'und')."""
    c = F.coalesce(_c(col), F.lit(""))
    toks = tokens(F.lower(c))
    langs = list(LANG_MARKERS)
    len_score = F.least(F.length(c).cast("double") / F.lit(500.0), F.lit(1.0))
    punct_pen = F.lit(1.0) - F.least(punct_ratio(c) * 4.0, F.lit(1.0))

    def _merge(acc: Column, t: Column) -> Column:
        return F.struct(
            *[
                (acc[lg] + F.when(t.isin(*LANG_MARKERS[lg]), 1).otherwise(0)).alias(lg)
                for lg in langs
            ],
            (acc["n"] + 1).alias("n"),
        )

    def _finish(acc: Column) -> Column:
        en, es, fr, de = acc["en"], acc["es"], acc["fr"], acc["de"]
        stop_ratio = F.when(acc["n"] == 0, F.lit(0.0)).otherwise(
            en.cast("double") / acc["n"].cast("double")
        )
        stop_score = F.least(stop_ratio * 5.0, F.lit(1.0))
        quality = len_score * 0.4 + punct_pen * 0.3 + stop_score * 0.3
        lang_pred = (
            F.when(F.greatest(en, es, fr, de) == 0, F.lit("und"))
            .when((en >= es) & (en >= fr) & (en >= de), F.lit("en"))
            .when((es >= fr) & (es >= de), F.lit("es"))
            .when(fr >= de, F.lit("fr"))
            .otherwise(F.lit("de"))
        )
        return (F.floor(quality * 10000) >= F.lit(min_quality * 10000)) & (
            lang_pred == F.lit(lang)
        )

    zero = F.struct(*[F.lit(0).alias(lg) for lg in langs], F.lit(0).alias("n"))
    return F.aggregate(toks, zero, _merge, _finish)


def fingerprint(col: Column | str) -> Column:
    """Document fingerprint: md5 of the normalized text. Stable across
    engines (md5 is bit-exact everywhere), so near-zero-cost exact-dup
    detection at any scale — a groupBy on a 32-char hex key."""
    return F.md5(normalize_text(col))


def shingles(col: Column | str, k: int) -> Column:
    """Word k-gram shingle array (distinct), the unit for MinHash /
    Jaccard near-dup. JVM-side, no UDF.

    Built by zipping k shifted slices of the token array rather than
    `element_at` lookups inside a transform: higher-order-function
    lambdas are interpreted, so an `element_at(toks, i)` per gram
    re-evaluates the whole tokenization expression per element —
    O(k·n_grams) tokenizations per row (measured 18s for 5k docs at
    sf0.1). Slices evaluate `toks` O(k) times per row instead.
    """
    toks = tokens(normalize_text(col))
    n_grams = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    parts = [F.slice(toks, j + 1, n_grams) for j in range(k)]
    gram = parts[0]
    for p in parts[1:]:
        gram = F.zip_with(gram, p, lambda a, b: F.concat_ws(" ", a, b))
    return F.array_distinct(gram)


def word_bigrams(toks: Column) -> Column:
    """Adjacent-token bigram array ('a b'), NON-distinct, over an
    already-built token array column. Empty for < 2 tokens by
    construction (`slice(toks, 1, 0)` is []), so callers never hit
    Spark's descending `sequence(1, 0)` trap; zip-slices instead of
    `element_at` lambdas for the same interpreted-HOF reason as
    `shingles`."""
    n = F.greatest(F.size(toks) - 1, F.lit(0))
    return F.zip_with(
        F.slice(toks, 1, n), F.slice(toks, 2, n), lambda a, b: F.concat_ws(" ", a, b)
    )


_HTML_ENTITIES = (
    ("&lt;", "<"), ("&gt;", ">"), ("&quot;", '"'), ("&#39;", "'"),
    ("&nbsp;", " "), ("&amp;", "&"),  # &amp; LAST so "&amp;lt;" -> "&lt;" stays literal
)


def strip_html(col: Column | str) -> Column:
    """Web-corpus boilerplate removal, pure JVM regexp (no parser, no
    UDF): drops <script>/<style> subtrees CONTENT AND ALL (their text
    is code, not prose), replaces remaining tags and comments with a
    space (so '<p>a</p><p>b</p>' keeps a word boundary between a and
    b), decodes the six entities that survive in plain text, and
    collapses runs of whitespace. Order matters: subtree kills run
    before generic tag removal, entity decode runs after all tag
    removal so decoded '<' can't resurrect a tag."""
    c = _c(col)
    c = F.regexp_replace(c, r"(?is)<script[^>]*>.*?</script>", " ")
    c = F.regexp_replace(c, r"(?is)<style[^>]*>.*?</style>", " ")
    c = F.regexp_replace(c, r"(?s)<!--.*?-->", " ")
    c = F.regexp_replace(c, r"(?s)<[^>]+>", " ")
    for ent, ch in _HTML_ENTITIES:
        c = F.replace(c, F.lit(ent), F.lit(ch))
    return F.regexp_replace(F.regexp_replace(c, r"\s+", " "), r"^\s+|\s+$", "")

"""Text-quality operators: language-ID, quality scoring, token counts,
fingerprints — all JVM-side expressions (portable to the SQL oracle).

These are the text-analysis primitives a large-scale training-data pipeline
runs over every document; they deliberately avoid UDFs so they ride
whole-stage codegen and the expressions can be mirrored 1:1 in ANSI SQL.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# marker-word tables for the n-gram/stopword language heuristic
LANG_MARKERS = {
    "en": ["the", "a", "of", "and"],
    "fr": ["le", "la", "et", "des"],
    "de": ["der", "die", "und", "ein"],
    "es": ["el", "los", "las", "una"],
}

STOPWORDS = ["the", "a", "an", "and", "of", "to", "in", "is", "it", "for"]


def _padded(text: Column) -> Column:
    """Lowercased text with spaces DOUBLED and space-padded ends, the shared
    precursor for `_word_hits`: non-overlapping replace would otherwise
    consume the shared delimiter between adjacent occurrences ('the the'
    counted 1) — with doubled spaces every occurrence owns both its
    delimiters (round-2 fix; the SQL mirror in contract_text._hits_sql
    applies the same doubling). Callers scanning many words should project
    this ONCE as a named column — rebuilding it per word is the dominant
    cost (3 string passes × word count; measured round 3)."""
    return F.concat(
        F.lit(" "),
        F.replace(F.lower(text), F.lit(" "), F.lit("  ")),
        F.lit(" "),
    )


def _hits_in_padded(padded: Column, word: str) -> Column:
    """Occurrences of ` word ` in an already `_padded` text column."""
    needle = f" {word} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("int")


def _multi_hits_in_padded(padded: Column, words: list[str]) -> Column:
    """Total occurrences of any ` word ` across a word list, as ONE
    regexp_count pass over the padded text (round-3 perf: 10 stopwords
    via per-word replace-counting = 10 full string scans; one alternation
    scan is ~4× faster on the documents table, measured sf0.1).

    Equivalence with summed `_hits_in_padded` holds because space-doubling
    makes every ` word ` occurrence a DISJOINT substring owning both its
    delimiters: the left-to-right non-overlapping regex scan consumes one
    delimiter per match but doubling always leaves the next occurrence its
    own (pytest: test_multi_hits_equals_per_word_sum, incl. 'the the' and
    adjacent distinct stopwords)."""
    import re as _re

    rx = " (?:" + "|".join(_re.escape(w) for w in words) + ") "
    return F.regexp_count(padded, F.lit(rx)).cast("int")


def _word_hits(text: Column, word: str) -> Column:
    """Occurrences of ` word ` in ` text ` (space-padded containment count)."""
    return _hits_in_padded(_padded(text), word)


def language_id(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Marker-word language classifier; ties broken by language code order."""
    # padded text projected once — all marker words share it (one lower +
    # doubling pass; CollapseProject keeps the split because the alias is
    # referenced >1 time by non-cheap expressions); each language's 4
    # markers count in ONE alternation pass (see _multi_hits_in_padded)
    base = docs.select(F.col(id_col), _padded(F.col(text_col)).alias("_pad"))
    scored = base.select(
        F.col(id_col),
        *[
            _multi_hits_in_padded(F.col("_pad"), LANG_MARKERS[lg]).alias(
                f"score_{lg}"
            )
            for lg in LANG_MARKERS
        ],
    )
    # argmax via greatest + when-ladder (deterministic tie-break: en,fr,de,es)
    best = F.greatest(*[F.col(f"score_{lg}") for lg in LANG_MARKERS])
    pred = F.when(best <= 0, F.lit("und"))
    for lg in LANG_MARKERS:
        pred = pred.when(F.col(f"score_{lg}") == best, F.lit(lg))
    return scored.select(id_col, pred.alias("pred_lang"), best.alias("marker_hits"))


def token_counts(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Whitespace tokens + a BPE-ish proxy (4 chars ≈ 1 token) per doc."""
    toks = F.size(F.split(F.col(text_col), " "))
    return docs.select(
        F.col(id_col),
        toks.alias("n_tokens"),
        F.ceil(F.length(F.col(text_col)) / 4.0).cast("long").alias("n_bpe_est"),
    )


def quality_scores(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Length / punctuation / stopword heuristic quality score in [0, 1]."""
    t = F.col(text_col)
    # shared precursors projected once: padded text and the token/char
    # counts (split shared by three ratios). Alpha chars counted via
    # translate (char-map, no regex engine) and the 10 stopwords via one
    # alternation regexp_count — together ~4× over the round-2 form on the
    # documents scan (measured sf0.1; oracle SQL keeps the per-word
    # replace-count form, values identical)
    alpha_set = " " + "".join(chr(c) for c in range(97, 123)) + "".join(
        chr(c) for c in range(65, 91)
    )
    base = docs.select(
        F.col(id_col),
        F.length(t).alias("_nc"),
        F.size(F.split(t, " ")).alias("_nt"),
        (F.length(t) - F.length(F.translate(t, alpha_set, ""))).alias("_na"),
        _padded(t).alias("_pad"),
    )
    n_chars = F.col("_nc")
    n_tokens = F.col("_nt")
    stop_hits = _multi_hits_in_padded(F.col("_pad"), STOPWORDS)
    stop_ratio = stop_hits / n_tokens  # split('') is [''] ⇒ n_tokens ≥ 1
    mean_tok_len = n_chars / n_tokens
    # empty text: n_chars = 0 and ANSI mode (Spark 4 default) turns the
    # division into a DIVIDE_BY_ZERO crash — define alpha_ratio as 0
    alpha_ratio = F.when(
        n_chars > 0, F.col("_na") / n_chars
    ).otherwise(F.lit(0.0))
    score = (
        F.least(F.lit(1.0), n_tokens / F.lit(64.0)) * 0.4
        + F.least(F.lit(1.0), stop_ratio * 5.0) * 0.2
        + alpha_ratio * 0.4
    )
    return base.select(
        F.col(id_col),
        n_tokens.alias("n_tokens"),
        F.round(mean_tok_len, 4).alias("mean_token_len"),
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(alpha_ratio, 4).alias("alpha_ratio"),
        F.round(score, 4).alias("quality_score"),
    )


def text_fingerprint(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Normalization fingerprint (case/whitespace-insensitive md5) + a
    64-bit content hash — the document identity keys for dedup joins."""
    norm = F.regexp_replace(F.lower(F.trim(F.col(text_col))), "\\s+", " ")
    return docs.select(
        F.col(id_col),
        F.md5(norm).alias("fingerprint"),
        F.xxhash64(norm).alias("content_hash64"),
    )

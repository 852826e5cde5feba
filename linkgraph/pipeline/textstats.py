"""Text analysis operators: token counting, quality scoring, language ID,
chunking and line dedup. All pure Catalyst expressions (JVM-side)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# tiny per-language stopword lists for the n-gram/stopword heuristic
STOPWORDS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "a"],
    "de": ["der", "die", "das", "und", "ist", "von", "mit", "zu", "ein", "nicht"],
    "es": ["el", "la", "de", "que", "y", "en", "un", "es", "por", "con"],
    "fr": ["le", "la", "de", "et", "que", "en", "un", "est", "pour", "avec"],
}


def tokens(text_col: str | Column) -> Column:
    """Whitespace tokenization of trimmed, lowercased text."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.split(F.trim(F.lower(c)), r"\s+")


def _r4(c: Column) -> Column:
    """Floor-based 4-decimal truncation: unlike round(), identical across
    engines at exact .xxxx5 ties (ratios of small ints hit those). The
    single source of truth — every oracle-checked ratio uses this."""
    return F.floor(c * 10000) / 10000


def text_stats(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, n_chars, n_tokens, avg_token_len, punct_ratio, digit_ratio,
    stopword_ratio, quality_score)."""
    t = F.col(text_col)
    toks = tokens(text_col)
    n_chars = F.length(t)
    n_tokens = F.size(toks)
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    n_digit = n_chars - F.length(F.regexp_replace(t, r"[0-9]", ""))
    en_stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    n_stop = F.size(F.filter(toks, lambda x: F.array_contains(en_stop, x)))
    stop_ratio = n_stop.cast("double") / F.greatest(n_tokens, F.lit(1))
    punct_ratio = n_punct.cast("double") / F.greatest(n_chars, F.lit(1))
    digit_ratio = n_digit.cast("double") / F.greatest(n_chars, F.lit(1))
    avg_tok = n_chars.cast("double") / F.greatest(n_tokens, F.lit(1))
    # simple bounded quality heuristic: long enough, low punct/digit noise
    quality = (
        F.least(n_tokens.cast("double") / 100.0, F.lit(1.0)) * 0.4
        + (1 - F.least(punct_ratio * 4, F.lit(1.0))) * 0.3
        + (1 - F.least(digit_ratio * 4, F.lit(1.0))) * 0.3
    )
    r4 = _r4
    return docs.select(
        F.col(id_col),
        n_chars.alias("n_chars"),
        n_tokens.alias("n_tokens"),
        r4(avg_tok).alias("avg_token_len"),
        r4(punct_ratio).alias("punct_ratio"),
        r4(digit_ratio).alias("digit_ratio"),
        r4(stop_ratio).alias("stopword_ratio"),
        r4(quality).alias("quality_score"),
    )


def lang_id(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, pred_lang) — stopword-hit heuristic over the supported
    languages; ties break alphabetically (deterministic)."""
    toks = tokens(text_col)
    scores = []
    for lang in sorted(STOPWORDS):
        arr = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        scores.append(
            F.struct(
                F.size(F.filter(toks, lambda x: F.array_contains(arr, x))).alias("hits"),
                F.lit(lang).alias("lang"),
            )
        )
    # max hits, min lang on ties: max over struct(hits, negated-lex…) is
    # awkward — use array_max over (hits, reverse rank) via sort
    best = F.array_max(
        F.array(
            *[
                F.struct(
                    s["hits"].alias("hits"),
                    F.lit(-i).alias("rank"),  # earlier (alphabetical) wins ties
                    s["lang"].alias("lang"),
                )
                for i, s in enumerate(scores)
            ]
        )
    )
    return docs.select(F.col(id_col), best["lang"].alias("pred_lang"))


def repetition_stats(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style within-document repetition signals (Rae et al. 2021
    §A1.1 quality heuristics, public paper): (id, n_words, dup_word_frac,
    n_2grams, dup_2gram_frac, max_2gram_frac). Boilerplate-heavy and
    degenerate (looping) documents show high duplicate-n-gram fractions;
    used as pre-training filter features alongside text_stats.

    Cardinality-preserving (one row per doc, NULL text -> zeros). The
    word/2-gram fractions stay inside array expressions (whole-stage
    codegen); only the most-frequent-2-gram count needs an explode +
    two-level aggregate — map-side combined, shuffles (id, gram) pairs.
    """
    toks = tokens(text_col)
    base = docs.select(
        F.col(id_col),
        F.coalesce(toks, F.array().cast("array<string>")).alias("__w__"),
    )
    n = F.size("__w__")
    g2 = F.zip_with(
        F.slice("__w__", 1, F.greatest(n - 1, F.lit(0))),
        F.slice("__w__", 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    pre = base.select(F.col(id_col), F.col("__w__"), g2.alias("__g2__"))
    r4 = _r4
    n2 = F.size("__g2__")
    stats = pre.select(
        F.col(id_col),
        F.size("__w__").alias("n_words"),
        r4(
            (F.size("__w__") - F.size(F.array_distinct("__w__"))).cast("double")
            / F.greatest(F.size("__w__"), F.lit(1))
        ).alias("dup_word_frac"),
        n2.alias("n_2grams"),
        r4(
            (n2 - F.size(F.array_distinct("__g2__"))).cast("double")
            / F.greatest(n2, F.lit(1))
        ).alias("dup_2gram_frac"),
    )
    top = (
        pre.select(F.col(id_col), F.explode("__g2__").alias("__g__"))
        .groupBy(id_col, "__g__")
        .count()
        .groupBy(id_col)
        .agg(F.max("count").alias("__top__"))
    )
    return stats.join(top, id_col, "left").select(
        F.col(id_col),
        "n_words",
        "dup_word_frac",
        "n_2grams",
        "dup_2gram_frac",
        r4(
            F.coalesce(F.col("__top__"), F.lit(0)).cast("double")
            / F.greatest(F.col("n_2grams"), F.lit(1))
        ).alias("max_2gram_frac"),
    )


def quality_filter(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 10,
    max_punct_ratio: float = 0.3,
    min_stopword_ratio: float = 0.01,
    max_digit_ratio: float = 0.3,
) -> DataFrame:
    """C4-style rule filter over the text_stats signals: returns
    (id, keep, reject_reason) for every doc — reasons are deterministic
    (first failing rule in a fixed order), so filter decisions audit and
    oracle-check exactly. Compose as
    ``docs.join(quality_filter(docs).where("keep"), id)`` to materialize
    the kept corpus; the stats are one projection, so the filter adds no
    shuffle."""
    stats = text_stats(docs, id_col, text_col)
    reason = (
        # NULL text first: every comparison below is NULL on it and would
        # fall through to 'ok'
        F.when(F.col("n_tokens").isNull(), F.lit("no_text"))
        .when(F.col("n_tokens") < min_tokens, F.lit("too_short"))
        .when(F.col("punct_ratio") > max_punct_ratio, F.lit("punct_noise"))
        .when(F.col("digit_ratio") > max_digit_ratio, F.lit("digit_noise"))
        .when(
            F.col("stopword_ratio") < min_stopword_ratio, F.lit("no_stopwords")
        )
        .otherwise(F.lit("ok"))
    )
    return stats.select(
        F.col(id_col),
        reason.alias("reject_reason"),
    ).withColumn("keep", F.col("reject_reason") == "ok")


def chunk_documents(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    chunk_tokens: int = 512,
    overlap: int = 64,
) -> DataFrame:
    """Split documents into fixed-size token windows with overlap — the
    standard pre-training chunking step. Returns
    (id, chunk_id, chunk_text, n_tokens); chunk k covers tokens
    [k*(chunk-overlap), k*(chunk-overlap)+chunk). Pure Catalyst: one
    split + sequence/transform + posexplode, so the only data movement is
    the output itself."""
    if not 0 <= overlap < chunk_tokens:
        raise ValueError("need 0 <= overlap < chunk_tokens")
    step = chunk_tokens - overlap
    toks = tokens(text_col)
    n = F.size(toks)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(overlap)).cast("double") / step).cast("int"), F.lit(1)
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda k: F.slice(toks, k * step + 1, chunk_tokens),
    )
    ex = docs.select(
        F.col(id_col), F.posexplode(chunks).alias("chunk_id", "__toks__")
    )
    return ex.select(
        F.col(id_col),
        "chunk_id",
        F.array_join("__toks__", " ").alias("chunk_text"),
        F.size("__toks__").alias("n_tokens"),
    )


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_occurrences: int = 1,
) -> DataFrame:
    """C4-style boilerplate removal: drop every LINE whose exact
    (trimmed) text appears in more than ``max_occurrences`` documents
    across the corpus (navbars, cookie banners, footers), then reassemble
    each doc from its surviving lines in order.

    Two shuffles total, both on short keys: line-hash counts (map-side
    combined), then the line-level anti-join back; reassembly groups by
    doc id. Returns (id, text) with the cleaned text ('' if everything
    was boilerplate)."""
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), r"\n")).alias("line_no", "line"),
    ).withColumn("__key__", F.md5(F.trim(F.col("line"))))
    counts = (
        lines.select(id_col, "__key__")
        .distinct()
        .groupBy("__key__")
        .agg(F.count(F.lit(1)).alias("__docs__"))
        .where(F.col("__docs__") > max_occurrences)
        .select("__key__")
    )
    kept = lines.join(counts, "__key__", "left_anti")
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("line_no", "line"))),
                lambda s: s["line"],
            ),
            "\n",
        ).alias(text_col)
    )
    # preserve cardinality: a doc whose every line was boilerplate comes
    # back as '' instead of vanishing
    return docs.select(F.col(id_col)).join(reassembled, id_col, "left").select(
        F.col(id_col), F.coalesce(F.col(text_col), F.lit("")).alias(text_col)
    )

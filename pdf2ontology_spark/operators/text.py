"""Text analysis for training-data pipelines: language-ID, quality
scoring, token counting, document fingerprinting. All pure JVM-side
expressions with exact DuckDB-SQL twins (see oracles_data.py).

The quality composite reuses the reference's weighted-score shape
(0.3/0.2/0.3/0.2 at /root/reference/src/utils/document_analysis_utils.py:467-473)
over text-derived signals instead of image signals.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

EN_STOP = ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"]
DE_STOP = ["der", "die", "das", "und", "ist", "im", "für", "von", "mit", "den"]

# BPE-ish pre-tokenizer: letter runs | digit runs | single other non-space.
# Uppercase umlauts are letters too — without ÄÖÜ every capitalized German
# noun ('Über', 'Änderung') split into extra tokens and counted as
# punctuation, systematically skewing the metrics for German documents.
TOKEN_RE = r"[a-zA-ZäöüßÄÖÜ]+|[0-9]+|[^a-zA-ZäöüßÄÖÜ0-9\s]"


def _words(text: Column) -> Column:
    """The word tokenizer of the text and dedup operators: lowercase,
    split on runs of non-alphanumerics, drop empty tokens (DuckDB twin:
    ``oracles_data.words_sql``)."""
    return F.filter(F.split(F.lower(text), r"[^a-z0-9äöüß]+"), lambda w: w != "")


def _stop_hits(words: Column, stops: list[str]) -> Column:
    arr = F.array(*[F.lit(s) for s in stops])
    return F.size(F.filter(words, lambda w: F.array_contains(arr, w)))


def lang_id(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """n-gram/stopword-ratio language heuristic: (id, en_hits, de_hits,
    lang). lang = 'de' iff de_hits > en_hits, 'en' iff en_hits > de_hits,
    else 'unknown'."""
    words = _words(F.col(text_col))
    return df.select(
        F.col(id_col).alias("id"),
        _stop_hits(words, EN_STOP).cast("long").alias("en_hits"),
        _stop_hits(words, DE_STOP).cast("long").alias("de_hits"),
    ).withColumn(
        "lang",
        F.when(F.col("de_hits") > F.col("en_hits"), "de")
        .when(F.col("en_hits") > F.col("de_hits"), "en")
        .otherwise("unknown"),
    )


def quality_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Composite document-quality score in [0,1]:
    0.3*length_score + 0.2*word_len_score + 0.3*stopword_score +
    0.2*(1 - punct_ratio), each component clamped — the weighted-score
    pattern of document_analysis_utils.py:467-473."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    words = _words(t)
    n_chars = F.length(t)
    n_words = F.size(words)
    stop_ratio = _stop_hits(words, EN_STOP + DE_STOP) / F.greatest(n_words, F.lit(1))
    punct = F.length(F.regexp_replace(t, r"[a-zA-ZäöüßÄÖÜ0-9\s]", ""))
    punct_ratio = punct / F.greatest(n_chars, F.lit(1))
    avg_wlen = (
        F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w))
        / F.greatest(n_words, F.lit(1))
    )

    from pdf2ontology_spark.functions import clamp01

    length_score = clamp01(n_chars / F.lit(400.0))
    wlen_score = clamp01(1.0 - F.abs(avg_wlen - 5.0) / 5.0)
    stop_score = clamp01(stop_ratio * 5.0)
    score = (
        0.3 * length_score + 0.2 * wlen_score + 0.3 * stop_score + 0.2 * (1.0 - punct_ratio)
    )
    return df.select(
        F.col(id_col).alias("id"),
        n_chars.cast("long").alias("n_chars"),
        n_words.cast("long").alias("n_words"),
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stop_ratio"),
        F.round(clamp01(score), 6).alias("quality"),
    )


def token_count(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, ws_tokens, bpe_tokens): whitespace count + BPE-ish regex
    pre-tokenizer count (the standard cheap token estimators)."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    ws = F.size(F.filter(F.split(t, r"\s+"), lambda w: w != ""))
    bpe = F.size(F.regexp_extract_all(t, F.lit(TOKEN_RE), 0))
    return df.select(
        F.col(id_col).alias("id"),
        ws.cast("long").alias("ws_tokens"),
        bpe.cast("long").alias("bpe_tokens"),
    )


def fingerprint(df: DataFrame, id_col: str, text_col: str, w: int = 5) -> DataFrame:
    """Winnowing-style document fingerprint: min md5 over all w-word
    windows (rolling-hash analog, deterministic, order-sensitive).
    (id, fingerprint)."""
    # Generate barrier: materialize the tokenized words ONCE per row —
    # without it every slice() re-inlines the split+filter tokenization
    # (O(n_words^2) interpreted re-evaluations; see dedup.shingles)
    base = df.select(
        F.col(id_col).alias("id"), _words(F.col(text_col)).alias("w0")
    ).select("id", F.explode(F.array("w0")).alias("words"))
    words = F.col("words")
    windows = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - w, F.lit(0))),
        lambda i: F.md5(F.array_join(F.slice(words, i + 1, w), " ")),
    )
    return base.select("id", F.array_min(windows).alias("fingerprint"))

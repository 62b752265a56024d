"""Span segmentation: documents(doc_id, spans[]) -> one row per span.

Replaces the reference's page fan-out + LLM layout analysis
(/root/reference/src/core/document_analyzer.py:106-133,
 /root/reference/src/core/region_detector.py:43-79) with a declarative
explode: the interleaved input table already carries the region ``kind``
and reading order (``offset``), per BASELINE.json input_hint.

Scale notes: explode is narrow (no shuffle); reading order is the stored
``offset`` so no window is needed on the hot path. The span-sequence
invariant check (per-doc order preservation) is a cheap per-row array
expression, not an aggregation.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdf2ontology_spark import rules


def explode_spans(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, kind, text, media_ref, offset).

    Reference analog: per-page loop at document_analyzer.py:135-167.
    """
    return docs.select(
        "doc_id",
        F.explode("spans").alias("span"),
    ).select(
        "doc_id",
        F.col("span.kind").alias("kind"),
        F.col("span.text").alias("text"),
        F.col("span.media_ref").alias("media_ref"),
        F.col("span.offset").alias("offset"),
    )


def span_sequence_check(docs: DataFrame) -> DataFrame:
    """Per-doc span-sequence invariant (BASELINE.json input_hint):
    offsets strictly increasing in stored order, i.e. sorting by offset
    is a no-op. Returns (doc_id, n_spans, is_ordered).
    """
    offs = F.transform("spans", lambda s: s["offset"])
    return docs.select(
        "doc_id",
        F.size("spans").cast("int").alias("n_spans"),
        (
            (offs == F.array_sort(offs))
            & (F.size(F.array_distinct(offs)) == F.size(offs))
        ).alias("is_ordered"),
    )


# Lazily built span-list Column ASTs (no data, no plan; see
# triples._FUSED_EXPR_CACHE for why expressions are cached)
_SPAN_LISTS: dict[str, Column] = {}


def _valid_spans(kind: str) -> Column:
    """A document's ``kind`` spans that pass the validity contract: a
    present, non-negative offset — what quarantine.span_guard_reason()
    demands of the kinds extraction reads. Every extraction expression
    (cells, entries, triples, merged sentences) reads these lists, all
    built on ONE shared filter, so a span dropped by one is dropped by
    all."""
    if not _SPAN_LISTS:
        _SPAN_LISTS["valid"] = F.filter(
            F.col("spans"), lambda s: s["offset"].isNotNull() & (s["offset"] >= 0)
        )
    if kind not in _SPAN_LISTS:
        _SPAN_LISTS[kind] = F.filter(_SPAN_LISTS["valid"], lambda s: s["kind"] == kind)
    return _SPAN_LISTS[kind]


def _merged_sentences_arr(texts: Column) -> Column:
    """Array of (offset, sentence) structs: the W5 cross-span merge as a
    per-document fold over the document's text spans ``texts``. A text
    span that does not END A SENTENCE continues in the next text span,
    transitively — a sentence split across any number of consecutive
    spans is reassembled (the session-window idiom, collapsed to
    F.aggregate because the whole document is already one row: no
    doc_id shuffle). A span terminates per rules.TERMINATOR_RE/ABBREV_RE:
    ends with . ! or ? and the final token is not an abbreviation or
    initial, so "… siehe Abb." or "… Anlage A." correctly continues.

    Spans are sorted by (offset, text, null text first) before the fold:
    the input invariant says they are stored sorted, but a violating
    document must still merge in reading order, deterministically even
    on duplicate offsets. A NULL-text span contributes nothing and
    breaks the run: the open run is flushed and the next span starts a
    new one."""
    texts = F.array_sort(
        texts,
        lambda a, b: F.when(a["offset"] < b["offset"], -1)
        .when(a["offset"] > b["offset"], 1)
        .when(a["text"].isNull() & b["text"].isNotNull(), -1)
        .when(a["text"].isNotNull() & b["text"].isNull(), 1)
        .when(a["text"] < b["text"], -1)
        .when(a["text"] > b["text"], 1)
        .otherwise(0),
    )
    sent_t = "array<struct<offset int, sentence string>>"
    init = F.struct(
        F.array().cast(sent_t).alias("done"),
        F.lit(None).cast("string").alias("cur"),
        F.lit(None).cast("int").alias("cur_off"),
    )

    def flushed(acc: Column) -> Column:
        """done ++ the open run (if any), without appending new text."""
        return F.when(acc["cur"].isNull(), acc["done"]).otherwise(
            F.concat(
                acc["done"],
                F.array(
                    F.struct(
                        acc["cur_off"].alias("offset"), acc["cur"].alias("sentence")
                    )
                ),
            )
        )

    def step(acc: Column, s: Column) -> Column:
        txt = s["text"]
        new_cur = F.when(acc["cur"].isNull(), txt).otherwise(
            F.concat(acc["cur"], F.lit(" "), txt)
        )
        # cast: inline test data infers python ints as bigint; the
        # accumulator struct is pinned to the parquet schema's int32
        new_off = (
            F.when(acc["cur"].isNull(), s["offset"]).otherwise(acc["cur_off"]).cast("int")
        )
        terminated = txt.rlike(rules.TERMINATOR_RE) & ~txt.rlike(rules.ABBREV_RE)
        reset = [
            F.lit(None).cast("string").alias("cur"),
            F.lit(None).cast("int").alias("cur_off"),
        ]
        return (
            F.when(txt.isNull(), F.struct(flushed(acc).alias("done"), *reset))
            .when(
                terminated,
                F.struct(
                    F.concat(
                        acc["done"],
                        F.array(
                            F.struct(new_off.alias("offset"), new_cur.alias("sentence"))
                        ),
                    ).alias("done"),
                    *reset,
                ),
            )
            .otherwise(
                F.struct(
                    acc["done"].alias("done"), new_cur.alias("cur"), new_off.alias("cur_off")
                )
            )
        )

    return F.aggregate(texts, init, step, flushed)


def merged_text_sentences(docs: DataFrame) -> DataFrame:
    """Cross-span content merge (W5 — the reference's CrossPageContent,
    src/pydantic_models/content_models.py:55-82) over
    the documents table: one row per merged sentence,
    (doc_id, offset, sentence) where offset is the first part's. Zero
    shuffles: the explode of ``_merged_sentences_arr`` over the valid
    text spans — the same array the text triples are matched on."""
    return docs.select(
        "doc_id", F.explode(_merged_sentences_arr(_valid_spans("text"))).alias("s")
    ).select("doc_id", "s.offset", "s.sentence")


_TEXT_KINDS = ["text", "title", "header", "caption"]


def reassemble_text(docs: DataFrame) -> DataFrame:
    """Cross-span text stitch: the reference's OCR flatten+join
    (src/loader.py:36-58) — text-kind spans of each
    document sorted by (offset, text) and joined with newlines, as
    (doc_id, document_text, n_text_spans). Zero shuffles: the input is
    already one row per document. Documents with no text-kind spans emit
    nothing."""
    kinds = F.array(*[F.lit(k) for k in _TEXT_KINDS])
    picked = F.filter(
        F.col("spans"), lambda s: F.array_contains(kinds, s["kind"])
    )
    sorted_ = F.array_sort(
        F.transform(
            picked,
            lambda s: F.struct(
                s["offset"].alias("offset"),
                F.coalesce(s["text"], F.lit("")).alias("text"),
            ),
        )
    )
    return (
        docs.select(
            "doc_id",
            F.array_join(
                F.transform(sorted_, lambda s: s["text"]), "\n"
            ).alias("document_text"),
            F.size(picked).cast("long").alias("n_text_spans"),
        )
        .filter(F.col("n_text_spans") > 0)
    )


def doc_stats(docs: DataFrame) -> DataFrame:
    """Corpus/document statistics — the reference's _compile_results
    (src/core/document_analyzer.py:230-272): per-doc
    span counts by kind plus total characters. Zero shuffles, zero
    explode. Documents with no spans emit nothing."""
    spans = F.col("spans")

    def n_kind(kind: str):
        return F.size(F.filter(spans, lambda s: s["kind"] == kind)).cast("long")

    return docs.select(
        "doc_id",
        F.size(spans).cast("long").alias("n_spans"),
        n_kind("table").alias("n_tables"),
        n_kind("media").alias("n_media"),
        n_kind("text").alias("n_text"),
        F.aggregate(
            spans,
            F.lit(0).cast("long"),
            lambda acc, s: acc + F.length(F.coalesce(s["text"], F.lit(""))),
        ).alias("total_chars"),
    ).filter(F.col("n_spans") > 0)

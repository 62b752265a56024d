"""Triple extraction — the parity artifact (FIXTURES.md F3).

One implementation: every rule is a per-document array expression over
the documents table (doc_id, spans), so each query below is one corpus
scan, a narrow projection and one explode — zero shuffles. A table's
grid lives entirely inside ONE span's JSON and a document's text spans
live in one row, so the (doc_id, table_id) windows and the doc_id
sentence window a staged plan would need collapse to in-row array work.
Two extractors share that scan:

- table spans -> cells -> semantic entries -> triples: the reference's
  semantic-table rules and its rule-based fallback (see
  ``_cells_triples``): for every (key, value) of a table row with a
  non-empty value and key != "row_header", emit
  (subject=row_header [concept], predicate=related_to, object=value),
  confidence 0.6, source_sentence "{row_header} has {key} of {value}",
  extraction_method "fallback_rule_based". Object typing follows the
  prompt rules (triplet_extractor.py:183-191): numeric pattern ->
  numeric, gazetteer location -> location, else other.

  NOTE: the reference fallback only processes the FIRST 3 rows per table
  (``data_rows[:3]``, triplet_extractor.py:358) — a degraded-mode
  artifact. The engine processes ALL rows by default (no silent data
  loss at scale); pass ``reference_strict=True`` to reproduce the cap
  exactly.

- text spans -> merged sentences (W5, segment.merged_text_sentences) ->
  sentence-pattern triples (SURVEY.md §7.2 step 1): each pattern is
  evaluated with regexp_extract, empty matches dropped. Predicates are
  drawn from the reference's RelationType enum (enums.py:42-64).

Both read only spans that pass segment._valid_spans (present,
non-negative offset). Everything stays inside whole-stage codegen — no
Python on the hot path; equivalence with the DuckDB oracles is pinned by
tests/test_triples_fused.py and scripts/check_oracles.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pdf2ontology_spark import rules
from pdf2ontology_spark.operators.segment import _merged_sentences_arr, _valid_spans
from pdf2ontology_spark.schemas import CELL


def classify_value_col(c: Column) -> Column:
    """Entity typing for object values (prompt rules 183-191)."""
    return (
        F.when(c.rlike(rules.NUMERIC_RE), F.lit("numeric"))
        .when(c.isin(rules.LOCATIONS), F.lit("location"))
        .otherwise(F.lit("other"))
    )


# ------------------------------------------------------------- extraction
# Field layout of one extracted triple inside the per-document arrays;
# both branches must emit the exact same struct for concat().
def _triple_struct(
    table_id: Column,
    subj: Column,
    subj_type: Column,
    predicate: Column,
    obj: Column,
    obj_type: Column,
    confidence: float,
    sentence: Column,
    method: str,
) -> Column:
    return F.struct(
        table_id.alias("table_id"),
        subj.alias("subj_name"),
        subj_type.alias("subj_type"),
        predicate.alias("predicate"),
        obj.alias("obj_name"),
        obj_type.alias("obj_type"),
        F.lit(confidence).alias("confidence"),
        sentence.alias("source_sentence"),
        F.lit(method).alias("extraction_method"),
    )


# --------------------------------------------------- reference caps
# The reference truncates each document's extraction result:
# MAX_ENTITIES_PER_EXTRACTION = 100, MAX_TRIPLETS_PER_DOCUMENT = 200
# (/root/reference/config.py:21-22). The engine keeps ALL rows by
# default (no silent data loss at scale); these operators reproduce the
# caps when requested, over a CANONICAL deterministic order (the
# reference's order is its in-memory extraction order, which has no
# stable analog in a distributed multiset), and the truncation is
# ACCOUNTED (SURVEY.md §4.1: "log via _metrics when truncating").
MAX_TRIPLES_PER_DOC = 200
MAX_ENTITIES_PER_DOC = 100

# total order within a document: rows equal on this key are fully
# identical (obj_type/subj_type/confidence are functions of these), so
# the capped MULTISET is deterministic on both engines
_CAP_ORDER = ["extraction_method", "table_id", "subj_name", "predicate",
              "obj_name", "source_sentence"]


def cap_triples_per_doc(
    triples_df: DataFrame, max_per_doc: int = MAX_TRIPLES_PER_DOC
) -> DataFrame:
    """First ``max_per_doc`` triples per document in canonical order —
    the MAX_TRIPLETS_PER_DOCUMENT reproduction. One window shuffle on
    doc_id; per-doc state is bounded by the cap itself."""
    w = Window.partitionBy("doc_id").orderBy(
        F.col("extraction_method").asc(),
        F.col("table_id").asc_nulls_first(),
        *[F.col(c).asc() for c in _CAP_ORDER[2:]],
    )
    return (
        triples_df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_per_doc)
        .drop("_rn")
    )


def cap_accounting(
    triples_df: DataFrame, max_per_doc: int = MAX_TRIPLES_PER_DOC
) -> DataFrame:
    """One metrics row making the truncation explicit: how many docs
    exceeded the cap and how many triples the cap would drop."""
    counts = triples_df.groupBy("doc_id").agg(F.count("*").alias("n"))
    return counts.agg(
        F.count("*").cast("long").alias("docs_total"),
        F.sum(F.when(F.col("n") > max_per_doc, 1).otherwise(0))
        .cast("long")
        .alias("docs_truncated"),
        F.sum(F.greatest(F.col("n") - max_per_doc, F.lit(0)))
        .cast("long")
        .alias("triples_dropped"),
    )


def entities_per_doc_capped(
    triples_df: DataFrame, max_entities: int = MAX_ENTITIES_PER_DOC
) -> DataFrame:
    """First ``max_entities`` DISTINCT (name, entity_type) mentions per
    document in canonical (entity_type, name) order — the
    MAX_ENTITIES_PER_EXTRACTION reproduction. Returns
    (doc_id, name, entity_type, rk)."""
    m = (
        triples_df.select(
            "doc_id",
            F.explode(
                F.array(
                    F.struct(
                        F.col("subj_name").alias("name"),
                        F.col("subj_type").alias("entity_type"),
                    ),
                    F.struct(
                        F.col("obj_name").alias("name"),
                        F.col("obj_type").alias("entity_type"),
                    ),
                )
            ).alias("m"),
        )
        .select("doc_id", "m.name", "m.entity_type")
        .distinct()
    )
    w = Window.partitionBy("doc_id").orderBy("entity_type", "name")
    return (
        m.withColumn("rk", F.row_number().over(w).cast("int"))
        .filter(F.col("rk") <= max_entities)
    )


def _bind(expr: Column, f) -> Column:
    """Evaluate ``expr`` ONCE and pass the materialized value into
    ``f`` as a higher-order-function lambda variable. Catalyst does NOT
    eliminate common subexpressions across lambda bodies — without this
    binding, every helper that references the parsed cell list would
    re-run from_json per reference (measured ~25% slower extraction)."""
    return F.element_at(F.transform(F.array(expr), f), 1)


def _table_cells(doc_id: Column, span: Column) -> tuple[Column, Column]:
    """(table_id, normalized cell array) of ONE table span. The span
    text is the reference's coordinate-JSON cell list,
    src/table_processors/table_content_extractor_general.py:54-64;
    table_id is the deterministic sha2(doc_id ':' offset) (FIXTURES.md
    F2). Malformed JSON -> no cells (F11 per-item tolerance); null cells
    are dropped and a null cell text reads as ""."""
    raw = F.from_json(F.coalesce(span["text"], F.lit("")), T.ArrayType(CELL))
    cells = F.transform(
        F.filter(F.coalesce(raw, F.array().cast(T.ArrayType(CELL))), lambda c: c.isNotNull()),
        lambda c: F.struct(
            c["row"].alias("row"),
            c["col"].alias("col"),
            F.coalesce(c["text"], F.lit("")).alias("txt"),
        ),
    )
    table_id = F.sha2(
        F.concat_ws(":", doc_id, span["offset"].cast("string")), 256
    )
    return table_id, cells


def _table_span_triples(doc_id: Column, span: Column, reference_strict: bool) -> Column:
    """Array of triples extracted from ONE table span."""
    table_id, cells = _table_cells(doc_id, span)
    return _bind(cells, lambda cs: _cells_triples(table_id, cs, reference_strict))


def _table_span_entries(doc_id: Column, span: Column) -> Column:
    """Array of semantic entries (incl. table_id) for ONE table span,
    built on the same parse and entry expressions as the extraction."""
    table_id, cells = _table_cells(doc_id, span)
    return _bind(
        cells,
        lambda cs: F.transform(
            _cells_triples(table_id, cs, False, as_entries=True),
            lambda e: F.struct(
                table_id.alias("table_id"),
                e["row_idx"].alias("row_idx"),
                e["row_header"].alias("row_header"),
                e["key"].alias("key"),
                e["value"].alias("value"),
            ),
        ),
    )


def _cells_triples(
    table_id: Column, cells: Column, reference_strict: bool, as_entries: bool = False
) -> Column:
    """Triples from a (once-materialized) normalized cell array — the
    semantic-table rules of the reference's structured prompt
    (src/table_processors/table_content_extractor.py:98-175):

    - 2-column table         -> parameter -> single_value
    - multi-column table     -> values map {column header -> cell value}
    - option-selection table -> the "X"-marked column's header becomes
                                the value; all options go to the notes
    - empty cells            -> "" (never null); no triple downstream

    plus the reference's relationship -> data_rows conversion in
    src/knowledge_extractor/triplet_extractor.py:700-723
    (single_value -> key "value"; values map merged; notes appended), in
    long form: one entry per (table row, key). ``as_entries=True`` stops
    there and returns the array<struct<row_idx, row_header, key, value>>
    — shared so the entries query and the extraction cannot drift
    apart. Empty values are KEPT at entry level (prompt rule 5); the
    triple step drops them (triplet_extractor.py:361-363 emits no triple
    for falsy values). Grids are 5-50 cells (reference scale), so the
    O(cells^2) row/col lookups are constant-bounded per row."""
    ncols = F.array_max(F.transform(cells, lambda c: c["col"])) + F.lit(1)
    has_opts = F.exists(cells, lambda c: (c["row"] == 0) & (c["col"] >= 1))
    options = F.array_join(
        F.transform(
            F.array_sort(
                F.transform(
                    F.filter(cells, lambda c: (c["row"] == 0) & (c["col"] >= 1)),
                    lambda c: F.struct(c["col"].alias("col"), c["txt"].alias("text")),
                )
            ),
            lambda s: s["text"],
        ),
        ", ",
    )

    def header_of(col: Column) -> Column:
        return F.array_max(
            F.transform(
                F.filter(cells, lambda x: (x["row"] == 0) & (x["col"] == col)),
                lambda x: x["txt"],
            )
        )

    def row_header_of(row: Column) -> Column:
        return F.coalesce(
            F.array_max(
                F.transform(
                    F.filter(cells, lambda x: (x["row"] == row) & (x["col"] == 0)),
                    lambda x: x["txt"],
                )
            ),
            F.lit(""),
        )

    def is_marker(x: Column) -> Column:
        return x["txt"].isin(rules.MARKERS)

    def n_marker_of(row: Column) -> Column:
        return F.size(
            F.filter(cells, lambda x: (x["row"] == row) & (x["col"] >= 1) & is_marker(x))
        )

    def n_other_of(row: Column) -> Column:
        return F.size(
            F.filter(
                cells,
                lambda x: (x["row"] == row)
                & (x["col"] >= 1)
                & ~is_marker(x)
                & (x["txt"] != ""),
            )
        )

    kv = T.StructType(
        [T.StructField("key", T.StringType()), T.StructField("value", T.StringType())]
    )

    def entry(k: Column, v: Column) -> Column:
        return F.struct(k.alias("key"), v.alias("value"))

    def entries_for(c: Column) -> Column:
        header = header_of(c["col"])
        marker = is_marker(c)
        option_row = (n_marker_of(c["row"]) == 1) & (n_other_of(c["row"]) == 0)
        return (
            F.when(
                ncols == 2,
                F.when(
                    c["col"] == 1, F.array(entry(F.lit("value"), c["txt"]))
                ).otherwise(F.array().cast(T.ArrayType(kv))),
            )
            .when(
                option_row,
                F.when(
                    marker,
                    F.when(
                        has_opts,
                        F.array(
                            entry(F.lit("value"), F.coalesce(header, F.lit(""))),
                            entry(
                                F.lit("notes"),
                                F.concat(F.lit(rules.OPTION_NOTES_PREFIX), options),
                            ),
                        ),
                    ).otherwise(
                        F.array(entry(F.lit("value"), F.coalesce(header, F.lit(""))))
                    ),
                ).otherwise(F.array().cast(T.ArrayType(kv))),
            )
            .otherwise(
                F.array(
                    entry(
                        F.when(
                            header.isNull() | (header == ""),
                            F.concat(F.lit("Column_"), c["col"]),
                        ).otherwise(header),
                        c["txt"],
                    )
                )
            )
        )

    value_cells = F.filter(cells, lambda c: (c["row"] >= 1) & (c["col"] >= 1))
    entries = F.flatten(
        F.transform(
            value_cells,
            lambda c: F.transform(
                entries_for(c),
                lambda e: F.struct(
                    c["row"].alias("row_idx"),
                    row_header_of(c["row"]).alias("row_header"),
                    e["key"].alias("key"),
                    e["value"].alias("value"),
                ),
            ),
        )
    )
    if as_entries:
        return entries

    def finalize(es: Column) -> Column:
        return F.transform(
            F.filter(es, lambda e: (e["value"] != "") & (e["key"] != "row_header")),
            lambda e: _triple_struct(
                table_id,
                e["row_header"],
                F.lit("concept"),
                F.lit("related_to"),
                e["value"],
                classify_value_col(e["value"]),
                rules.FALLBACK_CONFIDENCE,
                F.concat(
                    e["row_header"], F.lit(" has "), e["key"], F.lit(" of "), e["value"]
                ),
                rules.FALLBACK_METHOD,
            ),
        )

    if reference_strict:
        # data_rows[:3] cap (triplet_extractor.py:358) == keep entries
        # whose row_idx ranks among the table's first 3 distinct rows;
        # both the entry list and the distinct-row list are _bind-ed so
        # neither recomputes per filtered element
        return _bind(
            entries,
            lambda es: _bind(
                F.array_sort(F.array_distinct(F.transform(es, lambda e: e["row_idx"]))),
                lambda rows_sorted: finalize(
                    F.filter(
                        es, lambda e: F.array_position(rows_sorted, e["row_idx"]) <= 3
                    )
                ),
            ),
        )
    return finalize(entries)


def _sentence_triples(sent: Column) -> Column:
    """Array of pattern triples for one merged sentence struct."""
    cands = F.array(
        *[
            F.struct(
                F.regexp_extract(sent["sentence"], pat, 1).alias("subj_name"),
                F.lit(st).alias("subj_type"),
                F.lit(pred).alias("predicate"),
                F.regexp_extract(sent["sentence"], pat, 2).alias("obj_name"),
                F.lit(ot).alias("obj_type"),
            )
            for pat, pred, st, ot in rules.TEXT_PATTERNS
        ]
    )
    return F.transform(
        F.filter(cands, lambda m: (m["subj_name"] != "") & (m["obj_name"] != "")),
        lambda m: _triple_struct(
            F.lit(None).cast("string"),
            m["subj_name"],
            m["subj_type"],
            m["predicate"],
            m["obj_name"],
            m["obj_type"],
            rules.PATTERN_CONFIDENCE,
            sent["sentence"],
            rules.PATTERN_METHOD,
        ),
    )


# Cache of the UNRESOLVED per-document extraction Column expressions,
# keyed by output kind (and reference_strict where it applies). This holds no data and no plan —
# just the immutable expression AST (the prepared-statement analog):
# building it costs ~1.2s of py4j round-trips per call (thousands of
# Column-API constructor calls), which the bench's construction+execution
# timing charged to every invocation. Name resolution against the input
# DataFrame still happens per query, and every invocation still scans
# the parquet corpus — nothing computed is reused.
_FUSED_EXPR_CACHE: dict[tuple, Column] = {}


def _cached(key: tuple, build) -> Column:
    col = _FUSED_EXPR_CACHE.get(key)
    if col is None:
        col = _FUSED_EXPR_CACHE[key] = build()
    return col


def _per_table_span(key: tuple, f) -> Column:
    """``f(doc_id, span)`` over every valid table span, flattened."""
    doc_id = F.col("doc_id")
    return _cached(
        key,
        lambda: F.flatten(F.transform(_valid_spans("table"), lambda s: f(doc_id, s))),
    )


def _table_triples_expr(reference_strict: bool) -> Column:
    return _per_table_span(
        ("table", reference_strict),
        lambda doc_id, s: _table_span_triples(doc_id, s, reference_strict),
    )


def _text_triples_expr() -> Column:
    return _cached(
        ("text",),
        lambda: F.flatten(
            F.transform(_merged_sentences_arr(_valid_spans("text")), _sentence_triples)
        ),
    )


def _explode(docs: DataFrame, arr: Column) -> DataFrame:
    """One output row per element of the per-document array ``arr``:
    doc_id plus the element's struct fields."""
    return docs.select(F.col("doc_id"), F.explode(arr).alias("t")).select("doc_id", "t.*")


def table_cells(docs: DataFrame) -> DataFrame:
    """documents -> (doc_id, table_id, row, col, text): one row per
    parsed cell of every valid table span."""

    def cell_rows(doc_id: Column, span: Column) -> Column:
        table_id, cells = _table_cells(doc_id, span)
        return F.transform(
            cells,
            lambda c: F.struct(
                table_id.alias("table_id"),
                c["row"].alias("row"),
                c["col"].alias("col"),
                c["txt"].alias("text"),
            ),
        )

    return _explode(docs, _per_table_span(("cells",), cell_rows))


def semantic_entries(docs: DataFrame) -> DataFrame:
    """documents -> long-form relationship entries
    (doc_id, table_id, row_idx, row_header, key, value). One row per
    (data row, key); option rows contribute a "value" entry (the
    selected header) and a "notes" entry; empty values are kept.

    Input contract (q:span_invariant checks it): a table's grid lives
    in ONE span, so two table spans of a document sharing an offset
    (which collides their sha2 table_id) are evaluated per span."""
    return _explode(docs, _per_table_span(("entries",), _table_span_entries))


def table_triples(docs: DataFrame, reference_strict: bool = False) -> DataFrame:
    """documents -> table fallback-rule triples (schemas.TRIPLES)."""
    return _explode(docs, _table_triples_expr(reference_strict))


def text_triples(docs: DataFrame) -> DataFrame:
    """documents -> sentence-pattern triples over the merged text spans
    (schemas.TRIPLES, table_id NULL)."""
    return _explode(docs, _text_triples_expr())


def all_triples_fused(docs: DataFrame, reference_strict: bool = False) -> DataFrame:
    """Both extractors in ONE narrow projection: the physical plan is
    FileScan -> Project -> Generate(explode), ONE corpus read and ZERO
    exchanges (U1: the reference's ``all_triplets.extend`` loop is the
    concat of the two per-document arrays). Reference parity:
    triplet_extractor.py:339-384 (fallback rule), SURVEY.md §7.2 step 1
    (patterns), content_models.py:55-82 (W5). Pinned to the DuckDB
    oracle q:triples_all by tests/test_triples_fused.py."""
    arr = F.concat(_table_triples_expr(reference_strict), _text_triples_expr())
    return _explode(docs, arr)

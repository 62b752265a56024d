"""Per-document triple extraction: full-output equality with the DuckDB
oracles (the same oracles.py CTEs that oracle_sql() uses), the
plan guarantees that justify the design — one corpus scan, zero
exchanges — and behaviour on invalid and empty input. The
``..._composed`` / ``..._staged`` test names predate the oracle
comparison; the reference they check against is the oracle SQL."""

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import Row

from pdf2ontology_spark import oracles, schemas
from pdf2ontology_spark.operators import segment, triples
from pdf2ontology_spark.sources import tables

SF = "/root/testdata/sf0.001"
TAG = "sf0.001"


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(6)
        else:
            df[c] = df[c].astype("float64").round(6)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _equals_oracle(got, sql: str):
    got = got.toPandas()
    exp = duckdb.connect().execute(sql).df()
    assert len(got) > 0
    assert list(got.columns) == list(exp.columns)
    pd.testing.assert_frame_equal(_canon(got), _canon(exp), check_dtype=False)


def _docs(spark):
    # also materializes the spans parquet the oracle SQL reads
    return tables.load_documents_spans(spark, SF)


def _with(*ctes: str) -> str:
    return "WITH " + ",".join([oracles.spans_cte(TAG), oracles.cells_cte(), *ctes])


def test_fused_equals_composed(spark):
    out = triples.all_triples_fused(_docs(spark))
    # nullability flags are plan metadata, not data — compare name+type
    assert [(f.name, f.dataType) for f in out.schema.fields] == [
        (f.name, f.dataType) for f in schemas.TRIPLES.fields
    ]
    _equals_oracle(out, oracles.all_triples_sql(TAG))


def test_fused_entries_equal_staged(spark):
    _equals_oracle(
        triples.semantic_entries(_docs(spark)),
        _with(oracles.entries_ctes())
        + "\nSELECT doc_id, table_id, row_idx, row_header, key, value FROM entries",
    )


def test_fused_equals_composed_strict(spark):
    _equals_oracle(
        triples.all_triples_fused(_docs(spark), reference_strict=True),
        _with(
            oracles.entries_ctes(),
            oracles.entries_capped_cte(),
            oracles.table_triples_cte().replace("FROM entries", "FROM entries_capped"),
            oracles.text_triples_cte(),
        )
        + "\nSELECT * FROM table_triples UNION ALL SELECT * FROM text_triples",
    )


def test_fused_plan_single_scan_no_exchange(spark):
    """The whole point of the fusion: FileScan -> Project -> Generate,
    ONE corpus read, ZERO shuffles. A regression here silently doubles
    the 100TB read."""
    docs = tables.load_documents_spans(spark, SF, repartition=False)
    plan = triples.all_triples_fused(docs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan


def test_fused_malformed_table_json_tolerated(spark):
    """F11: a table span with broken JSON yields no triples, no error;
    the rest of the document still extracts."""
    doc = [
        Row(
            doc_id="d1",
            spans=[
                Row(kind="table", text="{not json", media_ref="", offset=0),
                Row(
                    kind="text",
                    text="Die Anlage Pumpe P-100 befindet sich im Kesselhaus.",
                    media_ref="",
                    offset=1,
                ),
            ],
        )
    ]
    out = triples.all_triples_fused(spark.createDataFrame(doc)).collect()
    assert len(out) == 1
    assert out[0].predicate == "located_in" and out[0].obj_name == "Kesselhaus"


def test_fused_null_text_matches_staged(spark):
    """A NULL-text text span is a run boundary: the fold must not merge
    through it."""
    docs = spark.createDataFrame(
        [
            Row(
                doc_id="d1",
                spans=[
                    Row(kind="text", text="Die Anlage Pumpe P-100", media_ref="", offset=0),
                    Row(kind="text", text=None, media_ref="", offset=1),
                    Row(kind="text", text="befindet sich im Kesselhaus.", media_ref="", offset=2),
                ],
            )
        ]
    )
    # the broken sentence must NOT produce a triple
    assert triples.all_triples_fused(docs).count() == 0


def test_fused_out_of_order_spans_match_staged(spark):
    """A document whose spans array is stored out of offset order still
    reassembles the sentence in reading order."""
    docs = spark.createDataFrame(
        [
            Row(
                doc_id="d1",
                spans=[
                    Row(kind="text", text="befindet sich im Kesselhaus.", media_ref="", offset=2),
                    Row(kind="text", text="Die Anlage Pumpe P-100", media_ref="", offset=0),
                ],
            )
        ]
    )
    out = triples.all_triples_fused(docs).collect()
    assert len(out) == 1 and out[0].obj_name == "Kesselhaus"


def test_fused_duplicate_offsets_deterministic(spark):
    """Duplicate offsets violate the input invariant; the fused sort
    tie-breaks by text so the output is deterministic."""
    docs = spark.createDataFrame(
        [
            Row(
                doc_id="d1",
                spans=[
                    Row(kind="text", text="befindet sich im Kesselhaus.", media_ref="", offset=0),
                    Row(kind="text", text="Die Anlage Pumpe P-100", media_ref="", offset=0),
                ],
            )
        ]
    )
    # text-sorted: "Die Anlage..." (D < b in UTF-8) precedes "befindet..."
    out = triples.all_triples_fused(docs).collect()
    assert len(out) == 1 and out[0].obj_name == "Kesselhaus"


def test_negative_offset_table_span_emits_nothing(spark):
    """A table span failing the validity contract (offset -1, which
    quarantine.split_spans rejects) contributes no cells, no entries and
    no triples; the document's valid text span still extracts."""
    cells = (
        '[{"row":0,"col":0,"text":"Parameter"},{"row":0,"col":1,"text":"Wert"},'
        '{"row":1,"col":0,"text":"druck"},{"row":1,"col":1,"text":"5.2 bar"}]'
    )
    docs = spark.createDataFrame(
        [
            Row(
                doc_id="d1",
                spans=[
                    Row(kind="table", text=cells, media_ref="", offset=-1),
                    Row(
                        kind="text",
                        text="Die Anlage Pumpe P-100 befindet sich im Kesselhaus.",
                        media_ref="",
                        offset=1,
                    ),
                ],
            )
        ],
        schemas.DOCUMENTS,
    )
    assert triples.table_cells(docs).count() == 0
    assert triples.semantic_entries(docs).count() == 0
    assert triples.table_triples(docs).count() == 0
    out = triples.all_triples_fused(docs).collect()
    assert [(r.subj_name, r.predicate, r.obj_name) for r in out] == [
        ("Pumpe P-100", "located_in", "Kesselhaus")
    ]


def test_empty_documents_table(spark):
    """An empty documents table flows through every per-document
    operator: zero rows, with the documented columns."""
    docs = spark.createDataFrame([], schemas.DOCUMENTS)
    for df, cols in [
        (triples.all_triples_fused(docs), schemas.TRIPLES.fieldNames()),
        (triples.table_cells(docs), ["doc_id", "table_id", "row", "col", "text"]),
        (
            triples.semantic_entries(docs),
            ["doc_id", "table_id", "row_idx", "row_header", "key", "value"],
        ),
        (segment.merged_text_sentences(docs), ["doc_id", "offset", "sentence"]),
        (
            segment.doc_stats(docs),
            ["doc_id", "n_spans", "n_tables", "n_media", "n_text", "total_chars"],
        ),
    ]:
        assert df.columns == cols
        assert df.count() == 0

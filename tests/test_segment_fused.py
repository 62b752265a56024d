"""The in-row doc-level operators (segment.doc_stats /
reassemble_text) must equal their DuckDB oracles row-for-row, including
dropping span-less / text-less documents."""

import duckdb
from pyspark.sql import Row

import __spark_entry__ as entry
from pdf2ontology_spark import oracles
from pdf2ontology_spark.operators import segment
from pdf2ontology_spark.sources import tables

SF = "/root/testdata/sf0.001"


def _equals_oracle(spark, got, name):
    """``got`` vs ``oracle_sql()[name]`` pointed at the sf0.001 spans
    parquet, compared as multisets."""
    sql = entry.oracle_sql()[name].replace(
        oracles.spans_path(entry.ORACLE_TAG), oracles.spans_path("sf0.001")
    )
    exp = spark.createDataFrame(duckdb.connect().execute(sql).df(), got.schema)
    assert got.count() > 0
    assert got.exceptAll(exp).count() == 0
    assert exp.exceptAll(got).count() == 0


def test_doc_stats_equals_oracle(spark):
    docs = tables.load_documents_spans(spark, SF)
    _equals_oracle(spark, segment.doc_stats(docs), "doc_stats")


def test_reassemble_text_equals_oracle(spark):
    docs = tables.load_documents_spans(spark, SF)
    _equals_oracle(spark, segment.reassemble_text(docs), "reassemble_text")


def test_fused_twins_drop_empty_docs(spark):
    docs = spark.createDataFrame(
        [
            Row(doc_id="d0", spans=[]),
            Row(
                doc_id="d1",
                spans=[
                    Row(kind="media", text=None, media_ref="m", offset=0),
                    Row(kind="text", text="b.", offset=2, media_ref=None),
                    Row(kind="text", text="a", offset=1, media_ref=None),
                ],
            ),
        ],
        "doc_id string, spans array<struct<kind string, text string, media_ref string, offset int>>",
    )
    ds = {r.doc_id: r for r in segment.doc_stats(docs).collect()}
    assert list(ds) == ["d1"]
    assert ds["d1"].n_spans == 3 and ds["d1"].n_text == 2 and ds["d1"].total_chars == 3
    rt = segment.reassemble_text(docs).collect()
    assert len(rt) == 1
    assert rt[0].document_text == "a\nb." and rt[0].n_text_spans == 2

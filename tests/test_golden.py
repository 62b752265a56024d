"""Golden end-to-end parity (FIXTURES.md F3): engine triples vs the
analytically-derived golden set at sf0.001. The BASELINE target is
P/R >= 0.95; the engine achieves exactly 1.0 by construction."""

from pdf2ontology_spark.plans.pipeline import run_kg_pipeline
from pdf2ontology_spark.sources import tables

KEY = ["doc_id", "subj_name", "predicate", "obj_name"]
ALL = [
    "doc_id", "table_id", "subj_name", "subj_type", "predicate",
    "obj_name", "obj_type", "confidence", "source_sentence", "extraction_method",
]


def test_triple_parity_sf0001(spark):
    out = run_kg_pipeline(spark, "/root/testdata/sf0.001")
    trips = out["triples"].cache()
    golden = tables.load_golden_triples(spark, "/root/testdata/sf0.001").cache()
    # the cached triples plan equals the driver's q_triples_all plan, so a
    # leaked cache would stand in for that query in later plan tests
    try:
        got = trips.select(*KEY).distinct()
        exp = golden.select(*KEY).distinct()
        n_got, n_exp = got.count(), exp.count()
        tp = got.join(exp, KEY, "inner").count()
        precision, recall = tp / n_got, tp / n_exp
        assert precision >= 0.95 and recall >= 0.95, (precision, recall)
        # full-column exactness, both directions
        assert trips.select(*ALL).exceptAll(golden.select(*ALL)).count() == 0
        assert golden.select(*ALL).exceptAll(trips.select(*ALL)).count() == 0
    finally:
        trips.unpersist()
        golden.unpersist()


def test_span_sequence_invariant(spark):
    from pdf2ontology_spark.operators import segment

    docs = tables.load_documents_spans(spark, "/root/testdata/sf0.001")
    chk = segment.span_sequence_check(docs)
    assert chk.filter("NOT is_ordered").count() == 0

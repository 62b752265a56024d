"""Triple-rule tests: exact expected rows for the fallback rule
(/root/reference/src/knowledge_extractor/triplet_extractor.py:339-384)
and the sentence patterns."""

import json

from pyspark.sql import Row

from pdf2ontology_spark.operators import segment, triples


def test_fallback_rule_exact(spark):
    cells = [
        {"row": 0, "col": 0, "text": "Parameter"},
        {"row": 0, "col": 1, "text": "Wert"},
        {"row": 1, "col": 0, "text": "durchfluss"},
        {"row": 1, "col": 1, "text": "20-50 l/min"},
        {"row": 2, "col": 0, "text": "Stellort"},
        {"row": 2, "col": 1, "text": "Kesselhaus"},
        {"row": 3, "col": 0, "text": "leer"},
        {"row": 3, "col": 1, "text": ""},
    ]
    docs = spark.createDataFrame(
        [Row(doc_id="d", spans=[Row(kind="table", text=json.dumps(cells), media_ref="", offset=0)])],
    )
    out = triples.table_triples(docs).collect()
    got = {
        (r.subj_name, r.subj_type, r.predicate, r.obj_name, r.obj_type, r.confidence,
         r.source_sentence, r.extraction_method)
        for r in out
    }
    assert got == {
        ("durchfluss", "concept", "related_to", "20-50 l/min", "numeric", 0.6,
         "durchfluss has value of 20-50 l/min", "fallback_rule_based"),
        ("Stellort", "concept", "related_to", "Kesselhaus", "location", 0.6,
         "Stellort has value of Kesselhaus", "fallback_rule_based"),
    }


def test_reference_strict_caps_three_rows(spark):
    cells = [{"row": 0, "col": 0, "text": "P"}, {"row": 0, "col": 1, "text": "V"}]
    for i in range(1, 6):
        cells += [
            {"row": i, "col": 0, "text": f"p{i}"},
            {"row": i, "col": 1, "text": str(i)},
        ]
    docs = spark.createDataFrame(
        [Row(doc_id="d", spans=[Row(kind="table", text=json.dumps(cells), media_ref="", offset=0)])],
    )
    assert triples.table_triples(docs).count() == 5
    # the reference processes data_rows[:3] only (triplet_extractor.py:358)
    strict = triples.table_triples(docs, reference_strict=True)
    assert {r.subj_name for r in strict.collect()} == {"p1", "p2", "p3"}


def test_text_patterns(spark):
    docs = spark.createDataFrame(
        [
            Row(
                doc_id="d",
                spans=[
                    Row(kind="text", text="Die Anlage Pumpe P-100 befindet sich im Kesselhaus.",
                        media_ref="", offset=0),
                    Row(kind="text", text="Samson AG liefert Regler R-20.", media_ref="", offset=1),
                    Row(kind="text", text="Technische Änderungen vorbehalten.", media_ref="", offset=2),
                    Row(kind="title", text="Die Anlage X befindet sich im Y.", media_ref="", offset=3),
                ],
            )
        ],
    )
    got = {
        (r.subj_name, r.predicate, r.obj_name, r.subj_type, r.obj_type)
        for r in triples.text_triples(docs).collect()
    }
    # title spans are not text spans -> no extraction from offset 3
    assert got == {
        ("Pumpe P-100", "located_in", "Kesselhaus", "product", "location"),
        ("Samson AG", "produces", "Regler R-20", "organization", "product"),
    }


def test_numeric_location_typing(spark):
    from pdf2ontology_spark.rules import classify_value

    assert classify_value("20-50 l/min") == "numeric"
    assert classify_value("5.2 bar") == "numeric"
    assert classify_value("20") == "numeric"
    assert classify_value("-10 °C") == "numeric"
    assert classify_value("Kesselhaus") == "location"
    assert classify_value("flüssig") == "other"


def test_multi_level_cross_span_merge(spark):
    """W5: a sentence split across 3+ text spans reassembles (reference
    CrossPageContent chains, content_models.py:55-82); terminated spans
    end a run even mid-document."""
    docs = spark.createDataFrame(
        [
            Row(
                doc_id="d",
                spans=[
                    Row(kind="text", text="Die Anlage Pumpe P-100", media_ref="", offset=0),
                    Row(kind="text", text="befindet sich im", media_ref="", offset=1),
                    Row(kind="media", text="", media_ref="m://x", offset=2),
                    Row(kind="text", text="Kesselhaus.", media_ref="", offset=3),
                    Row(kind="text", text="Eigener Satz.", media_ref="", offset=4),
                    Row(kind="text", text="Offenes Ende ohne Punkt", media_ref="", offset=5),
                ],
            )
        ],
    )
    got = {r.offset: r.sentence for r in segment.merged_text_sentences(docs).collect()}
    assert got == {
        0: "Die Anlage Pumpe P-100 befindet sich im Kesselhaus.",
        4: "Eigener Satz.",
        5: "Offenes Ende ohne Punkt",
    }
    trip = triples.text_triples(docs).collect()
    assert {(t.subj_name, t.predicate, t.obj_name) for t in trip} == {
        ("Pumpe P-100", "located_in", "Kesselhaus")
    }


def test_ner_mentions_typed(spark):
    from pdf2ontology_spark.operators import ner

    docs = spark.createDataFrame(
        [
            Row(
                doc_id="d",
                spans=[
                    Row(kind="text", text="Samson AG liefert Pumpe P-100.", media_ref="", offset=0),
                    Row(kind="text", text="Die Anlage befindet sich im Kesselhaus.", media_ref="", offset=1),
                ],
            )
        ],
    )
    got = {(r.name, r.entity_type): r.char_pos for r in ner.ner_mentions(docs).collect()}
    assert got[("Samson AG", "organization")] == 1
    assert got[("Pumpe P-100", "product")] == 19
    assert ("Kesselhaus", "location") in got


def test_ner_typ_products_umlauts_and_boundaries(spark):
    from pdf2ontology_spark.operators import ner

    docs = spark.createDataFrame(
        [
            Row(
                doc_id="d",
                spans=[
                    Row(kind="text", text="Das Ventil Typ 3241 ist Teil von Regler R-20.", media_ref="", offset=0),
                    Row(kind="text", text="Müller AG liefert Teile für Halle 34.", media_ref="", offset=1),
                ],
            )
        ],
    )
    got = {(r.name, r.entity_type) for r in ner.ner_mentions(docs).collect()}
    assert ("Ventil Typ 3241", "product") in got      # 'Typ' + bare digits
    assert ("Regler R-20", "product") in got
    assert ("Müller AG", "organization") in got       # umlaut interior
    # 'Halle 3' must NOT fire inside 'Halle 34' (word boundary)
    assert ("Halle 3", "location") not in got


def test_reference_caps_and_accounting(spark):
    """MAX_TRIPLETS_PER_DOCUMENT / MAX_ENTITIES_PER_EXTRACTION
    reproduction (reference config.py:21-22): deterministic first-N per
    doc, with the truncation accounted instead of silent."""
    from pyspark.sql import functions as F

    from pdf2ontology_spark.operators import triples as tr

    rows = [
        ("d1", None, f"s{i:03d}", "concept", "related_to", f"o{i:03d}", "other",
         0.6, f"s{i:03d} has value of o{i:03d}", "fallback_rule_based")
        for i in range(7)
    ] + [
        ("d2", None, "a", "concept", "related_to", "b", "other",
         0.6, "a has value of b", "fallback_rule_based")
    ]
    schema = ("doc_id string, table_id string, subj_name string, subj_type string, "
              "predicate string, obj_name string, obj_type string, confidence double, "
              "source_sentence string, extraction_method string")
    df = spark.createDataFrame(rows, schema)

    capped = tr.cap_triples_per_doc(df, max_per_doc=5)
    per_doc = {r.doc_id: r.n for r in capped.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert per_doc == {"d1": 5, "d2": 1}
    # deterministic: the kept d1 rows are the 5 smallest subj_names
    kept = sorted(r.subj_name for r in capped.filter("doc_id = 'd1'").collect())
    assert kept == [f"s{i:03d}" for i in range(5)]

    acct = tr.cap_accounting(df, max_per_doc=5).collect()[0]
    assert (acct.docs_total, acct.docs_truncated, acct.triples_dropped) == (2, 1, 2)

    ents = tr.entities_per_doc_capped(df, max_entities=3)
    per_doc_e = {r.doc_id: r.n for r in ents.groupBy("doc_id").agg(F.count("*").alias("n")).collect()}
    assert per_doc_e == {"d1": 3, "d2": 2}

    # the reference defaults never bind on small extractions
    assert tr.cap_triples_per_doc(df).count() == df.count()
    assert tr.entities_per_doc_capped(df).count() == 16

"""Graph materialization: canonicalization, J1 auto-create, integrity."""

from pyspark.sql import Row

from pdf2ontology_spark.operators import graph


def _triples(spark, rows):
    return spark.createDataFrame(
        rows,
        schema="doc_id string, table_id string, subj_name string, subj_type string,"
        "predicate string, obj_name string, obj_type string, confidence double,"
        "source_sentence string, extraction_method string",
    )


def test_nodes_merge_aliases(spark):
    t = _triples(
        spark,
        [
            ("d1", None, "Samson AG", "organization", "produces", "Ventil", "product", 0.8, "s", "m"),
            ("d2", None, "SAMSON", "organization", "produces", "Ventil", "product", 0.8, "s", "m"),
            ("d3", None, "Samson A.G.", "organization", "produces", "Ventil", "product", 0.8, "s", "m"),
            ("d4", None, "SAMSON", "organization", "produces", "Regler", "product", 0.8, "s", "m"),
        ],
    )
    nodes = {r.canonical_form: r for r in graph.nodes(t).collect()}
    # the three surface forms normalize to "samson" -> one node
    org = [r for r in nodes.values() if r.entity_type == "organization"]
    assert len(org) == 1
    assert sorted(org[0].aliases) == ["SAMSON", "Samson A.G.", "Samson AG"]
    assert org[0].mention_count == 4
    assert org[0].canonical_form == "SAMSON"  # most frequent surface form


def test_edges_weight_and_integrity(spark):
    t = _triples(
        spark,
        [
            ("d1", None, "A", "product", "contains", "B", "product", 0.8, "s", "m"),
            ("d2", None, "A", "product", "contains", "B", "product", 0.6, "s", "m"),
            ("d3", None, "a", "product", "contains", "B", "product", 0.7, "s", "m"),
        ],
    )
    n, e = graph.nodes(t), graph.edges(t)
    edges = e.collect()
    assert len(edges) == 1  # "A" and "a" canonicalize together
    assert edges[0].weight == 3.0
    assert edges[0].confidence == 0.8
    assert graph.integrity_violations(n, e).count() == 0


def test_auto_create_entities(spark):
    entities = spark.createDataFrame(
        [("A", "product", 0.9)], "name string, entity_type string, confidence double"
    )
    relations = spark.createDataFrame(
        [("A", "B"), ("C", "A")], "subj_name string, obj_name string"
    )
    out = {r.name: r for r in graph.auto_create_entities(entities, relations).collect()}
    assert out["A"].auto_created is False and out["A"].entity_type == "product"
    assert out["B"].auto_created is True and out["B"].entity_type == "other"
    assert out["B"].confidence == 0.7  # triplet_extractor.py:289
    assert out["C"].auto_created is True


def test_ontology_classes_and_node_class_join(spark):
    t = _triples(
        spark,
        [
            ("d1", None, "Samson AG", "organization", "produces", "Ventil", "product", 0.8, "s1", "m"),
            ("d2", None, "Ventil", "product", "related_to", "42 bar", "numeric", 0.6, "s2", "m"),
        ],
    )
    nodes = graph.nodes(t)
    classes = {r.name: r for r in graph.ontology_classes(spark, nodes).collect()}
    assert len(classes) == 13  # 11 reference EntityTypes + value + entity
    assert classes["organization"].n_instances == 1
    assert classes["numeric"].parent_class == "value"
    assert classes["value"].parent_class == "entity"
    assert classes["person"].n_instances == 0
    # metadata parity columns exist and are populated
    n = {r.name: r for r in nodes.collect()}
    assert n["Ventil"].mentions == ["s1", "s2"]
    assert n["Ventil"].uri.startswith("urn:entity:product:")
    assert n["Ventil"].external_ids["urn"] == n["Ventil"].uri
    e = graph.edges(t).collect()[0]
    assert e.negated is False and e.modality is None


def test_graph_stats_rollup(spark):
    """KnowledgeGraph.statistics/quality_metrics KV rollup: counts,
    confidence stats, per-method counts, relation-derived fraction."""
    t = _triples(
        spark,
        [
            ("d1", None, "A", "product", "contains", "B", "product", 0.8, "s", "m1"),
            ("d1", None, "A", "product", "contains", "C", "product", 0.6, "s", "m1"),
            ("d2", None, "B", "product", "has", "5 bar", "numeric", 0.9, "s", "m2"),
        ],
    )
    stats = {
        r.stat: r.value
        for r in graph.graph_stats(t, graph.nodes(t), graph.edges(t)).collect()
    }
    assert stats["n_triples"] == 3.0
    assert stats["n_docs"] == 2.0
    assert stats["n_predicates"] == 2.0
    assert stats["n_method_m1"] == 2.0 and stats["n_method_m2"] == 1.0
    assert stats["max_confidence"] == 0.9
    # mean = 2.3/3 floored at 1e-4
    assert stats["mean_confidence"] == 0.7666
    # entities: A B C "5 bar" -> 4 nodes; C and "5 bar" never subjects
    assert stats["n_entities"] == 4.0
    assert stats["auto_created_fraction"] == 0.5
    assert stats["n_edges"] == 3.0

"""Streaming graph materialization: the same corpus arriving as 3
micro-batch drops, incrementally upserted into the surfaces /
edge_surfaces stage tables via merge_upsert, must derive EXACTLY the
batch graph.nodes/graph.edges over the full corpus."""

from pyspark.sql import functions as F

from pdf2ontology_spark import schemas
from pdf2ontology_spark.operators import graph, triples
from pdf2ontology_spark.sources import tables
from pdf2ontology_spark.streaming.incremental import (
    graph_batch_handler,
    read_stream_edges,
    read_stream_nodes,
    stream_graph_upsert,
)

SF = "/root/testdata/sf0.001"


def test_stream_graph_three_chunks_matches_batch(spark, tmp_path):
    docs = tables.load_documents_spans(spark, SF).cache()
    in_dir = str(tmp_path / "in")
    out_base = str(tmp_path / "graph")
    ckpt = str(tmp_path / "ck")

    chunk = F.pmod(F.xxhash64("doc_id"), F.lit(3))
    for i in range(3):
        docs.filter(chunk == i).write.mode("append").parquet(in_dir)
        q = stream_graph_upsert(spark, in_dir, out_base, ckpt, available_now=True)
        q.awaitTermination(180)

    def comparable(df):
        # set operations reject MAP columns: serialize them
        return df.select(
            *[
                F.to_json(c).alias(c) if t.startswith("map") else F.col(c)
                for c, t in df.dtypes
            ]
        )

    batch_triples = triples.all_triples_fused(docs)
    for streamed, batch, key in [
        (read_stream_nodes(spark, out_base), graph.nodes(batch_triples), "entity_id"),
        (read_stream_edges(spark, out_base), graph.edges(batch_triples), "edge_id"),
    ]:
        s = comparable(streamed.select(*batch.columns))
        b = comparable(batch)
        assert s.exceptAll(b).count() == 0, f"extra {key} rows in stream result"
        assert b.exceptAll(s).count() == 0, f"missing {key} rows in stream result"

    # idempotent resume: re-running with nothing new must not change the
    # stages (exactly-once source tracking via the streaming checkpoint)
    n_nodes = read_stream_nodes(spark, out_base).count()
    q = stream_graph_upsert(spark, in_dir, out_base, ckpt, available_now=True)
    q.awaitTermination(120)
    assert read_stream_nodes(spark, out_base).count() == n_nodes
    # unpersist: a cached docs plan left registered would silently turn
    # later plan-shape tests' parquet scans into InMemoryTableScans
    docs.unpersist()


def test_graph_batch_replay_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: delivering the SAME (batch_id,
    data) twice — the post-crash replay — must not double-add counts;
    a NEW batch id with the same data must (it is genuinely new data).
    Both stages keep the guard: node mention counts and edge weights."""
    docs = tables.load_documents_spans(spark, SF).cache()
    part = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(3)) == 0).cache()
    out_base = str(tmp_path / "graph")
    ckpt = str(tmp_path / "ck")
    handler = graph_batch_handler(spark, out_base, ckpt)

    def counts():
        nodes = {
            r.entity_id: r.mention_count
            for r in read_stream_nodes(spark, out_base).collect()
        }
        edges = {r.edge_id: r.weight for r in read_stream_edges(spark, out_base).collect()}
        return nodes, edges

    def scaled(k):
        return tuple({key: k * v for key, v in c.items()} for c in first)

    handler(part, 0)
    first = counts()
    assert first[0] and first[1]

    handler(part, 0)  # exact replay -> no-op
    assert counts() == first

    handler(part, 1)  # same rows, NEW batch -> counts must grow
    assert counts() == scaled(2)

    # a fresh stream (different checkpoint, ids restart) must APPLY its
    # batch 0 even though the stage high-water mark is already 1
    other = graph_batch_handler(spark, out_base, str(tmp_path / "ck2"))
    other(part, 0)
    assert counts() == scaled(3)
    part.unpersist()
    docs.unpersist()


def test_graph_batch_handler_releases_its_extraction(spark, tmp_path):
    """Each applied micro-batch runs the extraction once for both stage
    merges (a counting pass in front of the batch sees each row once per
    call) and releases it afterwards: after three handler calls no RDD
    persisted during the calls is left."""
    part = tables.load_documents_spans(spark, SF).filter(
        F.pmod(F.xxhash64("doc_id"), F.lit(3)) == 0
    )
    n_rows = part.count()
    read = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for batch in batches:
            read.add(batch.num_rows)
            yield batch

    counted = part.mapInArrow(count_rows, part.schema)
    handler = graph_batch_handler(spark, str(tmp_path / "graph"), str(tmp_path / "ck"))
    persisted = spark.sparkContext._jsc.getPersistentRDDs
    before = set(persisted().keys())
    for batch_id in range(3):
        handler(counted, batch_id)
        assert read.value == (batch_id + 1) * n_rows, (batch_id, read.value)
    assert set(persisted().keys()) - before == set()


def test_graph_outputs_match_declared_schemas(spark):
    """graph.nodes / graph.edges carry exactly the field names and types
    of schemas.NODES / schemas.EDGES (nullability is plan metadata, so
    types compare without it). The streamed tables are held to the
    batch ones by test_stream_graph_three_chunks_matches_batch."""
    trips = triples.all_triples_fused(tables.load_documents_spans(spark, SF).limit(20))

    def fields(struct):
        return [(f.name, f.dataType.simpleString()) for f in struct.fields]

    assert fields(graph.nodes(trips).schema) == fields(schemas.NODES)
    assert fields(graph.edges(trips).schema) == fields(schemas.EDGES)

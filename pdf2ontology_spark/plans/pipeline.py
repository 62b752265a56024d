"""The flagship KG-construction pipeline (SURVEY.md §7.1):

documents(spans) -> triples -> canonicalized nodes + edges
documents(spans) -> spans -> good spans + quarantine side table

Extraction (table cells -> semantic entries -> fallback rule, plus the
merged-sentence patterns) is one per-document expression,
triples.all_triples_fused. Each arrow is a pure DataFrame transform;
with a CheckpointStore the stage outputs are persisted and the run
resumes idempotently.

Shuffle budget end-to-end (scale analysis, 1000-executor framing):
1. documents: 1 shuffle, the salted repartition below.
2. spans/quarantine: narrow explode + filter — 0 shuffles.
3. triples: narrow — every rule is an array expression over one
   document row, 0 shuffles.
4. nodes/edges: endpoint ids are pure expressions, so only the final
   groupBys shuffle — 1 shuffle each on entity/edge key. Entity keys are
   the classic skew risk (popular entities); AQE skew handling is on,
   and the two-level aggregation in graph.nodes() gives map-side partial
   combines, so hot keys reduce before the exchange.
Media-heavy docs skew SPAN-level partitions: the input is repartitioned
by a salted doc hash before the explode when ``salt`` > 1.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf2ontology_spark.operators import graph, quarantine, segment, triples
from pdf2ontology_spark.sources import tables
from pdf2ontology_spark.sources.checkpoint import CheckpointStore


def salted_repartition(docs: DataFrame, n_partitions: int, salt: int) -> DataFrame:
    """Spread media-heavy documents across partitions: hash(doc_id) plus
    a per-row salt derived from span count, so one 50-media-span doc does
    not pin a straggler partition (north-rule skew requirement). The
    span-sequence invariant is untouched — spans stay nested per row and
    downstream grouping keys include doc_id."""
    if salt <= 1:
        return docs.repartition(n_partitions, F.col("doc_id"))
    return docs.repartition(
        n_partitions,
        F.concat_ws(
            "#",
            F.col("doc_id"),
            F.pmod(F.xxhash64("doc_id", F.size("spans")), F.lit(salt)).cast("string"),
        ),
    )


def run_kg_pipeline(
    spark: SparkSession,
    sf_dir: str,
    ckpt: CheckpointStore | None = None,
    salt: int = 4,
) -> dict[str, DataFrame]:
    """Run the full pipeline; returns every stage as a DataFrame."""
    # repartition=False: the salted repartition below is this plan's own
    # (single) post-scan shuffle — don't pay a second one in the loader
    docs = tables.load_documents_spans(spark, sf_dir, repartition=False)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    docs = salted_repartition(docs, n_part, salt)

    def st(name: str, fn):
        if ckpt is None:
            return fn()
        return ckpt.stage(name, fn)

    all_spans = st("spans", lambda: segment.explode_spans(docs))
    # input guard (F2): invalid spans go to a quarantine side table (with
    # its own _metrics row under a CheckpointStore) and never throw
    spans, rejected = quarantine.split_spans(all_spans)
    bad_spans = st("quarantine_spans", lambda: rejected)
    # extraction reads the documents, not the spans stage: its span
    # validity filter is split_spans' contract for the kinds it reads
    trips = st("triples", lambda: triples.all_triples_fused(docs))
    nodes_df = st("nodes", lambda: graph.nodes(trips))
    edges_df = st("edges", lambda: graph.edges(trips))
    return {
        "documents": docs,
        "spans": spans,
        "quarantine": bad_spans,
        "triples": trips,
        "nodes": nodes_df,
        "edges": edges_df,
    }

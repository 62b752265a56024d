"""Production entry point for spark-submit (north rule: "run via
spark-submit --py-files at two cluster sizes").

Usage (local sandbox):
  spark-submit --master local[32] scripts/submit_pipeline.py \
      --sf-dir /root/testdata/sf0.1 --output /tmp/kg_out --ckpt /tmp/kg_ckpt

Cluster (the only changes are master/packaging — no code changes):
  zip -r pdf2ontology_spark.zip pdf2ontology_spark
  spark-submit --master yarn --deploy-mode cluster \
      --py-files pdf2ontology_spark.zip \
      --conf spark.sql.shuffle.partitions=<2-3x total cores> \
      --conf spark.sql.adaptive.enabled=true \
      --conf spark.python.daemon.module=pdf2ontology_spark.worker_daemon \
      scripts/submit_pipeline.py --sf-dir s3://... --output s3://... --ckpt s3://...

The daemon module (the one ``get_spark`` sets; it stops every Python
task from re-reading pyspark.zip and the spark-core jar) is imported
when an executor starts its Python daemon, before any task has put its
``--py-files`` on ``sys.path``. So the package must already be
importable there: installed on the executors, or on the path that
``spark.executorEnv.PYTHONPATH`` gives them. Where it is not, leave that
line out and the stock daemon runs.

The job: documents spans -> spans + quarantine side table -> triples ->
exact-key nodes and edges (graph.nodes/graph.edges: surface forms with
the same normalized key and type merge; no LSH canonicalization).
Every stage is checkpointed under --ckpt (resume on re-submit) and
appends one _metrics row per written file. --output receives the
triples, nodes and edges tables. Exit code 0 only if the span-sequence
invariant holds and the graph integrity anti-join is empty.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

from pdf2ontology_spark.operators import graph, segment  # noqa: E402
from pdf2ontology_spark.plans.pipeline import run_kg_pipeline  # noqa: E402
from pdf2ontology_spark.sources import tables  # noqa: E402
from pdf2ontology_spark.sources.checkpoint import CheckpointStore  # noqa: E402


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    p.add_argument("--output", required=True)
    p.add_argument("--ckpt", required=True)
    p.add_argument("--run-id", default="submit")
    args = p.parse_args()

    # under spark-submit the session comes from the submit conf; the
    # builder only fills gaps when run directly with plain python
    spark = SparkSession.builder.appName("pdf2ontology_pipeline").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    docs = tables.load_documents_spans(spark, args.sf_dir)
    bad = segment.span_sequence_check(docs).filter("NOT is_ordered").count()
    if bad:
        print(json.dumps({"status": "failed", "reason": f"{bad} docs violate span order"}))
        return 2

    ckpt = CheckpointStore(spark, args.ckpt, run_id=args.run_id)
    out = run_kg_pipeline(spark, args.sf_dir, ckpt=ckpt)

    tables.write_table(out["triples"], os.path.join(args.output, "triples"))
    tables.write_table(out["nodes"], os.path.join(args.output, "nodes"))
    tables.write_table(out["edges"], os.path.join(args.output, "edges"))

    violations = graph.integrity_violations(out["nodes"], out["edges"]).count()
    stats = {
        "status": "ok" if violations == 0 else "integrity_violations",
        "violations": violations,
        "n_triples": out["triples"].count(),
        "n_nodes": out["nodes"].count(),
        "n_edges": out["edges"].count(),
    }
    print(json.dumps(stats))
    return 0 if violations == 0 else 3


if __name__ == "__main__":
    raise SystemExit(main())

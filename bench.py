"""Benchmark harness (driver contract): runs the headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line.

Protocol (noisy-host hardened, BENCH/BASELINE.md): this shared host
shows up to 4x wall-clock swings for identical jobs, so a single pass
per query measures the host, not the plan. Each query therefore runs
``1 + SPARK_GRAFT_BENCH_REPS`` times (default 1 warmup + 3 timed),
INTERLEAVED — pass 1 of every query, then pass 2 of every query, ... —
so a slow host phase lands on many queries a little instead of one
query fully. The reported per-query number is the MIN over timed reps
(the closest observable to plan cost under external noise); the raw
rep matrix is included in the JSON so regressions can be separated
from noise after the fact.

Each query is forced end-to-end with the noop sink (full
materialization, no disk-write variance). The flagship metric is
triples/sec for the complete extraction pipeline (BASELINE.json:
"triples/sec throughput"). Synthetic-corpus generation is cached and
excluded from timings.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pdf2ontology_spark import synth  # noqa: E402
from pdf2ontology_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
WARMUP = max(0, int(os.environ.get("SPARK_GRAFT_BENCH_WARMUP", "1")))

BENCH_QUERIES = [
    "segment_spans",
    "doc_stats",
    "reassemble_text",
    "table_cells",
    "relationship_entries",
    "triples_all",
    "entities_distinct",
    "nodes",
    "edges",
    "canonical_nodes_lsh",
    "minhash_pairs",
    "simhash",
    "lang_id",
    "token_count",
    "ann_brute_topk",
    "assess_media",
    # round-2 additions
    "embedding_cosine_pairs",
    "grid_row_maps",
    "preprocessed_media",
    # round-4 additions
    "media_quality",
    # round-5 additions
    "skew_rotation",
]


def _force(make_df) -> float:
    """Time query CONSTRUCTION + execution: building a plan does driver
    work a user waits for too (the first parquet schema read, scan-width
    probes), so timing only the final action would under-report it."""
    t0 = time.monotonic()
    make_df().write.format("noop").mode("overwrite").save()
    return time.monotonic() - t0


def main() -> None:
    import __spark_entry__ as entry

    synth.ensure_synth(SF_DIR)  # cached; generation excluded from timing
    synth.ensure_blobs(SF_DIR)  # PNG blob store, cached likewise
    spark = get_spark(app_name="pdf2ontology_bench")
    spark.sparkContext.setLogLevel("ERROR")

    qs = entry.queries()
    reps: dict[str, list[float]] = {name: [] for name in BENCH_QUERIES}
    for pass_i in range(WARMUP + REPS):
        for name in BENCH_QUERIES:  # interleaved: one pass of EVERY query
            t = round(_force(lambda n=name: qs[n](spark, SF_DIR)), 3)
            if pass_i >= WARMUP:
                reps[name].append(t)

    timings = {name: min(ts) for name, ts in reps.items()}

    # flagship throughput: triples/sec over the full extraction
    n_triples = entry.q_triples_all(spark, SF_DIR).count()
    triples_sec = n_triples / timings["triples_all"] if timings["triples_all"] else 0.0

    sf = os.path.basename(SF_DIR.rstrip("/")).replace("sf", "")
    try:
        sf_num = float(sf)
    except ValueError:
        sf_num = 0.1
    result = {
        "metric": "kg_pipeline_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_num,
        "n_triples": n_triples,
        "triples_per_sec": round(triples_sec, 1),
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count())),
        "protocol": {"warmup": WARMUP, "reps": REPS, "interleaved": True, "stat": "min"},
        "raw_reps": reps,
    }
    spark.stop()
    print(json.dumps(result))


if __name__ == "__main__":
    main()

"""End-to-end benchmark of the KG-construction engine.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 6 --trace 0

Run from the repository root. One run is one fresh process with one
SparkSession on ``local[3]`` (one of four cores stays free for the
driver JVM, driver Python and GC). The seeded corpus (5,000 documents,
tag ``sf0.01``) and its PNG blob store are generated once per seed
under ``.perfbench_work/`` and handed to the program as parquet files.

A run times the set-up, one cold pass, then warm passes until
``--seconds`` of warm time is spent, checks the last pass's outputs,
and prints one JSON line: the end-to-end metrics with ``--trace 0``;
with ``--trace 1`` an untraced and a traced warm pass, folded per layer
(``perfbench/spans.py``). See ``perfbench/NOTES.md``.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import threading
import time
import traceback
from contextlib import nullcontext

T_START = time.perf_counter()

import spans as tr  # noqa: E402  (pure Python; the perfbench directory is on sys.path)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
TAG = "sf0.01"
CPUS = 3
DRIVER_MEM = "2g"
# stop adding warm passes once the run is this old (a run must end in 180 s)
WARM_DEADLINE_S = 110.0

WORKLOADS = ("kg_build", "media_prep")
END_TO_END = {"setup_s": "s", "docs_per_s": "1/s", "items_per_s": "1/s"}
GENERIC = (
    "wall_s", "self_s", "driver_s", "jobs", "tasks", "task_s", "cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "rows_out",
)
PYTHON = ("py_run_s", "py_sent_mb", "py_recv_mb")
LAYERS = ("sources", "triples", "graph", "linking", "components", "media", "imaging")
PY_LAYERS = ("components", "media", "imaging")
SINGLES = (
    "session.wall_s", "process.first_pass_s", "process.peak_rss_mb",
    "segment.wall_s", "segment.self_s", "segment.rows_out", "segment.quarantined_per_span",
    "linking.candidates", "linking.verified_per_candidate",
    "components.edges", "components.gather",
    "media.py_sent_per_blob_byte",
    "png_codec.decode_ms_per_kimg", "media.quality_ms_per_kimg",
    "orientation.ms_per_kimg", "imaging.chain_ms_per_kimg",
    "trace.total_s", "trace.untraced_s", "trace.uncovered_s",
)


def per_layer_names() -> list[str]:
    names = [f"{layer}.{k}" for layer in LAYERS for k in GENERIC]
    names += [f"{layer}.{k}" for layer in PY_LAYERS for k in PYTHON]
    return names + list(SINGLES)


def unit_of(name: str) -> str:
    key = name.split(".", 1)[1]
    if key.endswith("_ms_per_kimg"):
        return "ms/kimg"
    if key.endswith("_s"):
        return "s"
    if key.endswith("_mb"):
        return "MB"
    if key.endswith(("_per_span", "_per_candidate", "_per_blob_byte")):
        return "ratio"
    return "count"


# ------------------------------------------------------------ process


def configure_env(tmp: str, eventlog: str | None) -> None:
    """Point every scratch path at the run's own directory and size the
    session; must run before pyspark launches the JVM."""
    os.makedirs(tmp, exist_ok=True)
    pypath = os.environ.get("PYTHONPATH", "")
    os.environ.update(
        SPARK_GRAFT_CPUS=str(CPUS),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_SYNTH_DIR=os.path.join(WORK, "synth-default"),
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=ROOT + (os.pathsep + pypath if pypath else ""),
        # no hsperfdata files in /tmp from the launcher or the driver JVM
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=(
            "--driver-java-options "
            + shlex.quote(f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}")
            + " pyspark-shell"
        ),
    )
    for var in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_MAX_PARTITION_BYTES", "SPARK_GRAFT_EVENTLOG"):
        os.environ.pop(var, None)
    if eventlog:
        os.environ["SPARK_GRAFT_EVENTLOG"] = eventlog


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of every descendant of ``root`` (the JVM, the
    PySpark daemon and its Python workers)."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    total, todo = 0, list(kids.get(root, []))
    page = os.sysconf("SC_PAGE_SIZE")
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakRss:
    """Samples the resident memory of this process's descendants."""

    def __init__(self, period_s: float = 0.25):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, args=(period_s,), daemon=True)

    def _run(self, period_s: float) -> None:
        me = os.getpid()
        while True:
            self.peak = max(self.peak, _tree_rss_bytes(me))
            if self._stop.wait(period_s):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM to exit (it exits when its stdin,
    a pipe from this process, closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# ------------------------------------------------------------ run


def prepare_corpus(seed: int, blobs: bool) -> dict:
    from pdf2ontology_spark import synth

    base = os.path.join(WORK, f"seed-{seed}")
    paths = synth.ensure_synth(TAG, base, seed)
    if blobs:
        paths.update(synth.ensure_blobs(TAG, base, seed))
    return paths


def start_session():
    from pdf2ontology_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def run(args, scratch: str) -> dict | None:
    tmp = os.path.join(scratch, "tmp")
    eventlog = os.path.join(scratch, "eventlog") if args.trace else None
    configure_env(tmp, eventlog)
    sys.path.insert(0, ROOT)

    t0 = time.perf_counter()
    data = prepare_corpus(args.seed, blobs=args.workload == "media_prep")
    prep_s = time.perf_counter() - t0
    spark = start_session()
    setup_s = time.perf_counter() - T_START - prep_s

    import pyarrow.parquet as pq
    from workloads import FLOWS

    flow = FLOWS[args.workload](spark, data, os.path.join(scratch, "out"))
    n_docs = pq.read_metadata(data["documents_spans"]).num_rows
    failed = 0
    times: list[float] = []

    def one_pass(tracer) -> bool:
        """Run and time one pass; a pass that raises counts as failed."""
        nonlocal failed
        t = time.perf_counter()
        try:
            hooks = flow.traced_calls(tracer) if tracer.active else nullcontext()
            with hooks, tracer.span("pass"):
                flow.run_pass(tracer)
        except Exception:
            traceback.print_exc()
            failed += 1
            return False
        finally:
            if not tracer.active:
                spark.catalog.clearCache()
        times.append(time.perf_counter() - t)
        return True

    try:
        with PeakRss() if args.trace else nullcontext() as rss:
            if args.trace:
                tracer = tr.Tracer(
                    lambda name: spark.sparkContext.setLocalProperty("spark.jobGroup.id", name),
                    trace_id=f"{args.workload}-{args.seed}",
                )
                if not (one_pass(tr.NullTracer()) and one_pass(tr.NullTracer()) and one_pass(tracer)):
                    return None
                tracer.set_group("counters")
                counters = flow.counters()
                tracer.set_group(None)
            else:
                ok = one_pass(tr.NullTracer())
                while ok and (
                    len(times) < 2
                    or sum(times[1:]) < args.seconds
                    and time.perf_counter() - T_START < WARM_DEADLINE_S
                ):
                    ok = one_pass(tr.NullTracer())
                if len(times) < 2:
                    return None
            errors = flow.check()
            items = flow.items()
            spark.catalog.clearCache()
        app_id = spark.sparkContext.applicationId
    finally:
        stop_session(spark)
    for e in errors:
        print(f"perfbench: gate: {e}", file=sys.stderr)
    failed += bool(errors)

    if args.trace:
        values = layer_report(tracer, eventlog, app_id, counters, flow)
        values.update({
            "session.wall_s": setup_s,
            "process.first_pass_s": times[0],
            "process.peak_rss_mb": rss.peak / tr.MB,
            "trace.untraced_s": times[1],
        })
        units = {k: unit_of(k) for k in values}
    else:
        warm = statistics.median(times[1:])
        values = {
            "setup_s": setup_s,
            "docs_per_s": n_docs / warm,
            "items_per_s": items / warm,
        }
        units = END_TO_END
    return {
        "correct": not failed,
        "attempted": len(times) + failed,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }


def layer_report(tracer, eventlog: str, app_id: str, counters: dict, flow) -> dict:
    """Every per-layer metric: the traced pass's spans folded with the
    event log by job group; layers the workload leaves idle read 0."""
    (log,) = glob.glob(os.path.join(eventlog, f"{app_id}*"))
    with open(log) as f:
        groups, jobs = tr.fold_event_log(f)
    layers = tr.layer_metrics(tracer.spans, groups, jobs)
    out = dict.fromkeys(per_layer_names(), 0)
    for layer, m in layers.items():
        for k, v in m.items():
            if f"{layer}.{k}" in out:
                out[f"{layer}.{k}"] = v
    root = layers["pass"]
    out["trace.total_s"] = root["wall_s"]
    out["trace.uncovered_s"] = root["self_s"]
    blob_bytes = getattr(flow, "blob_bytes", 0)
    if blob_bytes:
        sent = layers.get("media", {}).get("py_sent_mb", 0) + layers.get("imaging", {}).get(
            "py_sent_mb", 0
        )
        out["media.py_sent_per_blob_byte"] = sent * tr.MB / blob_bytes
    out.update(counters)
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=6)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "pdf2ontology_spark", "__init__.py")):
        print(f"perfbench: no pdf2ontology_spark package under {ROOT}", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        result = run(args, scratch)
    except Exception:
        traceback.print_exc()
        result = None
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    if result is None:
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

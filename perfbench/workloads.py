"""The benchmark's workloads: one pass of each flow, and its gate.

Each flow makes the same public calls a caller of the library makes.
Under a ``spans.Tracer`` every layer call runs in its own span and job
group, and its output is persisted once (``Tracer.materialize``) so a
span does not re-cover upstream work; under ``spans.NullTracer`` the
same code builds the lazy plans a user runs.

Every pass writes its outputs as parquet under ``out_dir``, and the
correctness gate reads exactly what the last pass wrote.
"""

from __future__ import annotations

import inspect
import os
import time
from contextlib import contextmanager, nullcontext
from itertools import combinations

import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from pdf2ontology_spark import png_codec
from pdf2ontology_spark.operators import (
    components,
    condition,
    graph,
    imaging,
    linking,
    media,
    orientation,
    quarantine,
    segment,
    triples,
)
from pdf2ontology_spark.plans.pipeline import salted_repartition
from pdf2ontology_spark.sources import tables

SALT = 4  # run_kg_pipeline's default
KERNEL_SAMPLE = 1024
KERNEL_REPS = 5
GATE_SAMPLE = 8
# a chain of every shape-preserving imaging kernel (rotate/deskew
# depend on per-image angles; the timing wants one fixed chain)
KERNEL_CHAIN = ("enhance_contrast", "gamma_correction", "denoise", "sharpen")


def _pairs(groups) -> set:
    out = set()
    for members in groups:
        out |= {tuple(sorted(p)) for p in combinations(set(members), 2)}
    return out


def _rows(path: str) -> int:
    return pq.ParquetDataset(path).read(columns=[]).num_rows


class Flow:
    name = ""

    def __init__(self, spark, data: dict, out_dir: str):
        self.spark = spark
        self.data = data
        self.out = out_dir

    def traced_calls(self, tracer):
        return nullcontext()

    def _write(self, df, name: str) -> None:
        df.write.mode("overwrite").parquet(os.path.join(self.out, name))

    def _docs(self):
        path = self.data["documents_spans"]
        tables.tune_split_bytes(self.spark, path)
        return self.spark.read.parquet(path)


class KgBuild(Flow):
    """documents -> salted repartition -> fused triples -> nodes, edges
    and canonical nodes: the calls ``run_kg_pipeline(ckpt=None)`` makes,
    plus ``linking.canonicalize`` on its triples; four outputs, each
    written by its own action."""

    name = "kg_build"

    def run_pass(self, t) -> None:
        n_part = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
        with t.span("sources") as s:
            docs = t.materialize(salted_repartition(self._docs(), n_part, SALT), s)
        with t.span("triples") as s:
            trips = t.materialize(triples.all_triples_fused(docs), s)
            self._write(trips, "triples")
        with t.span("graph") as s:
            self._write(t.materialize(graph.nodes(trips), s), "nodes")
            self._write(t.materialize(graph.edges(trips), s), "edges")
        with t.span("linking") as s:
            canon = linking.canonicalize(trips)
            self._write(t.materialize(canon["nodes"], s), "canonical_nodes")
        self.last_canon = canon

    def items(self) -> int:
        return _rows(os.path.join(self.out, "triples"))

    def check(self) -> list[str]:
        """Triples P = R = 1 against the golden; canonical organization
        clusters equal the golden ``cluster_id`` groups; no edge endpoint
        is missing from the nodes."""
        errors = []
        key = ["doc_id", "subj_name", "predicate", "obj_name"]

        def keyset(path):
            t = pq.read_table(path, columns=key)
            return set(zip(*(t.column(k).to_pylist() for k in key)))

        got = keyset(os.path.join(self.out, "triples"))
        want = keyset(self.data["golden_triples"])
        tp = len(got & want)
        if not (got and tp == len(got) == len(want)):
            errors.append(
                f"triples P={tp / max(len(got), 1):.6f} R={tp / max(len(want), 1):.6f}"
            )

        nodes = pq.read_table(os.path.join(self.out, "canonical_nodes")).to_pylist()
        pred = [n["aliases"] for n in nodes if n["entity_type"] == "organization"]
        orgs = pq.read_table(self.data["org_mentions"], columns=["name", "cluster_id"])
        cluster = dict(zip(orgs.column("name").to_pylist(), orgs.column("cluster_id").to_pylist()))
        present = {a for group in pred for a in group}
        unknown = present - cluster.keys()
        gold: dict = {}
        for name in present & cluster.keys():
            gold.setdefault(cluster[name], []).append(name)
        if unknown or _pairs(pred) != _pairs(gold.values()):
            errors.append(f"organization clusters differ from golden (unknown={sorted(unknown)[:5]})")

        read = self.spark.read.parquet
        bad = graph.integrity_violations(
            read(os.path.join(self.out, "nodes")), read(os.path.join(self.out, "edges"))
        ).count()
        if bad:
            errors.append(f"{bad} edge endpoints missing from nodes")
        return errors

    @contextmanager
    def traced_calls(self, tracer):
        """``canonicalize`` calls ``linking.candidate_pairs`` and then
        ``components.connected_components`` itself. For the traced pass,
        wrap both module attributes: the candidate pairs are materialized
        inside ``linking``, and the components call gets its own span,
        a child of ``linking``, that covers only its own work."""
        orig_pairs = linking.candidate_pairs
        orig_cc = components.connected_components

        def pairs(*args, **kwargs):
            out = orig_pairs(*args, **kwargs).persist()
            out.count()
            return out

        def cc(*args, **kwargs):
            with tracer.span("components") as s:
                return tracer.materialize(orig_cc(*args, **kwargs), s)

        linking.candidate_pairs = pairs
        components.connected_components = cc
        try:
            yield
        finally:
            linking.candidate_pairs = orig_pairs
            components.connected_components = orig_cc

    def counters(self) -> dict:
        """Linking's candidate funnel (raw LSH band pairs vs verified
        pairs) and the CC branch, counted after the traced pass."""
        canon = self.last_canon
        reps = canon["surfaces"].groupBy("key", "entity_type").agg(
            F.min("surface_id").alias("surface_id")
        )
        candidates = linking.banded_candidates(linking._fuzzy_base(reps)).count()
        pairs = canon["pairs"]
        verified = pairs.count()
        sym = (
            pairs.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
            .unionByName(pairs.select(F.col("id_b").alias("a"), F.col("id_a").alias("b")))
            .filter("a != b")
            .distinct()
            .count()
        )
        gather_max = inspect.signature(components.connected_components).parameters[
            "gather_threshold"
        ].default
        return {
            "linking.candidates": candidates,
            "linking.verified_per_candidate": verified / candidates if candidates else 0.0,
            "components.edges": sym,
            "components.gather": int(sym <= gather_max),
        }


def _spans_of(docs):
    """Exploded spans in the shape the media queries read them."""
    return segment.explode_spans(docs).select(
        "doc_id",
        "kind",
        F.coalesce("text", F.lit("")).alias("text"),
        F.coalesce("media_ref", F.lit("")).alias("media_ref"),
        "offset",
    )


class MediaPrep(Flow):
    """The corpus's PNG blob store through ``media.assess_media_full``
    and ``media.apply_actions(condition.assess_media(spans), blobs)``,
    composed as the ``skew_rotation`` and ``preprocessed_media`` queries
    of ``__spark_entry__.py`` compose them."""

    name = "media_prep"

    def run_pass(self, t) -> None:
        with t.span("sources") as s:
            docs = t.materialize(self._docs(), s)
            blobs = t.materialize(self.spark.read.parquet(self.data["media_blobs"]), s)
        with t.span("segment") as s:
            spans = t.materialize(_spans_of(docs), s)
        with t.span("media") as s:
            self._write(t.materialize(media.assess_media_full(spans, blobs), s), "assessed")
        with t.span("imaging") as s:
            processed = media.apply_actions(condition.assess_media(spans), blobs)
            self._write(t.materialize(processed, s), "processed")

    def items(self) -> int:
        return _rows(os.path.join(self.out, "processed"))

    def _media_refs(self) -> list[str]:
        flat = pq.read_table(self.data["documents_spans"], columns=["spans"]).column(0)
        flat = pc.list_flatten(flat)
        kinds = pc.struct_field(flat, "kind")
        return pc.filter(pc.struct_field(flat, "media_ref"), pc.equal(kinds, "media")).to_pylist()

    def check(self) -> list[str]:
        """Both outputs hold one row per media span, and a fixed sample
        of refs matches a serial per-image recomputation."""
        errors = []
        refs = self._media_refs()
        for name in ("assessed", "processed"):
            n = _rows(os.path.join(self.out, name))
            if n != len(refs):
                errors.append(f"{name}: {n} rows for {len(refs)} media spans")
        sample = sorted(refs)[:: max(1, len(refs) // GATE_SAMPLE)][:GATE_SAMPLE]

        def by_ref(path, columns=None):
            t = pq.read_table(path, columns=columns, filters=[("media_ref", "in", sample)])
            return {r["media_ref"]: r for r in t.to_pylist()}

        blobs = by_ref(self.data["media_blobs"])
        assessed = by_ref(os.path.join(self.out, "assessed"))
        processed = by_ref(os.path.join(self.out, "processed"))
        plans = {
            r.media_ref: r
            for r in condition.assess_media(_spans_of(self.spark.read.parquet(self.data["documents_spans"])))
            .filter(F.col("media_ref").isin(sample))
            .select("media_ref", "actions", "skew_deg", "rotation_deg")
            .collect()
        }
        for ref in sample:
            gray = png_codec.decode_png_gray(blobs[ref]["png"])
            want_q = media.assess_quality_gray(gray)
            got_q = {k: assessed.get(ref, {}).get(k) for k in want_q}
            if got_q != want_q:
                errors.append(f"assessed {ref}: {got_q} != {want_q}")
            plan = plans[ref]
            out = imaging.apply_chain(gray, list(plan.actions), plan.skew_deg, plan.rotation_deg)
            if processed.get(ref, {}).get("out_checksum") != imaging.raster_checksum(out):
                errors.append(f"processed {ref}: checksum differs from serial apply_chain")
        return errors

    def counters(self) -> dict:
        """Quarantine share of exploded spans, and serial timings of the
        public batch kernels on a fixed 1,024-image sample (ms per
        thousand images, median of KERNEL_REPS)."""
        good, bad = quarantine.split_spans(
            segment.explode_spans(self.spark.read.parquet(self.data["documents_spans"]))
        )
        n_good, n_bad = good.count(), bad.count()

        pf = pq.ParquetFile(self.data["media_blobs"])
        blob_col = pf.read(columns=["png"]).column(0)
        self.blob_bytes = sum(pc.binary_length(blob_col).to_pylist())
        sample = blob_col.slice(0, KERNEL_SAMPLE).to_pylist()

        def per_kimg(fn):
            times = []
            for _ in range(KERNEL_REPS):
                t0 = time.perf_counter()
                fn()
                times.append(time.perf_counter() - t0)
            times.sort()
            return times[len(times) // 2] * 1e3 / (len(sample) / 1e3)

        G = png_codec.decode_png_gray_batch(sample)
        return {
            "segment.quarantined_per_span": n_bad / max(n_good + n_bad, 1),
            "png_codec.decode_ms_per_kimg": per_kimg(lambda: png_codec.decode_png_gray_batch(sample)),
            "media.quality_ms_per_kimg": per_kimg(lambda: media.assess_quality_batch(G)),
            "orientation.ms_per_kimg": per_kimg(lambda: orientation.orientation_batch(G)),
            "imaging.chain_ms_per_kimg": per_kimg(
                lambda: imaging.apply_chain_batch(G, KERNEL_CHAIN, 0.0, 0)
            ),
        }


FLOWS = {f.name: f for f in (KgBuild, MediaPrep)}

"""Entity linking + canonicalization vs the golden alias clusters
(FIXTURES.md F4: pairwise precision/recall must be 1.0 at small scale).
The typo variants (e.g. "Samsonn AG") are reachable ONLY through the
MinHash-LSH + Jaccard path, so this also proves the fuzzy blocking is
load-bearing."""

import hashlib
import random
from itertools import combinations

import pytest

from pdf2ontology_spark.operators import components, dedup, graph, linking
from pdf2ontology_spark.plans.pipeline import run_kg_pipeline
from pdf2ontology_spark.sources import tables
from pdf2ontology_spark import synth

SF0001 = "/root/testdata/sf0.001"  # TESTDATA.md


def _pairs(groups: dict) -> set:
    out = set()
    for members in groups.values():
        out |= {tuple(sorted(p)) for p in combinations(set(members), 2)}
    return out


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("x", "y"), ("p", "p")], "src string, dst string"
    )
    got = {r.node: r.component for r in components.connected_components(edges).collect()}
    assert got == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}


def test_connected_components_refuses_above_gather_threshold(spark):
    """Both sides of the gather limit: at exactly the symmetric edge
    count (14 here) the single task labels chains, a cycle and a
    singleton edge; one edge below it the action fails instead of
    returning partial labels."""
    edges = spark.createDataFrame(
        [("d", "c"), ("c", "b"), ("b", "a"), ("m", "n"), ("n", "o"), ("o", "m"), ("z", "q")],
        "src string, dst string",
    )
    got = {
        r.node: r.component
        for r in components.connected_components(edges, gather_threshold=14).collect()
    }
    assert got == {
        "a": "a", "b": "a", "c": "a", "d": "a",
        "m": "m", "n": "m", "o": "m", "q": "q", "z": "q",
    }
    with pytest.raises(Exception, match="14 symmetric edges exceed gather_threshold=13"):
        components.connected_components(edges, gather_threshold=13).collect()


def test_connected_components_reads_edges_once(spark):
    """The edge list's upstream plan runs once per call, for the labels
    and for a refusal above ``gather_threshold``: a counting pass in
    front of the edges sees each input row exactly once."""
    rows = [("d", "c"), ("c", "b"), ("b", "a"), ("m", "n"), ("z", "q")]
    read = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for pdf in batches:
            read.add(len(pdf))
            yield pdf

    edges = spark.createDataFrame(rows, "src string, dst string").mapInPandas(
        count_rows, "src string, dst string"
    )
    want = {"a": "a", "b": "a", "c": "a", "d": "a", "m": "m", "n": "m", "q": "q", "z": "q"}
    got = {r.node: r.component for r in components.connected_components(edges).collect()}
    assert got == want
    assert read.value == len(rows), read.value
    with pytest.raises(Exception, match="10 symmetric edges exceed gather_threshold=0"):
        components.connected_components(edges, gather_threshold=0).collect()
    assert read.value == 2 * len(rows), read.value


def test_connected_components_exact_on_long_chains(spark):
    """Shuffled string-id chains far longer than a few propagation
    rounds come back as ONE component labelled with the minimum id, and
    a threshold under their edge count fails the action rather than
    returning partial labels. Coalescing is off so the edges reach the
    one union-find task from 8 partitions."""
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        for n in (200, 2_000, 20_000):
            rng = random.Random(n)
            ids = [f"v{i}" for i in range(n)]
            rng.shuffle(ids)
            rows = list(zip(ids, ids[1:]))
            rng.shuffle(rows)
            edges = spark.createDataFrame(rows, "src string, dst string")
            got = {
                r.node: r.component
                for r in components.connected_components(edges).collect()
            }
            assert len(got) == n, n
            assert set(got.values()) == {min(ids)}, (n, len(set(got.values())))
            with pytest.raises(
                Exception, match=f"{2 * (n - 1)} symmetric edges exceed gather_threshold=0"
            ):
                components.connected_components(edges, gather_threshold=0).collect()
    finally:
        spark.conf.set(key, old)


def test_org_clusters_pairwise_exact(spark):
    trips = run_kg_pipeline(spark, SF0001)["triples"]
    out = linking.canonicalize(trips)
    mapping = (
        out["mapping"].filter("entity_type = 'organization'").select("name", "canonical_id")
    ).collect()
    pred_groups: dict = {}
    for r in mapping:
        pred_groups.setdefault(r.canonical_id, []).append(r.name)

    # golden: cluster_id per surface form, restricted to names that occur
    golden = {
        v: i for i, cluster in enumerate(synth.ORG_CLUSTERS) for v in cluster
    }
    present = {r.name for r in mapping}
    gold_groups: dict = {}
    for name in present:
        gold_groups.setdefault(golden[name], []).append(name)

    pred_pairs, gold_pairs = _pairs(pred_groups), _pairs(gold_groups)
    assert pred_pairs == gold_pairs, (
        pred_pairs - gold_pairs,
        gold_pairs - pred_pairs,
    )
    # the typo variant must be present and linked (fuzzy path load-bearing)
    typo_present = [n for n in present if n in ("Samsonn AG", "Acmee GmbH", "TechCorpp Ltd")]
    assert typo_present, "generator should emit typo variants at sf0.001"


def _synth_reps(spark, n, seed=13):
    """Rep surfaces: normalized keys of mixed length — short codes,
    name+suffix near-dups, and long descriptors — within one type."""
    import random

    rng = random.Random(seed)
    rows = []
    for i in range(n):
        base = f"anlage {rng.randrange(n // 4)} kreis {rng.randrange(9)}"
        kind = i % 4
        if kind == 0:
            key = base
        elif kind == 1:
            key = base + " x"  # near-dup variant of kind-0 keys
        elif kind == 2:
            key = f"k{i % 97}"  # short code
        else:
            key = base + " sehr langes beschreibungs suffix " + str(i)
        rows.append((f"s{i:06d}", "organization", key))
    return spark.createDataFrame(rows, "surface_id string, entity_type string, key string")


def test_prefilter_equivalence_and_volume(spark):
    """The size+hash prefilter must (a) change NOTHING about the
    verified pair set vs exact-verifying every band candidate, and
    (b) materially shrink the input of the wide-array verification
    join — the 100x-reps guard from VERDICT r3 #7."""
    from pyspark.sql import functions as F

    reps = _synth_reps(spark, 600)
    base = linking._fuzzy_base(reps)
    got = {(r.id_a, r.id_b) for r in linking.candidate_pairs(reps).collect()}

    # unprefiltered reference: exact Jaccard over ALL band candidates
    grams_dim = base.select("surface_id", "grams")
    ref = (
        linking.banded_candidates(base)
        .join(grams_dim.withColumnRenamed("surface_id", "id_a").withColumnRenamed("grams", "ga"), "id_a")
        .join(grams_dim.withColumnRenamed("surface_id", "id_b").withColumnRenamed("grams", "gb"), "id_b")
        .withColumn(
            "j", F.size(F.array_intersect("ga", "gb")) / F.size(F.array_union("ga", "gb"))
        )
        .filter(F.col("j") >= linking.JACCARD_THRESHOLD)
    )
    assert got == {(r.id_a, r.id_b) for r in ref.collect()}

    raw = linking.banded_candidates(base).count()
    size_ok = dedup.size_prefilter("ga", "gb", linking.JACCARD_THRESHOLD)
    prefiltered = linking._band_join(base).filter(size_ok).select("id_a", "id_b").distinct()
    array_join_rows = prefiltered.count()
    assert array_join_rows < raw, (array_join_rows, raw)
    # mixed-length band collisions must be dropped before the array join
    assert array_join_rows <= 0.8 * raw, f"prefilter only kept {array_join_rows}/{raw}"


def test_prefilter_never_drops_true_pairs(spark):
    """Adversarial: pairs exactly AT the size boundary (min = t*max)
    must survive the prefilter (the epsilon guards float rounding)."""
    # 3-gram sets: key of 5 grams vs superset of... build keys where
    # gram counts are exactly 6 and 10 (0.6 ratio), one a subset
    rows = [
        ("a1", "organization", "abcdefgh"),   # grams: abc..fgh = 6
        ("a2", "organization", "abcdefghijkl"),  # grams: 10, superset
    ]
    reps = spark.createDataFrame(rows, "surface_id string, entity_type string, key string")
    base = linking._fuzzy_base(reps)
    size_ok = dedup.size_prefilter("ga", "gb", linking.JACCARD_THRESHOLD)
    prefiltered = linking._band_join(base).filter(size_ok).select("id_a", "id_b")
    pre = {(r.id_a, r.id_b) for r in prefiltered.collect()}
    raw = {(r.id_a, r.id_b) for r in linking.banded_candidates(base).collect()}
    # if the LSH bands collide for this pair, the prefilter must keep it
    # (Jaccard = 6/10 = threshold exactly)
    assert pre == raw


def test_canonical_graph_integrity(spark):
    trips = run_kg_pipeline(spark, SF0001)["triples"]
    out = linking.canonicalize(trips)
    nodes, edges = out["nodes"], out["edges"]
    node_ids = {r.canonical_id for r in nodes.select("canonical_id").collect()}
    for col in ("subject_id", "object_id"):
        missing = {r[0] for r in edges.select(col).distinct().collect()} - node_ids
        assert not missing


def _grams(key: str) -> set:
    """Distinct character 3-grams; a key shorter than 3 is its own gram."""
    return {key[i : i + 3] for i in range(max(len(key) - 2, 1))}


def _reference_lsh(rows) -> tuple[set, set]:
    """Pure-Python MinHash-LSH over (surface_id, entity_type, key) rep
    rows: slot i = min over grams of md5(f"{i}:{gram}")[:16], band key
    = md5 of its slots joined by "|". Returns (band-collision pairs,
    the pairs among them with char-3-gram Jaccard >= threshold)."""
    r = linking.LSH_K // linking.LSH_BANDS
    grams, buckets = {}, {}
    for sid, etype, key in rows:
        if etype in graph.VALUE_TYPES:
            continue
        g = grams[sid] = _grams(key)
        sig = [
            min(hashlib.md5(f"{i}:{x}".encode()).hexdigest()[:16] for x in g)
            for i in range(linking.LSH_K)
        ]
        for b in range(linking.LSH_BANDS):
            band_key = hashlib.md5("|".join(sig[b * r : (b + 1) * r]).encode()).hexdigest()
            buckets.setdefault((etype, b, band_key), []).append(sid)
    collisions = {
        (a, b) for ids in buckets.values() for a in ids for b in ids if a < b
    }
    verified = {
        (a, b)
        for a, b in collisions
        if len(grams[a] & grams[b]) / len(grams[a] | grams[b]) >= linking.JACCARD_THRESHOLD
    }
    return collisions, verified


def _assert_matches_reference(reps):
    collisions, verified = _reference_lsh(
        [(r.surface_id, r.entity_type, r.key) for r in reps.collect()]
    )
    banded = linking.banded_candidates(linking._fuzzy_base(reps)).collect()
    assert {(r.id_a, r.id_b) for r in banded} == collisions
    assert {(r.id_a, r.id_b) for r in linking.candidate_pairs(reps).collect()} == verified
    return collisions, verified


def test_lsh_equals_python_reference_synth(spark):
    collisions, verified = _assert_matches_reference(_synth_reps(spark, 600))
    assert verified and len(verified) < len(collisions)


def test_lsh_equals_python_reference_sf0001(spark):
    """On the sf0.001 corpus's exact-group representatives (min
    surface_id per normalized key and type, picked in Python)."""
    trips = run_kg_pipeline(spark, SF0001)["triples"]
    reps: dict = {}
    surf = linking.canonicalize(trips)["surfaces"]
    for r in surf.select("surface_id", "entity_type", "key").collect():
        k = (r.key, r.entity_type)
        reps[k] = min(reps.get(k, r.surface_id), r.surface_id)
    rows = [(sid, etype, key) for (key, etype), sid in reps.items()]
    df = spark.createDataFrame(rows, "surface_id string, entity_type string, key string")
    _, verified = _assert_matches_reference(df)
    assert verified


def test_canonicalize_job_budget(spark):
    """canonicalize + writing its nodes runs a bounded number of Spark
    jobs on materialized triples: the signature is computed in the row,
    the verification rides the band join, and the components input is
    read once. 12 jobs at the time of writing; 14 leaves slack for a
    planner change, well under the 30 of a per-stage-shuffle design."""
    trips = run_kg_pipeline(spark, SF0001)["triples"].localCheckpoint()
    sc = spark.sparkContext
    group = "canonicalize-job-budget"
    sc.setJobGroup(group, "canonicalize job budget")
    try:
        out = linking.canonicalize(trips)
        out["nodes"].write.format("noop").mode("overwrite").save()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= 14, len(jobs)

"""Approximate-nearest-neighbor search over an embedding column.

- ``brute_topk``: exact cosine top-k, the correctness baseline — a
  broadcast join of the (small) query set against the corpus, dot
  products via zip_with/aggregate (JVM-side, no Python).
- ``lsh_topk``: the scale path — signed-random-projection (hyperplane)
  LSH: each vector gets a ``planes``-bit signature; candidates are
  corpus vectors sharing a signature bucket with the query (optionally
  within Hamming distance via multi-probe over 1-bit flips); exact
  cosine re-ranks candidates. Hyperplane components are md5-derived, so
  the bucketing is deterministic and reproducible in SQL.

At 10^12 scale: buckets partition the corpus so each query touches
~n/2^planes vectors; signatures are precomputable and storable as a
bucketed table (co-located join, no shuffle per query batch).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from pdf2ontology_spark.sources import tables

PLANES = 8


def planes_for_corpus(
    n: int, target_bucket: int = 64, floor: int = 8, cap: int = 24
) -> int:
    """Band-key width sized to the corpus: ``planes`` bits give 2^planes
    buckets per band, so expected occupancy is n / 2^planes — solving
    for ``target_bucket`` occupancy gives planes = ceil(log2(n /
    target_bucket)). A FIXED width is a hidden scale bomb: 8-bit keys
    (256 buckets) look near-linear at 50k vectors but collapse toward
    within-bucket all-pairs (O(n^2/256)) at 100x the corpus. ``floor``
    keeps recall-friendly coarse keys for small corpora (and pins the
    sf0.01/sf0.1 oracle operating point at 8); ``cap`` bounds signature
    compute at 2^24 = 16.7M buckets per band — beyond that, add bands
    or probe bits instead of width."""
    import math

    if n <= target_bucket:
        return floor
    return min(cap, max(floor, math.ceil(math.log2(n / target_bucket))))


def _as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def _norm(v: Column) -> Column:
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _plane_value(p: int, i: int) -> float:
    """Deterministic pseudo-random hyperplane component in [-1, 1):
    md5('p:i') first 8 hex chars -> uint32 -> scaled. Computed in PYTHON
    at plan-build time and embedded as literals: the md5 formula is
    bit-identical to the DuckDB oracle's SQL twin, and evaluating it
    once per (plane, dim) instead of once per ROW x element x plane
    removes an O(rows * dim * planes) md5 storm from the hot path
    (measured: 12.5s -> sub-second for the banded pairs at sf0.1)."""
    import hashlib

    h = int(hashlib.md5(f"{p}:{i}".encode()).hexdigest()[:8], 16)
    return h / 2147483648.0 - 1.0


def _vec_dim(emb: DataFrame, vec_col: str) -> int:
    """Embedding dimensionality (one tiny job; vectors are fixed-width)."""
    row = emb.select(F.size(F.col(vec_col)).alias("d")).first()
    return int(row["d"]) if row else 0


def _band_keys_udf(planes_per_band: int, bands: int, dim: int):
    """Arrow-batched numpy kernel computing ALL band keys per vector in
    one pass — the hot path of every banded-LSH operator. The JVM
    alternative (fold over zip_with per plane) evaluates INTERPRETED
    per element: bands*planes*dim lambda evals per row (measured 6.7s
    for 2000 rows x 96 planes x dim 64 at sf0.1); this kernel does the
    same flops as 'dim' vectorized fused multiply-adds (~10ms).

    BIT-IDENTICAL to the DuckDB oracle (oracles_data._band_sig_sql): the
    accumulation loops i = 0..dim-1 adding V[:,i]*P[:,i] — the exact
    left-to-right fold order per projection (numpy elementwise ops are
    IEEE doubles; no matmul/pairwise-sum reordering), so every
    projection, sign bit and band key matches the SQL twin exactly.
    Every vector is length/null-checked first: a mismatch raises
    instead of silently biasing bits to 0."""
    from pyspark.sql.types import ArrayType, IntegerType

    n_planes = planes_per_band * bands
    P = np.array(
        [[_plane_value(p, i) for i in range(dim)] for p in range(n_planes)]
    )  # (n_planes, dim)

    @F.pandas_udf(ArrayType(IntegerType()))
    def band_keys(vs: pd.Series) -> pd.Series:
        arrs = vs.to_numpy()
        for a in arrs:
            if a is None:
                raise ValueError(
                    f"embedding dimension mismatch: expected {dim}, "
                    "got NULL (missing vector)"
                )
            if len(a) != dim:
                raise ValueError(
                    f"embedding dimension mismatch: expected {dim}, got {len(a)}"
                )
        if len(arrs) == 0:
            return pd.Series([], dtype=object)
        V = np.stack([np.asarray(a, dtype=np.float64) for a in arrs])
        acc = np.zeros((V.shape[0], n_planes))
        for i in range(dim):  # strict fold order — see docstring
            acc += V[:, i : i + 1] * P[:, i]
        bits = acc > 0
        keys = np.zeros((V.shape[0], bands), dtype=np.int32)
        for b in range(bands):
            for j in range(planes_per_band):
                keys[:, b] += bits[:, b * planes_per_band + j].astype(np.int32) << j
        return pd.Series(list(keys))

    # the function IS deterministic; the marker stops the optimizer from
    # pushing the posexplode-derived (size(keys) > 0) filter below the
    # spread exchange, which re-evaluated this UDF a second time per row
    # (guide §4.4 — two ArrowEvalPython nodes for one call, seen in the
    # round-7 before-plans of every banded-LSH query)
    return band_keys.asNondeterministic()


def probe_signatures(bb: DataFrame, planes_per_band: int) -> DataFrame:
    """Multi-probe expansion: each (band, band_key) entry additionally
    emits every 1-bit flip of its key. Joining exact keys on one side
    against probed keys on the other catches all pairs within hamming
    distance 1 per band — recall of a coarse 2^(b-1)-bucket table at the
    candidate volume of a fine 2^b-bucket one (the standard multi-probe
    LSH trade: more probe entries, far fewer bucket collisions)."""
    flips = F.array(
        F.col("band_key"),
        *[
            F.col("band_key").bitwiseXOR(F.lit(1 << j)).alias(f"f{j}")
            for j in range(planes_per_band)
        ],
    )
    return bb.select("id", "band", F.explode(flips).alias("band_key"))


def banded_signatures(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes_per_band: int = 4,
    bands: int = 8,
    dim: int | None = None,
    spread: bool = True,
) -> DataFrame:
    """(id, band, band_key): ``bands`` independent hyperplane-LSH tables
    of ``planes_per_band`` bits each. Two vectors at angle theta collide
    in >= 1 band with probability 1 - (1 - p^b)^L, p = 1 - theta/pi —
    the multi-table construction that keeps recall high where a single
    wide signature would shatter near-dups across buckets. Signatures
    are deterministic (md5 hyperplanes), precomputable and storable as a
    bucketed table at corpus scale.

    ``dim`` is the vector width; when omitted it is sampled from one row
    (a tiny eager job at plan-build time) — either way every row is
    length/null-checked inside the band-key kernel (``_band_keys_udf``:
    a mismatched or NULL vector raises with the expected/got message)
    so heterogeneous vectors fail loudly instead of producing silently
    biased signatures. ``spread=False`` skips the small-scan
    repartition for inputs known to be tiny (e.g. a query batch that
    broadcasts later anyway)."""
    return banded_keys(emb, id_col, vec_col, planes_per_band, bands, dim, spread).select(
        "id", F.posexplode("keys").alias("band", "band_key")
    )


def banded_keys(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes_per_band: int = 4,
    bands: int = 8,
    dim: int | None = None,
    spread: bool = True,
) -> DataFrame:
    """(id, keys array<int>) — the pre-explode form of
    ``banded_signatures``, exposed so a caller that derives BOTH sides
    of a self-join from the signatures (``dedup.embedding_candidates``)
    can compute them once and cut the duplicated scan + UDF subtree."""
    if dim is None:
        dim = _vec_dim(emb, vec_col)
    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    if spread:
        # the signature kernel is the expensive stage
        base = tables.spread_small_scan(base, "id")
    keys = _band_keys_udf(planes_per_band, bands, dim)
    return base.select("id", keys(F.col("v")).alias("keys"))


def brute_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by cosine for each query vector (query rows have the
    same (id_col, vec_col) shape). Broadcast the query side."""
    corpus = emb.select(
        F.col(id_col).alias("corpus_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", _norm(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    scored = (
        corpus.join(F.broadcast(q), F.col("corpus_id") != F.col("query_id"))
        .withColumn("cosine", F.round(_dot("qv", "cv") / (F.col("qn") * F.col("cn")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def centroids_for_corpus(n: int, floor: int = 16, cap: int = 1 << 16) -> int:
    """IVF quantizer size ~ sqrt(n) — the standard FAISS sizing, which
    balances assignment cost (n * c centroid comparisons) against
    per-probe list length (n / c) — quantized DOWN to a power of two
    for stable, reproducible operating points. A FIXED ``n_centroids``
    is the same hidden scale bomb as a fixed LSH key width: 16 lists
    look fine at 50k vectors, but at 100x the corpus each inverted list
    holds n/16 vectors and the rerank join degrades toward brute force.
    ``floor`` pins the sf0.01 oracle operating point (n=500 -> 16);
    ``cap`` bounds the broadcast centroid table (65k centroids * dim
    doubles is still a few-MB broadcast)."""
    import math

    if n <= floor * floor:
        return floor
    return min(cap, max(floor, 1 << int(math.log2(math.sqrt(n)))))


def nprobe_for_centroids(c: int, floor: int = 2) -> int:
    """Probe count grows with the quantizer as ceil(sqrt(c)/2), so the
    probed FRACTION of the corpus shrinks (~1/(2*sqrt(c))) while recall
    degrades only slowly (near lists dominate). With c ~ sqrt(n) the
    rerank candidate volume per query is nprobe * n/c ~ n^(3/4) —
    sub-linear per query, sub-quadratic in total (regression-tested in
    tests/test_candidate_volume.py). ``floor`` pins the sf0.01 oracle
    point (c=16 -> nprobe=2)."""
    import math

    return max(floor, math.ceil(math.sqrt(c) / 2))


def ivf_centroids(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
) -> DataFrame:
    """The IVF coarse quantizer: the first ``n_centroids`` corpus
    vectors in id order — deterministic, so the DuckDB oracle reproduces
    the exact partition bit-for-bit, and safe for sparse / offset /
    non-contiguous id spaces (a ``id < n`` filter would silently return
    an empty or undersized quantizer there). orderBy+limit plans as
    TakeOrderedAndProject — a distributed top-k, no global sort and no
    single-partition window. Production IVF trains centroids with
    k-means on a sample for better list balance; that changes WHICH
    vectors land together, not the operator's shape (assignment join,
    inverted lists, nprobe search) — and iterative float averaging is
    not bit-reproducible across engines, which would break the oracle."""
    return (
        emb.select(F.col(id_col).alias("centroid_id"), _as_double(F.col(vec_col)).alias("cv"))
        .orderBy("centroid_id")
        .limit(n_centroids)
        .withColumn("cn", _norm(F.col("cv")))
    )


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 1,
) -> DataFrame:
    """(id, v, norm, cluster, probe_rank): assignment of each vector to
    its ``nprobe`` nearest centroids by cosine (rank 1 = the inverted
    list it belongs to). Ties break like the ANN rankings: round-4
    cosine desc, centroid id asc. The centroid table broadcasts."""
    v = df.select(
        F.col(id_col).alias("id"), _as_double(F.col(vec_col)).alias("v")
    ).withColumn("norm", _norm(F.col("v")))
    scored = v.join(F.broadcast(centroids), how="cross").withColumn(
        "ccos", F.round(_dot("v", "cv") / (F.col("norm") * F.col("cn")), 4)
    )
    w = Window.partitionBy("id").orderBy(F.desc("ccos"), F.asc("centroid_id"))
    return (
        scored.withColumn("probe_rank", F.row_number().over(w))
        .filter(F.col("probe_rank") <= nprobe)
        .select(
            "id", "v", "norm", F.col("centroid_id").alias("cluster"), "probe_rank"
        )
    )


def ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int | None = None,
    nprobe: int | None = None,
    n: int | None = None,
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in the inverted list
    of their nearest centroid; each query probes its ``nprobe`` nearest
    lists and exact cosine reranks the union — the classic
    coarse-quantizer ANN alongside the hyperplane-LSH path (recall < 1
    by construction; measured by q:ann_ivf_recall).

    ``n_centroids=None`` (default) sizes the quantizer to the corpus
    via ``centroids_for_corpus`` and the probe count via
    ``nprobe_for_centroids`` — pass ``n`` (corpus cardinality from
    table stats / parquet footer, e.g. ``tables.table_rows``) to keep
    the plan build lazy; without it one count job runs.

    At corpus scale the assignment is precomputable and the inverted
    lists are stored partitioned/bucketed by ``cluster``, so a query
    batch touches ~nprobe/n_centroids of the corpus with a co-located
    join and no full scan; the centroid table broadcasts."""
    if n_centroids is None:
        n_centroids = centroids_for_corpus(emb.count() if n is None else n)
    if nprobe is None:
        nprobe = nprobe_for_centroids(n_centroids)
    cent = ivf_centroids(emb, id_col, vec_col, n_centroids)
    corpus = ivf_assign(emb, cent, id_col, vec_col, nprobe=1).select(
        F.col("id").alias("corpus_id"),
        F.col("v").alias("cv"),
        F.col("norm").alias("cn"),
        "cluster",
    )
    probes = ivf_assign(queries, cent, id_col, vec_col, nprobe).select(
        F.col("id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("norm").alias("qn"),
        "cluster",
    )
    scored = (
        corpus.join(F.broadcast(probes), "cluster")
        .filter(F.col("corpus_id") != F.col("query_id"))
        .withColumn("cosine", F.round(_dot("qv", "cv") / (F.col("qn") * F.col("cn")), 4))
        .select("query_id", "corpus_id", "cosine")
        .distinct()
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


def lsh_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes_per_band: int = PLANES,
    bands: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """ANN top-k: banded multi-table hyperplane LSH with 1-bit
    multi-probe — candidates are corpus vectors sharing ANY band bucket
    (within hamming 1) with the query; exact cosine re-ranks.

    The first construction here was a SINGLE exact-equality signature
    table: measured recall vs brute was 0.05 (q:ann_recall) — one
    8-bit bucket must match exactly, P = (1-theta/pi)^8 per query. The
    multi-table + probe construction lifts per-band match probability
    to P(hamming<=1) and unions 8 independent bands, the same recall
    shape as ``dedup.embedding_cosine_pairs``. Recall < 1 remains by
    construction and is measured by q:ann_recall.

    Scale: corpus band signatures are precomputable/storable; the query
    side is broadcast, and the 1-bit probe expansion is applied to the
    TINY query side (hamming <= 1 is symmetric, so probing either side
    yields the identical candidate set — probing the corpus side would
    stream ~(planes_per_band+1)x the large-side rows through the join
    for nothing). Candidate volume per query is
    ~bands * probes * n/2^planes_per_band."""
    corpus_bb = banded_signatures(emb, id_col, vec_col, planes_per_band, bands, dim
                                  ).withColumnRenamed("id", "corpus_id")
    # query side: a handful of rows that broadcast below — spreading
    # them across the shuffle width would add an exchange for nothing
    probed_q = probe_signatures(
        banded_signatures(
            queries, id_col, vec_col, planes_per_band, bands, dim, spread=False
        ),
        planes_per_band,
    ).withColumnRenamed("id", "query_id")
    cand = (
        corpus_bb.join(F.broadcast(probed_q), ["band", "band_key"])
        .filter(F.col("corpus_id") != F.col("query_id"))
        .select("query_id", "corpus_id")
        .distinct()
    )
    corpus = emb.select(
        F.col(id_col).alias("corpus_id"), _as_double(F.col(vec_col)).alias("cv")
    ).withColumn("cn", _norm(F.col("cv")))
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(F.col(vec_col)).alias("qv")
    ).withColumn("qn", _norm(F.col("qv")))
    scored = (
        cand.join(corpus, "corpus_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("cosine", F.round(_dot("qv", "cv") / (F.col("qn") * F.col("cn")), 4))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )

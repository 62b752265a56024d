"""Approximate-nearest-neighbor search over an embedding column.

- ``brute_topk``: exact cosine top-k, the correctness baseline — a
  broadcast join of the (small) query set against the corpus.
- ``ivf_topk``: coarse-quantizer ANN — inverted lists of the nearest
  ``ivf_centroids`` centroid (``ivf_assign``), ``nprobe`` lists probed.
- ``lsh_topk``: banded signed-random-projection (hyperplane) LSH — each
  vector gets one ``planes_per_band``-bit key per band
  (``banded_keys``); candidates are corpus vectors sharing a band
  bucket with the query within Hamming distance 1 (multi-probe over
  1-bit flips, ``probe_signatures``). Hyperplane components are
  md5-derived, so the bucketing is deterministic and reproducible in
  SQL.

Every path reranks with the same three pieces, each written once here:
``vectors`` (id, doubles, left-fold L2 norm), ``cosine`` (dot products
via zip_with/aggregate, JVM-side, rounded to 4 places) and ``_top_k``
(the per-query rank window). ``dedup``'s embedding near-dup pairs use
``vectors``, ``cosine`` and ``banded_keys`` too.

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


def vectors(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """(id, v, norm): each vector as doubles with its L2 norm — the one
    vector side of every exact-cosine rerank."""
    return _normed(
        df.select(
            F.col(id_col).alias("id"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
        )
    )


def _normed(v: DataFrame) -> DataFrame:
    """(id, v) doubles plus ``norm``. The squares fold strictly left to
    right (``dedup._load_vector_matrix`` repeats that order in numpy,
    bit for bit)."""
    return v.withColumn(
        "norm", F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x))
    )


def cosine(a: str, na: str, b: str, nb: str) -> Column:
    """Exact cosine of vector columns ``a``/``b`` with norms ``na``/``nb``,
    rounded to 4 places — the one cosine rule of the ANN and near-dup
    operators."""
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    return F.round(dot / (F.col(na) * F.col(nb)), 4)


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """The ``k`` best (query_id, corpus_id, cosine) rows per query:
    cosine desc, ties by corpus_id asc, ranked from 1."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("corpus_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "corpus_id", "cosine", "rank")
    )


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


def banded_keys(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes_per_band: int = 4,
    bands: int = 8,
    dim: int | None = None,
    spread: bool = True,
) -> DataFrame:
    """(id, keys array<int>): ``bands`` independent hyperplane-LSH tables
    of ``planes_per_band`` bits each, one key per band (posexplode gives
    (id, band, band_key) rows). Two vectors at angle theta collide in
    >= 1 band with probability 1 - (1 - p^b)^L, p = 1 - theta/pi — the
    multi-table construction that keeps recall high where a single wide
    signature would shatter near-dups across buckets. Signatures are
    deterministic (md5 hyperplanes), precomputable and storable as a
    bucketed table at corpus scale.

    ``dim`` is the vector width; when omitted it is sampled from one row
    (a tiny eager job at plan-build time) — either way every row is
    length/null-checked inside the band-key kernel (``_band_keys_udf``:
    a mismatched or NULL vector raises with the expected/got message)
    so heterogeneous vectors fail loudly instead of producing silently
    biased signatures. ``spread=False`` skips the small-scan
    repartition for inputs known to be tiny (e.g. a query batch that
    broadcasts later anyway)."""
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
    corpus = vectors(emb, id_col, vec_col).toDF("corpus_id", "cv", "cn")
    q = vectors(queries, id_col, vec_col).toDF("query_id", "qv", "qn")
    scored = corpus.join(
        F.broadcast(q), F.col("corpus_id") != F.col("query_id")
    ).withColumn("cosine", cosine("qv", "qn", "cv", "cn"))
    return _top_k(scored, k)


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
    # the cast runs below the top-k and the norm above it, on the kept
    # rows only: one TakeOrderedAndProject, not a global sort (a Limit
    # over two stacked Projects does not plan as a top-k)
    first = vectors(emb, id_col, vec_col).drop("norm").orderBy("id").limit(n_centroids)
    return _normed(first).toDF("centroid_id", "cv", "cn")


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
    scored = vectors(df, id_col, vec_col).join(
        F.broadcast(centroids), how="cross"
    ).withColumn("ccos", cosine("v", "norm", "cv", "cn"))
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
    corpus = ivf_assign(emb, cent, id_col, vec_col, nprobe=1).drop("probe_rank")
    probes = ivf_assign(queries, cent, id_col, vec_col, nprobe).drop("probe_rank")
    scored = (
        corpus.toDF("corpus_id", "cv", "cn", "cluster")
        .join(F.broadcast(probes.toDF("query_id", "qv", "qn", "cluster")), "cluster")
        .filter(F.col("corpus_id") != F.col("query_id"))
        .withColumn("cosine", cosine("qv", "qn", "cv", "cn"))
        .select("query_id", "corpus_id", "cosine")
        .distinct()
    )
    return _top_k(scored, k)


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

    def band_rows(df: DataFrame, spread: bool) -> DataFrame:
        keys = banded_keys(df, id_col, vec_col, planes_per_band, bands, dim, spread)
        return keys.select("id", F.posexplode("keys").alias("band", "band_key"))

    corpus_bb = band_rows(emb, True).withColumnRenamed("id", "corpus_id")
    # query side: a handful of rows that broadcast below — spreading
    # them across the shuffle width would add an exchange for nothing
    probed_q = probe_signatures(
        band_rows(queries, False), planes_per_band
    ).withColumnRenamed("id", "query_id")
    cand = (
        corpus_bb.join(F.broadcast(probed_q), ["band", "band_key"])
        .filter(F.col("corpus_id") != F.col("query_id"))
        .select("query_id", "corpus_id")
        .distinct()
    )
    corpus = vectors(emb, id_col, vec_col).toDF("corpus_id", "cv", "cn")
    q = vectors(queries, id_col, vec_col).toDF("query_id", "qv", "qn")
    scored = (
        cand.join(corpus, "corpus_id")
        .join(F.broadcast(q), "query_id")
        .withColumn("cosine", cosine("qv", "qn", "cv", "cn"))
    )
    return _top_k(scored, k)

"""Deduplication family for large-scale training-data pipelines:
exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine near-dup.

All hash functions are md5-derived so the SAME construction is
reproducible in DuckDB oracle SQL (Spark ``md5`` and DuckDB ``md5``
agree byte-for-byte). The MinHash family hashes each shingle ONCE and
derives the k signature slots arithmetically: base = the first 64 md5
bits as two 32-bit integers, mh_i = (A_i*b1 % P + A'_i*b2 % P + B_i)
mod P — the classic universal-hash construction, BIGINT-valued on both
engines. Everything is JVM-side expressions — no UDFs.

Scale notes:
- shingling explodes ~W rows per doc; the minhash signature is ONE
  groupBy(doc) with K min-aggregates (single shuffle), not K passes;
- LSH banding turns pair-finding into an equi-join on band keys — the
  classic O(n^2) -> O(n * dup_rate) reduction; AQE skew-join handles a
  hot band (e.g. boilerplate-heavy corpora);
- n-gram Jaccard join guards against hot shingles with a document-
  frequency cap (``max_df``) — a stop-shingle appearing in half the
  corpus would otherwise quadratically explode the join.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pdf2ontology_spark.sources import tables

MINHASH_K = 12  # signature length
LSH_BANDS = 6  # bands of rows = K // bands
SHINGLE_W = 3  # words per shingle


def _words(text: Column) -> Column:
    return F.filter(F.split(F.lower(text), r"[^a-z0-9äöüß]+"), lambda w: w != "")


def shingles(df: DataFrame, id_col: str, text_col: str, w: int = SHINGLE_W) -> DataFrame:
    """(id, text) -> distinct (id, shingle) word-w-gram rows.

    Distinctness comes from the per-row ``array_distinct`` BEFORE the
    explode — (id, shingle) rows are unique by construction, with no
    shuffle (a trailing ``.distinct()`` here used to re-shuffle the
    full shingle stream for nothing). CONTRACT: ``df`` must carry ONE
    row per id (a document table, not a span table) — with multiple
    rows per id the count-based Jaccard consumers (sizes/intersections)
    would silently double-count; pre-aggregate such input first.

    The input is hash-spread when its scan under-uses the cores
    (round-7 re-measurement: the documents table is one split, so the
    tokenize + shingle + per-shingle hash stage ran single-core;
    shuffling the narrow (id, text) rows first cut minhash signatures
    0.73 -> 0.37s at sf0.1 — the round-6 'don't spread shingles' note
    predated the one-md5 mix rewrite that made hashing cheap relative
    to the explode)."""
    df = tables.spread_small_scan(df, id_col)
    # Generate barrier (explode of a 1-element array): materialize the
    # tokenized words array ONCE per row. Without it, Project-collapse
    # re-inlines the split+filter expression into EVERY slice() of the
    # shingle transform — O(n_words^2) interpreted re-evaluations per
    # document (measured: the entire minhash wall time at sf0.1 was
    # this amplification, 9.6s -> sub-second for the shingle stage).
    base = df.select(
        F.col(id_col).alias("id"), _words(F.col(text_col)).alias("w0")
    ).select("id", F.explode(F.array("w0")).alias("words"))
    words = F.col("words")
    sh = F.transform(
        F.sequence(F.lit(0), F.greatest(F.size(words) - w, F.lit(0))),
        lambda i: F.array_join(F.slice(words, i + 1, w), " "),
    )
    return base.select(
        "id", F.explode(F.array_distinct(sh)).alias("shingle")
    ).filter(F.col("shingle") != "")


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Exact-duplicate groups by content hash: (content_hash, n_docs,
    min_id) for groups with n_docs >= 2. One shuffle."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(F.count("*").cast("long").alias("n_docs"), F.min(id_col).alias("min_id"))
        .filter(F.col("n_docs") >= 2)
    )


MINHASH_P = (1 << 61) - 1  # Mersenne prime modulus for the mix family


def mix_consts(k: int) -> tuple[list[int], list[int], list[int]]:
    """Deterministic (A1, A2, B) constants for the k-way universal-hash
    family h_i(b1, b2) = (A1_i*b1 % P + A2_i*b2 % P + B_i) mod P over
    the two 32-bit halves of a shingle's 64-bit md5 prefix. A < 2^30
    (odd) and b < 2^32 keep every product inside signed 64-bit, and
    each mod-P term < 2^61 keeps the 3-term sum < 2^63 — on BOTH
    engines (Spark wraps silently, DuckDB throws; the bounds make the
    question moot). Mixing BOTH halves means fusing two shingles in a
    slot requires a full 64-bit md5-prefix collision, not a 32-bit one
    (birthday at ~2^32 shingles, not ~2^16)."""
    import hashlib

    A1, A2, B = [], [], []
    for i in range(k):
        ha = int.from_bytes(hashlib.md5(f"mh-a-{i}".encode()).digest()[:8], "big")
        hc = int.from_bytes(hashlib.md5(f"mh-c-{i}".encode()).digest()[:8], "big")
        hb = int.from_bytes(hashlib.md5(f"mh-b-{i}".encode()).digest()[:8], "big")
        A1.append((ha % (1 << 30)) | 1)
        A2.append((hc % (1 << 30)) | 1)
        B.append(hb % MINHASH_P)
    return A1, A2, B


def minhash_signature(
    df: DataFrame, id_col: str, text_col: str, k: int = MINHASH_K, w: int = SHINGLE_W
) -> DataFrame:
    """(id, mh_0..mh_{k-1}) — mh_i = min over shingles of the
    universal-hash mix (``mix_consts``) of the shingle's 64-bit
    md5 prefix. Single groupBy; ONE md5 per shingle with k
    multiply-mod mixes instead of k independent digests — measured 2x
    faster end-to-end at sf0.1. (LSH semantics: slot fusion now needs
    a 64-bit md5-prefix collision between shingles — negligible at any
    realistic corpus, vs impossible-by-construction before.)

    Deliberately NOT fused in-row (unlike triples): the exploded rows
    for one document are contiguous within their scan partition, so the
    groupBy's map-side partial aggregation collapses to ~1 row per doc
    before the exchange — the shuffle carries ~n_docs * k * 8B, not
    the shingle stream — while the hash runs inside whole-stage
    codegen. An in-row array_min/transform variant was measured 2x
    SLOWER: higher-order lambdas evaluate interpreted."""
    sh = shingles(df, id_col, text_col, w)
    # b1/b2 are the two 32-bit halves of the shingle's md5 prefix; SQL
    # strings give one parse per aggregate (the Column-API form cost ~10
    # py4j round-trips per slot in pure construction time), and Spark's
    # subexpression elimination merges the two md5 references into one
    # digest per shingle
    A1, A2, B = mix_consts(k)
    base = sh.select(
        "id",
        F.expr("cast(conv(substring(md5(shingle), 1, 8), 16, 10) as bigint)").alias("b1"),
        F.expr("cast(conv(substring(md5(shingle), 9, 8), 16, 10) as bigint)").alias("b2"),
    )
    aggs = [
        F.expr(
            f"min((({A1[i]}L * b1) % {MINHASH_P}L + ({A2[i]}L * b2) % {MINHASH_P}L "
            f"+ {B[i]}L) % {MINHASH_P}L) AS mh_{i}"
        )
        for i in range(k)
    ]
    return base.groupBy("id").agg(*aggs)


def minhash_bands(
    sig: DataFrame, k: int = MINHASH_K, bands: int = LSH_BANDS
) -> DataFrame:
    """signature -> (id, band, band_key): md5 over the band's rows."""
    r = k // bands
    rows = []
    for b in range(bands):
        cols = [F.col(f"mh_{b * r + j}") for j in range(r)]
        rows.append(
            F.struct(F.lit(b).alias("band"), F.md5(F.concat_ws("|", *cols)).alias("band_key"))
        )
    return sig.select("id", F.explode(F.array(*rows)).alias("bb")).select(
        "id", F.col("bb.band").alias("band"), F.col("bb.band_key").alias("band_key")
    )


def minhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    w: int = SHINGLE_W,
) -> DataFrame:
    """LSH candidate pairs: ids sharing any band bucket. (id_a < id_b)."""
    bb = minhash_bands(minhash_signature(df, id_col, text_col, k, w), k, bands)
    a = bb.withColumnRenamed("id", "id_a")
    b = bb.withColumnRenamed("id", "id_b")
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    w: int = SHINGLE_W,
    max_df: int = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard similarity join: pairs with J >= threshold.

    inter(a,b) counted via a self-equi-join on shingle; |A|,|B| joined
    back; J = inter / (|A| + |B| - inter). ``max_df`` drops shingles in
    more than that many docs (hot-key guard; dropped shingles only
    LOWER similarity, so this is a recall-safe approximation for
    near-dup detection at scale — logged, not silent).
    """
    sh = shingles(df, id_col, text_col, w).cache()
    df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    sh_f = sh.join(F.broadcast(df_counts.filter(F.col("df") <= max_df)), "shingle").select(
        "id", "shingle"
    )
    sizes = sh_f.groupBy("id").agg(F.count("*").cast("long").alias("n"))
    inter = (
        sh_f.withColumnRenamed("id", "id_a")
        .join(sh_f.withColumnRenamed("id", "id_b"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("inter"))
    )
    return (
        inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("n", "na"), "id_a")
        .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("n", "nb"), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


SIMHASH_BITS = 64  # the standard width (wider keys -> see simhash_pairs)


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = SIMHASH_BITS) -> DataFrame:
    """(id, simhash) — sign-sum SimHash over word-token md5 bits.

    token bit b = bit (b % 4) of hex digit (b // 4) of md5(token) —
    digit-wise so the identical formula is expressible in DuckDB (which
    has no hex->bigint conversion; md5's 32 hex digits cover all 64
    bits). simhash bit b is 1 iff the sum over tokens of (2*bit - 1)
    > 0. One groupBy with ``bits`` sum-aggregates, assembled back into a
    long — bit 63 adds LONG_MIN (the two's-complement value of 2^63),
    which is carry-free because the other 63 bits sum to < 2^63.
    """
    # spread: the 64-sum-agg token stage ran single-core on a one-split
    # table (measured 4.5s -> 1.9s at sf0.1)
    tok = tables.spread_small_scan(df, id_col).select(
        F.col(id_col).alias("id"), F.explode(_words(F.col(text_col))).alias("tok")
    ).select("id", F.md5("tok").alias("h"))

    # expressions built as SQL strings, one parse per aggregate: the
    # Column-API form made ~8 py4j round-trips per bit (~1.5s of pure
    # plan-construction time per call at 64 bits — more than the query's
    # own execution); semantics identical (same conv/substring/
    # shiftright/& chain, verified value-equal and by the shared oracle)
    aggs = [
        F.expr(
            f"sum(CASE WHEN (shiftright(cast(conv(substring(h, {1 + b // 4}, 1), "
            f"16, 10) as int), {b % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS s_{b}"
        )
        for b in range(bits)
    ]
    agg = tok.groupBy("id").agg(*aggs)
    # bit 63 adds LONG_MIN (two's-complement 2^63), written as
    # (-(2^63 - 1) - 1) because the SQL parser rejects the bare literal
    terms = " + ".join(
        f"(CASE WHEN s_{b} > 0 THEN {2**b}L ELSE 0L END)"
        if b < 63
        else f"(CASE WHEN s_{b} > 0 THEN (-9223372036854775807L - 1L) ELSE 0L END)"
        for b in range(bits)
    )
    return agg.select("id", F.expr(f"cast(({terms}) as bigint)").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    bits: int = SIMHASH_BITS,
    bands: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs: hamming(simhash_a, simhash_b) <= k.

    EXACT (not probabilistic) by the pigeonhole principle: the signature
    splits into ``bands`` equal bit-blocks, and any pair within hamming
    distance k < bands must agree on at least one whole block — so the
    block equi-join loses nothing for k <= bands-1. Verification is one
    bit_count(xor) per candidate. One groupBy + one equi-join at any
    scale; signatures are storable and incremental.

    Scale of the key space: 64-bit signatures / 4 bands give 16-bit
    block keys — 65,536 buckets per band, so expected bucket occupancy
    is n/65,536 and candidate volume stays near-linear far past the
    corpus sizes where the previous 32-bit/8-bit-key construction
    (256 buckets per band, O(n^2/256) candidates) degraded to
    within-bucket all-pairs. Sub-quadratic growth is regression-tested
    (tests/test_candidate_volume.py).
    """
    assert max_hamming <= bands - 1, "pigeonhole guarantee needs k <= bands-1"
    sig = simhash(df, id_col, text_col, bits)
    return (
        simhash_candidates(sig, bits, bands)
        .withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", F.col("hamming").cast("int").alias("hamming"))
    )


def simhash_candidates(
    sig: DataFrame, bits: int = SIMHASH_BITS, bands: int = 4
) -> DataFrame:
    """Band-key collision pairs over a (id, simhash) signature table —
    the pre-verify candidate stage of ``simhash_pairs``, exposed so the
    candidate volume is measurable (tests/test_candidate_volume.py pins
    the 16-bit-key construction at ~256x fewer collision candidates than
    the old 8-bit keys)."""
    width = bits // bands
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright("simhash", b * width)
            .bitwiseAND(F.lit((1 << width) - 1))
            .alias("band_key"),
        )
        for b in range(bands)
    ]
    bb = sig.select("id", "simhash", F.explode(F.array(*band_structs)).alias("bb")).select(
        "id", "simhash", "bb.band", "bb.band_key"
    )
    a = bb.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sig_a"), "band", "band_key"
    )
    b = bb.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sig_b"), "band", "band_key"
    )
    return (
        a.join(b, ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sig_a", "sig_b")
        .distinct()
    )


def dedup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.8,
    k: int = MINHASH_K,
    bands: int = LSH_BANDS,
    w: int = SHINGLE_W,
) -> DataFrame:
    """End-to-end near-dup clustering with survivor selection — what a
    training-data pipeline actually executes: MinHash-LSH candidates ->
    exact-Jaccard verification -> connected components -> per-cluster
    survivor (min id). Every input doc appears exactly once;
    is_survivor marks the row to KEEP (singletons keep themselves).
    Scale shape: banded equi-join for candidates (never all-pairs),
    shingle joins restricted to candidate ids, union-find CC only over
    verified duplicate edges (tiny by construction)."""
    cand = minhash_pairs(df, id_col, text_col, k, bands, w)
    sh = shingles(df, id_col, text_col, w)
    sizes = sh.groupBy("id").agg(F.count("*").cast("long").alias("n"))
    inter = (
        cand.join(sh.select(F.col("id").alias("id_a"), "shingle"), "id_a")
        .join(sh.select(F.col("id").alias("id_b"), "shingle"), ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").cast("long").alias("inter"))
    )
    verified = (
        inter.join(sizes.select(F.col("id").alias("id_a"), F.col("n").alias("na")), "id_a")
        .join(sizes.select(F.col("id").alias("id_b"), F.col("n").alias("nb")), "id_b")
        .filter(
            F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")) >= threshold
        )
        .select("id_a", "id_b")
    )
    from pdf2ontology_spark.operators import components

    comp = components.connected_components(verified, "id_a", "id_b")
    return (
        df.select(F.col(id_col).alias("id"))
        .join(comp.withColumnRenamed("node", "id"), "id", "left")
        .withColumn("cluster_id", F.coalesce("component", "id"))
        .withColumn("is_survivor", (F.col("id") == F.col("cluster_id")).cast("int"))
        .select("id", "cluster_id", "is_survivor")
    )


def _vec_dim(emb: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return emb.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    ).withColumn(
        "norm", F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x))
    )


def embedding_candidates(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    planes_per_band: int | None = None,
    bands: int = 12,
    n: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Banded hyperplane-LSH candidate pairs (id_a < id_b) with 1-bit
    multi-probe. ``planes_per_band=None`` (the default) sizes the band
    keys to the corpus via ``similarity.planes_for_corpus(n)`` — a key
    space that keeps expected bucket occupancy ~constant as n grows, so
    candidate volume stays sub-quadratic (regression-tested in
    tests/test_candidate_volume.py) instead of O(n^2/2^width) with a
    fixed width. Pass ``n`` (corpus cardinality from table stats /
    parquet footer metadata, e.g. ``tables.table_rows``) to keep the
    plan build fully lazy; when absent one count job runs as fallback —
    cheap for plain parquet (row-group-metadata driven) but eager."""
    from pdf2ontology_spark.operators import similarity

    if planes_per_band is None:
        planes_per_band = similarity.planes_for_corpus(emb.count() if n is None else n)
    # compute the signature table ONCE: both self-join sides read the
    # persisted keys, where referencing banded_signatures twice
    # duplicated the whole scan + Arrow-UDF subtree in the physical
    # plan (round-7 profile: the duplicated signature stage was most of
    # the candidate cost). persist() (not localCheckpoint) keeps the
    # plan build job-free — a lazy checkpoint's .rdd pre-executes the
    # spread exchange under AQE — and is the same stage-sharing pattern
    # linking.canonicalize uses for its surfaces table.
    keys = similarity.banded_keys(
        emb, id_col, vec_col, planes_per_band, bands, dim
    ).persist()
    bb = keys.select("id", F.posexplode("keys").alias("band", "band_key"))
    probed = similarity.probe_signatures(bb, planes_per_band)
    return (
        bb.withColumnRenamed("id", "id_a")
        .join(probed.withColumnRenamed("id", "id_b"), ["band", "band_key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


# gate for the matrix rerank: the whole vector table must fit
# comfortably in each python worker's task-local matrix
_MATRIX_BC_MAX_BYTES = 64 << 20


def _bare_parquet_files(df: DataFrame) -> list[str] | None:
    """Local parquet data files IFF ``df`` is an unmodified file scan —
    the only case where reading the files directly is guaranteed to see
    exactly the DataFrame's rows/values. Any projection/filter/local
    relation returns None (callers fall back to the join rerank)."""
    import os

    try:
        cls = df._jdf.queryExecution().analyzed().getClass().getSimpleName()
        if cls != "LogicalRelation":
            return None
    except Exception:  # noqa: BLE001 — any introspection failure -> fallback
        return None
    paths = tables.input_paths(df)
    if not paths or not all(p.endswith(".parquet") and os.path.exists(p) for p in paths):
        return None
    return paths


def _load_vector_matrix(paths: list[str], id_col: str, vec_col: str, dim: int):
    """(id -> row index dict, (n, dim) float64 matrix, norms) from the
    parquet files, or None if the vectors are ragged. Norms use the
    same strict left-to-right fold as similarity._norm."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.concat_tables(
        [pq.read_table(p, columns=[id_col, vec_col]) for p in sorted(paths)]
    )
    n = t.num_rows
    arr = t.column(vec_col).combine_chunks()
    flat = arr.flatten().to_numpy(zero_copy_only=False)
    if flat.shape[0] != n * dim:
        return None  # ragged vectors: let the join path raise its guard
    V = flat.astype(np.float64, copy=False).reshape(n, dim)
    idx = {i: j for j, i in enumerate(t.column(id_col).to_pylist())}
    norm_acc = np.zeros(n)
    for i in range(dim):  # strict fold order
        norm_acc += V[:, i] * V[:, i]
    return idx, V, np.sqrt(norm_acc)


def _matrix_rerank(
    cand: DataFrame,
    paths: list[str],
    id_col: str,
    vec_col: str,
    dim: int,
) -> DataFrame:
    """Exact-cosine rerank as a per-task vector matrix + Arrow kernel
    (guide §8 'decide with small rows' / §4.5 'heavyweight init once
    per task'): ship only the (id_a, id_b) pairs through the kernel and
    gather the vectors from a matrix each task loads once from the
    parquet files, instead of attaching both vectors to every candidate
    row through two joins and folding the dot interpreted per pair
    (measured ~1.8 -> ~1.2s at sf0.1's 718k candidates; a
    pandas-UDF-over-joined-vectors variant was a wash because the Arrow
    transfer of the pair-expanded vectors offset the vectorized dot).
    Loading inside the task (not sc.broadcast at plan-build) keeps the
    plan build I/O-free and leaves no broadcast to leak across
    repeated query constructions; the table is already gated to <=
    _MATRIX_BC_MAX_BYTES by the caller.

    BIT-IDENTICAL to the join form: float32 -> float64 casts are exact;
    the dot and the norms accumulate with the same strict left-to-right
    fold (numpy elementwise ops are IEEE, no FMA/pairwise reordering);
    division order matches (dot / (na * nb)); the final round +
    threshold stay in the JVM so Spark's HALF_UP rounding is literally
    the same code, and NaN cosines are dropped exactly like the join
    path drops their NULL counterparts."""
    import numpy as np

    def rerank(batches):
        loaded = _load_vector_matrix(paths, id_col, vec_col, dim)
        if loaded is None:
            raise ValueError(
                f"embedding dimension mismatch: expected {dim}-wide vectors in {paths}"
            )
        idx, V, norms = loaded
        for pdf in batches:
            out = pdf[["id_a", "id_b"]].copy()
            if len(pdf) == 0:
                out["cos_raw"] = []
                yield out
                continue
            ia = np.array([idx[x] for x in pdf["id_a"]])
            ib = np.array([idx[x] for x in pdf["id_b"]])
            A = V[ia]
            B = V[ib]
            acc = np.zeros(len(A))
            for i in range(A.shape[1]):  # strict fold order
                acc += A[:, i] * B[:, i]
            out["cos_raw"] = acc / (norms[ia] * norms[ib])
            yield out

    id_t = dict(cand.dtypes)["id_a"]
    return cand.mapInPandas(
        rerank, f"id_a {id_t}, id_b {id_t}, cos_raw double"
    )


def embedding_cosine_pairs(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    planes_per_band: int | None = None,
    bands: int = 12,
    n: int | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Embedding near-duplicate pairs: cosine >= threshold, bucketed.

    ``n`` (corpus cardinality) and ``dim`` (vector width) are table
    stats — thread them from the catalog / parquet footer
    (``tables.table_rows`` / ``tables.embedding_dim``) and the whole
    plan builds lazily, with zero Spark jobs before the action
    (pinned by tests/test_lazy_build.py).

    Candidates come from a banded hyperplane-LSH equi-join with 1-bit
    MULTI-PROBE (``embedding_candidates``) — NO CartesianProduct at any
    scale, and the band-key width is derived from the corpus count
    (``planes_for_corpus``) so bucket occupancy, and with it candidate
    volume per row, stays roughly constant as the corpus grows (a fixed
    8-bit key had 256 buckets per band: O(n^2/256) candidates — fine at
    50k vectors, a scale-killer at 100x). Per-band match probability is
    P(hamming <= 1) = p^b + b*p^(b-1)(1-p), p = 1 - theta/pi; across L
    bands recall is ~1.0 for true near-dups, and the 1-bit multi-probe
    holds recall as the keys widen. Exact cosine reranks via two
    dimension joins; the exhaustive baseline stays available as
    ``embedding_cosine_pairs_brute``.
    """
    cand = embedding_candidates(emb, id_col, vec_col, planes_per_band, bands, n=n, dim=dim)
    # matrix rerank when the table is a bare parquet scan that fits the
    # per-task matrix budget; the join + interpreted-fold rerank is the
    # general path (arbitrary plans, tables too big to hold per task).
    # The size gate re-checks the ACTUAL row count from the parquet
    # footers (a driver-side stat, no job) so a stale caller-supplied
    # ``n`` cannot sneak an oversized table past the budget.
    if n is not None and dim is not None and n * dim * 8 <= _MATRIX_BC_MAX_BYTES:
        paths = _bare_parquet_files(emb)
        if paths is not None:
            import pyarrow.parquet as pq

            true_n = sum(pq.ParquetFile(p).metadata.num_rows for p in paths)
            if true_n * dim * 8 <= _MATRIX_BC_MAX_BYTES:
                scored = _matrix_rerank(cand, paths, id_col, vec_col, dim)
                # NaN parity with the join path: a null vector element
                # makes the join rerank's cosine NULL (dropped by the
                # threshold filter); the matrix path yields NaN, which
                # Spark's ordering would PASS — drop it explicitly
                return (
                    scored.filter(~F.isnan(F.col("cos_raw")))
                    .withColumn("cosine", F.round(F.col("cos_raw"), 4))
                    .filter(F.col("cosine") >= threshold)
                    .select("id_a", "id_b", "cosine")
                )
    v = _vec_dim(emb, id_col, vec_col)
    a = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("norm").alias("na"))
    b = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("norm").alias("nb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("cosine", F.round(dot / (F.col("na") * F.col("nb")), 4))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def embedding_cosine_pairs_brute(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Exhaustive O(n^2) baseline for embedding near-dup pairs — the
    recall oracle for the bucketed path; never point it at a full
    corpus. Dot products stay JVM-side via zip_with + aggregate."""
    v = _vec_dim(emb, id_col, vec_col)
    a = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("norm").alias("na"))
    b = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("norm").alias("nb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    return (
        a.crossJoin(b)
        .filter(F.col("id_a") < F.col("id_b"))
        .withColumn("cosine", F.round(dot / (F.col("na") * F.col("nb")), 4))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )

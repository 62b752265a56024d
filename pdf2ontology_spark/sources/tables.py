"""Table IO.

Every table is a parquet path. The production design targets Iceberg
(BASELINE.json north_rule), but no Iceberg runtime jar ships with the
repo, so Iceberg writers and ``MERGE INTO`` wait until one does;
``merge_upsert`` keeps MERGE's semantics over parquet meanwhile.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from pdf2ontology_spark import synth

DRIVER_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


# parquet schema inference submits a one-task Spark job per read, so
# infer once and pass the schema explicitly afterwards — repeat plan
# builds (bench reps, the oracle loop) become fully job-free. The cache
# key includes the data files' (size, mtime) fingerprint: regenerating a
# table at the same path within one driver process invalidates the entry
# instead of silently reading with a stale schema (nulls for renamed
# columns). Values are plain StructTypes, valid across sessions.
_SCHEMA_CACHE: dict[tuple, object] = {}


def _table_fingerprint(path: str) -> tuple:
    return tuple(
        (f, os.path.getsize(f), os.stat(f).st_mtime_ns) for f in _data_files(path)
    )


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver-provided testdata table (TESTDATA.md)."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    key = (path, _table_fingerprint(path))
    schema = _SCHEMA_CACHE.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_CACHE[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


_SPLIT_FLOOR = 4 * 1024 * 1024
_SPLIT_CAP = 128 * 1024 * 1024
_SPLIT_WAVES = 4


def tune_split_bytes(spark: SparkSession, path: str) -> int:
    """Size scan splits from the ACTUAL input instead of a static
    session default: splits are COMPRESSED bytes, so the right value
    scales with data-per-core — a 600MB local bench corpus wants ~4MB
    splits (4-5 task waves on 32 cores; wave quantization was the whole
    triples-efficiency gap), while a cluster feeding 100GB+ per scan
    with a 4MB split would plan ~25k tasks of pure scheduling overhead.
    Targets ``_SPLIT_WAVES`` waves of ``defaultParallelism`` tasks,
    clamped to [4MB, 128MB]. ``SPARK_GRAFT_MAX_PARTITION_BYTES`` pins
    the value explicitly and disables the tuner.

    The session conf only RATCHETS UP: Spark reads
    spark.sql.files.maxPartitionBytes at execution time, so a
    small-corpus load after a large-corpus plan was built must not
    shrink the splits the large scan will execute with (4MB splits on
    100GB is the 25k-task pathology this tuner exists to prevent). The
    cost of the ratchet — a small corpus loaded after a big one scans
    in fewer, larger waves — is bounded and benign by comparison."""
    pinned = os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES")
    if pinned:
        return int(pinned)
    cores = spark.sparkContext.defaultParallelism
    target = max(
        _SPLIT_FLOOR, min(_SPLIT_CAP, _scan_bytes(path) // max(1, cores * _SPLIT_WAVES))
    )
    current = _parse_byte_conf(spark.conf.get("spark.sql.files.maxPartitionBytes", "0"))
    target = max(target, current)
    if target != current:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(target))
    return target


def spread_width(spark: SparkSession) -> int:
    """The one partition count a hash spread uses: the session's shuffle
    partitions, capped at ``_SPLIT_WAVES`` waves of ``defaultParallelism``
    tasks (the scan tuner's target). The cap keeps an untuned conf, such
    as spark-submit's default 200, from cutting a small corpus into 200
    slivers — one file each per doc-keyed checkpoint stage."""
    n = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return min(n, _SPLIT_WAVES * spark.sparkContext.defaultParallelism)


def input_paths(df: DataFrame) -> list[str]:
    """Local paths of the files ``df`` scans; [] for a plan with no file
    source (an in-memory table) or one Spark cannot list."""
    try:
        files = df.inputFiles()
    except Exception:  # noqa: BLE001 — non-file-source plans
        return []
    return [f.removeprefix("file://").removeprefix("file:") for f in files]


# the scan-width probe converts the plan to an RDD (a nontrivial
# driver-side cost on hot plan-build paths), so its result is memoized
# per (session, semantic plan, input-file fingerprint) — repeat builds
# of the same stage (bench reps, oracle loop) pay it once. The
# fingerprint (file sizes + mtimes, as in the schema cache) invalidates
# the entry when a table at the same path is REGENERATED inside one
# driver process — semanticHash alone keys on the path and would hand
# back a stale width; the FIFO cap bounds the dict on a long-lived
# driver.
_SPREAD_CACHE: dict[tuple, int] = {}
_SPREAD_CACHE_MAX = 256


def _input_fingerprint(df: DataFrame) -> tuple:
    out = []
    for path in sorted(input_paths(df))[:64]:  # 64 files identify a table cheaply
        try:
            st = os.stat(path)
            out.append((path, st.st_size, st.st_mtime_ns))
        except OSError:
            out.append((path, -1, -1))
    return tuple(out)


def spread_small_scan(df: DataFrame, key: str) -> DataFrame:
    """Hash-spread ``df`` on ``key`` to ``spread_width`` partitions when
    its scan splits into fewer: a small parquet table is often ONE
    split, which serializes the expensive downstream stage (extraction
    regexes, signature kernels, token explode + per-token hashing) onto
    one core. A scan already that wide is returned as is — shuffling it
    would move the whole input for no gain."""
    spark = df.sparkSession
    cache_key = (spark.sparkContext.applicationId, df.semanticHash(), _input_fingerprint(df))
    n_scan = _SPREAD_CACHE.get(cache_key)
    if n_scan is None:
        n_scan = df.rdd.getNumPartitions()
        while len(_SPREAD_CACHE) >= _SPREAD_CACHE_MAX:
            _SPREAD_CACHE.pop(next(iter(_SPREAD_CACHE)))
        _SPREAD_CACHE[cache_key] = n_scan
    width = spread_width(spark)
    return df.repartition(width, key) if n_scan < width else df


def _parse_byte_conf(value: str) -> int:
    """Spark byte confs come back with a unit suffix when the session
    did not set them as a bare number (the default prints as
    '134217728b'); mirror JavaUtils.byteStringAsBytes for the suffixes
    Spark emits instead of letting int() raise."""
    v = value.strip().lower()
    mult = 1
    for suffix, m in (
        ("pb", 1024**5), ("tb", 1024**4), ("gb", 1024**3), ("mb", 1024**2),
        ("kb", 1024), ("p", 1024**5), ("t", 1024**4), ("g", 1024**3),
        ("m", 1024**2), ("k", 1024), ("b", 1),
    ):
        if v.endswith(suffix):
            v, mult = v[: -len(suffix)], m
            break
    return int(v) * mult


def _data_files(path: str) -> list[str]:
    """The parquet data files of a table path (single file or Spark
    directory layout) — the ONE place that knows the on-disk layout,
    shared by the byte sizing, row-count and schema-peek helpers."""
    if not os.path.isdir(path):
        return [path]
    out = []
    for root, _dirs, files in os.walk(path):
        for f in sorted(files):
            if f.endswith(".parquet"):
                out.append(os.path.join(root, f))
    return out


def table_rows(sf_dir: str, name: str) -> int:
    """Row count of a driver testdata table from parquet FOOTER metadata
    — a driver-side file-stat read, NO Spark job. Auto-parameterized
    operators (LSH key widths, IVF quantizer size) need the corpus
    cardinality at plan-build time; running even a column-less count job
    for it makes the plan eager. At deployment scale this is the
    catalog/table-statistics lookup (Iceberg snapshot summary,
    metastore rowCount) — same idea, same laziness."""
    import pyarrow.parquet as pq

    path = os.path.join(sf_dir, f"{name}.parquet")
    return sum(pq.ParquetFile(f).metadata.num_rows for f in _data_files(path))


def embedding_dim(sf_dir: str, name: str = "embeddings", col: str = "embedding") -> int:
    """Vector width from the first row of the parquet table — a
    driver-side pyarrow read of one row group's one column, NO Spark
    job. Paired with ``table_rows`` it lets the similarity/dedup
    operators build their plans fully lazily (every row is still
    length-checked at run time by ``similarity._band_keys_udf``)."""
    import pyarrow.parquet as pq

    path = _data_files(os.path.join(sf_dir, f"{name}.parquet"))[0]
    try:
        batch = next(pq.ParquetFile(path).iter_batches(batch_size=1, columns=[col]))
    except StopIteration:
        raise ValueError(f"embeddings table at {path} is empty") from None
    return len(batch.column(0)[0])


def load_documents_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Read the interleaved-span documents table (input_hint shape),
    generating the deterministic synthetic corpus on first use
    (pdf2ontology_spark.synth; seed=42, cached parquet). A plain scan
    with its splits sized by ``tune_split_bytes``: a caller whose
    downstream per-document work must run wide spreads it with
    ``spread_small_scan``."""
    paths = synth.ensure_synth(sf_dir)
    tune_split_bytes(spark, paths["documents_spans"])
    return spark.read.parquet(paths["documents_spans"])


def _scan_bytes(path: str) -> int:
    """Total parquet bytes a scan of ``path`` will read. For a
    Spark-written DIRECTORY table, ``os.path.getsize`` returns the inode
    size (~4KB), which would size its splits as if the table were empty,
    so directories sum their data files instead."""
    return sum(os.path.getsize(f) for f in _data_files(path))


def load_detections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detection-style bbox rows for the grid-reconstruction family
    (synth.ensure_detections; bucket = row|column|header|spanning_cell|cell)."""
    return spark.read.parquet(synth.ensure_detections(sf_dir)["table_detections"])


def load_contours(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-image contour (angle, area) rows for skew statistics."""
    return spark.read.parquet(synth.ensure_detections(sf_dir)["contours"])


def load_media_blobs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus blob store: (media_ref, png) with REAL PNG-encoded
    bytes (synth.ensure_blobs). At deployment scale this table is
    bucketed by media_ref so the media operators' blob join is
    co-located — the bytes never transit a shuffle."""
    return spark.read.parquet(synth.ensure_blobs(sf_dir)["media_blobs"])


def load_golden_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    paths = synth.ensure_synth(sf_dir)
    return spark.read.parquet(paths["golden_triples"])


def write_table(df: DataFrame, path: str) -> None:
    """Overwrite the parquet table at ``path``."""
    # 16MB row groups keep the table splittable regardless of the
    # writer's parallelism (row group = atomic scan-split unit)
    df.write.mode("overwrite").option("parquet.block.size", 16 * 1024 * 1024).parquet(path)


_MERGE_META = "_merge_meta.json"


def _write_merge_meta(table_dir: str, commit_meta: dict | None) -> None:
    if commit_meta is not None:
        import json

        with open(os.path.join(table_dir, _MERGE_META), "w") as f:
            json.dump(commit_meta, f)


def merge_meta(path: str) -> dict | None:
    """The ``commit_meta`` recorded by the last committed
    ``merge_upsert`` on this table (None if none was ever attached).
    Because the meta file is written into the merge's staging directory
    BEFORE the commit renames, it travels atomically with the data —
    the foundation of foreachBatch replay idempotence
    (streaming/incremental.py stream_graph_upsert)."""
    import json

    _recover_merge(path)
    p = os.path.join(path, _MERGE_META)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def merge_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    key_cols: list[str],
    commit_meta: dict | None = None,
) -> None:
    """Keyed upsert — the Iceberg ``MERGE INTO`` analog over parquet:
    rows matching on ``key_cols`` are replaced by the update,
    others are kept, new keys are inserted. Semantics (not mechanics)
    match MERGE ... WHEN MATCHED THEN UPDATE WHEN NOT MATCHED THEN
    INSERT. Mechanically every call rewrites the WHOLE table: the
    existing rows left-anti-joined against the update keys, unioned
    with the update, written to ``._merge_tmp`` — the cost is the
    table's size, not the update's. The parquet commit is two renames,
    which is NOT atomic —
    it is CRASH-RECOVERABLE instead: a crash between the renames leaves
    the fully-written merge result under ``._merge_tmp`` and the
    previous table under ``._merge_old``; ``_recover_merge`` (run by the
    next ``merge_upsert`` call AND by the ``read_merged`` read-path
    helper) prefers COMPLETING the crashed commit from ``._merge_tmp``
    (it has ``_SUCCESS``, so it is the full merged output) and falls
    back to restoring ``._merge_old`` — no committed data is ever
    silently lost. A real transactional MERGE INTO waits until an
    Iceberg runtime jar is in the repo.
    """
    import shutil

    tmp = path.rstrip("/") + "._merge_tmp"
    old = path.rstrip("/") + "._merge_old"
    _recover_merge(path)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        # fresh table: stage + rename too, so ``commit_meta`` (and the
        # data) appear atomically — a crash right after a bare
        # overwrite-in-place would otherwise leave data without its
        # marker and a replayed batch would double-apply
        updates.write.mode("overwrite").parquet(tmp)
        _write_merge_meta(tmp, commit_meta)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
        return
    existing = spark.read.parquet(path)
    merged = existing.join(updates.select(*key_cols), key_cols, "left_anti").unionByName(
        updates
    )
    merged.write.mode("overwrite").parquet(tmp)
    _write_merge_meta(tmp, commit_meta)
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old, ignore_errors=True)


def _recover_merge(path: str) -> None:
    """Repair a merge that crashed between its two commit renames.

    A complete ``._merge_tmp`` (has ``_SUCCESS``) is always the NEWEST
    state — it is renamed away on successful commit, so its presence
    means the commit never finished — and wins unconditionally; next an
    intact committed ``path`` (only stale leftovers to sweep); last the
    pre-merge backup ``._merge_old``."""
    import shutil

    tmp = path.rstrip("/") + "._merge_tmp"
    old = path.rstrip("/") + "._merge_old"
    if os.path.exists(os.path.join(tmp, "_SUCCESS")):
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
        shutil.rmtree(old, ignore_errors=True)
    elif os.path.exists(os.path.join(path, "_SUCCESS")):
        shutil.rmtree(old, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    elif os.path.exists(os.path.join(old, "_SUCCESS")):
        shutil.rmtree(path, ignore_errors=True)
        os.rename(old, path)


def read_merged(spark: SparkSession, path: str) -> DataFrame:
    """Read a ``merge_upsert``-managed parquet table, repairing a
    crashed commit first — so a plain read after a mid-commit crash sees
    the recovered table instead of failing on the missing directory."""
    _recover_merge(path)
    return spark.read.parquet(path)

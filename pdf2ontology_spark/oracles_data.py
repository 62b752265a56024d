"""DuckDB oracle SQL for the training-data operators (dedup family,
text analysis, ANN, media plumbing) — independent recomputations over
the driver-registered ``documents``/``embeddings`` views and the
synthetic spans parquet.

Portability notes:
- DuckDB has no hex->int conversion, so hash-derived integers are
  computed DIGIT-WISE: hexval(h, start, n) = positional sum of hex
  digits — the Spark/Python sides use the same digit positions.
- ``string_split_regex`` + ``list_filter`` mirror Spark's
  split+filter; ``list_transform(range(...))`` mirrors transform over
  sequence; ``list_aggregate(_, 'min'/'sum')`` mirrors
  array_min/aggregate.
"""

from __future__ import annotations

from pdf2ontology_spark import oracles, raster
from pdf2ontology_spark.operators.dedup import LSH_BANDS, MINHASH_K, SHINGLE_W, SIMHASH_BITS
from pdf2ontology_spark.operators.text import DE_STOP, EN_STOP, TOKEN_RE


def hexval(expr: str, start: int, n: int) -> str:
    """SQL: integer value of n hex digits of ``expr`` starting at
    1-based ``start``."""
    terms = [
        f"(strpos('0123456789abcdef', substr({expr}, {start + j}, 1)) - 1) * {16 ** (n - 1 - j)}"
        for j in range(n)
    ]
    return "(" + " + ".join(terms) + ")"


def words_sql(text: str) -> str:
    return f"list_filter(string_split_regex(lower({text}), '[^a-z0-9äöüß]+'), x -> x <> '')"


def shingles_cte(source: str, id_col: str, text_col: str, w: int = SHINGLE_W) -> str:
    """Distinct word-w-gram shingles per id."""
    ws = words_sql(text_col)
    return f"""
docs AS (SELECT {id_col} AS id, {ws} AS words FROM {source}),
shingles AS (
  SELECT DISTINCT id, sh AS shingle FROM (
    SELECT id, unnest(list_distinct(list_transform(
      range(1, greatest(len(words) - {w - 1}, 1) + 1),
      i -> array_to_string(list_slice(words, i, i + {w - 1}), ' ')))) AS sh
    FROM docs)
  WHERE sh <> ''
)"""


def dedup_exact_sql(source: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    return f"""
SELECT md5({text_col}) AS content_hash, count(*) AS n_docs,
       min({id_col}) AS min_id
FROM {source} GROUP BY 1 HAVING count(*) >= 2"""


def mh_base_cte(name: str, src: str, keys: str) -> str:
    """CTE computing the shingle's two 32-bit md5-prefix halves ONCE
    per row (inner select materializes the digest; ``hexval`` then
    only reads its digits) — the SQL-side 'one md5 per shingle'."""
    return (
        f"{name} AS (SELECT {keys}, {hexval('h5', 1, 8)} AS mhb1, "
        f"{hexval('h5', 9, 8)} AS mhb2 "
        f"FROM (SELECT {keys}, md5(shingle) AS h5 FROM {src}))"
    )


def mh_mix_aggs(k: int) -> str:
    """The universal-hash MinHash aggregations (dedup.mix_consts
    family) over the mhb1/mhb2 halves of a ``mh_base_cte``."""
    from pdf2ontology_spark.operators.dedup import MINHASH_P, mix_consts

    A1, A2, B = mix_consts(k)
    P = MINHASH_P
    return ",\n    ".join(
        f"min((({A1[i]} * mhb1) % {P} + ({A2[i]} * mhb2) % {P} + {B[i]}) % {P})"
        f" AS mh_{i}"
        for i in range(k)
    )


def _mh_aggs() -> str:
    return mh_mix_aggs(MINHASH_K)


def minhash_signature_sql(source: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    return f"""
WITH {shingles_cte(source, id_col, text_col)},
{mh_base_cte("mhb", "shingles", "id")}
SELECT id, {_mh_aggs()}
FROM mhb GROUP BY id"""


def minhash_pairs_sql(source: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    r = MINHASH_K // LSH_BANDS
    band_rows = []
    for b in range(LSH_BANDS):
        cols = " || '|' || ".join(f"mh_{b * r + j}" for j in range(r))
        band_rows.append(f"SELECT id, {b} AS band, md5({cols}) AS band_key FROM sig")
    return f"""
WITH {shingles_cte(source, id_col, text_col)},
{mh_base_cte("mhb", "shingles", "id")},
sig AS (SELECT id, {_mh_aggs()} FROM mhb GROUP BY id),
bands AS ({" UNION ALL ".join(band_rows)})
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM bands a JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
WHERE a.id < b.id"""


def ngram_jaccard_sql(
    source: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    max_df: int = 1000,
) -> str:
    return f"""
WITH {shingles_cte(source, id_col, text_col)},
kept AS (
  SELECT id, shingle FROM shingles
  WHERE shingle IN (SELECT shingle FROM shingles GROUP BY shingle HAVING count(*) <= {max_df})),
sizes AS (SELECT id, count(*) AS n FROM kept GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.id < b.id
  GROUP BY 1, 2)
SELECT i.id_a, i.id_b,
       round(CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter), 6) AS jaccard
FROM inter i
JOIN sizes sa ON sa.id = i.id_a
JOIN sizes sb ON sb.id = i.id_b
WHERE CAST(i.inter AS DOUBLE) / (sa.n + sb.n - i.inter) >= {threshold} - 1e-12"""


def _simhash_weight(b: int) -> str:
    """Bit weight in signed-BIGINT space: bit 63 is LONG_MIN (adding it
    last is carry-free since the other 63 bits sum to < 2^63)."""
    return str(2**b) if b < 63 else "(-9223372036854775808)"


def simhash_sql(source: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    sums = []
    for b in range(SIMHASH_BITS):
        digit = hexval("h", 1 + b // 4, 1)
        bit = f"(({digit} // {2 ** (b % 4)}) % 2)"
        sums.append(f"sum(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END) AS s_{b}")
    assemble = " + ".join(
        f"(CASE WHEN s_{b} > 0 THEN {_simhash_weight(b)} ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    ws = words_sql(text_col)
    return f"""
WITH toks AS (
  SELECT {id_col} AS id, md5(unnest({ws})) AS h FROM {source}),
sums AS (SELECT id, {", ".join(sums)} FROM toks GROUP BY id)
SELECT id, CAST({assemble} AS BIGINT) AS simhash FROM sums"""


def embedding_pairs_sql(threshold: float = 0.8) -> str:
    return f"""
WITH v AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings)
SELECT a.id AS id_a, b.id AS id_b,
       round(list_cosine_similarity(a.v, b.v), 4) AS cosine
FROM v a JOIN v b ON a.id < b.id
WHERE round(list_cosine_similarity(a.v, b.v), 4) >= {threshold} - 1e-9"""


def ann_brute_sql(k: int = 5, n_queries: int = 8) -> str:
    return f"""
WITH v AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
scored AS (
  SELECT q.id AS query_id, c.id AS corpus_id,
         list_cosine_similarity(q.v, c.v) AS cos_raw
  FROM v q JOIN v c ON c.id <> q.id
  WHERE q.id < {n_queries}),
ranked AS (
  SELECT query_id, corpus_id, round(cos_raw, 4) AS cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(cos_raw, 4) DESC, corpus_id ASC) AS rank
  FROM scored)
SELECT query_id, corpus_id, cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {k}"""


def _band_sig_sql(vcol: str, offset: int, nbits: int) -> str:
    """nbits-bit hyperplane signature over planes [offset, offset+nbits)
    of a double list column — twin of similarity._band_keys_udf."""
    projs = []
    for j in range(nbits):
        p = offset + j
        plane_md5 = f"md5('{p}:' || CAST(i - 1 AS VARCHAR))"
        comp = f"({hexval(plane_md5, 1, 8)} / 2147483648.0 - 1.0)"
        proj = (
            f"list_aggregate(list_transform(range(1, len({vcol}) + 1),"
            f" i -> {vcol}[i] * {comp}), 'sum')"
        )
        projs.append(f"(CASE WHEN {proj} > 0 THEN {2 ** j} ELSE 0 END)")
    return "CAST(" + " + ".join(projs) + " AS INTEGER)"


def embedding_pairs_lsh_sql(
    threshold: float = 0.8, planes_per_band: int = 8, bands: int = 12
) -> str:
    """Banded hyperplane-LSH candidates with 1-bit multi-probe + exact
    cosine rerank — twin of dedup.embedding_cosine_pairs (bucketed)."""
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT id, {b} AS band, "
        f"{_band_sig_sql('v', b * planes_per_band, planes_per_band)} AS band_key FROM v"
        for b in range(bands)
    )
    probes = ", ".join(
        ["band_key"] + [f"xor(band_key, {1 << j})" for j in range(planes_per_band)]
    )
    return f"""
WITH v AS MATERIALIZED (
  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
bb AS MATERIALIZED (
{band_selects}),
probed AS MATERIALIZED (
  SELECT id, band, unnest([{probes}]) AS band_key FROM bb),
cand AS MATERIALIZED (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bb a JOIN probed b ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id)
SELECT c.id_a, c.id_b, round(list_cosine_similarity(va.v, vb.v), 4) AS cosine
FROM cand c JOIN v va ON va.id = c.id_a JOIN v vb ON vb.id = c.id_b
WHERE round(list_cosine_similarity(va.v, vb.v), 4) >= {threshold} - 1e-9"""


def ann_lsh_sql(
    k: int = 5, n_queries: int = 8, planes_per_band: int = 8, bands: int = 8
) -> str:
    """Twin of similarity.lsh_topk: banded multi-table hyperplane LSH
    with 1-bit multi-probe + exact cosine rerank. The SQL probes the
    corpus side while the engine probes the (tiny broadcast) query side
    — hamming <= 1 is symmetric, so the candidate sets are identical;
    only the engine cares about which side carries the 9x expansion."""
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT id, {b} AS band, "
        f"{_band_sig_sql('v', b * planes_per_band, planes_per_band)} AS band_key FROM v"
        for b in range(bands)
    )
    probes = ", ".join(
        ["band_key"] + [f"xor(band_key, {1 << j})" for j in range(planes_per_band)]
    )
    return f"""
WITH v AS MATERIALIZED (
  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
bb AS MATERIALIZED (
{band_selects}),
probed AS MATERIALIZED (
  SELECT id, band, unnest([{probes}]) AS band_key FROM bb),
cand AS MATERIALIZED (
  SELECT DISTINCT q.id AS query_id, c.id AS corpus_id
  FROM bb q JOIN probed c ON q.band = c.band AND q.band_key = c.band_key
  WHERE q.id < {n_queries} AND c.id <> q.id),
scored AS (
  SELECT query_id, corpus_id, list_cosine_similarity(vq.v, vc.v) AS cos_raw
  FROM cand JOIN v vq ON vq.id = cand.query_id JOIN v vc ON vc.id = cand.corpus_id),
ranked AS (
  SELECT query_id, corpus_id, round(cos_raw, 4) AS cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(cos_raw, 4) DESC, corpus_id ASC) AS rank
  FROM scored)
SELECT query_id, corpus_id, cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {k}"""


def ann_ivf_sql(
    k: int = 5, n_queries: int = 8, n_centroids: int = 16, nprobe: int = 2
) -> str:
    """Twin of similarity.ivf_topk: deterministic seed-vector coarse
    quantizer, nearest-centroid inverted lists, nprobe probing, exact
    cosine rerank (round-4 + id tie-breaks everywhere, like the other
    ANN twins)."""
    return f"""
WITH v AS MATERIALIZED (
  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings),
cent AS MATERIALIZED (
  SELECT id AS centroid_id, v AS cv FROM v ORDER BY id LIMIT {n_centroids}),
assign AS MATERIALIZED (
  SELECT id, centroid_id AS cluster,
         row_number() OVER (
           PARTITION BY id
           ORDER BY round(list_cosine_similarity(a.v, c.cv), 4) DESC,
                    centroid_id ASC) AS pr
  FROM v a CROSS JOIN cent c),
corpus AS (SELECT id AS corpus_id, cluster FROM assign WHERE pr = 1),
probes AS (SELECT id AS query_id, cluster FROM assign
           WHERE pr <= {nprobe} AND id < {n_queries}),
cand AS (
  SELECT DISTINCT p.query_id, c.corpus_id
  FROM probes p JOIN corpus c ON c.cluster = p.cluster AND c.corpus_id <> p.query_id),
scored AS (
  SELECT cand.query_id, cand.corpus_id,
         list_cosine_similarity(vq.v, vc.v) AS cos_raw
  FROM cand JOIN v vq ON vq.id = cand.query_id JOIN v vc ON vc.id = cand.corpus_id),
ranked AS (
  SELECT query_id, corpus_id, round(cos_raw, 4) AS cosine,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY round(cos_raw, 4) DESC, corpus_id ASC) AS rank
  FROM scored)
SELECT query_id, corpus_id, cosine, CAST(rank AS INTEGER) AS rank
FROM ranked WHERE rank <= {k}"""


def ann_ivf_recall_sql(
    k: int = 5, n_queries: int = 8, n_centroids: int = 16, nprobe: int = 2
) -> str:
    """Recall of the IVF ANN vs exact brute force."""
    return f"""
WITH brute AS (SELECT query_id, corpus_id FROM ({ann_brute_sql(k, n_queries)})),
lsh AS (SELECT query_id, corpus_id
        FROM ({ann_ivf_sql(k, n_queries, n_centroids, nprobe)})),
b AS (SELECT CAST(count(*) AS BIGINT) AS n_brute FROM brute),
h AS (SELECT CAST(count(*) AS BIGINT) AS n_hits
      FROM brute JOIN lsh USING (query_id, corpus_id))
SELECT b.n_brute, h.n_hits,
       round(CAST(h.n_hits AS DOUBLE) / b.n_brute, 4) AS recall
FROM b, h"""


def ann_recall_sql(k: int = 5, n_queries: int = 8) -> str:
    """Recall of the LSH ANN vs the exact brute-force top-k:
    |lsh ∩ brute| / |brute| as one explicit, regression-guarded row."""
    return f"""
WITH brute AS (SELECT query_id, corpus_id FROM ({ann_brute_sql(k, n_queries)})),
lsh AS (SELECT query_id, corpus_id FROM ({ann_lsh_sql(k, n_queries)})),
b AS (SELECT CAST(count(*) AS BIGINT) AS n_brute FROM brute),
h AS (SELECT CAST(count(*) AS BIGINT) AS n_hits
      FROM brute JOIN lsh USING (query_id, corpus_id))
SELECT b.n_brute, h.n_hits,
       round(CAST(h.n_hits AS DOUBLE) / b.n_brute, 4) AS recall
FROM b, h"""


def embedding_pairs_recall_sql(
    threshold: float = 0.8, planes_per_band: int = 8, bands: int = 12
) -> str:
    """Recall of the banded-LSH near-dup pairs vs the exhaustive
    baseline at the same threshold."""
    return f"""
WITH brute AS (SELECT id_a, id_b FROM ({embedding_pairs_sql(threshold)})),
lsh AS (SELECT id_a, id_b
        FROM ({embedding_pairs_lsh_sql(threshold, planes_per_band, bands)})),
b AS (SELECT CAST(count(*) AS BIGINT) AS n_brute FROM brute),
h AS (SELECT CAST(count(*) AS BIGINT) AS n_hits
      FROM brute JOIN lsh USING (id_a, id_b))
SELECT b.n_brute, h.n_hits,
       round(CAST(h.n_hits AS DOUBLE) / b.n_brute, 4) AS recall
FROM b, h"""


def _stop_list(stops: list[str]) -> str:
    return "[" + ", ".join(f"'{s}'" for s in stops) + "]"


def lang_id_sql(source: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    ws = words_sql(text_col)
    en, de = _stop_list(EN_STOP), _stop_list(DE_STOP)
    return f"""
WITH w AS (SELECT {id_col} AS id, {ws} AS words FROM {source}),
hits AS (
  SELECT id,
    len(list_filter(words, x -> list_contains({en}, x))) AS en_hits,
    len(list_filter(words, x -> list_contains({de}, x))) AS de_hits
  FROM w)
SELECT id, CAST(en_hits AS BIGINT) AS en_hits, CAST(de_hits AS BIGINT) AS de_hits,
  CASE WHEN de_hits > en_hits THEN 'de'
       WHEN en_hits > de_hits THEN 'en' ELSE 'unknown' END AS lang
FROM hits"""


def quality_sql(source: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    ws = words_sql(f"coalesce({text_col}, '')")
    both = _stop_list(EN_STOP + DE_STOP)
    return f"""
WITH base AS (
  SELECT {id_col} AS id, coalesce({text_col}, '') AS t, {ws} AS words FROM {source}),
m AS (
  SELECT id,
    length(t) AS n_chars,
    len(words) AS n_words,
    len(list_filter(words, x -> list_contains({both}, x)))
      / CAST(greatest(len(words), 1) AS DOUBLE) AS stop_ratio,
    length(regexp_replace(t, '[a-zA-ZäöüßÄÖÜ0-9\\s]', '', 'g'))
      / CAST(greatest(length(t), 1) AS DOUBLE) AS punct_ratio,
    coalesce(list_aggregate(list_transform(words, x -> length(x)), 'sum'), 0)
      / CAST(greatest(len(words), 1) AS DOUBLE) AS avg_wlen
  FROM base)
SELECT id, CAST(n_chars AS BIGINT) AS n_chars, CAST(n_words AS BIGINT) AS n_words,
  round(punct_ratio, 6) AS punct_ratio, round(stop_ratio, 6) AS stop_ratio,
  round(greatest(0.0, least(1.0,
    0.3 * greatest(0.0, least(1.0, n_chars / 400.0))
    + 0.2 * greatest(0.0, least(1.0, 1.0 - abs(avg_wlen - 5.0) / 5.0))
    + 0.3 * greatest(0.0, least(1.0, stop_ratio * 5.0))
    + 0.2 * (1.0 - punct_ratio))), 6) AS quality
FROM m"""


def token_count_sql(source: str = "documents", id_col: str = "doc_id", text_col: str = "text") -> str:
    return f"""
SELECT {id_col} AS id,
  CAST(len(list_filter(string_split_regex(coalesce({text_col}, ''), '\\s+'), x -> x <> '')) AS BIGINT)
    AS ws_tokens,
  CAST(len(regexp_extract_all(coalesce({text_col}, ''), '{TOKEN_RE}')) AS BIGINT) AS bpe_tokens
FROM {source}"""


def fingerprint_sql(
    source: str = "documents", id_col: str = "doc_id", text_col: str = "text", w: int = 5
) -> str:
    ws = words_sql(text_col)
    return f"""
WITH d AS (SELECT {id_col} AS id, {ws} AS words FROM {source})
SELECT id, list_aggregate(list_transform(
    range(1, greatest(len(words) - {w - 1}, 1) + 1),
    i -> md5(array_to_string(list_slice(words, i, i + {w - 1}), ' '))), 'min') AS fingerprint
FROM d"""


def merged_sentences_sql(tag: str = "sf0.01") -> str:
    return f"""
WITH {oracles.spans_cte(tag).lstrip()},
{oracles.merged_cte().lstrip()}
SELECT doc_id, off AS "offset", sentence FROM merged"""


def classify_sql(tag: str = "sf0.01") -> str:
    from pdf2ontology_spark.operators.classify import DOC_CLASSES, TRUNCATE_CHARS

    hit_exprs, case_whens = [], []
    for name, kws in DOC_CLASSES:
        cname = name.lower().replace(" ", "_") + "_hits"
        lst = "[" + ", ".join(f"'{k}'" for k in kws) + "]"
        hit_exprs.append(
            f"CAST(len(list_filter({lst}, k -> strpos(t, k) > 0)) AS BIGINT) AS {cname}"
        )
        case_whens.append(f"WHEN best > 0 AND {cname} = best THEN '{name}'")
    cnames = [n.lower().replace(" ", "_") + "_hits" for n, _ in DOC_CLASSES]
    return f"""
WITH {oracles.spans_cte(tag).lstrip()},
doc_text AS (
  SELECT doc_id AS id,
    lower(substr(string_agg(text, chr(10) ORDER BY off), 1, {TRUNCATE_CHARS})) AS t
  FROM spans WHERE kind IN ('text','title','header','caption') GROUP BY doc_id),
hits AS (SELECT id, {", ".join(hit_exprs)} FROM doc_text),
scored AS (SELECT *, greatest({", ".join(cnames)}) AS best FROM hits)
SELECT id, {", ".join(cnames)},
  CASE {" ".join(case_whens)} ELSE 'Other' END AS doc_type
FROM scored"""


def _cond_metrics() -> str:
    h = "sha256(media_ref)"
    return f"""
m AS (
  SELECT doc_id, off, media_ref,
    {hexval(h, 1, 4)} AS bi, {hexval(h, 5, 4)} AS ci,
    {hexval(h, 9, 4)} AS si, {hexval(h, 13, 4)} AS ni,
    round({hexval(h, 1, 4)} / 65535.0, 6) AS brightness,
    round({hexval(h, 5, 4)} / 65535.0, 6) AS contrast,
    round({hexval(h, 9, 4)} / 65535.0, 6) AS sharpness,
    round({hexval(h, 13, 4)} / 65535.0, 6) AS noise,
    CAST({hexval(h, 17, 4)} % 21 - 10 AS INTEGER) AS skew_deg,
    CAST(({hexval(h, 21, 2)} % 4) * 90 AS INTEGER) AS rotation_deg
  FROM spans WHERE kind = 'media'),
q AS (
  SELECT *,
    round((3 * ci + 2 * bi + 3 * si + 2 * (65535 - ni)) / 655350.0, 6) AS quality,
    (rotation_deg <> 0) AS a_rotate,
    (abs(skew_deg) >= 2) AS a_deskew,
    (contrast < 0.4) AS a_contrast,
    (brightness < 0.3) AS a_gamma,
    (noise > 0.6) AS a_denoise,
    (sharpness < 0.3) AS a_sharpen
  FROM m),
flags AS (
  SELECT *,
    (quality <= 0.8 AND (a_rotate OR a_deskew OR a_contrast OR a_gamma
                         OR a_denoise OR a_sharpen))
      AS needs_processing
  FROM q)"""


def assess_media_sql(tag: str = "sf0.01") -> str:
    # actions in priority order (rotate=1, deskew=2, enhance_contrast=5,
    # denoise=6, sharpen=7 — image_utils.py:261-289)
    plan = """concat_ws('|',
      CASE WHEN a_rotate THEN 'rotate' END,
      CASE WHEN a_deskew THEN 'deskew' END,
      CASE WHEN a_contrast THEN 'enhance_contrast' END,
      CASE WHEN a_gamma THEN 'gamma_correction' END,
      CASE WHEN a_denoise THEN 'denoise' END,
      CASE WHEN a_sharpen THEN 'sharpen' END)"""
    return f"""
WITH {oracles.spans_cte(tag).lstrip()},{_cond_metrics()}
SELECT doc_id, off AS "offset", media_ref, brightness, contrast, sharpness,
  noise, skew_deg, rotation_deg, quality,
  CAST(needs_processing AS INTEGER) AS needs_processing,
  CASE WHEN needs_processing THEN {plan} ELSE '' END AS actions_joined
FROM flags"""


def assess_media_real_sql(tag: str = "sf0.01") -> str:
    """Twin of condition.assess_media_real: the real pixel-kernel
    quality scores (media_quality_sql) joined with the real
    rotation/skew pipeline (skew_rotation_sql — Hough lines + ink
    moments over the same closed-form raster), feeding the same
    thresholds, skip predicate and priority-ordered action plan. Since
    round 5 NO metric column is a hash stub."""
    plan = """concat_ws('|',
      CASE WHEN rotation_deg <> 0 THEN 'rotate' END,
      CASE WHEN abs(skew_deg) >= 2 THEN 'deskew' END,
      CASE WHEN contrast_score < 0.4 THEN 'enhance_contrast' END,
      CASE WHEN brightness_score < 0.3 THEN 'gamma_correction' END,
      CASE WHEN noise_level > 0.6 THEN 'denoise' END,
      CASE WHEN sharpness_score < 0.3 THEN 'sharpen' END)"""
    return f"""
WITH base AS ({media_quality_sql(tag)}),
rot AS ({skew_rotation_sql(tag)}),
flags AS (
  SELECT b.doc_id, b.media_ref, b."offset", b.contrast_score,
    b.brightness_score, b.sharpness_score, b.noise_level,
    b.overall_score AS quality, r.skew_deg, r.skew_conf,
    r.rotation_deg, r.rotation_conf, r.line_count
  FROM base b JOIN rot r
    ON r.doc_id = b.doc_id AND r.media_ref = b.media_ref
   AND r."offset" = b."offset"),
f2 AS (
  SELECT *, (quality <= 0.8 AND (rotation_deg <> 0 OR abs(skew_deg) >= 2
      OR contrast_score < 0.4 OR brightness_score < 0.3 OR noise_level > 0.6
      OR sharpness_score < 0.3)) AS needs_processing
  FROM flags)
SELECT doc_id, "offset", media_ref, contrast_score, brightness_score,
  sharpness_score, noise_level, quality, skew_deg, skew_conf,
  rotation_deg, rotation_conf, line_count,
  CAST(needs_processing AS INTEGER) AS needs_processing,
  CASE WHEN needs_processing THEN {plan} ELSE '' END AS actions_joined
FROM f2"""


def condition_rollup_sql(tag: str = "sf0.01") -> str:
    parts = [
        f"SELECT '{a}' AS action, sum(CASE WHEN needs_processing AND {flag} THEN 1 ELSE 0 END) AS n FROM flags"
        for a, flag in [
            ("rotate", "a_rotate"),
            ("deskew", "a_deskew"),
            ("enhance_contrast", "a_contrast"),
            ("gamma_correction", "a_gamma"),
            ("denoise", "a_denoise"),
            ("sharpen", "a_sharpen"),
        ]
    ]
    return f"""
WITH {oracles.spans_cte(tag).lstrip()},{_cond_metrics()}
SELECT action, CAST(n AS BIGINT) AS n FROM ({" UNION ALL ".join(parts)}) WHERE n > 0"""


def _ahash_ctes(tag: str, h: int, w: int) -> str:
    """Shared CTE chain ``spans -> params -> pix -> blk -> halves``:
    the closed-form raster pattern evaluated per pixel, 2x2-block sums,
    and the aHash bits packed into two 32-bit halves (1<<63 would
    overflow signed BIGINT, so the 64-bit fingerprint is carried as
    hi/lo words and hex-printed '%08x%08x' — identical text to numpy's
    format(v, '016x'))."""
    assert h % 8 == 0 and w % 8 == 0, f"aHash twin needs 8-divisible dims, got {h}x{w}"
    by, bx = h // 8, w // 8
    e = hexval("h", 9, 2)
    return f"""
WITH {oracles.spans_cte(tag).lstrip()},
params AS MATERIALIZED (
  SELECT doc_id, media_ref, off,
    {hexval("h", 1, 2)} % 8 AS a, {hexval("h", 3, 2)} % 8 AS b,
    {hexval("h", 5, 2)} % 3 AS c, {hexval("h", 7, 2)} AS d,
    16 + {e} % 180 AS rng,
    {hexval("h", 11, 2)} % (256 - (16 + {e} % 180)) AS lo
  FROM (SELECT doc_id, media_ref, off, sha256(media_ref) AS h
        FROM spans WHERE kind = 'media')),
pix AS (
  SELECT doc_id, media_ref, off,
    (lo + (a*x + b*y + c*x*y + d) % (rng + 1)) AS v,
    (y // {by}) * 8 + (x // {bx}) AS i
  FROM params, range(0, {h}) yy(y), range(0, {w}) xx(x)),
blk AS (
  SELECT doc_id, media_ref, off, i, sum(v) AS bsum,
    sum(sum(v)) OVER (PARTITION BY doc_id, media_ref, off) AS total
  FROM pix GROUP BY doc_id, media_ref, off, i),
halves AS (
  SELECT doc_id, media_ref, off,
    sum(CASE WHEN i < 32 AND bsum * 64 > total THEN 1 << (31 - i) ELSE 0 END) AS hi_w,
    sum(CASE WHEN i >= 32 AND bsum * 64 > total THEN 1 << (63 - i) ELSE 0 END) AS lo_w
  FROM blk GROUP BY doc_id, media_ref, off)"""


def media_features_sql(tag: str = "sf0.01", h: int | None = None, w: int | None = None) -> str:
    """Independent DuckDB twin of media.media_features over the REAL
    decode path: width/height are what the PNG header carries (the
    corpus raster dims), format is the magic-byte sniff result ('png' —
    the store is all PNG by construction), decode_ok is the parse
    verdict (all blobs in the store parse), and phash is the aHash
    perceptual fingerprint recomputed analytically from the closed-form
    pixel pattern (the Spark side computes it from pixels DECODED out of
    the genuine PNG bytes — the two meet only if chunk parse, inflate,
    defilter and the bit packing are all correct)."""
    h = raster.GRID_H if h is None else h
    w = raster.GRID_W if w is None else w
    return f"""
{_ahash_ctes(tag, h, w)}
SELECT doc_id, media_ref, off AS "offset",
  CAST({w} AS INTEGER) AS width, CAST({h} AS INTEGER) AS height,
  'png' AS format,
  printf('%08x%08x', CAST(hi_w AS BIGINT), CAST(lo_w AS BIGINT)) AS phash,
  CAST(1 AS BOOLEAN) AS decode_ok
FROM halves"""


def media_quality_sql(tag: str = "sf0.01", h: int | None = None, w: int | None = None) -> str:
    """Independent DuckDB twin of media.media_quality: the synth_raster
    pattern is closed-form per pixel, so every kernel tap (Laplacian
    reflect-101 neighbors, the 25 clamped 5x5-median taps) is a plain
    EXPRESSION — no joins — and the reference scores come from the same
    exact integer sums as the numpy side. This genuinely re-verifies
    the engine's numpy kernel math: the two implementations share only
    the pattern definition and the published reference formulas."""
    h = raster.GRID_H if h is None else h
    w = raster.GRID_W if w is None else w

    def v(xe: str, ye: str) -> str:
        # the synth_raster pixel: lo + (a*x + b*y + c*x*y + d) % (rng+1)
        return f"(lo + (a*({xe}) + b*({ye}) + c*({xe})*({ye}) + d) % (rng + 1))"

    ry_m1 = "(CASE WHEN y = 0 THEN 1 ELSE y - 1 END)"  # BORDER_REFLECT_101
    ry_p1 = f"(CASE WHEN y = {h - 1} THEN {h - 2} ELSE y + 1 END)"
    rx_m1 = "(CASE WHEN x = 0 THEN 1 ELSE x - 1 END)"
    rx_p1 = f"(CASE WHEN x = {w - 1} THEN {w - 2} ELSE x + 1 END)"
    lap = (
        f"({v('x', ry_m1)} + {v('x', ry_p1)} + {v(rx_m1, 'y')} + {v(rx_p1, 'y')}"
        f" - 4*{v('x', 'y')})"
    )
    taps = ", ".join(
        v(
            f"greatest(0, least({w - 1}, x + {dx}))",  # BORDER_REPLICATE
            f"greatest(0, least({h - 1}, y + {dy}))",
        )
        for dy in range(-2, 3)
        for dx in range(-2, 3)
    )
    sha = "sha256(media_ref)"
    e_expr = hexval("h", 9, 2)
    return f"""
WITH {oracles.spans_cte(tag).lstrip()},
params AS MATERIALIZED (
  SELECT doc_id, media_ref, off,
    {hexval("h", 1, 2)} % 8 AS a, {hexval("h", 3, 2)} % 8 AS b,
    {hexval("h", 5, 2)} % 3 AS c, {hexval("h", 7, 2)} AS d,
    16 + {e_expr} % 180 AS rng,
    {hexval("h", 11, 2)} % (256 - (16 + {e_expr} % 180)) AS lo
  FROM (SELECT doc_id, media_ref, off, {sha} AS h FROM spans WHERE kind = 'media')),
pix AS (
  SELECT doc_id, media_ref, off,
    {v('x', 'y')} AS vv, {lap} AS lap,
    list_aggregate(list_value({taps}), 'median') AS med
  FROM params, range(0, {h}) yy(y), range(0, {w}) xx(x)),
agg AS (
  SELECT doc_id, media_ref, off, count(*) AS n,
    sum(vv) AS s1, sum(vv*vv) AS s2, sum(lap) AS l1, sum(lap*lap) AS l2,
    sum(abs(vv - med)) AS sad
  FROM pix GROUP BY doc_id, media_ref, off),
scores AS (
  SELECT doc_id, media_ref, off,
    least(sqrt(CAST(s2 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n))
          / 80.0, 1.0) AS contrast,
    CASE WHEN CAST(s1 AS DOUBLE)/n < 120 THEN (CAST(s1 AS DOUBLE)/n) / 120.0
         WHEN CAST(s1 AS DOUBLE)/n > 200
           THEN greatest(0.0, 1.0 - (CAST(s1 AS DOUBLE)/n - 200) / 55.0)
         ELSE 1.0 END AS brightness,
    least((CAST(l2 AS DOUBLE)/n - (CAST(l1 AS DOUBLE)/n)*(CAST(l1 AS DOUBLE)/n))
          / 1000.0, 1.0) AS sharpness,
    least((CAST(sad AS DOUBLE)/n) / 20.0, 1.0) AS noise
  FROM agg)
SELECT doc_id, media_ref, off AS "offset",
  floor(contrast * 10000.0) / 10000.0 AS contrast_score,
  floor(brightness * 10000.0) / 10000.0 AS brightness_score,
  floor(sharpness * 10000.0) / 10000.0 AS sharpness_score,
  floor(noise * 10000.0) / 10000.0 AS noise_level,
  floor((contrast * 0.3 + brightness * 0.2 + sharpness * 0.3
        + (1.0 - noise) * 0.2) * 10000.0) / 10000.0 AS overall_score,
  rtrim(concat(
    CASE WHEN contrast < 0.4 THEN 'low_contrast|' ELSE '' END,
    CASE WHEN brightness < 0.3 THEN 'dark_image|' ELSE '' END,
    CASE WHEN sharpness < 0.3 THEN 'blurry_image|' ELSE '' END,
    CASE WHEN noise > 0.6 THEN 'noisy_image|' ELSE '' END), '|') AS issues_joined
FROM scores"""


def content_layout_sql(tag: str = "sf0.01", h: int | None = None, w: int | None = None) -> str:
    """Independent DuckDB twin of media.content_layout: vertical ink
    projection over the closed-form raster, box smoothing as a window
    sum, valleys via the integer-reformulated threshold (S_i * w <
    total * 0.3 — the 1/k, 1/(w*k) normalizations cancel), non-valley
    runs via gaps-and-islands, columns = runs wider than w//10."""
    h = raster.GRID_H if h is None else h
    w = raster.GRID_W if w is None else w
    k = max(5, min(20, w // 50))
    assert k % 2 == 1, "even smoothing kernels need asymmetric-window SQL"
    m = (k - 1) // 2
    min_w = w // 10
    e_expr = hexval("h", 9, 2)
    vexpr = "(lo + (a*x + b*y + c*x*y + d) % (rng + 1))"
    return f"""
WITH {oracles.spans_cte(tag).lstrip()},
params AS MATERIALIZED (
  SELECT doc_id, media_ref, off,
    {hexval("h", 1, 2)} % 8 AS a, {hexval("h", 3, 2)} % 8 AS b,
    {hexval("h", 5, 2)} % 3 AS c, {hexval("h", 7, 2)} AS d,
    16 + {e_expr} % 180 AS rng,
    {hexval("h", 11, 2)} % (256 - (16 + {e_expr} % 180)) AS lo
  FROM (SELECT doc_id, media_ref, off, sha256(media_ref) AS h
        FROM spans WHERE kind = 'media')),
proj AS MATERIALIZED (
  SELECT doc_id, media_ref, off, x,
    sum(CASE WHEN {vexpr} < 128 THEN 1 ELSE 0 END) AS ink
  FROM params, range(0, {h}) yy(y), range(0, {w}) xx(x)
  GROUP BY doc_id, media_ref, off, x),
smooth AS (
  SELECT doc_id, media_ref, off, x,
    sum(ink) OVER (PARTITION BY doc_id, media_ref, off ORDER BY x
                   ROWS BETWEEN {k - 1 - m} PRECEDING AND {m} FOLLOWING) AS s
  FROM proj),
tot AS (
  SELECT doc_id, media_ref, off, sum(s) AS total
  FROM smooth GROUP BY doc_id, media_ref, off),
valley AS (
  SELECT s.doc_id, s.media_ref, s.off, s.x,
    (s.s * {w} < CAST(t.total AS DOUBLE) * 0.3) AS is_v
  FROM smooth s JOIN tot t USING (doc_id, media_ref, off)),
wide_runs AS (
  SELECT doc_id, media_ref, off FROM (
    SELECT doc_id, media_ref, off,
      x - row_number() OVER (PARTITION BY doc_id, media_ref, off
                             ORDER BY x) AS grp
    FROM valley WHERE NOT is_v)
  GROUP BY doc_id, media_ref, off, grp
  HAVING count(*) > {min_w}),
counts AS (
  SELECT doc_id, media_ref, off, count(*) AS n_wide
  FROM wide_runs GROUP BY doc_id, media_ref, off),
dark AS (
  -- total ink = sum of the per-column projection already computed
  SELECT doc_id, media_ref, off, sum(ink) AS n_dark
  FROM proj GROUP BY doc_id, media_ref, off)
SELECT p.doc_id, p.media_ref, p.off AS "offset",
  CAST(greatest(1, coalesce(c.n_wide, 0)) AS INTEGER) AS column_count,
  floor(CAST(d.n_dark AS DOUBLE) / {h * w} * 10000.0) / 10000.0 AS dark_ratio,
  (coalesce(c.n_wide, 0) > 1) AS multi_column
FROM params p
LEFT JOIN counts c USING (doc_id, media_ref, off)
JOIN dark d USING (doc_id, media_ref, off)"""


def skew_rotation_sql(tag: str = "sf0.01", h: int | None = None, w: int | None = None) -> str:
    """Independent DuckDB twin of orientation.orientation_batch: the
    RotationDetector/SkewDetector pipelines recomputed in SQL over the
    closed-form raster — adaptive-mean ink mask (exact-integer
    25*g < S25 - 50), 3x3-cross morphological gradient edges (neighbor
    self-joins), full Hough accumulation (cos/sin embedded as the SAME
    CPython-math literals the numpy kernel uses, shift-floor rho
    binning), then the reference's skew median/std confidence, the
    |rho|-weighted 36-bin rotation histogram, ink-moment text
    orientation via atan2 (bit-equal to math.atan2, verified on-host),
    and the exact rotation bands of _determine_rotation_angle."""
    from pdf2ontology_spark.operators import orientation as ori

    h = ori.GRID_H if h is None else h
    w = ori.GRID_W if w is None else w

    def v(xe: str, ye: str) -> str:
        return f"(lo + (a*({xe}) + b*({ye}) + c*({xe})*({ye}) + d) % (rng + 1))"

    s25 = " + ".join(
        v(
            f"greatest(0, least({w - 1}, x + {dx}))",
            f"greatest(0, least({h - 1}, y + {dy}))",
        )
        for dy in range(-2, 3)
        for dx in range(-2, 3)
    )
    # explicit DOUBLE casts: DuckDB parses bare float literals as
    # DECIMAL, and decimal arithmetic silently diverges from float64
    theta_rows = ", ".join(
        f"({k}, CAST({c!r} AS DOUBLE), CAST({s!r} AS DOUBLE))"
        for k, c, s in zip(ori.THETA_DEG, ori.COS, ori.SIN)
    )
    e_expr = hexval("hh", 9, 2)
    mx = max(h, w)
    return f"""
WITH {oracles.spans_cte(tag).lstrip()},
params AS MATERIALIZED (
  -- dense integer image id: every heavy intermediate (3.5M pixel rows,
  -- 135M hough rows) groups/joins on one int instead of the
  -- (doc_id, media_ref, offset) string triple — ~4x on the hot agg
  SELECT row_number() OVER (ORDER BY doc_id, media_ref, off) AS img,
    doc_id, media_ref, off,
    {hexval("hh", 1, 2)} % 8 AS a, {hexval("hh", 3, 2)} % 8 AS b,
    {hexval("hh", 5, 2)} % 3 AS c, {hexval("hh", 7, 2)} AS d,
    16 + {e_expr} % 180 AS rng,
    {hexval("hh", 11, 2)} % (256 - (16 + {e_expr} % 180)) AS lo
  FROM (SELECT doc_id, media_ref, off, sha256(media_ref) AS hh
        FROM spans WHERE kind = 'media')),
ink AS MATERIALIZED (
  SELECT img, y, x,
    (25 * {v('x', 'y')} < ({s25}) - {25 * ori.ADAPT_C}) AS bb
  FROM params, range(0, {h}) yy(y), range(0, {w}) xx(x)),
edge AS MATERIALIZED (
  SELECT i.img, i.y, i.x
  FROM ink i
  JOIN ink u ON u.img = i.img AND u.x = i.x AND u.y = greatest(0, i.y - 1)
  JOIN ink dn ON dn.img = i.img AND dn.x = i.x AND dn.y = least({h - 1}, i.y + 1)
  JOIN ink lf ON lf.img = i.img AND lf.y = i.y AND lf.x = greatest(0, i.x - 1)
  JOIN ink rt ON rt.img = i.img AND rt.y = i.y AND rt.x = least({w - 1}, i.x + 1)
  WHERE i.bb <> u.bb OR i.bb <> dn.bb OR i.bb <> lf.bb OR i.bb <> rt.bb),
thetas(k, tc, ts) AS (VALUES {theta_rows}),
votes AS MATERIALIZED (
  SELECT img, t.k,
    CAST(floor(e.x * t.tc + e.y * t.ts + 0.5) AS INTEGER) AS r,
    count(*) AS nv
  FROM edge e, thetas t
  GROUP BY img, t.k, r),
skew_angles AS (
  SELECT img, k - 90 AS ang
  FROM votes WHERE nv >= {ori.T_SKEW} AND k > 45 AND k < 135),
skew AS (
  SELECT img, median(CAST(ang AS DOUBLE)) AS skew_raw, count(*) AS n,
    sum(ang) AS s1, sum(ang * ang) AS s2
  FROM skew_angles GROUP BY img),
skew2 AS (
  SELECT img, skew_raw, n,
    greatest(0.0, least(1.0,
      1.0 - sqrt(CAST(s2 AS DOUBLE)/n - (CAST(s1 AS DOUBLE)/n)*(CAST(s1 AS DOUBLE)/n))
            / 10.0)) AS conf0
  FROM skew),
rot_votes AS (
  SELECT img,
    least(((CASE WHEN k <= 90 THEN k ELSE k - 180 END) + 90) // 5, 35) AS hb,
    sum((10 * abs(r)) // {mx}) AS wv
  FROM votes WHERE nv >= {ori.T_ROT}
  GROUP BY img, hb),
rot_ranked AS (
  SELECT *, row_number() OVER (PARTITION BY img
                               ORDER BY wv DESC, hb ASC) AS rk
  FROM rot_votes WHERE wv > 0),
edge_o AS (
  SELECT img, -90.0 + 5.0 * hb + 2.5 AS edge_orient
  FROM rot_ranked WHERE rk = 1),
textm AS (
  SELECT img, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
    sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
  FROM ink WHERE bb GROUP BY img),
text_o AS (
  SELECT img,
    atan2(2.0 * (sxy - CAST(sx*sy AS DOUBLE)/n),
          (sxx - CAST(sx*sx AS DOUBLE)/n) - (syy - CAST(sy*sy AS DOUBLE)/n))
      * CAST({ori.DEG_FAC!r} AS DOUBLE) AS raw_ang
  FROM textm),
text_o2 AS (
  SELECT img,
    CASE WHEN raw_ang < -45.0 THEN raw_ang + 90.0
         WHEN raw_ang > 45.0 THEN raw_ang - 90.0
         ELSE raw_ang END AS text_orient
  FROM text_o),
combined AS (
  SELECT p.doc_id, p.media_ref, p.off,
    coalesce(t.text_orient, 0.0) AS t_o,
    coalesce(e.edge_orient, 0.0) AS e_o,
    coalesce(s.skew_raw, 0.0) AS skew_raw,
    coalesce(s.conf0, 0.0) AS sconf0,
    coalesce(s.n, 0) AS line_count,
    coalesce(t.text_orient, 0.0) * 0.7 + coalesce(e.edge_orient, 0.0) * 0.3 AS comb
  FROM params p
  LEFT JOIN text_o2 t USING (img)
  LEFT JOIN edge_o e USING (img)
  LEFT JOIN skew2 s USING (img)),
decided AS (
  SELECT *,
    CASE WHEN comb BETWEEN -15.0 AND 15.0 THEN 0
         WHEN comb > 15.0 AND comb <= 75.0 THEN 270
         WHEN comb > 75.0 AND comb <= 105.0 THEN 270
         WHEN comb >= -75.0 AND comb < -15.0 THEN 90
         WHEN comb >= -105.0 AND comb < -75.0 THEN 90
         ELSE 180 END AS rot,
    CASE WHEN comb BETWEEN -15.0 AND 15.0 THEN 0.9
         WHEN comb > 15.0 AND comb <= 75.0 THEN 0.85
         WHEN comb > 75.0 AND comb <= 105.0 THEN 0.9
         WHEN comb >= -75.0 AND comb < -15.0 THEN 0.85
         WHEN comb >= -105.0 AND comb < -75.0 THEN 0.9
         ELSE 0.8 END AS rconf0
  FROM combined)
SELECT doc_id, off AS "offset", media_ref,
  floor(t_o * 10000.0) / 10000.0 AS text_orientation,
  floor(e_o * 10000.0) / 10000.0 AS edge_orientation,
  CAST(rot AS INTEGER) AS rotation_deg,
  -- aspect_ratio is exactly 1.0 on the square raster, so the
  -- reference's 0.7/1.4 aspect boost can never fire (kept in the
  -- engine for fidelity, a no-op here)
  floor(greatest(0.0, least(
      rconf0 + (CASE WHEN abs(t_o - e_o) < 15.0 THEN 0.05 ELSE 0.0 END)
             + (CASE WHEN abs(t_o - e_o) > 45.0 THEN -0.1 ELSE 0.0 END),
      1.0)) * 10000.0) / 10000.0 AS rotation_conf,
  floor(skew_raw * 10000.0) / 10000.0 AS skew_deg,
  floor(least(sconf0 + (CASE WHEN abs(skew_raw) > 1.0 THEN 0.1 ELSE 0.0 END),
              1.0) * 10000.0) / 10000.0 AS skew_conf,
  CAST(line_count AS INTEGER) AS line_count
FROM decided"""


def media_stats_sql(tag: str = "sf0.01", h: int | None = None, w: int | None = None) -> str:
    """Twin of media.media_stats over the real-decode features: every
    blob in the store parses (n_ok = n_media), dims are the PNG header's
    (uniform corpus raster), one format. The Spark side derives the
    same numbers from the actual per-blob decode verdicts."""
    h = raster.GRID_H if h is None else h
    w = raster.GRID_W if w is None else w
    return f"""
WITH {oracles.spans_cte(tag).lstrip()}
SELECT doc_id, count(*) AS n_media, count(*) AS n_ok,
  round(avg(CAST({w} AS DOUBLE) * {h}), 2) AS avg_pixels,
  CAST(1 AS BIGINT) AS n_formats
FROM spans WHERE kind = 'media' GROUP BY doc_id"""


# ------------------------------------------------- grid reconstruction
# DuckDB replication of operators/grid.py + operators/grid_fused.py over
# the detection fixtures (synth.ensure_detections). All coordinates are
# quarter-grid exact, so centers/distances/overlaps agree bit-for-bit
# with the Spark plan.
def _det_path(tag: str) -> str:
    import os

    from pdf2ontology_spark import synth

    return os.path.join(synth.SYNTH_BASE, tag, "table_detections.parquet")


def _contours_path(tag: str) -> str:
    import os

    from pdf2ontology_spark import synth

    return os.path.join(synth.SYNTH_BASE, tag, "contours.parquet")


def _grid_prefix(tag: str) -> str:
    """dets -> indexed bands -> argmin cell assignment (W1 + J3)."""
    return f"""
WITH dets AS MATERIALIZED (SELECT * FROM read_parquet('{_det_path(tag)}')),
rows_b AS MATERIALIZED (
  SELECT doc_id, table_id, item_id, x, y, w, h,
         CAST(row_number() OVER (PARTITION BY doc_id, table_id ORDER BY y, x) - 1
              AS INTEGER) AS idx
  FROM dets WHERE bucket = 'row'),
cols_b AS MATERIALIZED (
  SELECT doc_id, table_id, item_id, x, y, w, h,
         CAST(row_number() OVER (PARTITION BY doc_id, table_id ORDER BY x, y) - 1
              AS INTEGER) AS idx
  FROM dets WHERE bucket = 'column'),
cells AS MATERIALIZED (
  SELECT doc_id, table_id, item_id AS cell_id, x, y, w, h, text
  FROM dets WHERE bucket = 'cell'),
rpick AS (
  SELECT doc_id, table_id, cell_id, idx FROM (
    SELECT c.doc_id, c.table_id, c.cell_id, b.idx,
      row_number() OVER (PARTITION BY c.doc_id, c.table_id, c.cell_id
        ORDER BY abs((c.y + c.h/2) - (b.y + b.h/2)) ASC, b.idx ASC) AS rk
    FROM cells c JOIN rows_b b ON b.doc_id = c.doc_id AND b.table_id = c.table_id)
  WHERE rk = 1),
cpick AS (
  SELECT doc_id, table_id, cell_id, idx FROM (
    SELECT c.doc_id, c.table_id, c.cell_id, b.idx,
      row_number() OVER (PARTITION BY c.doc_id, c.table_id, c.cell_id
        ORDER BY abs((c.x + c.w/2) - (b.x + b.w/2)) ASC, b.idx ASC) AS rk
    FROM cells c JOIN cols_b b ON b.doc_id = c.doc_id AND b.table_id = c.table_id)
  WHERE rk = 1),
assigned AS MATERIALIZED (
  SELECT c.doc_id, c.table_id, c.cell_id, c.x, c.y, c.w, c.h, c.text,
         rp.idx AS rw, cp.idx AS cl
  FROM cells c
  JOIN rpick rp ON rp.doc_id = c.doc_id AND rp.table_id = c.table_id
               AND rp.cell_id = c.cell_id
  JOIN cpick cp ON cp.doc_id = c.doc_id AND cp.table_id = c.table_id
               AND cp.cell_id = c.cell_id)"""


def _spanning_ctes() -> str:
    """J2 + A11: overlap theta-join, extents, merged/empty/normal tags."""
    return """
spanb AS (
  SELECT doc_id, table_id, item_id AS span_id, x, y, w, h
  FROM dets WHERE bucket = 'spanning_cell'),
covered AS MATERIALIZED (
  SELECT a.doc_id, a.table_id, a.rw, a.cl, s.span_id
  FROM assigned a JOIN spanb s
    ON s.doc_id = a.doc_id AND s.table_id = a.table_id
  WHERE NOT (a.x + a.w <= s.x OR s.x + s.w <= a.x
          OR a.y + a.h <= s.y OR s.y + s.h <= a.y)),
extent AS (
  SELECT doc_id, table_id, span_id,
         min(rw) AS r0, max(rw) AS r1, min(cl) AS c0, max(cl) AS c1
  FROM covered GROUP BY 1, 2, 3),
tagged0 AS (
  SELECT cv.doc_id, cv.table_id, cv.span_id, cv.rw, cv.cl,
    CASE WHEN row_number() OVER (PARTITION BY cv.doc_id, cv.table_id, cv.span_id
                                 ORDER BY cv.rw, cv.cl) = 1
         THEN 'merged' ELSE 'empty' END AS cell_type,
    CAST(e.r1 - e.r0 + 1 AS INTEGER) AS rowspan,
    CAST(e.c1 - e.c0 + 1 AS INTEGER) AS colspan
  FROM covered cv JOIN extent e
    ON e.doc_id = cv.doc_id AND e.table_id = cv.table_id AND e.span_id = cv.span_id),
tagged AS MATERIALIZED (
  SELECT doc_id, table_id, rw, cl, cell_type, rowspan, colspan FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id, table_id, rw, cl
                                 ORDER BY span_id) AS _rk
    FROM tagged0) WHERE _rk = 1),
gridfinal AS MATERIALIZED (
  SELECT a.doc_id, a.table_id, a.rw, a.cl, a.text,
    coalesce(t.cell_type, 'normal') AS cell_type,
    CASE WHEN t.cell_type = 'merged' THEN t.rowspan ELSE 1 END AS rowspan,
    CASE WHEN t.cell_type = 'merged' THEN t.colspan ELSE 1 END AS colspan
  FROM assigned a LEFT JOIN tagged t
    ON t.doc_id = a.doc_id AND t.table_id = a.table_id
   AND t.rw = a.rw AND t.cl = a.cl)"""


def grid_bands_sql(tag: str = "sf0.01") -> str:
    return (
        _grid_prefix(tag)
        + """
SELECT doc_id, table_id, 'row' AS bucket, item_id, x, y, w, h, idx FROM rows_b
UNION ALL
SELECT doc_id, table_id, 'column', item_id, x, y, w, h, idx FROM cols_b"""
    )


def grid_assign_sql(tag: str = "sf0.01") -> str:
    return (
        _grid_prefix(tag)
        + """
SELECT doc_id, table_id, cell_id, rw AS "row", cl AS "col", text FROM assigned"""
    )


def grid_spanning_sql(tag: str = "sf0.01") -> str:
    return (
        _grid_prefix(tag)
        + ","
        + _spanning_ctes()
        + """
SELECT doc_id, table_id, rw AS "row", cl AS "col", text, cell_type, rowspan, colspan
FROM gridfinal"""
    )


def grid_row_maps_sql(tag: str = "sf0.01") -> str:
    """J5 + W4: scatter over rowspan x colspan, header row = first row
    with any non-empty cell, later rows -> ordered key=value strings."""
    return (
        _grid_prefix(tag)
        + ","
        + _spanning_ctes()
        + """,
expanded AS MATERIALIZED (
  SELECT f.doc_id, f.table_id, f.rw + u.dr AS rw, f.cl + v.dc AS cl,
    CASE WHEN u.dr = 0 AND v.dc = 0 THEN f.text ELSE '' END AS text
  FROM gridfinal f,
       unnest(range(0, CAST(f.rowspan AS BIGINT))) AS u(dr),
       unnest(range(0, CAST(f.colspan AS BIGINT))) AS v(dc)
  WHERE f.cell_type <> 'empty'),
expanded1 AS MATERIALIZED (
  SELECT doc_id, table_id, rw, cl, text FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id, table_id, rw, cl
                                 ORDER BY (text = ''), text) AS _pk
    FROM expanded) WHERE _pk = 1),
hrow AS MATERIALIZED (
  SELECT doc_id, table_id, min(CASE WHEN text <> '' THEN rw END) AS hr
  FROM expanded1 GROUP BY 1, 2),
hdr AS MATERIALIZED (
  SELECT e.doc_id, e.table_id, e.cl,
         max(CASE WHEN e.rw = h.hr THEN e.text END) AS header
  FROM expanded1 e JOIN hrow h ON h.doc_id = e.doc_id AND h.table_id = e.table_id
  GROUP BY 1, 2, 3),
hkey AS MATERIALIZED (
  SELECT doc_id, table_id, cl,
    CASE WHEN dense_rank() OVER (PARTITION BY doc_id, table_id, bkey
                                 ORDER BY cl) > 1
         THEN bkey || '_' || CAST(cl AS VARCHAR) ELSE bkey END AS hk
  FROM (
    SELECT doc_id, table_id, cl,
      CASE WHEN coalesce(header, '') = '' THEN 'Column_' || CAST(cl AS VARCHAR)
           ELSE header END AS bkey
    FROM hdr))
SELECT e.doc_id, e.table_id, CAST(e.rw AS INTEGER) AS "row",
  string_agg(d.hk || '=' || e.text, '|' ORDER BY e.cl) AS row_map_str
FROM expanded1 e
JOIN hrow h ON h.doc_id = e.doc_id AND h.table_id = e.table_id
JOIN hkey d ON d.doc_id = e.doc_id AND d.table_id = e.table_id AND d.cl = e.cl
WHERE e.rw > h.hr
GROUP BY 1, 2, 3"""
    )


def grid_header_levels_sql(tag: str = "sf0.01") -> str:
    return f"""
WITH dets AS (SELECT * FROM read_parquet('{_det_path(tag)}'))
SELECT doc_id, table_id, item_id AS header_id, y,
  CAST(dense_rank() OVER (PARTITION BY doc_id, table_id ORDER BY round(y * 10)) - 1
       AS INTEGER) AS level
FROM dets WHERE bucket = 'header'"""


def dominant_angle_sql(tag: str = "sf0.01") -> str:
    return f"""
WITH c AS MATERIALIZED (SELECT * FROM read_parquet('{_contours_path(tag)}')),
b AS (
  SELECT image_id, CAST(floor((angle + 90) / 5) AS INTEGER) AS bin, count(*) AS n
  FROM c GROUP BY 1, 2),
pick AS (
  SELECT image_id, bin FROM (
    SELECT image_id, bin,
           row_number() OVER (PARTITION BY image_id ORDER BY n DESC, bin ASC) AS rk
    FROM b) WHERE rk = 1),
stats AS (
  SELECT image_id,
    round(sum(angle * area) / sum(area), 6) AS weighted_angle,
    round(quantile_cont(angle, 0.5), 6) AS median_angle,
    round(coalesce(stddev(angle), 0.0), 6) AS stddev_angle
  FROM c GROUP BY image_id)
SELECT s.image_id, s.weighted_angle, s.median_angle, s.stddev_angle,
       pick.bin * 5 - 90 + 2.5 AS dense_bin_center
FROM stats s JOIN pick ON pick.image_id = s.image_id"""


def preprocessed_media_sql(tag: str = "sf0.01", h: int | None = None, w: int | None = None) -> str:
    """Action-apply twin of media.apply_actions: the full per-image
    action CHAIN recomputed over the closed-form raster as per-image
    pixel LISTS — rotate coordinate remap, NN deskew (cos/sin via
    DuckDB's libm, bit-equal to the kernel's math.*), min-max contrast
    stretch, the gamma LUT via pow, 25-tap median denoise, the sharpen
    convolution + the reference's computed (1-0.7) blend — stage-gated
    by list_contains in the same priority order the engine applies, and
    exposed as the position-weighted checksum + mean the engine emits.
    The sha256 processed_ref state chain is the bytes-pointer twin."""
    from pdf2ontology_spark.operators import imaging

    h = raster.GRID_H if h is None else h
    w = raster.GRID_W if w is None else w
    # the 90/270 rotate expressions below index a flat pixel list with w
    # as BOTH row strides — only the correct transpose when h == w
    # (mirrors the assert in imaging.rotate_exact)
    assert h == w, f"rotate twin needs square raster, got {h}x{w}"
    n = h * w
    plan_list = """list_filter([
      CASE WHEN a_rotate THEN 'rotate' END,
      CASE WHEN a_deskew THEN 'deskew' END,
      CASE WHEN a_contrast THEN 'enhance_contrast' END,
      CASE WHEN a_gamma THEN 'gamma_correction' END,
      CASE WHEN a_denoise THEN 'denoise' END,
      CASE WHEN a_sharpen THEN 'sharpen' END], x -> x IS NOT NULL)"""
    e_expr = hexval("hh", 9, 2)

    # DuckDB parses bare float literals as DECIMAL; DECIMAL * BIGINT
    # stays exact-decimal and silently diverges from the kernel's
    # float64 — every data-path literal must be an explicit DOUBLE
    def dl(x: float) -> str:
        return f"CAST({x!r} AS DOUBLE)"

    def clampy(e: str) -> str:
        return f"least({h - 1}, greatest(0, {e}))"

    def clampx(e: str) -> str:
        return f"least({w - 1}, greatest(0, {e}))"

    def refl(e: str, hi: int) -> str:  # BORDER_REFLECT_101
        return f"(CASE WHEN ({e}) < 0 THEN -({e}) WHEN ({e}) > {hi} THEN {2 * hi} - ({e}) ELSE ({e}) END)"

    # --- stage expressions over a pixel list L, element index i (0-based)
    rot_expr = f"""CASE rotation_deg
      WHEN 90 THEN list_transform(range(0, {n}), i ->
        px0[({h - 1} - (i % {w})) * {w} + (i // {w}) + 1])
      WHEN 180 THEN list_transform(range(0, {n}), i ->
        px0[({h - 1} - (i // {w})) * {w} + ({w - 1} - (i % {w})) + 1])
      WHEN 270 THEN list_transform(range(0, {n}), i ->
        px0[(i % {w}) * {w} + ({w - 1} - (i // {w})) + 1])
      ELSE px0 END"""
    # NN inverse-map rotation about (w//2, h//2): src = M^T (dst-c) + c
    rad_arg = f"CAST(skew_deg AS DOUBLE) * {dl(imaging.RAD)}"
    desk_expr = f"""list_transform(range(0, {n}), i ->
      px1[{clampy(f"CAST(floor(sin({rad_arg}) * ((i % {w}) - {w // 2}) + cos({rad_arg}) * ((i // {w}) - {h // 2}) + {h // 2} + 0.5) AS BIGINT)")} * {w}
        + {clampx(f"CAST(floor(cos({rad_arg}) * ((i % {w}) - {w // 2}) - sin({rad_arg}) * ((i // {w}) - {h // 2}) + {w // 2} + 0.5) AS BIGINT)")} + 1])"""
    stretch_expr = f"""CASE WHEN list_aggregate(px2, 'max') = list_aggregate(px2, 'min')
      THEN px2
      ELSE list_transform(px2, v -> CAST(floor(
        (v - list_aggregate(px2, 'min')) * {dl(255.0)}
        / (list_aggregate(px2, 'max') - list_aggregate(px2, 'min')) + 0.5) AS BIGINT))
      END"""
    gamma_expr = (
        f"list_transform(px3, v -> CAST(floor(pow(v / {dl(255.0)}, {dl(imaging.INV_GAMMA)}) * 255) AS BIGINT))"
    )
    med_taps = ", ".join(
        f"px4[{clampy(f'i // {w} + {dy}')} * {w} + {clampx(f'i % {w} + {dx}')} + 1]"
        for dy in range(-2, 3)
        for dx in range(-2, 3)
    )
    den_expr = f"""list_transform(range(0, {n}), i ->
      CAST(list_aggregate(list_value({med_taps}), 'median') AS BIGINT))"""
    nb_taps = " + ".join(
        f"px5[{refl(f'i // {w} + {dy}', h - 1)} * {w} + {refl(f'i % {w} + {dx}', w - 1)} + 1]"
        for dy in (-1, 0, 1)
        for dx in (-1, 0, 1)
        if not (dy == 0 and dx == 0)
    )
    a1 = dl(1.0 - imaging.SHARP_ALPHA)  # the reference computes 1 - alpha
    a2 = dl(imaging.SHARP_ALPHA)
    sharp_expr = f"""list_transform(range(0, {n}), i ->
      greatest(0, least(255, CAST(floor(
        {a1} * px5[i + 1]
        + {a2} * greatest(0, least(255, 9 * px5[i + 1] - ({nb_taps})))
        + 0.5) AS BIGINT))))"""
    return f"""
WITH {oracles.spans_cte(tag).lstrip()},{_cond_metrics()},
planned AS (
  SELECT doc_id, off, media_ref, skew_deg, rotation_deg,
         CASE WHEN needs_processing THEN {plan_list}
              ELSE CAST([] AS VARCHAR[]) END AS acts
  FROM flags),
rast AS MATERIALIZED (
  SELECT doc_id, off, media_ref, skew_deg, rotation_deg, acts,
    list_transform(range(0, {n}), i ->
      lo + (a * (i % {w}) + b * (i // {w}) + c * (i % {w}) * (i // {w}) + d)
           % (rng + 1)) AS px0
  FROM (
    SELECT p.*, {hexval("hh", 1, 2)} % 8 AS a, {hexval("hh", 3, 2)} % 8 AS b,
      {hexval("hh", 5, 2)} % 3 AS c, {hexval("hh", 7, 2)} AS d,
      16 + {e_expr} % 180 AS rng,
      {hexval("hh", 11, 2)} % (256 - (16 + {e_expr} % 180)) AS lo
    FROM (SELECT *, sha256(media_ref) AS hh FROM planned) p)),
s1 AS MATERIALIZED (
  SELECT doc_id, off, media_ref, skew_deg, rotation_deg, acts,
    CASE WHEN list_contains(acts, 'rotate') THEN {rot_expr} ELSE px0 END AS px1
  FROM rast),
s2 AS MATERIALIZED (
  SELECT doc_id, off, media_ref, skew_deg, rotation_deg, acts,
    CASE WHEN list_contains(acts, 'deskew') THEN {desk_expr} ELSE px1 END AS px2
  FROM s1),
s3 AS MATERIALIZED (
  SELECT doc_id, off, media_ref, skew_deg, rotation_deg, acts,
    CASE WHEN list_contains(acts, 'enhance_contrast') THEN {stretch_expr} ELSE px2 END AS px3
  FROM s2),
s4 AS MATERIALIZED (
  SELECT doc_id, off, media_ref, skew_deg, rotation_deg, acts,
    CASE WHEN list_contains(acts, 'gamma_correction') THEN {gamma_expr} ELSE px3 END AS px4
  FROM s3),
s5 AS MATERIALIZED (
  SELECT doc_id, off, media_ref, skew_deg, rotation_deg, acts,
    CASE WHEN list_contains(acts, 'denoise') THEN {den_expr} ELSE px4 END AS px5
  FROM s4),
s6 AS MATERIALIZED (
  SELECT doc_id, off, media_ref, skew_deg, rotation_deg, acts,
    CASE WHEN list_contains(acts, 'sharpen') THEN {sharp_expr} ELSE px5 END AS pxf
  FROM s5)
SELECT doc_id, off AS "offset", media_ref,
  list_reduce(list_prepend(sha256(media_ref), acts),
              (acc, x) -> sha256(acc || ':' || x)) AS processed_ref,
  coalesce(array_to_string(acts, '|'), '') AS applied_joined,
  CAST(len(acts) AS INTEGER) AS n_applied,
  CASE WHEN list_contains(acts, 'rotate') THEN 0 ELSE rotation_deg END
    AS rotation_deg_after,
  CASE WHEN list_contains(acts, 'deskew') THEN 0 ELSE skew_deg END
    AS skew_deg_after,
  CAST(len(acts) > 0 AS INTEGER) AS changed,
  CAST(list_aggregate(list_transform(range(0, {n}), i -> pxf[i + 1] * (i + 1)),
                      'sum') AS BIGINT) AS out_checksum,
  floor(CAST(list_aggregate(pxf, 'sum') AS DOUBLE) / {n} * 10000.0) / 10000.0
    AS mean_after
FROM s6"""


def simhash_pairs_sql(
    source: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    bands: int = 4,
) -> str:
    """Twin of dedup.simhash_pairs: band equi-join over signature
    bit-blocks (pigeonhole-exact for k <= bands-1) + bit_count verify.
    16-bit block keys (64/4); negative-BIGINT shifts are safe because
    the low ``width`` bits of (x >> s) are fill-independent under the
    mask."""
    width = SIMHASH_BITS // bands
    sums = []
    for b in range(SIMHASH_BITS):
        digit = hexval("h", 1 + b // 4, 1)
        bit = f"(({digit} // {2 ** (b % 4)}) % 2)"
        sums.append(f"sum(CASE WHEN {bit} = 1 THEN 1 ELSE -1 END) AS s_{b}")
    assemble = " + ".join(
        f"(CASE WHEN s_{b} > 0 THEN {_simhash_weight(b)} ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    ws = words_sql(text_col)
    band_rows = " UNION ALL ".join(
        f"SELECT id, simhash, {b} AS band, "
        f"(simhash >> {b * width}) & {(1 << width) - 1} AS band_key FROM sig"
        for b in range(bands)
    )
    return f"""
WITH toks AS (
  SELECT {id_col} AS id, md5(unnest({ws})) AS h FROM {source}),
sums AS (SELECT id, {", ".join(sums)} FROM toks GROUP BY id),
sig AS MATERIALIZED (SELECT id, CAST({assemble} AS BIGINT) AS simhash FROM sums),
bb AS MATERIALIZED ({band_rows}),
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b, a.simhash AS sig_a, b.simhash AS sig_b
  FROM bb a JOIN bb b ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id)
SELECT id_a, id_b, CAST(bit_count(xor(sig_a, sig_b)) AS INTEGER) AS hamming
FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= {max_hamming}"""


def dedup_clusters_sql(
    source: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
) -> str:
    """Twin of dedup.dedup_clusters: MinHash-LSH candidates ->
    exact-Jaccard verify -> recursive-CTE connected components ->
    per-cluster min-id survivor."""
    r = MINHASH_K // LSH_BANDS
    band_rows = " UNION ALL ".join(
        f"SELECT id, {b} AS band, md5("
        + " || '|' || ".join(f"mh_{b * r + j}" for j in range(r))
        + ") AS band_key FROM msig"
        for b in range(LSH_BANDS)
    )
    return f"""
WITH RECURSIVE {shingles_cte(source, id_col, text_col).lstrip()},
{mh_base_cte("mhb", "shingles", "id")},
msig AS MATERIALIZED (SELECT id, {_mh_aggs()} FROM mhb GROUP BY id),
mbands AS MATERIALIZED ({band_rows}),
cand AS MATERIALIZED (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM mbands a JOIN mbands b ON a.band = b.band AND a.band_key = b.band_key
  WHERE a.id < b.id),
sizes AS MATERIALIZED (SELECT id, count(*) AS n FROM shingles GROUP BY id),
inter AS MATERIALIZED (
  SELECT c.id_a, c.id_b, count(*) AS inter
  FROM cand c
  JOIN shingles sa ON sa.id = c.id_a
  JOIN shingles sb ON sb.id = c.id_b AND sb.shingle = sa.shingle
  GROUP BY 1, 2),
verified AS MATERIALIZED (
  SELECT i.id_a, i.id_b FROM inter i
  JOIN sizes za ON za.id = i.id_a
  JOIN sizes zb ON zb.id = i.id_b
  WHERE CAST(i.inter AS DOUBLE) / (za.n + zb.n - i.inter) >= {threshold}),
dsym AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM verified
  UNION SELECT id_b, id_a FROM verified),
dwalk AS (
  SELECT a AS node, a AS lab FROM dsym
  UNION
  SELECT s.b AS node, w.lab FROM dwalk w JOIN dsym s ON s.a = w.node),
dcomp AS (SELECT node, min(lab) AS component FROM dwalk GROUP BY node)
SELECT d.{id_col} AS id,
       coalesce(c.component, d.{id_col}) AS cluster_id,
       CAST(d.{id_col} = coalesce(c.component, d.{id_col}) AS INTEGER) AS is_survivor
FROM {source} d LEFT JOIN dcomp c ON c.node = d.{id_col}"""


def frame_samples_sql(tag: str = "sf0.01", interval_s: int = 2, max_frames: int = 32) -> str:
    """Twin of media.frame_samples (stub duration from the ref hash)."""
    dur = f"({hexval('sha256(media_ref)', 25, 3)} % 600 + 1)"
    return f"""
WITH {oracles.spans_cte(tag).lstrip()},
m AS (
  SELECT doc_id, off, media_ref, CAST({dur} AS INTEGER) AS duration_s,
         least(CAST(floor({dur} / {interval_s}.0) AS INTEGER) + 1, {max_frames}) AS n_frames
  FROM spans WHERE kind = 'media')
SELECT doc_id, off AS "offset", media_ref, duration_s,
       CAST(u.frame_idx AS INTEGER) AS frame_idx,
       CAST(u.frame_idx * {interval_s} AS INTEGER) AS t_s,
       media_ref || '#' || CAST(u.frame_idx AS VARCHAR) AS frame_ref
FROM m, unnest(range(0, CAST(n_frames AS BIGINT))) AS u(frame_idx)"""


def ner_mentions_sql(tag: str = "sf0.01") -> str:
    """Twin of operators/ner.py: gazetteer + surface patterns over the
    merged sentence stream (RE2 and Java agree on these patterns: no
    lookaround, no backrefs, explicit ASCII+umlaut classes)."""
    from pdf2ontology_spark.operators.ner import ORG_RE, PRODUCT_RE
    from pdf2ontology_spark import rules

    locs = ", ".join(f"('{x}')" for x in rules.LOCATIONS)
    return f"""
WITH {oracles.spans_cte(tag).lstrip()},
{oracles.merged_cte().lstrip()},
org_m AS (
  SELECT doc_id, off, sentence,
         unnest(regexp_extract_all(sentence, '{ORG_RE}', 1)) AS name,
         'organization' AS entity_type
  FROM merged),
prod_m AS (
  SELECT doc_id, off, sentence,
         unnest(regexp_extract_all(sentence, '{PRODUCT_RE}', 1)) AS name,
         'product' AS entity_type
  FROM merged),
locs(name) AS (VALUES {locs}),
loc_m AS (
  SELECT m.doc_id, m.off, m.sentence, l.name, 'location' AS entity_type
  FROM merged m JOIN locs l
    ON regexp_matches(m.sentence, '\\b' || l.name || '\\b'))
SELECT DISTINCT doc_id, off AS "offset", sentence, name, entity_type,
       CAST(instr(sentence, name) AS INTEGER) AS char_pos,
       CAST({rules.PATTERN_CONFIDENCE} AS DOUBLE) AS confidence
FROM (SELECT * FROM org_m UNION ALL SELECT * FROM loc_m UNION ALL SELECT * FROM prod_m)"""

"""DuckDB oracle SQL for the KG pipeline queries.

Each SQL string *independently recomputes* the operator's semantics from
the synthetic spans parquet (FIXTURES.md F6) — it is not a dump of the
engine's output. The SQL mirrors pdf2ontology_spark/rules.py constants;
regexes are dialect-portable (no lookaround, no escapes that differ).

DuckDB notes: regexp_replace needs the 'g' flag for replace-all (Spark
replaces all by default); numeric literals must be CAST to DOUBLE to
match Spark's DoubleType.
"""

from __future__ import annotations

import os

from pdf2ontology_spark import rules, synth

US = "chr(31)"  # unit separator used in deterministic ids


def spans_path(tag: str = "sf0.01") -> str:
    return os.path.join(synth.SYNTH_BASE, tag, "documents_spans.parquet")


def _markers_sql() -> str:
    return "(" + ", ".join(f"'{m}'" for m in rules.MARKERS) + ")"


def _locations_sql() -> str:
    return "(" + ", ".join(f"'{loc}'" for loc in rules.LOCATIONS) + ")"


def spans_cte(tag: str = "sf0.01") -> str:
    return f"""
spans AS (
  SELECT doc_id, s.kind AS kind, coalesce(s.text, '') AS text,
         coalesce(s.media_ref, '') AS media_ref, s."offset" AS off
  FROM (SELECT doc_id, unnest(spans) AS s
        FROM read_parquet('{spans_path(tag)}'))
)"""


def cells_cte() -> str:
    return """
cells AS (
  SELECT doc_id, table_id, c."row" AS r, c."col" AS cc, coalesce(c.text, '') AS txt
  FROM (
    SELECT doc_id,
           sha256(doc_id || ':' || CAST(off AS VARCHAR)) AS table_id,
           unnest(json_transform(text,
             '[{"row":"INTEGER","col":"INTEGER","text":"VARCHAR"}]')) AS c
    FROM spans WHERE kind = 'table')
)"""


def entries_ctes() -> str:
    """grid/opts/rowstats/entries — the semantic-table rules in SQL."""
    m = _markers_sql()
    return f"""
grid AS (
  SELECT doc_id, table_id, r, cc, txt,
    max(CASE WHEN r = 0 THEN txt END)
      OVER (PARTITION BY doc_id, table_id, cc) AS header,
    max(cc) OVER (PARTITION BY doc_id, table_id) + 1 AS ncols
  FROM cells
),
opts AS (
  SELECT doc_id, table_id, string_agg(txt, ', ' ORDER BY cc) AS options
  FROM cells WHERE r = 0 AND cc >= 1 GROUP BY doc_id, table_id
),
rowstats AS (
  SELECT doc_id, table_id, r,
    coalesce(max(CASE WHEN cc = 0 THEN txt END), '') AS row_header,
    sum(CASE WHEN cc >= 1 AND txt IN {m} THEN 1 ELSE 0 END) AS n_marker,
    sum(CASE WHEN cc >= 1 AND txt NOT IN {m} AND txt <> '' THEN 1 ELSE 0 END) AS n_other
  FROM cells GROUP BY doc_id, table_id, r
),
entries AS (
  SELECT g.doc_id, g.table_id, g.r AS row_idx, rs.row_header, 'value' AS key, g.txt AS value
  FROM grid g JOIN rowstats rs ON rs.doc_id = g.doc_id AND rs.table_id = g.table_id AND rs.r = g.r
  WHERE g.r >= 1 AND g.ncols = 2 AND g.cc = 1
  UNION ALL
  SELECT g.doc_id, g.table_id, g.r, rs.row_header, 'value', coalesce(g.header, '')
  FROM grid g JOIN rowstats rs ON rs.doc_id = g.doc_id AND rs.table_id = g.table_id AND rs.r = g.r
  WHERE g.r >= 1 AND g.ncols <> 2 AND rs.n_marker = 1 AND rs.n_other = 0
    AND g.cc >= 1 AND g.txt IN {m}
  UNION ALL
  SELECT g.doc_id, g.table_id, g.r, rs.row_header, 'notes',
         'Selected from options: ' || o.options
  FROM grid g
  JOIN rowstats rs ON rs.doc_id = g.doc_id AND rs.table_id = g.table_id AND rs.r = g.r
  JOIN opts o ON o.doc_id = g.doc_id AND o.table_id = g.table_id
  WHERE g.r >= 1 AND g.ncols <> 2 AND rs.n_marker = 1 AND rs.n_other = 0
    AND g.cc >= 1 AND g.txt IN {m}
  UNION ALL
  SELECT g.doc_id, g.table_id, g.r, rs.row_header,
         CASE WHEN coalesce(g.header, '') = ''
              THEN 'Column_' || CAST(g.cc AS VARCHAR) ELSE g.header END, g.txt
  FROM grid g JOIN rowstats rs ON rs.doc_id = g.doc_id AND rs.table_id = g.table_id AND rs.r = g.r
  WHERE g.r >= 1 AND g.cc >= 1 AND g.ncols <> 2
    AND NOT (rs.n_marker = 1 AND rs.n_other = 0)
)"""


def entries_capped_cte() -> str:
    """The reference's data_rows[:3] cap (triplet_extractor.py:358):
    the entries of each table's first 3 distinct data rows."""
    return """
entries_capped AS (
  SELECT * FROM (
    SELECT e.*, dense_rank() OVER (PARTITION BY doc_id, table_id ORDER BY row_idx) AS _rk
    FROM entries e)
  WHERE _rk <= 3)"""


def obj_type_sql(col: str) -> str:
    return f"""CASE WHEN regexp_matches({col}, '{rules.NUMERIC_RE}') THEN 'numeric'
       WHEN {col} IN {_locations_sql()} THEN 'location'
       ELSE 'other' END"""


def table_triples_cte() -> str:
    return f"""
table_triples AS (
  SELECT doc_id, table_id, row_header AS subj_name, 'concept' AS subj_type,
         'related_to' AS predicate, value AS obj_name,
         {obj_type_sql("value")} AS obj_type,
         CAST(0.6 AS DOUBLE) AS confidence,
         row_header || ' has ' || key || ' of ' || value AS source_sentence,
         'fallback_rule_based' AS extraction_method
  FROM entries WHERE value <> ''
)"""


def merged_cte() -> str:
    """Cross-span merge (W5, multi-level): runs of consecutive text
    spans delimited by sentence terminators are concatenated — a new run
    starts after a span that terminates a sentence (rules.TERMINATOR_RE
    and not rules.ABBREV_RE), or at the first text span."""
    return f"""
merged AS (
  SELECT doc_id, min(off) AS off, string_agg(text, ' ' ORDER BY off) AS sentence
  FROM (
    SELECT doc_id, off, text,
      sum(CASE WHEN prev_text IS NULL
                 OR (regexp_matches(prev_text, '{rules.TERMINATOR_RE}')
                     AND NOT regexp_matches(prev_text, '{rules.ABBREV_RE}'))
               THEN 1 ELSE 0 END)
        OVER (PARTITION BY doc_id ORDER BY off ROWS UNBOUNDED PRECEDING) AS grp
    FROM (
      SELECT doc_id, off, text,
        lag(text) OVER (PARTITION BY doc_id ORDER BY off) AS prev_text
      FROM spans WHERE kind = 'text'))
  GROUP BY doc_id, grp
)"""


def text_triples_cte() -> str:
    parts = []
    for pat, pred, st, ot in rules.TEXT_PATTERNS:
        parts.append(
            f"""
  SELECT doc_id, CAST(NULL AS VARCHAR) AS table_id,
         regexp_extract(sentence, '{pat}', 1) AS subj_name, '{st}' AS subj_type,
         '{pred}' AS predicate,
         regexp_extract(sentence, '{pat}', 2) AS obj_name, '{ot}' AS obj_type,
         CAST(0.8 AS DOUBLE) AS confidence, sentence AS source_sentence,
         'pattern_rule_based' AS extraction_method
  FROM merged WHERE regexp_matches(sentence, '{pat}')"""
        )
    return merged_cte() + ",\ntext_triples AS (" + "\n  UNION ALL".join(parts) + "\n)"


def all_triples_sql(tag: str = "sf0.01") -> str:
    return (
        "WITH "
        + ",".join(
            [spans_cte(tag), cells_cte(), entries_ctes(), table_triples_cte(), text_triples_cte()]
        )
        + "\nSELECT * FROM table_triples UNION ALL SELECT * FROM text_triples"
    )


def triples_prefix(tag: str = "sf0.01") -> str:
    """WITH-prefix ending in a unified ``triples`` CTE, for downstream queries."""
    return (
        "WITH "
        + ",".join(
            [spans_cte(tag), cells_cte(), entries_ctes(), table_triples_cte(), text_triples_cte()]
        )
        + ",\ntriples AS (SELECT * FROM table_triples UNION ALL SELECT * FROM text_triples)"
    )


_CAP_ORDER_SQL = (
    "extraction_method ASC, table_id ASC NULLS FIRST, subj_name ASC, "
    "predicate ASC, obj_name ASC, source_sentence ASC"
)


def triples_capped_sql(tag: str = "sf0.01", max_per_doc: int = 200) -> str:
    """Twin of triples.cap_triples_per_doc (MAX_TRIPLETS_PER_DOCUMENT,
    /root/reference/config.py:22): first N per doc in canonical order.
    NULLS FIRST is explicit — DuckDB defaults to NULLS LAST on ASC,
    Spark to nulls first."""
    return (
        triples_prefix(tag)
        + f""",
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY {_CAP_ORDER_SQL}) AS rn
  FROM triples)
SELECT doc_id, table_id, subj_name, subj_type, predicate, obj_name, obj_type,
       confidence, source_sentence, extraction_method
FROM ranked WHERE rn <= {max_per_doc}"""
    )


def cap_accounting_sql(tag: str = "sf0.01", max_per_doc: int = 200) -> str:
    """Twin of triples.cap_accounting: the truncation metrics row."""
    return (
        triples_prefix(tag)
        + f""",
counts AS (SELECT doc_id, count(*) AS n FROM triples GROUP BY doc_id)
SELECT CAST(count(*) AS BIGINT) AS docs_total,
       CAST(sum(CASE WHEN n > {max_per_doc} THEN 1 ELSE 0 END) AS BIGINT) AS docs_truncated,
       CAST(sum(greatest(n - {max_per_doc}, 0)) AS BIGINT) AS triples_dropped
FROM counts"""
    )


def entities_capped_sql(tag: str = "sf0.01", max_entities: int = 100) -> str:
    """Twin of triples.entities_per_doc_capped
    (MAX_ENTITIES_PER_EXTRACTION, /root/reference/config.py:21)."""
    return (
        triples_prefix(tag)
        + f""",
m AS (SELECT doc_id, subj_name AS name, subj_type AS entity_type FROM triples
      UNION
      SELECT doc_id, obj_name, obj_type FROM triples),
ranked AS (
  SELECT doc_id, name, entity_type,
         row_number() OVER (PARTITION BY doc_id ORDER BY entity_type, name) AS rk
  FROM m)
SELECT doc_id, name, entity_type, CAST(rk AS INTEGER) AS rk
FROM ranked WHERE rk <= {max_entities}"""
    )


def normalize_sql(col: str) -> str:
    """SQL twin of graph.normalize_name_col (note 'g' flags)."""
    s = f"trim(lower({col}))"
    s = f"regexp_replace({s}, '{rules.LEGAL_SUFFIX_RE}', '')"
    return f"trim(regexp_replace({s}, '{rules.PUNCT_RE}', ' ', 'g'))"


def entity_id_sql(name: str, etype: str) -> str:
    key = (
        f"CASE WHEN {etype} IN ('numeric','date') THEN trim({name}) "
        f"ELSE {normalize_sql(name)} END"
    )
    return f"sha256({key} || {US} || {etype})"


def mentions_cte() -> str:
    return """
mentions AS (
  SELECT subj_name AS name, subj_type AS entity_type, confidence,
         source_sentence
  FROM triples
  UNION ALL
  SELECT obj_name, obj_type, confidence, source_sentence FROM triples
)"""


def ontology_dim_values() -> str:
    """VALUES list for the ontology class dimension — twin of
    graph.ENTITY_CLASS_PARENTS (import deferred: pyspark-free here)."""
    from pdf2ontology_spark.operators.graph import ENTITY_CLASS_PARENTS

    return ", ".join(
        f"('{n}', '{n.capitalize()}', '{p}')"
        for n, p in sorted(ENTITY_CLASS_PARENTS.items())
    )


def _canonical_ctes(lsh_k: int, lsh_bands: int, jaccard: float) -> str:
    """CTE chain replicating operators/linking.py exactly: surfaces ->
    exact-key groups -> char-3-gram MinHash (md5-based, same seed-prefix
    scheme) -> LSH bands -> Jaccard-verified bridge pairs -> connected
    components via a recursive CTE -> surface->canonical_id mapping.

    This is a true independent recomputation — the minhash uses the same
    deterministic md5('{i}:'||shingle) family, so band collisions (and
    any banding misses) agree bit-for-bit with the Spark plan.
    """
    r = lsh_k // lsh_bands
    key_sql = (
        "CASE WHEN entity_type IN ('numeric','date') THEN trim(name) "
        f"ELSE {normalize_sql('name')} END"
    )
    mh_aggs = ",\n    ".join(
        f"min(substring(md5('{i}:' || shingle), 1, 16)) AS mh_{i}" for i in range(lsh_k)
    )
    band_selects = "\n  UNION ALL\n".join(
        f"  SELECT rep_id, entity_type, {b} AS band, "
        + "md5("
        + " || '|' || ".join(f"mh_{b * r + j}" for j in range(r))
        + ") AS band_key FROM sig"
        for b in range(lsh_bands)
    )
    return f"""
surfaces AS MATERIALIZED (
  SELECT name, entity_type,
         CAST(count(*) AS BIGINT) AS n, max(confidence) AS max_conf,
         {key_sql} AS k,
         sha256(name || {US} || entity_type) AS surface_id
  FROM mentions GROUP BY name, entity_type),
grp AS MATERIALIZED (
  SELECT k, entity_type, min(surface_id) AS rep_id
  FROM surfaces GROUP BY k, entity_type),
fuzzy AS MATERIALIZED (
  SELECT rep_id, entity_type,
         list_distinct(list_transform(range(1, greatest(length(k) - 2, 1) + 1),
                       i -> substring(k, CAST(i AS INTEGER), 3))) AS grams
  FROM grp WHERE entity_type NOT IN ('numeric','date')),
sh AS (SELECT rep_id, entity_type, unnest(grams) AS shingle FROM fuzzy),
sig AS MATERIALIZED (
  SELECT rep_id, entity_type,
    {mh_aggs}
  FROM sh GROUP BY rep_id, entity_type),
bands AS MATERIALIZED (
{band_selects}),
cand AS MATERIALIZED (
  SELECT DISTINCT a.rep_id AS id_a, b.rep_id AS id_b
  FROM bands a JOIN bands b
    ON a.entity_type = b.entity_type AND a.band = b.band AND a.band_key = b.band_key
  WHERE a.rep_id < b.rep_id),
verified AS MATERIALIZED (
  SELECT id_a, id_b FROM cand
  JOIN fuzzy ga ON ga.rep_id = cand.id_a
  JOIN fuzzy gb ON gb.rep_id = cand.id_b
  WHERE CAST(len(list_intersect(ga.grams, gb.grams)) AS DOUBLE)
        / (len(ga.grams) + len(gb.grams) - len(list_intersect(ga.grams, gb.grams)))
        >= {jaccard}),
sym AS MATERIALIZED (
  SELECT id_a AS a, id_b AS b FROM verified
  UNION
  SELECT id_b, id_a FROM verified),
walk AS (
  SELECT a AS node, a AS lab FROM sym
  UNION
  SELECT s.b AS node, w.lab FROM walk w JOIN sym s ON s.a = w.node),
comp AS (SELECT node, min(lab) AS component FROM walk GROUP BY node),
cmapping AS MATERIALIZED (
  SELECT s.surface_id, s.name, s.entity_type, s.n, s.max_conf,
         coalesce(c.component, g.rep_id) AS canonical_id
  FROM surfaces s
  JOIN grp g ON g.k = s.k AND g.entity_type = s.entity_type
  LEFT JOIN comp c ON c.node = g.rep_id)"""


def canonical_prefix(tag: str, lsh_k: int, lsh_bands: int, jaccard: float) -> str:
    """WITH-RECURSIVE prefix ending at the ``cmapping`` CTE."""
    return (
        triples_prefix(tag).replace("WITH ", "WITH RECURSIVE ", 1)
        + ","
        + mentions_cte()
        + ","
        + _canonical_ctes(lsh_k, lsh_bands, jaccard)
    )


def canonical_nodes_sql(tag: str, lsh_k: int, lsh_bands: int, jaccard: float) -> str:
    return (
        canonical_prefix(tag, lsh_k, lsh_bands, jaccard)
        + """,
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY canonical_id
                               ORDER BY n DESC, name ASC) AS rk
  FROM cmapping)
SELECT canonical_id,
       max(CASE WHEN rk = 1 THEN name END) AS canonical_form,
       max(CASE WHEN rk = 1 THEN entity_type END) AS entity_type,
       string_agg(DISTINCT name, '|' ORDER BY name) AS aliases_joined,
       CAST(sum(n) AS BIGINT) AS mention_count,
       max(max_conf) AS confidence
FROM ranked GROUP BY canonical_id"""
    )


def canonical_edges_sql(tag: str, lsh_k: int, lsh_bands: int, jaccard: float) -> str:
    return (
        canonical_prefix(tag, lsh_k, lsh_bands, jaccard)
        + f""",
e AS (
  SELECT ms.canonical_id AS subject_id, t.predicate,
         mo.canonical_id AS object_id, t.confidence
  FROM triples t
  JOIN cmapping ms ON ms.name = t.subj_name AND ms.entity_type = t.subj_type
  JOIN cmapping mo ON mo.name = t.obj_name AND mo.entity_type = t.obj_type),
agg AS (
  SELECT subject_id, predicate, object_id,
         CAST(count(*) AS DOUBLE) AS weight, max(confidence) AS confidence
  FROM e GROUP BY 1, 2, 3)
SELECT sha256(subject_id || {US} || predicate || {US} || object_id) AS edge_id,
       subject_id, predicate, object_id, weight, confidence
FROM agg"""
    )

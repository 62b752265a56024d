"""Deterministic synthetic interleaved-document corpus (FIXTURES.md F1).

Generates the BASELINE.json ``input_hint`` table —
``(doc_id string, spans array<struct<kind,text,media_ref,offset>>)`` —
plus analytically-computed golden triples (F3) and golden entity-linking
clusters (F4), all with seed=42 and no wall-clock/uuid anywhere, so the
goldens are byte-stable across runs and resume.

The golden triples are derived by the *generator's own knowledge of what
it emitted* (not by running the pipeline), giving a true oracle per
FIXTURES.md F3. Table/text shapes mirror the reference corpus:
- parameter→value 2-col tables, multi-col Min/Max/Unit tables, and
  option-selection "X"-marker tables
  (/root/reference/src/table_processors/table_content_extractor.py:98-175);
- German/English technical vocabulary from the reference prompts
  (/root/reference/src/knowledge_extractor/triplet_extractor.py:227-237).
"""

from __future__ import annotations

import hashlib
import json
import os
import random

import pyarrow as pa
import pyarrow.parquet as pq

from pdf2ontology_spark import rules

GEN_VERSION = 8  # bump to invalidate cached parquet
# one row group per generation chunk (~1.2MB compressed at CHUNK=5000):
# row groups are the atomic scan-split unit AND each carries footer
# metadata — 2048-row groups gave the 2.4M-doc corpus a 1,172-entry
# footer parsed by every scan task. Tracked in the cache meta so
# changing it regenerates.
ROW_GROUP_ROWS = 16384
DEFAULT_SEED = 42
SYNTH_BASE = os.environ.get("SPARK_GRAFT_SYNTH_DIR", "/root/repo/data/synth")
CHUNK = 5000  # docs per deterministic generation chunk

# docs per scale tag (FIXTURES.md F1 generator parameters); sfb* are the
# scaling-bench corpora (compute must dominate fixed overheads; goldens
# skipped — bench tags measure throughput, correctness runs on sf*)
N_DOCS = {
    "sf0.001": 200,
    "sf0.01": 5000,
    "sf0.1": 50000,
    "sfxl": 150000,
    "sfxxl": 600000,
    "sfb": 2_400_000,
    "sfskew": 20000,
}
BENCH_TAGS = {"sfxl", "sfxxl", "sfb", "sfskew"}
# heavy-tail stress corpora (1% of docs at ~100x media load) — bench
# tags (no goldens/blob store); the skew-evidence harness reads these
SKEW_TAGS = {"sfskew"}

PARAMS = [
    ("durchfluss", "l/min"),
    ("druck", "bar"),
    ("temperatur", "°C"),
    ("dichte", "kg/m³"),
    ("viskosität", "mPa·s"),
    ("leistung", "kW"),
    ("drehzahl", "1/min"),
    ("spannung", "V"),
    ("strom", "A"),
    ("frequenz", "Hz"),
    ("füllstand", "%"),
    ("volumen", "m³"),
    ("masse", "kg"),
    ("geschwindigkeit", "m/s"),
]

# Alias clusters for entity linking (FIXTURES.md F4): every variant in a
# cluster normalizes (rules.normalize_name) to the same key OR — for the
# typo variants (last entry of the first three clusters) — is reachable
# only via MinHash-LSH blocking + char-3-gram Jaccard >= 0.6, so the
# fuzzy path is load-bearing; cluster membership is the golden.
ORG_CLUSTERS = [
    ["Samson AG", "SAMSON", "Samson A.G.", "Samsonn AG"],
    ["Acme GmbH", "ACME", "Acme G.m.b.H.", "Acmee GmbH"],
    ["TechCorp Ltd", "TECHCORP", "TechCorp Limited", "TechCorpp Ltd"],
    ["Nordwerk AG", "NORDWERK"],
    ["Hydro Systems KG", "HYDRO SYSTEMS"],
]

PRODUCTS = [
    "Ventil Typ 3241",
    "Pumpe P-100",
    "Regler R-20",
    "Sensor S-5",
    "Antrieb A-7",
    "Filter F-2",
    "Messumformer M-3",
    "Kompressor K-9",
]

OPTION_SETS = [
    ("Zustand Eintritt", ["flüssig", "dampfförmig", "gasförmig"]),
    ("Freigabe", ["ja", "nein"]),
    ("Gehäusewerkstoff", ["Edelstahl", "Stahl", "Kunststoff"]),
]

FILLERS = [
    "Alle Angaben ohne Gewähr und dienen nur zur Information.",
    "Technische Änderungen vorbehalten.",
    "Siehe Abschnitt 4 für weitere Details.",
    "Subject to change without notice.",
    # doc-type flavor sentences (exercise the keyword classifier; none
    # match a triple pattern)
    "Bestellung Nr. 4711 über 5 Stück laut purchase order.",
    "Der Vertrag regelt die terms and conditions beider Parteien.",
    "Die Betriebsanleitung beschreibt Installation und Wartung.",
    "Abstract: we propose a new evaluation of related work.",
    # terminator-class shapes (W5): sentences ending in ! and ? and
    # sentences with interior abbreviation dots ("Abb.", "ca.") — a
    # cross-span split right after the abbreviation must still merge
    "Achtung Sicherheitshinweise vor der Inbetriebnahme unbedingt lesen!",
    "Wurde die Anlage gemäß der Betriebsanleitung regelmäßig gewartet?",
    "Weitere Details siehe Abb. 3 im technischen Anhang.",
    "Die Messung erfolgte ca. 5 Minuten nach dem Start der Anlage.",
]


def table_id_for(doc_id: str, offset: int) -> str:
    return hashlib.sha256(f"{doc_id}:{offset}".encode()).hexdigest()


def _fmt_num(rng: random.Random) -> str:
    if rng.random() < 0.5:
        return str(rng.randint(1, 500))
    return f"{rng.randint(1, 99)}.{rng.randint(0, 9)}"


def _make_table(rng: random.Random, doc_id: str, offset: int):
    """Build one table span. Returns (cells_json, golden_triples list)."""
    tid = table_id_for(doc_id, offset)
    cells: list[dict] = []
    golden: list[dict] = []
    shape = rng.random()

    def add(r, c, t):
        cells.append({"row": r, "col": c, "text": t})

    def triple(subj, key, obj):
        golden.append(
            {
                "doc_id": doc_id,
                "table_id": tid,
                "subj_name": subj,
                "subj_type": "concept",
                "predicate": "related_to",
                "obj_name": obj,
                "obj_type": rules.classify_value(obj),
                "confidence": rules.FALLBACK_CONFIDENCE,
                "source_sentence": f"{subj} has {key} of {obj}",
                "extraction_method": rules.FALLBACK_METHOD,
            }
        )

    if shape < 0.05:
        # header-only table: no data rows -> no relationships, no triples
        add(0, 0, "Parameter")
        add(0, 1, "Wert")
    elif shape < 0.45:
        # 2-col parameter -> value table
        add(0, 0, "Parameter")
        add(0, 1, "Wert")
        nrows = rng.randint(2, 6)
        used = rng.sample(PARAMS, min(nrows, len(PARAMS)))
        for i in range(nrows):
            if rng.random() < 0.2:
                # description row: Stellort -> location (prompt "Description tables")
                h, v = "Stellort", rng.choice(rules.LOCATIONS)
            elif i < len(used):
                p, u = used[i]
                h = p
                if rng.random() < 0.12:
                    v = ""  # empty cell -> no triple
                elif rng.random() < 0.5:
                    v = f"{rng.randint(1, 40)}-{rng.randint(41, 99)} {u}"
                else:
                    v = f"{_fmt_num(rng)} {u}"
            else:
                h, v = f"parameter_{i}", _fmt_num(rng)
            add(i + 1, 0, h)
            add(i + 1, 1, v)
            if v:
                triple(h, "value", v)
    elif shape < 0.75:
        # multi-col Min/Max/Einheit table
        headers = ["Parameter", "Min", "Max", "Einheit"]
        for c, h in enumerate(headers):
            add(0, c, h)
        nrows = rng.randint(2, 5)
        used = rng.sample(PARAMS, min(nrows, len(PARAMS)))
        for i in range(nrows):
            p, u = used[i % len(used)]
            lo, hi = str(rng.randint(1, 40)), str(rng.randint(41, 99))
            vals = [lo, hi, u]
            if rng.random() < 0.15:
                vals[rng.randint(0, 2)] = ""  # empty cell
            add(i + 1, 0, p)
            for c, v in enumerate(vals, start=1):
                add(i + 1, c, v)
                if v:
                    triple(p, headers[c], v)
    else:
        # option-selection table with "X" marker
        label, options = OPTION_SETS[rng.randrange(len(OPTION_SETS))]
        add(0, 0, "Parameter")
        for c, o in enumerate(options, start=1):
            add(0, c, o)
        nrows = rng.randint(1, 3)
        for i in range(nrows):
            h = label if i == 0 else f"{label} {i + 1}"
            add(i + 1, 0, h)
            if rng.random() < 0.1:
                # unmarked row: all option cells empty -> no triples
                for c in range(1, len(options) + 1):
                    add(i + 1, c, "")
            else:
                sel = rng.randrange(len(options))
                for c in range(1, len(options) + 1):
                    add(i + 1, c, rules.MARKERS[0] if c - 1 == sel else "")
                notes = rules.OPTION_NOTES_PREFIX + ", ".join(options)
                triple(h, "value", options[sel])
                triple(h, "notes", notes)

    return json.dumps(cells, ensure_ascii=False), golden


def _make_text_span(rng: random.Random, doc_id: str, org: str):
    """Build one text span (one sentence). Returns (text, golden list)."""
    r = rng.random()

    def t(subj, st, pred, obj, ot, sent):
        return [
            {
                "doc_id": doc_id,
                "table_id": None,
                "subj_name": subj,
                "subj_type": st,
                "predicate": pred,
                "obj_name": obj,
                "obj_type": ot,
                "confidence": rules.PATTERN_CONFIDENCE,
                "source_sentence": sent,
                "extraction_method": rules.PATTERN_METHOD,
            }
        ]

    if r < 0.2:
        p, loc = rng.choice(PRODUCTS), rng.choice(rules.LOCATIONS)
        s = f"Die Anlage {p} befindet sich im {loc}."
        return s, t(p, "product", "located_in", loc, "location", s)
    if r < 0.35:
        a, b = rng.sample(PRODUCTS, 2)
        s = f"Das Modul {a} enthält {b}."
        return s, t(a, "product", "contains", b, "product", s)
    if r < 0.5:
        a, b = rng.sample(PRODUCTS, 2)
        s = f"{a} ist Teil von {b}."
        return s, t(a, "product", "part_of", b, "product", s)
    if r < 0.65:
        p = rng.choice(PRODUCTS)
        s = f"{org} liefert {p}."
        return s, t(org, "organization", "produces", p, "product", s)
    return rng.choice(FILLERS), []


def _generate_chunk(seed: int, start: int, count: int, skew: bool = False):
    """Generate docs [start, start+count) with a chunk-local RNG seeded
    by (seed, start) — deterministic regardless of how many workers run
    which chunks, so parallel and sequential generation agree.

    ``skew=True`` is the heavy-tail stress mode (north-rule skew-aware
    evidence): 1%% of docs carry ~100x the normal media-span load
    (300-500 media spans vs the usual 0-4), the shape a crawl with
    image-gallery pages exhibits."""
    rng = random.Random(f"{seed}:{start}")
    docs, goldens, orgs = [], [], []
    for d in range(start, start + count):
        doc_id = f"doc_{d:08d}"
        cluster_id = rng.randrange(len(ORG_CLUSTERS))
        cluster = ORG_CLUSTERS[cluster_id]
        org = cluster[rng.randrange(len(cluster))]
        orgs.append({"doc_id": doc_id, "name": org, "cluster_id": cluster_id})

        spans = []

        def add_span(kind, text="", media_ref=""):
            spans.append(
                {"kind": kind, "text": text, "media_ref": media_ref, "offset": len(spans)}
            )

        add_span("title", f"Datenblatt {org} Anlage {d % 97}")
        heavy = d % 50 == 7  # ~2% media-heavy docs (north-rule skew)
        hyper = skew and d % 100 == 13  # heavy-tail mode: 1% at ~100x
        n_tables = rng.randint(1, 3)
        n_text = rng.randint(1, max(1, int(rng.lognormvariate(1.2, 0.6))) + 4)
        if hyper:
            n_media = rng.randint(300, 500)
        else:
            n_media = rng.randint(30, 50) if heavy else rng.randint(0, 4)

        body = (
            ["table"] * n_tables
            + ["text"] * n_text
            + ["media"] * n_media
            + (["header"] if rng.random() < 0.3 else [])
            + (["caption"] if rng.random() < 0.2 else [])
            + (["footer"] if rng.random() < 0.3 else [])
        )
        rng.shuffle(body)
        for kind in body:
            off = len(spans)
            if kind == "table":
                text, g = _make_table(rng, doc_id, off)
                goldens.extend(g)
                add_span("table", text)
            elif kind == "text":
                text, g = _make_text_span(rng, doc_id, org)
                goldens.extend(g)
                words = text.split(" ")
                # split points whose left part must NOT terminate a
                # sentence (rules.span_terminates) — this now includes
                # splits right after abbreviation dots ("Abb." / "Nr."),
                # which the merge's abbreviation guard must rejoin
                ks = [
                    k
                    for k in range(2, len(words) - 1)
                    if not rules.span_terminates(" ".join(words[:k]))
                ]
                if rng.random() < 0.1 and len(words) >= 4 and ks:
                    # cross-span split: sentence continues in the NEXT
                    # text span (reference CrossPageContent semantics,
                    # content_models.py:55-82) — the engine must merge
                    # before pattern extraction (W5 load-bearing)
                    k = rng.choice(ks)
                    parts = [words[:k], words[k:]]
                    # ~40% of splits split the tail AGAIN (3+ spans) so
                    # the multi-level merge is load-bearing, not just
                    # one continuation
                    ks2 = [
                        k2
                        for k2 in range(k + 2, len(words) - 1)
                        if not rules.span_terminates(" ".join(words[k:k2]))
                    ]
                    if rng.random() < 0.4 and ks2:
                        k2 = rng.choice(ks2)
                        parts = [words[:k], words[k:k2], words[k2:]]
                    for part in parts:
                        add_span("text", " ".join(part))
                else:
                    add_span("text", text)
            elif kind == "media":
                add_span("media", "", f"media://{doc_id}/{off}.png")
            elif kind == "header":
                add_span("header", f"Seite {1 + d % 9} — {org}")
            elif kind == "caption":
                add_span("caption", f"Abbildung {1 + d % 5}: Schema")
            else:
                add_span("footer", "Vertraulich — nur für internen Gebrauch.")
        docs.append({"doc_id": doc_id, "spans": spans})
    return docs, goldens, orgs


_SPAN_PA = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)


_G_COLS = [
    "doc_id",
    "table_id",
    "subj_name",
    "subj_type",
    "predicate",
    "obj_name",
    "obj_type",
    "confidence",
    "source_sentence",
    "extraction_method",
]


def _doc_table(docs: list) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array([d["doc_id"] for d in docs], pa.string()),
            "spans": pa.array([d["spans"] for d in docs], pa.list_(_SPAN_PA)),
        }
    )


def _golden_table(goldens: list) -> pa.Table:
    return pa.table(
        {
            c: pa.array(
                [g[c] for g in goldens],
                pa.float64() if c == "confidence" else pa.string(),
            )
            for c in _G_COLS
        }
    )


def _org_table(orgs: list) -> pa.Table:
    return pa.table(
        {
            "doc_id": pa.array([o["doc_id"] for o in orgs], pa.string()),
            "name": pa.array([o["name"] for o in orgs], pa.string()),
            "cluster_id": pa.array([o["cluster_id"] for o in orgs], pa.int32()),
        }
    )


# ------------------------------------------------------------------ F5:
# detection-style inputs for the grid-reconstruction family (bbox rows a
# layout model would emit — reference table_transformer.py:89-372). All
# coordinates are multiples of 0.25 so every geometric expression
# (centers, distances, overlaps) is exact in float64 and the DuckDB
# oracle reproduces values bit-for-bit.
DET_VERSION = 1
N_DET_TABLES = {"sf0.001": 60, "sf0.01": 1500, "sf0.1": 15000}
N_DET_IMAGES = {"sf0.001": 100, "sf0.01": 2000, "sf0.1": 20000}


def _q(rng: random.Random, lo_quarters: int, hi_quarters: int) -> float:
    """Uniform jitter on the exact quarter grid."""
    return rng.randint(lo_quarters, hi_quarters) * 0.25


def _make_detections(seed: int, n_tables: int) -> list:
    rng = random.Random(f"det:{seed}")
    rows = []
    for t in range(n_tables):
        doc_id = f"det_{t:06d}"
        table_id = f"tbl_{t:06d}"
        R, C = rng.randint(3, 7), rng.randint(2, 5)
        # ~5% of tables have a fully-empty first row, so W4's
        # "first row with any non-empty cell" search is load-bearing
        blank_row0 = rng.random() < 0.05
        items = []

        def add(bucket, item_id, x, y, w, h, text=""):
            items.append(
                {
                    "doc_id": doc_id, "table_id": table_id, "bucket": bucket,
                    "item_id": item_id, "x": x, "y": y, "w": w, "h": h, "text": text,
                }
            )

        for r in range(R):
            add("row", f"rowband_{r}", 0.0, r * 10 + _q(rng, -2, 2), C * 20.0, 10.0)
        for c in range(C):
            add("column", f"colband_{c}", c * 20 + _q(rng, -2, 2), 0.0, 20.0, R * 10.0)
        for r in range(R):
            for c in range(C):
                if r > 0 and rng.random() < 0.05:
                    continue  # missing detection -> sparse grid
                if r == 0:
                    text = "" if blank_row0 else (f"H{c}" if (c == 0 or rng.random() >= 0.08) else "")
                else:
                    text = f"v{r}_{c}" if rng.random() >= 0.1 else ""
                add(
                    "cell", f"cell_{r}_{c}",
                    c * 20 + _q(rng, 0, 8), r * 10 + _q(rng, 0, 6), 16.0, 7.0, text,
                )
        if rng.random() < 0.4 and R >= 3:
            r0 = rng.randint(0, R - 2)
            r1 = min(R - 1, r0 + rng.randint(0, 1) + (1 if rng.random() < 0.7 else 0))
            c0 = rng.randint(0, C - 1)
            c1 = min(C - 1, c0 + rng.randint(0, C - 1 - c0))
            add(
                "spanning_cell", "span_0",
                c0 * 20 + 0.5, r0 * 10 + 0.5,
                (c1 - c0 + 1) * 20 - 1.0, (r1 - r0 + 1) * 10 - 1.0,
            )
        for lvl in range(rng.randint(1, 3)):
            for _ in range(rng.randint(1, 2)):
                # y*10 lands at lvl*10 + 0.1..0.4 — never on a .5 rounding
                # boundary, so Spark/DuckDB round() agree on the W3 bucket
                add(
                    "header", f"hdr_{lvl}_{_}",
                    _q(rng, 0, 20), lvl + rng.randint(1, 4) / 100.0, 100.0, 0.5,
                )
        rng.shuffle(items)  # emission order carries no information
        rows.extend(items)
    return rows


def _make_contours(seed: int, n_images: int) -> list:
    rng = random.Random(f"contours:{seed}")
    out = []
    for i in range(n_images):
        image_id = f"img_{i:06d}"
        for _ in range(rng.randint(3, 25)):
            out.append(
                {
                    "image_id": image_id,
                    # quarter-degree angles and integer areas: the
                    # area-weighted mean is exact float64 on both engines
                    "angle": rng.randint(-80, 80) * 0.25,
                    "area": float(rng.randint(1, 500)),
                }
            )
    return out


def ensure_detections(
    tag_or_sf_dir: str, base_dir: str = SYNTH_BASE, seed: int = DEFAULT_SEED
) -> dict:
    """Generate (once, cached) the detection-style fixtures for the grid
    family: ``table_detections.parquet`` (bbox rows with bucket labels)
    and ``contours.parquet`` (per-image angle/area pairs)."""
    tag = os.path.basename(tag_or_sf_dir.rstrip("/"))
    out = os.path.join(base_dir, tag)
    paths = {
        "table_detections": os.path.join(out, "table_detections.parquet"),
        "contours": os.path.join(out, "contours.parquet"),
    }
    meta_path = os.path.join(out, "_meta_det.json")
    want = {
        "version": DET_VERSION,
        "n_tables": N_DET_TABLES.get(tag, 60),
        "n_images": N_DET_IMAGES.get(tag, 100),
        "seed": seed,
    }
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            if json.load(f) == want and all(os.path.exists(p) for p in paths.values()):
                return paths
    os.makedirs(out, exist_ok=True)
    dets = _make_detections(seed, want["n_tables"])
    cont = _make_contours(seed, want["n_images"])
    det_tbl = pa.table(
        {
            c: pa.array(
                [d[c] for d in dets],
                pa.float64() if c in ("x", "y", "w", "h") else pa.string(),
            )
            for c in ("doc_id", "table_id", "bucket", "item_id", "x", "y", "w", "h", "text")
        }
    )
    cont_tbl = pa.table(
        {
            "image_id": pa.array([c["image_id"] for c in cont], pa.string()),
            "angle": pa.array([c["angle"] for c in cont], pa.float64()),
            "area": pa.array([c["area"] for c in cont], pa.float64()),
        }
    )
    pq.write_table(det_tbl, paths["table_detections"], row_group_size=4096)
    pq.write_table(cont_tbl, paths["contours"], row_group_size=4096)
    with open(meta_path, "w") as f:
        json.dump(want, f)
    return paths


def ensure_synth(tag_or_sf_dir: str, base_dir: str = SYNTH_BASE, seed: int = DEFAULT_SEED) -> dict:
    """Generate (once, cached) the synthetic corpus for a scale tag.

    ``tag_or_sf_dir`` may be a testdata dir like /root/testdata/sf0.01 or
    a bare tag like "sf0.01". Chunks are generated in parallel processes
    (deterministic per-chunk seeding) and streamed to ParquetWriters in
    chunk order — small row groups so Spark scans can split. Bench tags
    (sfxl/sfxxl/sfb) skip golden generation: they measure throughput;
    correctness runs on the sf* tags. Returns dict of parquet paths.
    """
    tag = os.path.basename(tag_or_sf_dir.rstrip("/"))
    n_docs = N_DOCS.get(tag, 200)
    out = os.path.join(base_dir, tag)
    with_goldens = tag not in BENCH_TAGS
    paths = {
        "documents_spans": os.path.join(out, "documents_spans.parquet"),
        "golden_triples": os.path.join(out, "golden_triples.parquet"),
        "org_mentions": os.path.join(out, "org_mentions.parquet"),
    }
    needed = ["documents_spans"] + (["golden_triples", "org_mentions"] if with_goldens else [])
    meta_path = os.path.join(out, "_meta.json")
    skew = tag in SKEW_TAGS
    want_meta = {
        "version": GEN_VERSION,
        "n_docs": n_docs,
        "seed": seed,
        "row_group": ROW_GROUP_ROWS,
        "skew": skew,
    }
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            # pre-skew-key metas mean skew=False: don't invalidate (and
            # regenerate) the large cached corpora over the new field
            have_meta = {"skew": False, **json.load(f)}
            if have_meta == want_meta and all(os.path.exists(paths[p]) for p in needed):
                return paths

    os.makedirs(out, exist_ok=True)
    starts = list(range(0, n_docs, CHUNK))
    writers: dict[str, pq.ParquetWriter] = {}

    def write(path: str, tbl: pa.Table) -> None:
        if tbl.num_rows == 0:
            return
        if path not in writers:
            writers[path] = pq.ParquetWriter(path, tbl.schema)
        writers[path].write_table(tbl, row_group_size=ROW_GROUP_ROWS)

    if len(starts) <= 1:
        chunks = iter([_generate_chunk(seed, 0, n_docs, skew)])
    else:
        from concurrent.futures import ProcessPoolExecutor

        pool = ProcessPoolExecutor(max_workers=min(16, os.cpu_count() or 4))
        chunks = pool.map(
            _generate_chunk,
            [seed] * len(starts),
            starts,
            [min(CHUNK, n_docs - s) for s in starts],
            [skew] * len(starts),
            chunksize=1,
        )
    try:
        for docs, goldens, orgs in chunks:
            write(paths["documents_spans"], _doc_table(docs))
            if with_goldens:
                write(paths["golden_triples"], _golden_table(goldens))
                write(paths["org_mentions"], _org_table(orgs))
    finally:
        for w in writers.values():
            w.close()
        if len(starts) > 1:
            pool.shutdown()

    with open(meta_path, "w") as f:
        json.dump(want_meta, f)
    return paths


# --------------------------------------------------------------- F6:
# the corpus BLOB STORE — real PNG-encoded bytes for every media span.
# The pixels are the closed-form fixture pattern (raster.synth_raster,
# shared with the DuckDB twins); the BYTES are a genuine encode
# (png_codec: filter heuristic over all five row filters, zlib, CRCs),
# so the engine's media operators exercise a real byte->pixel decode —
# the path the reference runs through cv2.imdecode
# (/root/reference/src/loader.py:18-33). The blob store is the media
# operators' only pixel source, so every tag — bench tags included —
# gets one.
BLOB_VERSION = 1
_BLOB_CHUNK = 4000


def _encode_blob_chunk(refs: list) -> list:
    from pdf2ontology_spark import png_codec, raster

    return [png_codec.encode_png_gray(raster.synth_raster(r)) for r in refs]


def _media_refs_from_parquet(spans_path: str) -> list:
    """Distinct media_refs of a documents_spans parquet, in first-seen
    corpus order (refs are unique by construction — media://doc/off —
    so this is a streaming flatten+filter, no global sort)."""
    import pyarrow.compute as pc

    refs: list = []
    pf = pq.ParquetFile(spans_path)
    for batch in pf.iter_batches(columns=["spans"]):
        flat = batch.column(0).flatten()  # list<struct> -> struct rows
        mask = pc.equal(flat.field("kind"), "media")
        refs.extend(pc.filter(flat.field("media_ref"), mask).to_pylist())
    return refs


def ensure_blobs(tag_or_sf_dir: str, base_dir: str = SYNTH_BASE, seed: int = DEFAULT_SEED) -> dict:
    """Generate (once, cached) ``media_blobs.parquet`` —
    ``(media_ref string, png binary)`` — for any corpus tag.
    Encoding runs in parallel worker processes (pure function of the
    ref, so chunk order is the only order dependency)."""
    tag = os.path.basename(tag_or_sf_dir.rstrip("/"))
    spans_path = ensure_synth(tag_or_sf_dir, base_dir, seed)["documents_spans"]
    out = os.path.join(base_dir, tag)
    paths = {"media_blobs": os.path.join(out, "media_blobs.parquet")}
    meta_path = os.path.join(out, "_meta_blobs.json")
    want = {"version": BLOB_VERSION, "n_docs": N_DOCS.get(tag, 200), "seed": seed}
    if os.path.exists(meta_path):
        with open(meta_path) as f:
            if json.load(f) == want and os.path.exists(paths["media_blobs"]):
                return paths

    refs = _media_refs_from_parquet(spans_path)
    schema = pa.schema([("media_ref", pa.string()), ("png", pa.binary())])
    chunks = [refs[i : i + _BLOB_CHUNK] for i in range(0, len(refs), _BLOB_CHUNK)]
    writer = pq.ParquetWriter(paths["media_blobs"], schema)
    try:
        if len(chunks) <= 1:
            encoded = map(_encode_blob_chunk, chunks)
        else:
            from concurrent.futures import ProcessPoolExecutor

            pool = ProcessPoolExecutor(max_workers=min(16, os.cpu_count() or 4))
            encoded = pool.map(_encode_blob_chunk, chunks, chunksize=1)
        for chunk, blobs in zip(chunks, encoded):
            writer.write_table(
                pa.table(
                    {
                        "media_ref": pa.array(chunk, pa.string()),
                        "png": pa.array(blobs, pa.binary()),
                    }
                ),
                row_group_size=ROW_GROUP_ROWS,
            )
    finally:
        writer.close()
        if len(chunks) > 1:
            pool.shutdown()
    with open(meta_path, "w") as f:
        json.dump(want, f)
    return paths

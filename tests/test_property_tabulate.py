"""Property-style conformance test (SURVEY §5 plan item 5): 80 seeded
random sparse cell grids -> engine semantic entries must equal an
INDEPENDENT pure-Python implementation of the reference's table rules.
All grids evaluate in ONE Spark job (batched), so the test stays fast.
"""

import json
import random

from pyspark.sql import Row

from pdf2ontology_spark import rules
from pdf2ontology_spark.operators import segment, triples

TEXT_POOL = ["", "X", "✓", "durchfluss", "20-50 l/min", "5.2", "Wert", "flüssig",
             "Kesselhaus", "a b", "Parameter", "x"]


def ref_entries(cells: list[dict]) -> set:
    """Independent reimplementation of the semantic-table rules
    (table_content_extractor.py:98-175 + conversion :700-723)."""
    if not cells:
        return set()
    ncols = max(c["col"] for c in cells) + 1
    headers = {c["col"]: c["text"] for c in cells if c["row"] == 0}
    opts = ", ".join(headers[c] for c in sorted(headers) if c >= 1)
    by_row: dict[int, list[dict]] = {}
    for c in cells:
        if c["row"] >= 1:
            by_row.setdefault(c["row"], []).append(c)
    out = set()
    for r, rcs in by_row.items():
        row_header = next((c["text"] for c in rcs if c["col"] == 0), "")
        vals = [c for c in rcs if c["col"] >= 1]
        n_marker = sum(1 for c in vals if c["text"] in rules.MARKERS)
        n_other = sum(1 for c in vals if c["text"] not in rules.MARKERS and c["text"] != "")
        if ncols == 2:
            for c in vals:
                if c["col"] == 1:
                    out.add((r, row_header, "value", c["text"]))
        elif n_marker == 1 and n_other == 0:
            m = next(c for c in vals if c["text"] in rules.MARKERS)
            out.add((r, row_header, "value", headers.get(m["col"], "")))
            # notes only exist when the table HAS a header row to select
            # from; a marked row in a headerless table keeps its value
            if any(c >= 1 for c in headers):
                out.add((r, row_header, "notes", rules.OPTION_NOTES_PREFIX + opts))
        else:
            for c in vals:
                key = headers.get(c["col"])
                if not key:  # missing OR '' header -> Column_N fallback
                    key = f"Column_{c['col']}"
                out.add((r, row_header, key, c["text"]))
    return out


def gen_grid(rng: random.Random) -> list[dict]:
    ncols = rng.randint(1, 5)
    nrows = rng.randint(0, 5)
    cells, seen = [], set()
    for r in range(nrows + 1):
        for c in range(ncols):
            if rng.random() < 0.75 and (r, c) not in seen:
                seen.add((r, c))
                cells.append({"row": r, "col": c, "text": rng.choice(TEXT_POOL)})
    return cells


def test_random_grids_match_reference_impl(spark):
    rng = random.Random(20260816)
    grids = {f"g{i:03d}": gen_grid(rng) for i in range(80)}
    docs = spark.createDataFrame(
        [
            Row(
                doc_id=gid,
                spans=[Row(kind="table", text=json.dumps(cells), media_ref="", offset=0)],
            )
            for gid, cells in grids.items()
        ]
    )
    got: dict[str, set] = {gid: set() for gid in grids}
    entries = triples.semantic_entries(docs)
    for row in entries.collect():
        got[row.doc_id].add((row.row_idx, row.row_header, row.key, row.value))
    mismatches = {
        gid: (got[gid], ref_entries(cells), cells)
        for gid, cells in grids.items()
        if got[gid] != ref_entries(cells)
    }
    assert not mismatches, f"{len(mismatches)} grids diverge; first: " + str(
        next(iter(mismatches.items()))
    )


def test_property_multilevel_merge(spark):
    """Property (W5): splitting sentences at arbitrary non-terminator
    word boundaries into ANY number of consecutive spans, the merge
    reconstructs exactly the original sentence sequence. 60 seeded
    random docs evaluated in one Spark job."""
    from pdf2ontology_spark import rules

    rng = random.Random(7)
    sentences_pool = [
        "Die Anlage Pumpe P-100 befindet sich im Kesselhaus.",
        "Alle Angaben ohne Gewähr.",
        "Das Modul A enthält B.",  # ends in an initial "B." -> does NOT terminate
        "Offenes Ende ohne Punkt",  # unterminated final sentence
        "Ein Satz. Mit innerem Punkt dazwischen geht weiter.",
        "Sicherheitshinweise unbedingt beachten!",  # '!' terminator
        "Ist der Wartungsplan aktuell?",  # '?' terminator
        "Details siehe Abb. 3 im Anhang.",  # interior abbreviation dot
    ]
    docs, expected = [], {}
    for d in range(60):
        sents = [rng.choice(sentences_pool) for _ in range(rng.randint(1, 5))]
        # an unterminated sentence swallows the following one on merge —
        # compute the expected merged sequence accordingly
        merged_expect, acc = [], ""
        for s in sents:
            acc = f"{acc} {s}".strip()
            if rules.span_terminates(acc):
                merged_expect.append(acc)
                acc = ""
        if acc:
            merged_expect.append(acc)
        spans, off = [], 0
        for s in sents:
            words = s.split(" ")
            pop = [
                k
                for k in range(1, len(words))
                if not rules.span_terminates(" ".join(words[:k]))
            ]
            cuts = sorted(rng.sample(pop, k=min(rng.randint(0, 3), len(pop))))
            parts, prev = [], 0
            for k in cuts:
                parts.append(" ".join(words[prev:k])); prev = k
            parts.append(" ".join(words[prev:]))
            parts = [p for p in parts if p]
            for p in parts:
                spans.append(Row(kind="text", text=p, media_ref="", offset=off)); off += 1
        doc_id = f"p{d}"
        docs.append(Row(doc_id=doc_id, spans=spans))
        expected[doc_id] = merged_expect
    got: dict = {}
    for r in segment.merged_text_sentences(spark.createDataFrame(docs)).collect():
        got.setdefault(r.doc_id, []).append((r.offset, r.sentence))
    for doc_id, exp in expected.items():
        assert [s for _, s in sorted(got.get(doc_id, []))] == exp, doc_id

"""Grid reconstruction from detected bounding boxes (J2/J3/J5 + W4/A11
of SURVEY.md §2; the reference's table_transformer.py post-processing):
one detections scan + one per-table aggregation + one Arrow-batched
kernel (guide §4.2) assigns cells to row/column bands, applies spanning
cells and pivots the expanded grid into header-keyed row maps.

WHY: a table's detections are tiny (5-50 boxes), and the per-table work
is ragged, group-local logic. Expressed as Spark joins, windows and
higher-order functions it cost 4 exchanges, 3 scans and interpreted
lambda trees per element (OPTIMIZATION_r07.md); here each table's
detections are collected once (one shuffle) and the assignment /
spanning / row-map logic runs per table inside mapInPandas.

SEMANTICS follow SQL ordering and null rules exactly: Spark's
null-first struct field ordering and NaN-greater double ordering for
band order, strictly-less argmin tie-breaks, no assignment for tables
lacking a band family, min/max-ignore-null span extents, the
smallest-span_id winner per (row, col) with uncovered cells first,
and the row maps' run-dedup + header fallback + duplicate-label
suffixing. The reference is the DuckDB oracles
(``oracles_data.grid_assign_sql`` / ``grid_spanning_sql`` /
``grid_row_maps_sql``), pinned to full outputs on the synthetic corpus
by tests/test_grid_fused.py; the hand-built J2/J3/J5+W4 fixtures in
tests/test_grid.py pin exact expectations.

At 100 TB: the aggregation state per key is one table's detections
(bounded, tiny); the kernel is O(cells * bands + cells * spans) per
table with small constants.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

KEY = ["doc_id", "table_id"]

ASSIGN_SCHEMA = (
    "doc_id string, table_id string, cell_id string, row int, col int, text string"
)
SPANNING_SCHEMA = (
    "doc_id string, table_id string, row int, col int, text string, "
    "cell_type string, rowspan int, colspan int"
)
ROWMAP_SCHEMA = "doc_id string, table_id string, row int, row_map map<string,string>"


def grid_tables(detections: DataFrame) -> DataFrame:
    """One scan + one aggregation: every grid-relevant detection of a
    table collected into a single per-table array."""
    # null table keys join nothing in the relational form — drop them
    # here so the kernel cannot emit rows for them
    d = detections.filter(
        F.col("bucket").isin("row", "column", "cell", "spanning_cell")
        & F.col("doc_id").isNotNull()
        & F.col("table_id").isNotNull()
    )
    st = F.struct(
        F.col("bucket").alias("b"),
        F.col("item_id").alias("i"),
        F.col("x").alias("x"),
        F.col("y").alias("y"),
        F.col("w").alias("w"),
        F.col("h").alias("h"),
        F.col("text").alias("t"),
    )
    return d.groupBy(*KEY).agg(F.collect_list(st).alias("dets"))


# ---------------------------------------------------------------- ordering
# Spark's total order, reproduced for python sort keys:
# - a null field sorts BEFORE any value (asc);
# - NaN sorts AFTER every double and equals itself;
# - strings compare as UTF-8 bytes == code points (python str <).
def _dk(v) -> tuple:
    """Sort key for one double field."""
    if v is None:
        return (0, 0.0)
    if isinstance(v, float) and math.isnan(v):
        return (2, 0.0)
    return (1, float(v))


def _sk(v) -> tuple:
    """Sort key for one string field."""
    return (0, "") if v is None else (1, v)


def _ik(v) -> tuple:
    """Sort key for one int field (nullable)."""
    return (0, 0) if v is None else (1, int(v))


def _fnum(v):
    """Normalize an Arrow/pandas scalar to float-or-None (NaN kept)."""
    if v is None:
        return None
    return float(v)


def _isnum(v) -> bool:
    return v is not None and not (isinstance(v, float) and math.isnan(v))


def _overlap(gx, gy, gw, gh, sx, sy, sw, sh) -> bool:
    """Interval-overlap predicate (table_transformer.py:322-325) with
    SQL three-valued logic collapsed to a join predicate: any null
    coordinate -> NOT matched (the theta join only keeps rows where the
    predicate is TRUE)."""
    for v in (gx, gy, gw, gh, sx, sy, sw, sh):
        if not _isnum(v):
            return False
    return not (gx + gw <= sx or sx + sw <= gx or gy + gh <= sy or sy + sh <= gy)


def _band_centers(dets: list, family: str) -> list:
    """index order + centers of one band family: sorted as
    struct<o,x,y,c> (o = y for rows, x for columns; c = center along
    the banding axis)."""
    rows = []
    for d in dets:
        if d["b"] != family:
            continue
        x, y, w, h = (_fnum(d["x"]), _fnum(d["y"]), _fnum(d["w"]), _fnum(d["h"]))
        if family == "row":
            o = y
            c = None if (y is None or h is None) else y + h / 2
        else:
            o = x
            c = None if (x is None or w is None) else x + w / 2
        rows.append((o, x, y, c))
    rows.sort(key=lambda r: (_dk(r[0]), _dk(r[1]), _dk(r[2]), _dk(r[3])))
    return [r[3] for r in rows]


def _nearest(centers: list, center: float):
    """Argmin center distance: strictly-less keeps the FIRST
    (lowest-idx) band on ties; null/NaN centers never win."""
    best_d = math.inf
    best = None
    for idx, c in enumerate(centers):
        if not _isnum(c):
            continue
        d = abs(center - c)
        if d < best_d:
            best_d, best = d, idx
    return best


def _assigned_cells(dets: list) -> list | None:
    """J3 for one table: None when either band family is empty (such a
    table assigns no cells); else the list of valid-center cells as
    dicts with row/col."""
    rc = _band_centers(dets, "row")
    cc = _band_centers(dets, "column")
    if not rc or not cc:
        return None
    out = []
    for d in dets:
        if d["b"] != "cell":
            continue
        x, y, w, h = (_fnum(d["x"]), _fnum(d["y"]), _fnum(d["w"]), _fnum(d["h"]))
        cy = None if (y is None or h is None) else y + h / 2
        cx = None if (x is None or w is None) else x + w / 2
        if not _isnum(cy) or not _isnum(cx):
            continue
        out.append(
            {
                "cell_id": d["i"],
                "x": x, "y": y, "w": w, "h": h,
                "text": d["t"],
                "row": _nearest(rc, cy),
                "col": _nearest(cc, cx),
            }
        )
    return out


def _spanning_cells(dets: list) -> list | None:
    """J2 + A11 for one table: one output dict per distinct assigned
    (row, col) — (row, col, text, cell_type, rowspan, colspan). Within
    a span's covered set the first cell in (row, col) order becomes
    MERGED with rowspan/colspan = extent, the rest EMPTY; uncovered
    cells stay NORMAL."""
    cells = _assigned_cells(dets)
    if cells is None:
        return None
    spans = [
        {
            "id": d["i"],
            "x": _fnum(d["x"]), "y": _fnum(d["y"]),
            "w": _fnum(d["w"]), "h": _fnum(d["h"]),
        }
        for d in dets
        if d["b"] == "spanning_cell"
    ]
    # per-span covered set -> extents (min/max ignore nulls) and the
    # first covered cell in (row, col) order (nulls first)
    for s in spans:
        cov = [
            c for c in cells
            if _overlap(c["x"], c["y"], c["w"], c["h"], s["x"], s["y"], s["w"], s["h"])
        ]
        rs = [c["row"] for c in cov if c["row"] is not None]
        cs = [c["col"] for c in cov if c["col"] is not None]
        s["r0"], s["r1"] = (min(rs), max(rs)) if rs else (None, None)
        s["c0"], s["c1"] = (min(cs), max(cs)) if cs else (None, None)
        s["first"] = (
            min(cov, key=lambda c: (_ik(c["row"]), _ik(c["col"]))) if cov else None
        )
        s["cov"] = cov
    # winner per (row, col): the (cell x covering span) pair with the
    # smallest span_id — nulls (= unmatched cells) FIRST, as
    # row_number() OVER (ORDER BY span_id)
    groups: dict = {}
    for c in cells:
        covering = [
            s for s in spans
            if _overlap(c["x"], c["y"], c["w"], c["h"], s["x"], s["y"], s["w"], s["h"])
        ]
        key = (c["row"], c["col"])
        bucket = groups.setdefault(key, [])
        if covering:
            bucket.extend((_sk(s["id"]), c, s) for s in covering)
        else:
            bucket.append(((0, ""), c, None))
    out = []
    for (row, col), cands in groups.items():
        cands.sort(key=lambda e: e[0])
        _, c, s = cands[0]
        if s is None or s["id"] is None:
            out.append(
                {"row": row, "col": col, "text": c["text"],
                 "cell_type": "normal", "rowspan": 1, "colspan": 1}
            )
        elif s["first"] is c:
            rowspan = None if s["r0"] is None else int(s["r1"] - s["r0"] + 1)
            colspan = None if s["c0"] is None else int(s["c1"] - s["c0"] + 1)
            out.append(
                {"row": row, "col": col, "text": c["text"],
                 "cell_type": "merged", "rowspan": rowspan, "colspan": colspan}
            )
        else:
            out.append(
                {"row": row, "col": col, "text": c["text"],
                 "cell_type": "empty", "rowspan": 1, "colspan": 1}
            )
    return out


def _row_maps(dets: list) -> list | None:
    """J5 + W4 for one table: non-empty cells scattered over their
    rowspan x colspan extent, header row = first row with any non-empty
    cell, every later row an ordered {header -> value} map. Returns
    one {row, row_map} dict per data row, map keys in column order."""
    fin = _spanning_cells(dets)
    if fin is None:
        return None
    # expand non-empty cells over their rowspan x colspan extent; text
    # only at the origin copy (a null rowspan/colspan expands to nothing
    # — explode of a null sequence)
    expanded = []
    for c in fin:
        if c["cell_type"] == "empty":
            continue
        if c["rowspan"] is None or c["colspan"] is None or c["row"] is None or c["col"] is None:
            # row + dr with a null row yields null rows for every copy;
            # those never pass r > hrow, so skipping the null-origin
            # copies is exact for every consumer below EXCEPT the (r, c)
            # dedup, where a null r groups separately and emits nothing
            if c["rowspan"] is None or c["colspan"] is None:
                continue
            for dr in range(c["rowspan"]):
                for dc in range(c["colspan"]):
                    r = None if c["row"] is None else c["row"] + dr
                    cc = None if c["col"] is None else c["col"] + dc
                    t = c["text"] if (dr == 0 and dc == 0) else ""
                    expanded.append((r, cc, t))
            continue
        for dr in range(c["rowspan"]):
            for dc in range(c["colspan"]):
                t = c["text"] if (dr == 0 and dc == 0) else ""
                expanded.append((c["row"] + dr, c["col"] + dc, t))
    if not expanded:
        return []
    # cs: array_sort over struct<r,c,e,t>; e = (text = '')::int is null
    # for null text (null-first field ordering)
    cs = []
    for r, c, t in expanded:
        e = None if t is None else (1 if t == "" else 0)
        cs.append((r, c, e, t))
    cs.sort(key=lambda s: (_ik(s[0]), _ik(s[1]), _ik(s[2]), _sk(s[3])))

    # ds: first of each (r, c) run — under SQL three-valued logic: the element survives only when the NOT(prev.r
    # = r AND prev.c = c) condition is TRUE, i.e. some field differs
    # with BOTH sides non-null (a null field makes the comparison
    # unknown and drops the element)
    def _neq(a, b) -> bool:
        return a is not None and b is not None and a != b

    ds = [
        s
        for i, s in enumerate(cs)
        if i == 0 or _neq(cs[i - 1][0], s[0]) or _neq(cs[i - 1][1], s[1])
    ]
    hvals = [s[0] for s in ds if s[2] == 0 and s[0] is not None]
    if not hvals:
        return []
    hrow = min(hvals)
    # distinct column order: plain array_sort places nulls LAST
    cols = sorted(
        {s[1] for s in ds}, key=lambda c: (1, 0) if c is None else (0, int(c))
    )
    # per-column key: header text at (hrow, c) if non-empty else Column_c
    # (a null column index keeps a null key like SQL's
    # concat('Column_', null) — it only errors if a data row uses it,
    # exactly where Spark's map_from_entries raises on a null key)
    bk = []
    for c in cols:
        if c is None:
            bk.append((c, None))
            continue
        hs = [s[3] for s in ds if s[0] == hrow and s[1] == c]
        k = hs[0] if hs and hs[0] not in (None, "") else f"Column_{c}"
        bk.append((c, k))
    seen: set = set()
    km = {}
    for c, k in bk:
        km[c] = f"{k}_{c}" if k in seen else k
        seen.add(k)
    rows_out = []
    rset = []
    for s in ds:
        if s[0] is not None and s[0] > hrow and s[0] not in rset:
            rset.append(s[0])
    for r in rset:
        entries = [(km[s[1]], s[3]) for s in ds if s[0] == r]
        m = {}
        for k, v in entries:
            if k is None:
                raise ValueError("null row-map key")
            if k in m:
                raise ValueError(f"duplicate row-map key {k!r}")
            m[k] = v
        rows_out.append({"row": int(r), "row_map": m})
    return rows_out


def _per_table(table_rows, schema: str):
    """The one Arrow kernel runner: a DataFrame -> DataFrame transform
    over ``grid_tables`` that calls ``table_rows(dets)`` once per table
    (None or [] emits nothing), prefixes each returned row dict with the
    table's (doc_id, table_id) and cuts it to ``schema``'s columns."""
    cols = [f.split(" ", 1)[0] for f in schema.split(", ")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            recs = [
                {"doc_id": doc_id, "table_id": table_id, **r}
                for doc_id, table_id, dets in zip(pdf["doc_id"], pdf["table_id"], pdf["dets"])
                for r in table_rows(list(dets)) or ()
            ]
            yield pd.DataFrame(recs, columns=cols)

    return lambda tables: tables.mapInPandas(run, schema)


def assign_cells_fused(detections: DataFrame) -> DataFrame:
    """q:grid_assign_cells body: (doc_id, table_id, cell_id, row, col,
    text) per assigned cell. Reference: ``oracles_data.grid_assign_sql``
    and the J3 fixture in tests/test_grid.py."""
    return grid_tables(detections).transform(_per_table(_assigned_cells, ASSIGN_SCHEMA))


def spanning_cells_fused(detections: DataFrame) -> DataFrame:
    """q:grid_spanning_cells body: one row per assigned (row, col)
    with its cell_type/rowspan/colspan. Reference:
    ``oracles_data.grid_spanning_sql`` and the J2 fixture in
    tests/test_grid.py."""
    return grid_tables(detections).transform(_per_table(_spanning_cells, SPANNING_SCHEMA))


def row_maps_fused(detections: DataFrame) -> DataFrame:
    """q:grid_row_maps body: (row, row_map) per data row. Reference:
    ``oracles_data.grid_row_maps_sql`` and the J5+W4 fixture in
    tests/test_grid.py."""
    return grid_tables(detections).transform(_per_table(_row_maps, ROWMAP_SCHEMA))

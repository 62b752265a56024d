"""Grid-reconstruction operators (SURVEY J2/J3/J5, W1/W3/W4, A8-A11) on
hand-built detection fixtures with exact expectations; J2/J3/J5+W4 run
through the fused per-table kernel (operators/grid_fused.py)."""

from pdf2ontology_spark.operators import grid, grid_fused


DET_SCHEMA = (
    "doc_id string, table_id string, bucket string, item_id string, "
    "x double, y double, w double, h double, text string"
)


def _dets(spark, rows):
    return spark.createDataFrame(rows, DET_SCHEMA)


def test_index_bands_w1(spark):
    det = _dets(
        spark,
        [
            ("d", "t", "row", "r1", 0.0, 0.5, 1.0, 0.2, None),
            ("d", "t", "row", "r0", 0.0, 0.1, 1.0, 0.2, None),
            ("d", "t", "column", "k1", 0.6, 0.0, 0.3, 1.0, None),
            ("d", "t", "column", "k0", 0.1, 0.0, 0.4, 1.0, None),
        ],
    )
    rows = {(r.y): r.idx for r in grid.index_bands(det, "row").collect()}
    cols = {(r.x): r.idx for r in grid.index_bands(det, "column").collect()}
    assert rows == {0.1: 0, 0.5: 1}
    assert cols == {0.1: 0, 0.6: 1}


def test_assign_cells_j3(spark):
    det = _dets(
        spark,
        [
            ("d", "t", "row", "r0", 0.0, 0.0, 1.0, 0.5, None),
            ("d", "t", "row", "r1", 0.0, 0.5, 1.0, 0.5, None),
            ("d", "t", "column", "k0", 0.0, 0.0, 0.5, 1.0, None),
            ("d", "t", "column", "k1", 0.5, 0.0, 0.5, 1.0, None),
            ("d", "t", "cell", "c1", 0.05, 0.05, 0.4, 0.4, "a"),  # -> (0,0)
            ("d", "t", "cell", "c2", 0.55, 0.6, 0.4, 0.3, "b"),  # -> (1,1)
        ],
    )
    got = {r.cell_id: (r.row, r.col) for r in grid_fused.assign_cells_fused(det).collect()}
    assert got == {"c1": (0, 0), "c2": (1, 1)}


def _grid_dets(n_rows, n_cols, texts):
    """Row/column bands of a regular 0.33-pitch grid plus one cell box
    per (row, col) in ``texts``."""
    rows = [("d", "t", "row", f"r{r}", 0.0, 0.33 * r, 1.0, 0.33, None) for r in range(n_rows)]
    rows += [
        ("d", "t", "column", f"k{c}", 0.33 * c, 0.0, 0.33, 1.0, None) for c in range(n_cols)
    ]
    rows += [
        ("d", "t", "cell", f"c{r}{c}", 0.33 * c, 0.33 * r, 0.33, 0.33, t)
        for (r, c), t in texts.items()
    ]
    return rows


def test_spanning_cells_j2(spark):
    texts = {(r, c): f"v{r}{c}" for r in range(3) for c in range(3)}
    det = _dets(
        spark,
        _grid_dets(3, 3, texts)
        + [("d", "t", "spanning_cell", "s1", 0.0, 0.0, 0.66, 0.33, None)],  # covers (0,0) and (0,1)
    )
    out = {(r.row, r.col): r for r in grid_fused.spanning_cells_fused(det).collect()}
    assert out[(0, 0)].cell_type == "merged"
    assert out[(0, 0)].rowspan == 1 and out[(0, 0)].colspan == 2
    assert out[(0, 1)].cell_type == "empty"
    assert out[(1, 1)].cell_type == "normal" and out[(1, 1)].colspan == 1


def test_expand_and_pivot_j5_w4(spark):
    texts = {(0, 0): "H1", (0, 1): "x", (0, 2): "H2", (1, 0): "a", (1, 1): "b", (1, 2): "c"}
    det = _dets(
        spark,
        _grid_dets(2, 3, texts)
        + [("d", "t", "spanning_cell", "s1", 0.0, 0.0, 0.66, 0.33, None)],  # header spanning 2 cols
    )
    fin = {(r.row, r.col): r for r in grid_fused.spanning_cells_fused(det).collect()}
    assert (fin[(0, 0)].text, fin[(0, 0)].colspan) == ("H1", 2)
    assert fin[(0, 1)].cell_type == "empty" and fin[(0, 2)].text == "H2"

    maps = grid_fused.row_maps_fused(det).collect()
    assert len(maps) == 1
    rm = maps[0].row_map
    # (0,1) is H1's empty expansion copy (the covered cell's "x" is
    # dropped with it) -> Column_1 fallback
    assert rm == {"H1": "a", "Column_1": "b", "H2": "c"}


def test_header_levels_w3(spark):
    headers = spark.createDataFrame(
        [("d", "t", 0.02, 0.0), ("d", "t", 0.021, 0.5), ("d", "t", 0.3, 0.0)],
        "doc_id string, table_id string, y double, x double",
    )
    levels = {r.y: r.level for r in grid.header_levels(headers).collect()}
    assert levels == {0.02: 0, 0.021: 0, 0.3: 1}  # same round(y*10) bucket -> same level


def test_dominant_angle_a8_a10(spark):
    contours = spark.createDataFrame(
        [("i1", 2.0, 10.0), ("i1", 4.0, 30.0), ("i1", -80.0, 1.0)],
        "image_id string, angle double, area double",
    )
    r = grid.dominant_angle(contours).collect()[0]
    assert abs(r.weighted_angle - ((2 * 10 + 4 * 30 - 80) / 41.0)) < 1e-6
    assert r.median_angle == 2.0
    # bins of width 5 over [-90,90): angles 2.0 and 4.0 share bin 18 -> center 2.5
    assert r.dense_bin_center == 2.5

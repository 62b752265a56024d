"""The fused grid family (operators/grid_fused.py) must equal its DuckDB
oracles (oracles_data.grid_*_sql) on the synthetic sf0.001 detections —
full outputs, order-insensitive, compared the way
scripts/check_oracles.py compares driver queries."""

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from pdf2ontology_spark import oracles_data
from pdf2ontology_spark.operators import grid_fused
from pdf2ontology_spark.sources import tables

SF = "/root/testdata/sf0.001"
TAG = "sf0.001"


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
        elif np.issubdtype(df[c].dtype, np.floating):
            df[c] = df[c].round(6)
        else:
            df[c] = df[c].astype("float64").round(6)
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _equals_oracle(got, sql: str):
    got = got.toPandas()
    exp = duckdb.connect().execute(sql).df()
    assert len(got) > 0
    assert sorted(got.columns) == sorted(exp.columns)
    pd.testing.assert_frame_equal(_canon(got), _canon(exp), check_dtype=False)


def _detections(spark):
    # also materializes the detections parquet the oracle SQL reads
    return tables.load_detections(spark, SF)


def test_assign_fused_equals_oracle(spark):
    _equals_oracle(
        grid_fused.assign_cells_fused(_detections(spark)),
        oracles_data.grid_assign_sql(TAG),
    )


def test_spanning_fused_equals_oracle(spark):
    _equals_oracle(
        grid_fused.spanning_cells_fused(_detections(spark)),
        oracles_data.grid_spanning_sql(TAG),
    )


def test_row_maps_fused_equals_oracle(spark):
    maps = grid_fused.row_maps_fused(_detections(spark)).select(
        "doc_id",
        "table_id",
        "row",
        F.array_join(
            F.transform(
                F.map_entries("row_map"),
                lambda e: F.concat_ws("=", e["key"], e["value"]),
            ),
            "|",
        ).alias("row_map_str"),
    )
    _equals_oracle(maps, oracles_data.grid_row_maps_sql(TAG))


def test_fused_handles_missing_band_family(spark):
    """A table lacking either band family must drop its cells — the
    staged inner-join contract."""
    d = spark.createDataFrame(
        [
            ("d1", "t1", "row", "r0", 0.0, 0.0, 1.0, 0.1, None),
            ("d1", "t1", "cell", "c0", 0.0, 0.0, 0.5, 0.1, "x"),
        ],
        "doc_id string, table_id string, bucket string, item_id string, "
        "x double, y double, w double, h double, text string",
    )
    assert grid_fused.assign_cells_fused(d).count() == 0
    assert grid_fused.spanning_cells_fused(d).count() == 0


def test_fused_tie_break_keeps_first_band(spark):
    """Equidistant band centers: the lowest-index band wins (the staged
    strictly-less argmin)."""
    rows = [
        ("d1", "t1", "row", "r0", 0.0, 0.0, 1.0, 0.2, None),  # center 0.1
        ("d1", "t1", "row", "r1", 0.0, 0.2, 1.0, 0.2, None),  # center 0.3
        ("d1", "t1", "column", "c0", 0.0, 0.0, 0.4, 1.0, None),
        ("d1", "t1", "cell", "x0", 0.0, 0.15, 0.1, 0.1, "v"),  # cy=0.2: tie
    ]
    d = spark.createDataFrame(
        rows,
        "doc_id string, table_id string, bucket string, item_id string, "
        "x double, y double, w double, h double, text string",
    )
    out = grid_fused.assign_cells_fused(d).collect()
    assert len(out) == 1 and out[0]["row"] == 0

"""Unit tests for the semantic-table rules (SURVEY.md §5 plan item 1).

Each case pins the exact expected (row_header, key, value) set for the
rules of /root/reference/src/table_processors/table_content_extractor.py:98-175.
"""

import json

from pyspark.sql import Row

from pdf2ontology_spark.operators import triples


def _doc(spark, cells, doc_id="d1"):
    return spark.createDataFrame(
        [
            Row(
                doc_id=doc_id,
                spans=[
                    Row(
                        kind="table",
                        text=json.dumps(cells),
                        media_ref="",
                        offset=0,
                    )
                ],
            )
        ]
    )


def _entries(spark, cells):
    out = triples.semantic_entries(_doc(spark, cells))
    return {(r.row_idx, r.key, r.value) for r in out.collect()}


def test_two_col_param_value(spark):
    cells = [
        {"row": 0, "col": 0, "text": "Parameter"},
        {"row": 0, "col": 1, "text": "Wert"},
        {"row": 1, "col": 0, "text": "durchfluss"},
        {"row": 1, "col": 1, "text": "20-50 l/min"},
        {"row": 2, "col": 0, "text": "druck"},
        {"row": 2, "col": 1, "text": ""},
    ]
    # empty value row kept at entry level ("" per prompt rule 5)
    assert _entries(spark, cells) == {
        (1, "value", "20-50 l/min"),
        (2, "value", ""),
    }


def test_multi_col_values(spark):
    cells = [
        {"row": 0, "col": 0, "text": "Parameter"},
        {"row": 0, "col": 1, "text": "Min"},
        {"row": 0, "col": 2, "text": "Max"},
        {"row": 0, "col": 3, "text": "Einheit"},
        {"row": 1, "col": 0, "text": "durchfluss"},
        {"row": 1, "col": 1, "text": "20"},
        {"row": 1, "col": 2, "text": "50"},
        {"row": 1, "col": 3, "text": "l/min"},
    ]
    assert _entries(spark, cells) == {
        (1, "Min", "20"),
        (1, "Max", "50"),
        (1, "Einheit", "l/min"),
    }


def test_option_selection_marker(spark):
    cells = [
        {"row": 0, "col": 0, "text": "Parameter"},
        {"row": 0, "col": 1, "text": "flüssig"},
        {"row": 0, "col": 2, "text": "dampfförmig"},
        {"row": 0, "col": 3, "text": "gasförmig"},
        {"row": 1, "col": 0, "text": "Zustand Eintritt"},
        {"row": 1, "col": 1, "text": "X"},
        {"row": 1, "col": 2, "text": ""},
        {"row": 1, "col": 3, "text": ""},
    ]
    assert _entries(spark, cells) == {
        (1, "value", "flüssig"),
        (1, "notes", "Selected from options: flüssig, dampfförmig, gasförmig"),
    }


def test_option_row_unmarked_emits_empty_values(spark):
    cells = [
        {"row": 0, "col": 0, "text": "Parameter"},
        {"row": 0, "col": 1, "text": "ja"},
        {"row": 0, "col": 2, "text": "nein"},
        {"row": 1, "col": 0, "text": "Freigabe"},
        {"row": 1, "col": 1, "text": ""},
        {"row": 1, "col": 2, "text": ""},
    ]
    # falls to multi-col branch: all-empty values, no triples downstream
    assert _entries(spark, cells) == {(1, "ja", ""), (1, "nein", "")}


def test_header_only_table_no_entries(spark):
    cells = [
        {"row": 0, "col": 0, "text": "Parameter"},
        {"row": 0, "col": 1, "text": "Wert"},
    ]
    assert _entries(spark, cells) == set()


def test_missing_header_uses_column_n(spark):
    cells = [
        {"row": 0, "col": 0, "text": "Parameter"},
        {"row": 0, "col": 1, "text": "A"},
        {"row": 0, "col": 2, "text": "B"},
        {"row": 1, "col": 0, "text": "p"},
        {"row": 1, "col": 1, "text": "1"},
        {"row": 1, "col": 2, "text": "2"},
        {"row": 1, "col": 3, "text": "3"},  # no header at col 3
    ]
    assert (1, "Column_3", "3") in _entries(spark, cells)


def test_malformed_json_tolerated(spark):
    docs = spark.createDataFrame(
        [Row(doc_id="bad", spans=[Row(kind="table", text="{not json", media_ref="", offset=0)])]
    )
    assert triples.semantic_entries(docs).count() == 0

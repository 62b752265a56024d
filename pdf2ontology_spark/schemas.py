"""Explicit StructType schemas for every table the engine reads/writes.

Mirrors the reference's Pydantic models (cited per field group) as Spark
types; ids are deterministic sha2 hex strings (the reference's uuid4 at
knowledge_models.py:20 is non-deterministic and would break resume — see
SURVEY.md §1.2).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

# Input table, exactly BASELINE.json input_hint:
# (doc_id string, spans array<struct<kind,text,media_ref,offset>>)
SPAN = StructType(
    [
        StructField("kind", StringType(), False),
        StructField("text", StringType(), True),
        StructField("media_ref", StringType(), True),
        StructField("offset", IntegerType(), False),
    ]
)

DOCUMENTS = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("spans", ArrayType(SPAN), False),
    ]
)

# Table cell grid — the reference's coordinate-JSON cell form
# (/root/reference/src/table_processors/table_content_extractor_general.py:54-64)
CELL = StructType(
    [
        StructField("row", IntegerType(), False),
        StructField("col", IntegerType(), False),
        StructField("text", StringType(), True),
    ]
)

# Flattened Triplet (/root/reference/src/pydantic_models/knowledge_models.py:107-146);
# parity is measured on distinct (subj_name, predicate, obj_name).
TRIPLES = StructType(
    [
        StructField("doc_id", StringType(), False),
        StructField("table_id", StringType(), True),
        StructField("subj_name", StringType(), True),
        StructField("subj_type", StringType(), False),
        StructField("predicate", StringType(), False),
        StructField("obj_name", StringType(), True),
        StructField("obj_type", StringType(), False),
        StructField("confidence", DoubleType(), False),
        StructField("source_sentence", StringType(), True),
        StructField("extraction_method", StringType(), False),
    ]
)

NODES = StructType(
    [
        StructField("entity_id", StringType(), False),
        StructField("name", StringType(), True),
        StructField("canonical_form", StringType(), True),
        StructField("entity_type", StringType(), False),
        StructField("aliases", ArrayType(StringType()), False),
        StructField("mention_count", LongType(), False),
        StructField("confidence", DoubleType(), False),
        # Entity.mentions / uri / external_ids parity
        # (reference knowledge_models.py:35-55): example mentions are
        # top-3 sorted distinct source sentences; uri is a deterministic
        # URN over (entity_type, entity_id)
        StructField("mentions", ArrayType(StringType()), False),
        StructField("uri", StringType(), False),
        StructField("external_ids", MapType(StringType(), StringType()), False),
        # Entity.properties (knowledge_models.py:37-40): surface statistics
        StructField("properties", MapType(StringType(), StringType()), False),
    ]
)

EDGES = StructType(
    [
        StructField("edge_id", StringType(), False),
        StructField("subject_id", StringType(), False),
        StructField("predicate", StringType(), False),
        StructField("object_id", StringType(), False),
        StructField("weight", DoubleType(), False),
        StructField("confidence", DoubleType(), False),
        # Relation.negated / modality / evidence parity (reference
        # knowledge_models.py:86-97); negated/modality carry the
        # reference defaults (its extractor never sets them), evidence
        # is the top-3 sorted distinct supporting sentences
        StructField("negated", BooleanType(), False),
        StructField("modality", StringType(), True),
        StructField("evidence", ArrayType(StringType()), False),
        # Relation.metadata (knowledge_models.py:59-62): provenance
        StructField("metadata", MapType(StringType(), StringType()), False),
    ]
)

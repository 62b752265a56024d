"""Batched NER mention detection (north-rule stage list) — the
deterministic gazetteer + surface-pattern form of the reference's
LLM-driven entity recognition (triplet_extractor.py:450-520 prompts the
model for typed mentions; this engine recognizes them with vectorized
expressions so the stage is JVM-side and oracle-checkable).

Detectors (all run in ONE pass over the merged sentence stream):
- organization: legal-suffix surface pattern (Name + AG/GmbH/Ltd/KG ...),
  the same convention graph.normalize_name_col strips when linking;
- location: exact gazetteer (rules.LOCATIONS);
- product: model-number surface pattern (Name + letter-digit code or
  'Typ NNN').

Output: one row per (sentence, matched surface) with the entity type,
1-based char offset of the FIRST occurrence, and the pattern confidence.
regexp_extract_all keeps extraction vectorized; char offsets come from
locate() on the matched surface (deterministic).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pdf2ontology_spark import rules
from pdf2ontology_spark.operators import segment

# explicit ASCII+umlaut classes: \w is ASCII-only in both Java regex and
# RE2, so 'Müller AG' would silently never match through \w
_W = "A-Za-zÄÖÜäöüß0-9_"
ORG_RE = (
    rf"([A-ZÄÖÜ][{_W}]+(?: [A-ZÄÖÜ][{_W}]+)* "
    r"(?:AG|GmbH|Ltd|KG|A\.G\.|G\.m\.b\.H\.|Limited))"
)
# model-number forms: 'Pumpe P-100' (letter code) OR 'Ventil Typ 3241'
# ('Typ' + bare digits — the letter code must be optional there)
PRODUCT_RE = rf"([A-ZÄÖÜ][a-zäöü]+(?: Typ [0-9]+| [A-Z]+-?[0-9]+)+)"


def ner_mentions(docs: DataFrame) -> DataFrame:
    """documents -> cross-span merged sentences -> typed mention rows.

    Returns (doc_id, offset, sentence, name, entity_type, char_pos,
    confidence); offset is the first span of the merged sentence, so a
    mention split across spans is still found once.
    """
    sents = segment.merged_text_sentences(docs)
    org = F.regexp_extract_all("sentence", F.lit(ORG_RE), 1)
    prod = F.regexp_extract_all("sentence", F.lit(PRODUCT_RE), 1)
    # gazetteer hits need WORD BOUNDARIES: bare contains() would emit
    # 'Halle 3' inside 'Halle 34' or 'Werk Nord' inside 'Werk Nordost'
    loc = F.concat(
        *[
            F.when(
                F.col("sentence").rlike(rf"\b{loc}\b"), F.array(F.lit(loc))
            ).otherwise(F.array().cast("array<string>"))
            for loc in rules.LOCATIONS
        ]
    )
    typed = F.concat(
        F.transform(org, lambda m: F.struct(m.alias("name"), F.lit("organization").alias("entity_type"))),
        F.transform(loc, lambda m: F.struct(m.alias("name"), F.lit("location").alias("entity_type"))),
        F.transform(prod, lambda m: F.struct(m.alias("name"), F.lit("product").alias("entity_type"))),
    )
    return (
        sents.select("doc_id", "offset", "sentence", F.explode(typed).alias("m"))
        .select(
            "doc_id",
            "offset",
            "sentence",
            F.col("m.name").alias("name"),
            F.col("m.entity_type").alias("entity_type"),
            F.expr("instr(sentence, m.name)").cast("int").alias("char_pos"),
            F.lit(rules.PATTERN_CONFIDENCE).alias("confidence"),
        )
        .distinct()
    )

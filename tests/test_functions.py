"""Scalar function library tests (SURVEY.md §2.8)."""

from pyspark.sql import functions as F

from pdf2ontology_spark import functions as fn


def test_scalar_functions(spark):
    df = spark.range(1).select(
        fn.clamp01(F.lit(1.7)).alias("c1"),
        fn.clamp01(F.lit(-0.2)).alias("c2"),
    )
    r = df.collect()[0]
    assert r.c1 == 1.0 and r.c2 == 0.0


def test_priority_sorted_actions(spark):
    df = spark.createDataFrame(
        [(["sharpen", "rotate", "denoise", "rotate", "unknown_op", "crop"],)],
        "actions array<string>",
    ).select(fn.priority_sorted_actions(F.col("actions")).alias("plan"))
    assert df.collect()[0].plan == ["rotate", "crop", "denoise", "sharpen", "unknown_op"]


def test_raw_actions_already_priority_sorted(spark):
    """condition._raw_actions emits its plan in priority order, so both
    assess paths skip fn.priority_sorted_actions: over all 64 on/off
    combinations of the six rules the sort is the identity."""
    import itertools

    from pdf2ontology_spark.operators import condition

    # (off, on) value per rule: rotation, skew, contrast, brightness,
    # sharpness, noise
    levels = [(0, 90), (0.0, 5.0), (0.9, 0.1), (0.9, 0.1), (0.9, 0.1), (0.1, 0.9)]
    combos = itertools.product((0, 1), repeat=6)
    df = spark.createDataFrame(
        [tuple(lv[b] for lv, b in zip(levels, bits)) for bits in combos],
        "rotation int, skew double, contrast double, brightness double, "
        "sharpness double, noise double",
    )
    raw = condition._raw_actions(*[F.col(c) for c in df.columns])
    rows = df.select(
        raw.alias("raw"), fn.priority_sorted_actions(raw).alias("sorted")
    ).collect()
    assert len({tuple(r.raw) for r in rows}) == 64
    assert all(r.raw == r.sorted for r in rows)


def test_quarantine_split_accounts_for_every_row(spark):
    """F2: invalid rows never throw and never vanish — they land in the
    quarantine side with a reason; good + bad == input."""
    from pyspark.sql import Row

    from pdf2ontology_spark.operators import quarantine

    rows = [
        Row(doc_id="d", kind="text", text="ok.", media_ref="", offset=0),
        Row(doc_id="d", kind="blob", text="?", media_ref="", offset=1),  # unknown kind
        Row(doc_id="d", kind="media", text="", media_ref="", offset=2),  # no media_ref
        Row(doc_id="d", kind="table", text="[]", media_ref="", offset=-3),  # neg offset
        Row(doc_id="d", kind="media", text="", media_ref="m://x", offset=4),
    ]
    spans = spark.createDataFrame(rows)
    good, bad = quarantine.split_spans(spans)
    assert good.count() + bad.count() == len(rows)
    reasons = {r.offset: r.q_reason for r in bad.collect()}
    assert reasons == {1: "unknown_kind", 2: "missing_media_ref", -3: "negative_offset"}
    # NULL inputs must be flagged, not sail through as "not flagged"
    null_rows = spark.createDataFrame(
        [Row(doc_id="d", kind=None, text="x", media_ref="", offset=9),
         Row(doc_id="d", kind="text", text="x", media_ref="", offset=None)],
        "doc_id string, kind string, text string, media_ref string, offset int",
    )
    _, nbad = quarantine.split_spans(null_rows)
    assert {r.q_reason for r in nbad.collect()} == {"null_kind", "null_offset"}
    acct = {(r.stage, r.status): r.n for r in quarantine.accounting(good, bad, "g").collect()}
    assert acct == {("g", "passed"): 2, ("g", "quarantined"): 3}
    # the pipeline keeps running on the good side — no exception path
    assert good.count() == 2

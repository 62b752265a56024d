"""Physical-plan audit: run each headline query once (``collect()``),
then dump the final adaptive plan it ran from .explain("formatted") and
grep it for the properties that matter at 100 TB — PushedFilters
reaching the scan, pruned ReadSchema, WholeStageCodegen coverage,
exchange (shuffle) count, broadcast usage. Writes PLANS.md.

Usage: python scripts/plan_audit.py [name ...] — with names, only those
queries' sections of PLANS.md are rewritten (a new name is appended).
"""

from __future__ import annotations

import contextlib
import io
import re
import sys

sys.path.insert(0, ".")

import __spark_entry__ as entry  # noqa: E402
from pdf2ontology_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

AUDIT = [
    "triples_all",
    "nodes",
    "edges",
    "canonical_nodes_lsh",
    "minhash_signatures",
    "minhash_pairs",
    "ngram_jaccard_pairs",
    "dedup_clusters",
    "simhash_pairs",
    "embedding_cosine_pairs",
    "ann_lsh_topk",
    "ann_ivf_topk",
    "grid_row_maps",
    "preprocessed_media",
    "media_quality",
    "skew_rotation",
    "content_layout",
    "shipping_priority",
    "sessionize",
    "media_features",
    "assess_media_real",
    "canonical_edges_lsh",
]


def plan_of(df) -> str:
    """The final plan of ``df``: after its own action, the formatted
    explain holds AQE's final plan and the initial one it replaced."""
    df.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    # what the run cached must not show up in the next section's plan
    df.sparkSession.catalog.clearCache()
    return final_plan(buf.getvalue())


def final_plan(explain: str) -> str:
    """The final-plan part of an executed formatted explain: the tree
    lines under no ``== Initial Plan ==`` marker (one is nested under
    every cached relation's plan too) and the detail blocks of their
    nodes."""
    tree, _, details = explain.strip("\n").partition("\n\n\n")
    kept, ids, initial = [], set(), []  # initial: marker columns open
    for line in tree.splitlines():
        col = len(line) - len(line.lstrip(" :"))
        while initial and col <= initial[-1]:
            initial.pop()
        if initial:
            continue
        if "== Initial Plan ==" in line:
            initial.append(col)
        elif "== Final Plan ==" not in line:
            kept.append(line)
            ids.update(re.findall(r"\((\d+)\)", line))
    blocks = [b for b in details.split("\n\n") if re.match(r"\((\d+)\)", b)]
    keep = [b for b in blocks if re.match(r"\((\d+)\)", b).group(1) in ids]
    return "\n".join(kept) + "\n\n\n" + "\n\n".join(keep) + "\n"


HEADER = """# PLANS.md — physical-plan audit (sf0.01, {master}, 16 shuffle partitions)

Each section is the final adaptive plan the query ran: the script runs
the query's own `collect()` first, then keeps the `isFinalPlan=true`
tree and its node details, dropping the initial plans AQE replaced.

How to read this (the 100 TB checklist):
- **PushedFilters** at every parquet scan — kind/key predicates reach
  the reader, so a 100 TB scan only decodes matching row groups.
- **ReadSchema** pruned to used columns — the TPC-H-style queries read
  3-4 columns, not the table; the spans scans read the full nested
  struct because every field is consumed.
- **Exchange count** = shuffle budget (NOTE: formatted explain prints
  each node twice — tree + detail — so the raw counts below are 2x the
  physical node count, more where a cached relation's plan is printed
  under each of its scans). triples_all is the FUSED single-scan plan:
  FileScan -> Project -> Generate, ONE corpus read, zero extraction
  shuffles (its only exchange is `tables.spread_small_scan`'s doc_id
  spread, which disappears once the scan splits at least
  `spread_width` ways). The LSH canonicalization is the most exchange-heavy plan by
  design (blocking join + union-find components) and is exactly the
  stage the north rule says to pay for.
- **Broadcast** on every dimension-sided join (region/nation rollup,
  query-side of ANN, minhash band self-join probe side).
- Whole-stage codegen covers the expression spine everywhere; the
  Python stages in the engine are all Arrow-batched mapInPandas/
  pandas_udf kernels: the media decode family, the round-7 fused grid
  kernel (operators/grid_fused.py — replaces 4 window shuffles of
  interpreted array lambdas), the banded-LSH signature kernel, and the
  connected-components union-find. No row-at-a-time BatchEvalPython
  anywhere.
"""


# session counters: RDD, expression, exchange-plan and lambda-variable
# ids depend on what the process ran before the query, so each is
# renumbered in order of first appearance — an unchanged plan then
# writes unchanged text whatever subset is audited
COUNTERS = (r"(RDD\[)(\d+)", r"(#)(\d+)", r"(plan_id=)(\d+)", r"(lambda \w+?_)(\d+)")


def normalize(plan: str) -> str:
    for pat in COUNTERS:
        ids: dict[str, int] = {}
        plan = re.sub(
            pat, lambda m: m.group(1) + str(ids.setdefault(m.group(2), len(ids))), plan
        )
    return plan


def section(name: str, plan: str) -> str:
    """One PLANS.md section: the headline counts, then the full plan."""
    plan = normalize(plan)
    out = []
    n_exchange = len(re.findall(r"\bExchange\b", plan))
    n_bcast = len(re.findall(r"BroadcastExchange|BroadcastHashJoin", plan))
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    pushed_nonempty = [p for p in pushed if p.strip()]
    scans = re.findall(r"ReadSchema: ([^\n]+)", plan)
    out.append(f"## {name}\n")
    n_scans = len(re.findall(r"\(\d+\) Scan parquet", plan))
    out.append(
        f"- parquet scans: {n_scans}; "
        f"exchanges (raw matches, 2x per node): {n_exchange}; "
        f"broadcast joins/exchanges: {n_bcast}\n"
        f"- scans with pushed filters: {len(pushed_nonempty)}/{len(pushed)}\n"
    )
    for s in scans[:4]:
        out.append(f"- ReadSchema: `{s[:160]}`\n")
    out.append("\n<details><summary>full plan</summary>\n\n```\n" + plan + "```\n</details>\n")
    return "\n".join(out) + "\n"


def main() -> None:
    only = sys.argv[1:]
    qs = entry.queries()
    sections = {}
    if only:
        with open("PLANS.md") as f:
            chunks = re.split(r"(?m)^(?=## )", f.read())
        # every section ends with one blank line, as a fresh one does
        sections = {c.split("\n", 1)[0][3:]: c.rstrip("\n") + "\n\n" for c in chunks[1:]}
    spark = get_spark(shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    header = HEADER.format(master=spark.sparkContext.master)
    for name in only or AUDIT:
        sections[name] = section(name, plan_of(qs[name](spark, SF)))
    spark.stop()
    with open("PLANS.md", "w") as f:
        f.write((header + "\n" + "".join(sections.values())).rstrip("\n") + "\n")
    print(f"wrote PLANS.md ({len(only or AUDIT)} sections audited)")


if __name__ == "__main__":
    main()

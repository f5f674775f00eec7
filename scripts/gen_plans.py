"""Regenerate PLANS.md: formatted physical plans of the bench-tagged
queries with scale commentary. Run: python scripts/gen_plans.py [sf_dir]"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from crawl_streams_spark.plans import REGISTRY  # noqa: E402
from crawl_streams_spark.session import get_spark  # noqa: E402

NOTES = {
    "event_type_stats": "One scan, two-phase HashAggregate (map-side partial combine); the shuffle carries only (key, partial) rows — constant-size relative to input.",
    "pricing_summary": "Filter pushed into the parquet scan (PushedFilters), DECIMAL sums inside codegen, single shuffle on the 2-column group key.",
    "top_unshipped_orders": "customer and orders filter; no forced hints (r6 hint policy) — AQE broadcasts the filtered sides at runtime while small, so lineitem (the 100 TB side) is scanned once and never shuffled on a join key; top-10 plans as TakeOrderedAndProject.",
    "regional_revenue": "nation/region broadcast by bounded-relation hint; the SF-linear customer dim chain is un-hinted and AQE converts its initial sort-merge join to a broadcast at runtime while small (final adaptive plan pinned by test_broadcast_joins); one shuffle for the final rollup.",
    "dedup_minhash_signatures": "Pure narrow map: tokens → shingles → md5 → 16 linear-mix minima staged as named columns (one md5 per shingle); zero shuffles.",
    "knn_bruteforce": "Query set broadcast; per-pair work is a single double-array fold (casts + norms precomputed below the join); per-query top-k via a 40-partition window.",
    "dedup_exact": "Single hash-shuffle on the md5 digest.",
    "concurrent_sessions": "Sessionize once (user_id exchange + window), explode both interval sides to hour buckets from ONE reused exchange, equi-join on bucket + exact-overlap refine + overlap-start attribution; r6: self-overlap counting removed the zero-count outer join and its third sessionization branch (5 shuffles + SMJ -> 2 shuffles).",
    "doc_token_stats": "Narrow map, no shuffle.",
}

HEADER = """# PLANS — physical plans of the headline (bench) queries

Generated by `python scripts/gen_plans.py` against {sf}. These are the plan
shapes the engine relies on at 100 TB; `tests/test_plans.py` asserts the
load-bearing properties (pushdown, broadcast, partial aggregation, Arrow-only
Python, codegen) so regressions fail CI even while results stay correct.

"""


def _metrics_table() -> str:
    """Every registry query's pinned plan counters (tests/plan_snapshots.json)
    as one reviewable table."""
    import json

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "tests", "plan_snapshots.json")) as f:
        snaps = json.load(f)
    lines = [
        "## All-query plan metrics (pinned at sf0.001)\n",
        "From `tests/plan_snapshots.json`, which "
        "`python -m scripts.update_plan_snapshots` regenerates; this "
        "table is rewritten from it by `python scripts/gen_plans.py`. "
        "Columns: shuffle "
        "exchanges / broadcast joins / sort-merge joins / Python stages / "
        "bounded top-k / unpartitioned windows (data-sized global windows "
        "are always 0 — they would serialize the input through one task; "
        "the nonzero entries are windows over bounded per-bucket offsets "
        "relations, the discipline "
        "test_global_rank_has_no_data_sized_global_window enforces).\n",
        "| query | shuf | bcast | smj | py | topk | gw |",
        "|---|---|---|---|---|---|---|",
    ]
    for name in sorted(snaps):
        m = snaps[name]
        lines.append(
            f"| {name} | {m['shuffle_exchanges']} | {m['broadcast_joins']} |"
            f" {m['sort_merge_joins']} | {m['python_stages']} |"
            f" {m['take_ordered']} | {m.get('global_windows', 0)} |"
        )
    return "\n".join(lines) + "\n"


def main(sf_dir: str = "/root/testdata/sf0.01") -> None:
    spark = get_spark("gen-plans", master="local[8]", shuffle_partitions=8)
    out = io.StringIO()
    out.write(HEADER.format(sf=sf_dir))
    for name, q in REGISTRY.items():
        if not q.bench:
            continue
        df = q.build(spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        # keep the operator tree; drop the verbose per-operator detail
        tree = plan.split("\n\n")[0]
        out.write(f"## {name}\n\n{NOTES.get(name, '')}\n\n```\n{tree}\n```\n\n")
    out.write(_metrics_table())
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(repo, "PLANS.md"), "w") as f:
        f.write(out.getvalue())
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01")

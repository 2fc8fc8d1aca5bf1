"""Streaming sessionizer contract tests. The value-correctness of
q36/q37/q45 is driver-gated against DuckDB; these tests pin the
INPUT contract: in-order micro-batches sessionize exactly, out-of-order
input fails loudly instead of silently corrupting session counts
(ADVICE r2: a regressing batch used to be appended to the open session
with an inflated count and a too-late session_start)."""

import datetime as dt
import os

import pytest

from pacasam_spark.streaming.events import sessionize_stateful

T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _write_events(spark, path, rows):
    spark.createDataFrame(
        [
            (i, T0 + dt.timedelta(minutes=m), uid, "click", 1.0, "{}")
            for i, (uid, m) in enumerate(rows)
        ],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(path)


def test_sessionize_stateful_in_order_batches(spark, tmp_path):
    """Two in-order files (one per micro-batch): a gap < 30 min continues
    the session ACROSS batches; a gap > 30 min opens a new one."""
    d = str(tmp_path / "ev")
    os.makedirs(d)
    _write_events(spark, f"{d}/events_a.parquet", [(1, 0), (1, 10), (2, 0)])
    os.utime(f"{d}/events_a.parquet", (1_000_000, 1_000_000))
    _write_events(spark, f"{d}/events_b.parquet", [(1, 25), (1, 90), (2, 200)])
    os.utime(f"{d}/events_b.parquet", (2_000_000, 2_000_000))

    got = {
        (r["user_id"], r["sess_seq"]): r["n_events"]
        for r in sessionize_stateful(spark, d).collect()
    }
    assert got == {
        (1, 1): 3,  # 0, 10, 25 min — continued across the batch boundary
        (1, 2): 1,  # 90 min
        (2, 1): 1,
        (2, 2): 1,  # 200 min
    }


def test_sessionize_stateful_rejects_out_of_order_batches(spark, tmp_path):
    """A micro-batch whose first event predates the stored last_ts must
    raise (loud failure), not corrupt the open session."""
    d = str(tmp_path / "ev_ooo")
    os.makedirs(d)
    # file A (processed first: older mtime) holds the LATER events
    _write_events(spark, f"{d}/events_a.parquet", [(1, 100), (1, 110)])
    os.utime(f"{d}/events_a.parquet", (1_000_000, 1_000_000))
    _write_events(spark, f"{d}/events_b.parquet", [(1, 5)])
    os.utime(f"{d}/events_b.parquet", (2_000_000, 2_000_000))

    with pytest.raises(Exception, match="out-of-order"):
        sessionize_stateful(spark, d).collect()


def test_session_rollup_stream_append_matches_batch(spark, tmp_path):
    """session_rollup under readStream + watermark (append mode) emits
    exactly the batch sessions finalized before the last watermark: a
    far-future 'flush' event closes everything earlier; only its own
    still-open session stays pending."""
    from pacasam_spark.streaming.events import session_rollup, session_rollup_stream

    d = str(tmp_path / "ev_sw")
    os.makedirs(d)
    _write_events(
        spark, f"{d}/events_a.parquet", [(1, 0), (1, 10), (2, 0), (1, 90)]
    )
    os.utime(f"{d}/events_a.parquet", (1_000_000, 1_000_000))
    # batch 2: one event per user far in the future (the flush sessions)
    _write_events(spark, f"{d}/events_b.parquet", [(1, 100000), (2, 100000)])
    os.utime(f"{d}/events_b.parquet", (2_000_000, 2_000_000))

    batch = session_rollup(spark.read.parquet(f"{d}/*.parquet"))
    flush_start = T0 + dt.timedelta(minutes=100000)
    expected = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch.collect()
        if r["session_start"] != flush_start  # pending at stream end
    )
    got = sorted(
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in session_rollup_stream(spark, f"{d}/*.parquet").collect()
    )
    assert got == expected
    assert len(got) == 3  # u1: [0,10], [90]; u2: [0]


def test_session_window_gap_boundary(spark):
    """Closure semantics at EXACTLY the gap: session_window MERGES
    windows whose ranges touch, so an event landing precisely gap after
    its predecessor EXTENDS the session (verified empirically — the
    naive 'half-open [start, last+gap)' reading predicts a split and is
    wrong). The strict-gap lag-flag twin (ts > prev + gap) therefore
    coincides with session_window on ALL data, boundary events
    included — the q50 oracle gate can never flip on a testdata
    regeneration."""
    import datetime as dt

    from pacasam_spark.streaming.events import session_rollup

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, t0),
        (1, t0 + dt.timedelta(minutes=30)),   # exactly gap -> merges
        (1, t0 + dt.timedelta(minutes=75)),   # 45 min -> new session
        (2, t0),
        (2, t0 + dt.timedelta(minutes=29, seconds=59)),  # inside gap
    ]
    events = spark.createDataFrame(rows, "user_id long, ts timestamp")
    got = sorted(
        (r["user_id"], r["session_start"], r["n_events"])
        for r in session_rollup(events, gap="30 minutes").collect()
    )
    assert got == [
        (1, t0, 2),                            # boundary event merged in
        (1, t0 + dt.timedelta(minutes=75), 1),
        (2, t0, 2),
    ]
    # the strict-gap lag-flag sessionizer agrees row-for-row
    lagged = sorted(
        (r["user_id"], r["session_start"], r["n_events"])
        for r in spark.sql(
            """
            with g as (
              select user_id, ts,
                     case when lag(ts) over w is null
                            or ts > lag(ts) over w + interval 30 minute
                          then 1 else 0 end as new_sess
              from {events}
              window w as (partition by user_id order by ts)
            ),
            s as (
              select user_id, ts,
                     sum(new_sess) over (partition by user_id order by ts
                                         rows unbounded preceding) as seq
              from g
            )
            select user_id, min(ts) as session_start, count(*) as n_events
            from s group by user_id, seq
            """,
            events=events,
        ).collect()
    )
    assert lagged == got


def test_session_rollup_stream_late_data_cannot_mutate_emitted(spark, tmp_path):
    """The late-data guarantee append mode ACTUALLY gives (verified
    empirically; Spark documents watermark dropping as best-effort): a
    late event arriving after its session was finalized and emitted is
    DROPPED by the session-window state operator — finalized results are
    immutable, no duplicate or contradictory emission. (A late event
    whose session is still open in state may legitimately merge; the
    guarantee is about emitted results, not about every late row.)"""
    from pacasam_spark.streaming.events import session_rollup_stream

    def _utime_tree(path, t):
        # the file source orders batches by the PART-file mtimes, not the
        # directory's — stamp everything underneath
        for root, _dirs, files in os.walk(path):
            for f in files:
                os.utime(os.path.join(root, f), (t, t))
        os.utime(path, (t, t))

    d = str(tmp_path / "ev_late")
    os.makedirs(d)
    # batch A: u1 at t=0,10min (session [0,40)); u2 at t=50
    _write_events(
        spark, f"{d}/events_a.parquet", [(1, 0), (1, 10), (2, 50)]
    )
    _utime_tree(f"{d}/events_a.parquet", 1_000_000)
    # batch B advances the watermark past u1's session end (t=40) ->
    # u1's [0,40) n=2 is finalized, emitted, and evicted from state
    _write_events(spark, f"{d}/events_b.parquet", [(2, 100000)])
    _utime_tree(f"{d}/events_b.parquet", 2_000_000)
    # batch C: u1 at t=20 — late, and its session was already emitted
    _write_events(spark, f"{d}/events_c.parquet", [(1, 20)])
    _utime_tree(f"{d}/events_c.parquet", 3_000_000)

    got = sorted(
        (r["user_id"], r["session_start"], r["n_events"])
        for r in session_rollup_stream(
            spark, f"{d}/*.parquet", watermark="0 seconds"
        ).collect()
    )
    # u1 emitted exactly once with 2 events (the late row dropped, NOT
    # re-emitted as an overlapping [20,50) singleton); u2's sessions:
    # [50,80) finalized, the t=100000 one still pending -> absent
    assert got == [
        (1, T0, 2),
        (2, T0 + dt.timedelta(minutes=50), 1),
    ]

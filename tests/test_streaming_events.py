"""Structured Streaming windowed aggregation with late-data
watermarking over the events shape — the same plan as the batch
``windowed_event_counts``, driven through readStream."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F


def test_stateful_streaming_sessionize_matches_batch(spark, tmp_path):
    """applyInPandasWithState sessionizer: sessions closed by the
    stream (gap observed across micro-batches) must exactly match the
    batch sessionize result."""
    from quickwit_spark.pipeline.events import sessionize, sessionize_stream

    from pyspark.sql import functions as F

    full = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    batch = full.where(F.col("user_id") < 40)  # keep the test snappy
    src = tmp_path / "sess_in"
    src.mkdir()
    pdf = batch.toPandas().sort_values("ts")  # time-ordered arrival
    half = len(pdf) // 2
    for i, part in enumerate((pdf.iloc[:half], pdf.iloc[half:])):
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            str(src / f"p{i}.parquet"), coerce_timestamps="us",
        )

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        # expire_open_sessions=False: a bounded availableNow drain must
        # terminate instead of spinning empty batches until the 30-min
        # timeouts fire
        sessionize_stream(stream, gap_minutes=30, expire_open_sessions=False)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        terminated = q.awaitTermination(120)
    finally:
        q.stop()
    assert terminated  # drained and stopped — no timeout spin
    got = spark.sql("select * from sessions").toPandas()
    assert len(got) > 0

    want = sessionize(batch, gap_minutes=30).toPandas()
    want["session_start_us"] = (
        want["session_start"].astype("datetime64[ns]").astype("int64") // 1000
    )
    want["session_end_us"] = (
        want["session_end"].astype("datetime64[ns]").astype("int64") // 1000
    )
    merged = got.merge(
        want, on=["user_id", "session_idx"], suffixes=("_s", "_b")
    )
    # every closed session emitted by the stream matches batch exactly
    assert len(merged) == len(got)
    assert (merged["n_events_s"] == merged["n_events_b"]).all()
    assert (merged["session_start_us_s"] == merged["session_start_us_b"]).all()
    assert (merged["session_end_us_s"] == merged["session_end_us_b"]).all()
    assert (abs(merged["value_sum_s"] - merged["value_sum_b"]) < 1e-6).all()


def test_sessionize_closed_replays_stream_emission(spark, tmp_path):
    """The batch replay of the stateful sessionizer's append-mode
    emission (sessionize_closed) must equal the REAL stream's emitted
    set EXACTLY — not just row-subset-match: same sessions, same
    aggregates, nothing extra on either side. This is the semantics
    the driver-gate entry `sessionize_stream_replay` attests."""
    from quickwit_spark.pipeline.events import (
        sessionize_closed,
        sessionize_stream,
    )

    full = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    batch = full.where(F.col("user_id") < 40)
    src = tmp_path / "sess_replay_in"
    src.mkdir()
    pdf = batch.toPandas().sort_values("ts")
    third = len(pdf) // 3
    for i, part in enumerate(
        (pdf.iloc[:third], pdf.iloc[third : 2 * third], pdf.iloc[2 * third :])
    ):
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            str(src / f"p{i}.parquet"), coerce_timestamps="us",
        )
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        sessionize_stream(stream, gap_minutes=30, expire_open_sessions=False)
        .writeStream.format("memory")
        .queryName("sessions_replay")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    got = spark.sql("select * from sessions_replay").toPandas()
    want = sessionize_closed(batch, gap_minutes=30).toPandas()
    key = ["user_id", "session_idx"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    assert len(got) == len(want) > 0
    for c in ("user_id", "session_idx", "n_events",
              "session_start_us", "session_end_us"):
        assert (got[c] == want[c]).all(), c
    assert (abs(got["value_sum"] - want["value_sum"]) < 1e-6).all()


def test_sessionize_closed_expire_at_max_ts(spark):
    """expire_at_max_ts adds exactly the sessions whose last event is
    more than the gap before the input's max event time (the
    event-time replay of timeout expiry), and never an open one."""
    import datetime as dt

    from quickwit_spark.pipeline.events import sessionize_closed

    t0 = dt.datetime(2025, 1, 1)
    rows = [
        # user 1: two sessions (75m gap between them); the second ends
        # 20m before the global max ts -> NOT expired (20 < 30), only
        # the gap-closed session 1 is ever emitted
        (1, 1, t0, "a", 1.0, None),
        (2, 1, t0 + dt.timedelta(minutes=5), "a", 1.0, None),
        (3, 1, t0 + dt.timedelta(minutes=80), "a", 1.0, None),
        # user 2: one session ending 100m before max ts -> expired
        (4, 2, t0, "a", 2.0, None),
        # global clock: user 3's lone event is the max ts
        (5, 3, t0 + dt.timedelta(minutes=100), "a", 3.0, None),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, ts timestamp, "
        "event_type string, value double, props string"
    )
    closed = sessionize_closed(df, gap_minutes=30)
    assert {(r.user_id, r.session_idx) for r in closed.collect()} == {(1, 1)}
    expired = sessionize_closed(df, gap_minutes=30, expire_at_max_ts=True)
    assert {(r.user_id, r.session_idx) for r in expired.collect()} == {
        (1, 1), (2, 1)
    }


def test_dedup_stream_replay_matches_real_stream(spark, tmp_path):
    """exact_dedup_stream_replay's kept set must equal the survivors of
    a REAL exact_dedup_stream run over the same micro-batches (digests
    unique within each batch, so the stream is deterministic). Plants a
    later-id copy in an EARLIER batch to prove first-seen-wins differs
    from batch exact_dedup's min-id keeper, and redelivers the keeper
    (same id, later batch): that copy is a duplicate, not kept."""
    import pandas as pd

    from quickwit_spark.pipeline.dedup import (
        exact_dedup_stream,
        exact_dedup_stream_replay,
    )

    batches = {
        0: [(100, "alpha"), (101, "beta")],
        1: [(10, "alpha"), (11, "gamma"), (12, "delta")],
        2: [(1, "beta"), (2, "gamma"), (3, "epsilon"), (100, "alpha")],
    }
    src = tmp_path / "dedup_replay_in"
    src.mkdir()
    rows = []
    for b, docs in batches.items():
        pq.write_table(
            pa.Table.from_pandas(
                pd.DataFrame(docs, columns=["doc_id", "text"]),
                preserve_index=False,
            ),
            str(src / f"p{b}.parquet"),
        )
        rows += [(i, b, t) for i, t in docs]
    schema = "doc_id long, text string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        exact_dedup_stream(stream)
        .writeStream.format("memory")
        .queryName("dedup_replay")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        assert q.awaitTermination(120)
    finally:
        q.stop()
    stream_kept = sorted(
        r.doc_id for r in spark.sql("select * from dedup_replay").collect()
    )
    df = spark.createDataFrame(rows, "doc_id long, batch_id long, text string")
    replay = exact_dedup_stream_replay(df).collect()
    replay_kept = sorted(r.doc_id for r in replay if r.kept == 1)
    # maxFilesPerTrigger=1 processes files in discovery order p0,p1,p2
    assert stream_kept == replay_kept == [3, 11, 12, 100, 101]
    # exactly one kept row per digest: the batch-2 redelivery of 100 is not
    text_of = {(i, b): t for i, b, t in rows}
    kept_texts = [
        text_of[(r.doc_id, r.batch_id)] for r in replay if r.kept == 1
    ]
    assert sorted(kept_texts) == sorted({t for _, _, t in rows})
    # first-seen beats min-id: 'alpha' keeps 100 (batch 0), not 10
    keepers = {r.doc_id: r.keeper_id for r in replay}
    assert keepers[10] == 100 and keepers[1] == 101


def test_replay_plans_stay_jvm_side_and_shuffle_bounded(spark):
    """The replay ops must stay whole-stage-codegen (zero Python) and
    shuffle-bounded: dedup replay is ONE digest exchange; the
    sessionize replay is at most two data shuffles (user window +
    session rollup) plus the 1-row cutoff broadcast."""
    from pyspark.sql import functions as F

    from quickwit_spark.pipeline.dedup import exact_dedup_stream_replay
    from quickwit_spark.pipeline.events import sessionize_closed

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = (
        sessionize_closed(ev, expire_at_max_ts=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan and "InPandas" not in plan
    assert plan.count("Exchange") <= 3  # incl. the BroadcastExchange

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", (F.col("doc_id") % 4).alias("batch_id"), "text")
    plan = (
        exact_dedup_stream_replay(docs)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Python" not in plan and "InPandas" not in plan
    assert plan.count("Exchange") == 1


def test_streamed_window_counts_match_batch(spark, tmp_path):
    from quickwit_spark.pipeline.events import windowed_event_counts

    batch = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src = tmp_path / "in"
    src.mkdir()
    # split the events into two files (arrives in two micro-batches)
    pdf = batch.toPandas().sort_values("event_id")
    half = len(pdf) // 2
    for i, part in enumerate((pdf.iloc[:half], pdf.iloc[half:])):
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            str(src / f"p{i}.parquet"), coerce_timestamps="us",
        )

    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        # watermarks need TIMESTAMP (with tz); parquet stores NTZ
        .withColumn("ts", F.col("ts").cast("timestamp_ltz"))
        .withWatermark("ts", "10 minutes")
    )
    q = (
        windowed_event_counts(stream, "1 hour")
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from win_counts").toPandas()
    want = windowed_event_counts(
        batch.withColumn("ts", F.col("ts").cast("timestamp_ltz")), "1 hour"
    ).toPandas()

    # append mode only emits windows the watermark has CLOSED — every
    # emitted window must exactly match the batch result, and most
    # windows must have been finalized
    merged = got.merge(
        want, on=["window_start", "event_type"], suffixes=("_s", "_b")
    )
    assert len(merged) == len(got) > 0
    assert (merged["n_events_s"] == merged["n_events_b"]).all()
    assert (merged["value_sum_s"] == merged["value_sum_b"]).all()
    assert len(got) >= len(want) * 0.8  # only trailing windows still open


class _FakeState:
    """Minimal GroupState stand-in for driving _session_update."""

    def __init__(self):
        self._v = None
        self.hasTimedOut = False
        self._timeout_armed = False

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)

    def remove(self):
        self._v = None

    def setTimeoutDuration(self, ms):
        self._timeout_armed = True


def test_session_idx_survives_timeout_flush():
    """A session flushed by the processing-time timeout must NOT reset
    the user's session counter — the next session continues numbering,
    so emitted (user_id, session_idx) keys stay unique."""
    import pandas as pd

    from quickwit_spark.pipeline.events import _session_update

    def batch(ts_s, values):
        return [pd.DataFrame({
            "event_id": range(len(ts_s)),
            "ts": pd.to_datetime([t * 1_000_000_000 for t in ts_s]),
            "value": values,
        })]

    st_ = _FakeState()
    out1 = list(_session_update((7,), batch([100, 200], [1.0, 2.0]),
                                st_, 30, "ts", True))
    assert out1 == [] and st_._timeout_armed  # open session, timeout armed

    # timeout fires with no new events: session 1 flushed, counter kept
    st_.hasTimedOut = True
    out2 = pd.concat(list(_session_update((7,), [], st_, 30, "ts", True)))
    assert out2["session_idx"].tolist() == [1]
    assert out2["n_events"].tolist() == [2]
    assert st_.exists and st_.get[0] == 2  # counter advanced, kept

    # later events open session 2 and a further gap closes it as 2 (not 1)
    st_.hasTimedOut = False
    gap = 40 * 60
    list(_session_update((7,), batch([10_000], [5.0]), st_, 30, "ts", True))
    out3 = pd.concat(list(_session_update(
        (7,), batch([10_000 + gap], [6.0]), st_, 30, "ts", True)))
    assert out3["session_idx"].tolist() == [2]
    assert st_.get[0] == 3

    # a timeout on an EMPTY open session just drops the state
    st2 = _FakeState()
    st2.update((5, None, 0, None, 0.0))
    st2.hasTimedOut = True
    assert list(_session_update((7,), [], st2, 30, "ts", True)) == []
    assert not st2.exists


def test_streaming_exact_dedup_first_seen(spark, tmp_path):
    """exact_dedup_stream keeps each digest's first arrival across
    micro-batches; with arrival ordered by doc_id the kept set equals
    the batch keeper set, and the watermarked variant behaves the same
    when duplicates arrive within the delay."""
    import pandas as pd

    from quickwit_spark.pipeline.dedup import exact_dedup, exact_dedup_stream

    rows = []
    for i in range(60):
        rows.append((i, f"text {i % 20}", pd.Timestamp("2025-01-01") + pd.Timedelta(seconds=i)))
    pdf = pd.DataFrame(rows, columns=["doc_id", "text", "ts"])
    src = tmp_path / "dedup_in"
    src.mkdir()
    half = len(pdf) // 2  # doc_id order => first arrival is min id
    for i, part in enumerate((pdf.iloc[:half], pdf.iloc[half:])):
        pq.write_table(
            pa.Table.from_pandas(part, preserve_index=False),
            str(src / f"p{i}.parquet"), coerce_timestamps="us",
        )
    batch = spark.read.parquet(str(src))

    with pytest.raises(ValueError):
        exact_dedup_stream(batch)

    keepers = {
        r.doc_id
        for r in exact_dedup(batch).where(~F.col("is_dup")).collect()
    }
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    for name, kwargs in (
        ("kept_plain", {}),
        ("kept_wm", {"ts_col": "ts", "watermark": "10 minutes"}),
    ):
        q = (
            exact_dedup_stream(stream, **kwargs)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        try:
            assert q.awaitTermination(120)
        finally:
            q.stop()
        got = {r.doc_id for r in spark.sql(f"select doc_id from {name}").collect()}
        assert got == keepers, name

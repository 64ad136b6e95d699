"""Structured Streaming tests: file-source stream → watermarked rollup
and applyInPandasWithState sessionization, validated against their
batch twins on the same data (availableNow trigger drains the source
deterministically)."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from flask_data_pipes_spark.streaming.stream import (
    EVENTS_SCHEMA,
    hourly_rollup,
    read_jsonl_stream,
    sessionize_batch,
    sessionize_stream,
)


@pytest.fixture(scope="module")
def landing(spark, tmp_path_factory):
    """Write sf0.001 events as JSONL into a landing dir (streaming
    sources need schemas + directories, not parquet snapshots)."""
    from flask_data_pipes_spark.plans.catalog import load

    tmp = tmp_path_factory.mktemp("stream")
    path = str(tmp / "events")
    e = load(spark, os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001"), "events")
    e.coalesce(2).write.mode("overwrite").option(
        "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"
    ).json(path)
    return path


def _drain(stream_df, tmp_dir: str, name: str):
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", os.path.join(tmp_dir, f"ckpt_{name}"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return q


def test_hourly_rollup_stream_matches_batch(spark, landing, tmp_path):
    events = read_jsonl_stream(spark, landing, EVENTS_SCHEMA)
    rollup = hourly_rollup(events, watermark="100 days")  # nothing late in replay

    q = (
        rollup.writeStream.format("memory")
        .queryName("rollup_out")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt_rollup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (str(r["hour"]), r["event_type"]): r["n_events"]
        for r in spark.sql("select * from rollup_out").collect()
    }

    batch = (
        spark.read.schema(EVENTS_SCHEMA).json(landing)
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    want = {
        (str(r["hour"]), r["event_type"]): r["n_events"] for r in batch.collect()
    }
    assert got == want


def test_sessionize_stream_closes_sessions(spark, landing, tmp_path):
    events = read_jsonl_stream(spark, landing, EVENTS_SCHEMA)
    sessions = sessionize_stream(events, gap_seconds=1800, watermark="100 days")
    # NOT _drain: an availableNow query with PROCESSING-TIME timeouts
    # never self-terminates — after the data batches the engine keeps
    # scheduling empty "cleaning up state" batches until the 1800 s
    # timers fire (measured: 99 empty batches, still active at 150 s),
    # so a fixed awaitTermination always burns its whole budget. The
    # assertions below only need the DATA batches folded: wait for the
    # first zero-input batch after real input, then stop.
    import time as _t

    q = (
        sessions.writeStream.format("memory")
        .queryName("sessions_out")
        .outputMode("append")
        .option("checkpointLocation", os.path.join(str(tmp_path), "ckpt_sessions_out"))
        .trigger(availableNow=True)
        .start()
    )
    deadline = _t.time() + 120
    drained = False
    while _t.time() < deadline:
        progress = q.recentProgress
        if (
            any(p["numInputRows"] > 0 for p in progress)
            and progress[-1]["numInputRows"] == 0
        ):
            drained = True
            break
        _t.sleep(0.5)
    q.stop()
    q.awaitTermination(30)
    if not drained:
        pytest.fail("stream did not drain data batches within 120s")
    got = spark.sql("select * from sessions_out").collect()

    batch = sessionize_batch(
        spark.read.schema(EVENTS_SCHEMA).json(landing), gap_seconds=1800
    ).collect()

    # The replay closes every session whose gap elapsed within the data;
    # the final (open) session per user emits only on timeout — so the
    # streamed set must be a subset of batch sessions, and must cover
    # every CLOSED batch session (all but the last per user).
    got_keys = {(r["user_id"], str(r["session_start"])) for r in got}
    by_user_last = {}
    for r in batch:
        key = (r["user_id"], str(r["session_start"]))
        if (
            r["user_id"] not in by_user_last
            or str(r["session_start"]) > by_user_last[r["user_id"]]
        ):
            by_user_last[r["user_id"]] = str(r["session_start"])
    closed = {
        (r["user_id"], str(r["session_start"]))
        for r in batch
        if str(r["session_start"]) != by_user_last[r["user_id"]]
    }
    batch_keys = {(r["user_id"], str(r["session_start"])) for r in batch}
    assert got_keys <= batch_keys
    assert closed <= got_keys
    # aggregates agree for the sessions that did emit
    batch_by_key = {
        (r["user_id"], str(r["session_start"])): (r["n_events"], r["total_value"])
        for r in batch
    }
    for r in got:
        key = (r["user_id"], str(r["session_start"]))
        n, total = batch_by_key[key]
        assert r["n_events"] == n
        assert abs(r["total_value"] - total) < 1e-6


def test_watermark_drops_late_events(spark, tmp_path):
    """Late-data contract: an event arriving after the watermark passed
    its window is dropped deterministically (the reference has no
    event-time semantics at all; this pins the Spark-native superset
    behavior)."""
    import time as _time

    land = tmp_path / "late_land"
    land.mkdir()

    def _evt(i, ts, typ="A", value=1.0):
        return json.dumps(
            {
                "event_id": i,
                "ts": ts,
                "user_id": 1,
                "event_type": typ,
                "value": value,
                "props": "{}",
            }
        )

    # batch 1: two events fill the [10:00, 11:00) window
    (land / "b1.jsonl").write_text(
        "\n".join(
            [
                _evt(1, "2024-01-01T10:00:00.000000"),
                _evt(2, "2024-01-01T10:30:00.000000"),
            ]
        )
        + "\n"
    )
    _time.sleep(1.1)  # file-source batches order by modification time
    # batch 2: 13:30 will advance the 2h watermark to 11:30 — but the
    # global watermark lags one batch (batch N runs under the value
    # computed from batch N-1's data)
    (land / "b2.jsonl").write_text(_evt(3, "2024-01-01T13:30:00.000000") + "\n")
    _time.sleep(1.1)
    # batch 3: runs under watermark 11:30 > window end — [10:00, 11:00)
    # is emitted (append mode) and evicted from the state store
    (land / "b3.jsonl").write_text(_evt(4, "2024-01-01T14:00:00.000000") + "\n")
    _time.sleep(1.1)
    # batch 4: a late event inside the evicted window — must be dropped
    # (a window still in state would absorb late rows; eviction seals it)
    (land / "b4.jsonl").write_text(_evt(5, "2024-01-01T10:15:00.000000") + "\n")

    events = read_jsonl_stream(
        spark, str(land), EVENTS_SCHEMA, max_files_per_trigger=1
    )
    rollup = hourly_rollup(events, watermark="2 hours", window="1 hour")
    q = (
        rollup.writeStream.format("memory")
        .queryName("late_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_late"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select * from late_out").collect()
    ten = [r for r in rows if str(r["hour"]) == "2024-01-01 10:00:00"]
    # the sealed window emitted exactly once, with only the 2 on-time
    # events; the late 10:15 event neither re-emitted nor resurrected it
    assert len(ten) == 1 and ten[0]["n_events"] == 2, rows


def test_dedup_stream_drops_duplicates_within_watermark(spark, tmp_path):
    """Streaming exact-dedup contract: the first occurrence of a key
    emits; copies arriving in later micro-batches within the watermark
    horizon are dropped (state survives across batches)."""
    import time as _time

    from flask_data_pipes_spark.streaming.stream import dedup_stream

    land = tmp_path / "dedup_land"
    land.mkdir()

    def _evt(i, ts, typ="A", value=1.0):
        return json.dumps(
            {
                "event_id": i,
                "ts": ts,
                "user_id": 1,
                "event_type": typ,
                "value": value,
                "props": "{}",
            }
        )

    # batch 1: ids 1, 2 (id 1 twice in the same batch)
    (land / "b1.jsonl").write_text(
        "\n".join(
            [
                _evt(1, "2024-01-01T10:00:00.000000"),
                _evt(1, "2024-01-01T10:00:05.000000"),
                _evt(2, "2024-01-01T10:01:00.000000"),
            ]
        )
        + "\n"
    )
    _time.sleep(1.1)
    # batch 2: id 1 again (cross-batch duplicate, within watermark) and
    # a fresh id 3
    (land / "b2.jsonl").write_text(
        "\n".join(
            [
                _evt(1, "2024-01-01T10:05:00.000000"),
                _evt(3, "2024-01-01T10:06:00.000000"),
            ]
        )
        + "\n"
    )

    events = read_jsonl_stream(
        spark, str(land), EVENTS_SCHEMA, max_files_per_trigger=1
    )
    deduped = dedup_stream(events, keys=["event_id"], watermark="2 hours")
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_dedup"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select event_id, ts from dedup_out").collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["event_id"], []).append(str(r["ts"]))
    # each id exactly once, and id 1 kept its FIRST arrival
    assert sorted(by_id) == [1, 2, 3], rows
    assert all(len(v) == 1 for v in by_id.values()), rows
    assert by_id[1] == ["2024-01-01 10:00:00"], rows


def test_enrich_stream_matches_batch_join(spark, landing, tmp_path):
    """Stream-static broadcast join: every streamed event picks up its
    user's segment; result equals the batch join on the same data."""
    from flask_data_pipes_spark.streaming.stream import enrich_stream

    events = read_jsonl_stream(spark, landing, EVENTS_SCHEMA)
    users = (
        spark.read.schema(EVENTS_SCHEMA).json(landing)
        .select("user_id").distinct()
        .select("user_id", (F.col("user_id") % 5).cast("int").alias("segment"))
    )
    enriched = enrich_stream(events, users, on="user_id")
    _drain(enriched, str(tmp_path), "enrich_out")
    got = spark.table("enrich_out")

    batch = spark.read.schema(EVENTS_SCHEMA).json(landing).join(
        users, "user_id", "left"
    )
    assert got.count() == batch.count()
    assert got.where(F.col("segment").isNull()).count() == 0
    assert (
        got.groupBy("segment").count().orderBy("segment").collect()
        == batch.groupBy("segment").count().orderBy("segment").collect()
    )


def test_foreach_batch_stage_batches_do_not_clobber(spark, tmp_path):
    """Exactly-once contract of foreach_batch_stage: every micro-batch
    stages to its OWN batchId-keyed file (earlier batches' staged data
    survives later ones), one metadata row per batch_id, and a replay of
    a batch_id updates its own row/file instead of inserting/clobbering."""
    from flask_data_pipes_spark.models import Model, fields
    from flask_data_pipes_spark.pipeline import Pipeline
    from flask_data_pipes_spark.session import EngineConfig
    from flask_data_pipes_spark.streaming.stream import foreach_batch_stage

    class StreamEvent(Model):
        event_id = fields.Integer()
        event_type = fields.UppercaseString()

    class StreamPipeline(Pipeline):
        transform = True

    cfg = EngineConfig(data_dir=str(tmp_path / "data"))
    pipe = StreamPipeline(model=StreamEvent, spark=spark, config=cfg)
    pipe.register_model(StreamEvent)

    land = tmp_path / "land"
    land.mkdir()
    for i in range(3):
        (land / f"f{i}.jsonl").write_text(
            "\n".join(
                json.dumps({"event_id": i * 10 + j, "event_type": f"t{i}"})
                for j in range(2)
            )
        )

    stream = read_jsonl_stream(
        spark,
        str(land),
        "event_id long, event_type string",
        max_files_per_trigger=1,  # → one micro-batch per file
    )
    sink = foreach_batch_stage(pipe, StreamEvent)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_fb"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    objs = [o for o in pipe.store.objects if o["model"] == StreamEvent.__qname__]
    assert len(objs) == 3, objs
    files = {o.get("batch_id"): o["transform_file"] for o in objs}
    assert len(set(files.values())) == 3  # distinct staged paths
    seen = set()
    for f in files.values():
        assert os.path.exists(f), f
        seen |= {r["event_id"] for r in spark.read.json(f).collect()}
    # earlier batches' staged rows all survive the later batches
    assert seen == {0, 1, 10, 11, 20, 21}

    # replay micro-batch 0 (Spark re-runs foreachBatch with the same
    # batch_id after a failure): idempotent — same row, same file,
    # no duplicate metadata
    replay = spark.createDataFrame(
        [(0, "t0"), (1, "t0")], "event_id long, event_type string"
    )
    sink(replay, 0)
    objs2 = [o for o in pipe.store.objects if o["model"] == StreamEvent.__qname__]
    assert len(objs2) == 3
    assert {o.get("batch_id"): o["transform_file"] for o in objs2} == files


def test_foreach_batch_upsert_materialized_view(spark, landing, tmp_path):
    """Streaming materialized view: hourly rollup in update mode →
    keyed upsert into sqlite per micro-batch. The final table must
    equal the batch aggregate over the same data — later micro-batches
    overwrite their keys' rows, never duplicate them."""
    import sqlite3

    from flask_data_pipes_spark.sinks.writers import upsert_sql
    from flask_data_pipes_spark.streaming.stream import foreach_batch_upsert

    db = str(tmp_path / "mv.db")
    with sqlite3.connect(db) as conn:
        conn.execute(
            "CREATE TABLE hourly (hour TEXT, event_type TEXT, n_events INTEGER,"
            " total_value REAL, PRIMARY KEY (hour, event_type))"
        )
    sql = upsert_sql(
        "hourly",
        ["hour", "event_type", "n_events", "total_value"],
        keys=["hour", "event_type"],
        dialect="onconflict",
    )

    def merge(conn, row):
        conn.execute(
            sql,
            (str(row["hour"]), row["event_type"], row["n_events"], row["total_value"]),
        )

    events = read_jsonl_stream(spark, landing, EVENTS_SCHEMA, max_files_per_trigger=1)
    rollup = hourly_rollup(events, watermark="100 days")
    q = (
        rollup.writeStream.outputMode("update")
        .foreachBatch(
            foreach_batch_upsert(
                lambda: sqlite3.connect(db), merge, batch_size=50
            )
        )
        .option("checkpointLocation", str(tmp_path / "ckpt_mv"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    batch = (
        spark.read.schema(EVENTS_SCHEMA).json(landing)
        .groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
    )
    expected = {
        (str(r["hour"]), r["event_type"]): (r["n"], r["v"])
        for r in batch.collect()
    }
    with sqlite3.connect(db) as conn:
        got = {
            (h, t): (n, v)
            for h, t, n, v in conn.execute(
                "SELECT hour, event_type, n_events, total_value FROM hourly"
            )
        }
    assert len(got) == len(expected)
    assert set(got) == set(expected)
    for k in expected:
        assert got[k][0] == expected[k][0], k
        assert abs(got[k][1] - expected[k][1]) < 1e-6, k


def test_foreach_batch_incremental_dedup_cross_batch(spark, tmp_path):
    """Cross-batch streaming dedup against an unbounded history: each
    micro-batch appends ONLY fingerprints never seen in any earlier
    batch, and replaying a batch appends nothing (effectively-once via
    the dedup predicate itself)."""
    from flask_data_pipes_spark.streaming.stream import (
        foreach_batch_incremental_dedup,
    )

    land = tmp_path / "land"
    land.mkdir()
    # batch files arrive one per trigger; fp overlap across batches
    batches = [
        [(1, "fa"), (2, "fb")],
        [(3, "fb"), (4, "fc")],  # fb already seen -> only fc lands
        [(5, "fa"), (6, "fd"), (7, "fd")],  # fa dup, fd in-batch dup
    ]
    for i, rows in enumerate(batches):
        (land / f"b{i}.jsonl").write_text(
            "\n".join(
                json.dumps({"doc_id": d, "fingerprint": fp}) for d, fp in rows
            )
        )

    hist = str(tmp_path / "hist")
    stream = read_jsonl_stream(
        spark,
        str(land),
        "doc_id long, fingerprint string",
        max_files_per_trigger=1,
    )
    sink = foreach_batch_incremental_dedup(hist, m_bits=256, k=3)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_inc"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    out = spark.read.parquet(hist)
    fps = sorted(r["fingerprint"] for r in out.collect())
    assert fps == ["fa", "fb", "fc", "fd"]  # one row per distinct fp ever
    # replay batch 1 verbatim: nothing new appends
    replay = spark.createDataFrame(
        [(3, "fb"), (4, "fc")], "doc_id long, fingerprint string"
    )
    sink(replay, 1)
    assert spark.read.parquet(hist).count() == 4


def test_incremental_dedup_dupe_set_materialized_once(spark, tmp_path):
    """Round-15 optimization pin: the incremental-dedup sink writes
    `fresh` twice (out_path + history), so the dupe-fp set behind it
    must be MATERIALIZED (lineage cut) — otherwise each write re-runs
    the history-sized bloom-bitmap build and exact-verify scan. The
    helper must return a lineage-cut frame (plan scans an in-memory
    RDD, not the history parquet) with exactly the dupe fps."""
    from flask_data_pipes_spark.streaming.stream import _dupe_fps

    batch = spark.createDataFrame(
        [(1, "fa"), (2, "fb"), (3, "fz")], "doc_id long, fingerprint string"
    )
    hist = spark.createDataFrame(
        [(10, "fa"), (11, "fb"), (12, "fc")],
        "doc_id long, fingerprint string",
    )
    dupes = _dupe_fps(batch, hist, "fingerprint", "doc_id", 256, 3)
    # correctness: exactly the batch fps already present in history
    assert sorted(r["fingerprint"] for r in dupes.collect()) == ["fa", "fb"]
    # lineage cut: the returned plan must NOT contain the bloom/verify
    # DAG (joins, aggregates) — consuming it twice re-scans only the
    # checkpointed rows
    plan = dupes._jdf.queryExecution().optimizedPlan().toString()
    assert "Join" not in plan and "Aggregate" not in plan, plan
    assert "LogicalRDD" in plan or "ExistingRDD" in plan, plan


def test_foreach_batch_incremental_dedup_output_before_history(spark, tmp_path):
    """Crash window between the two writes: the OUTPUT sink is written
    before the history, so a failure between them leaves the rows in
    out_path, never silently absent (the replay then overwrites that
    partition — see the exactly-once test below). Simulated by
    pointing history at an unwritable path: the sink must raise, and
    out_path must already contain the batch. Also: a transient
    history-READ failure must fail the batch loudly, never masquerade
    as 'first batch'."""
    import pytest as _pytest

    from flask_data_pipes_spark.streaming.stream import (
        foreach_batch_incremental_dedup,
    )

    out = str(tmp_path / "out")
    # history path whose PARENT is a file -> mkdir fails on write
    blocker = tmp_path / "blocker"
    blocker.write_text("not a dir")
    bad_hist = str(blocker / "hist")

    sink = foreach_batch_incremental_dedup(
        bad_hist, out_path=out, m_bits=256, k=3
    )
    batch = spark.createDataFrame(
        [(1, "fa"), (2, "fb")], "doc_id long, fingerprint string"
    )
    with _pytest.raises(Exception):
        sink(batch, 0)
    # out_path committed BEFORE the failing history write
    got = sorted(
        r["fingerprint"] for r in spark.read.parquet(out).collect()
    )
    assert got == ["fa", "fb"]

    # corrupt existing history (a dir with a junk part file) must raise
    # out of the read, not silently disable dedup
    hist2 = tmp_path / "hist2"
    hist2.mkdir()
    (hist2 / "part-00000.parquet").write_text("garbage, not parquet")
    sink2 = foreach_batch_incremental_dedup(
        str(hist2), out_path=str(tmp_path / "out2"), m_bits=256, k=3
    )
    with _pytest.raises(Exception):
        sink2(batch, 0)


def test_foreach_batch_incremental_dedup_replay_after_crash_exactly_once(
    spark, tmp_path
):
    """A crash between the out_path write and the history write, then
    a replay of the same batch: out_path holds each fingerprint once
    (the replay overwrites its own batch_id partition instead of
    appending a second copy), and the history is complete. A later
    batch still dedups against the replayed history."""
    from flask_data_pipes_spark.streaming.stream import (
        foreach_batch_incremental_dedup,
    )

    out = str(tmp_path / "out")
    blocker = tmp_path / "blocker"
    blocker.write_text("not a dir")  # history's parent is a file
    hist = str(blocker / "hist")
    sink = foreach_batch_incremental_dedup(
        hist, out_path=out, m_bits=256, k=3
    )
    schema = "doc_id long, fingerprint string"
    batch0 = spark.createDataFrame([(1, "fa"), (2, "fb")], schema)
    with pytest.raises(Exception):
        sink(batch0, 0)
    blocker.unlink()

    sink(batch0, 0)  # the replay Spark runs after the crash

    def fps(path):
        return sorted(
            r["fingerprint"] for r in spark.read.parquet(path).collect()
        )

    assert fps(out) == ["fa", "fb"]
    assert fps(hist) == ["fa", "fb"]
    sink(spark.createDataFrame([(3, "fb"), (4, "fc")], schema), 1)
    assert fps(out) == ["fa", "fb", "fc"]
    assert fps(hist) == ["fa", "fb", "fc"]
    parts = sorted(d for d in os.listdir(out) if not d.startswith((".", "_")))
    assert parts == ["batch_id=0", "batch_id=1"]


def test_foreach_batch_cms_cross_batch_and_replay_idempotent(spark, tmp_path):
    """Streaming CMS: per-batch sketches land in batch_id partitions,
    the merged sketch equals the sketch of the full stream, and
    REPLAYING a batch (Spark's at-least-once foreachBatch) overwrites
    its own partition instead of double-counting — the idempotence
    guard a counting sink needs."""
    from flask_data_pipes_spark.operators.sketches import (
        cms_build,
        cms_estimate,
    )
    from flask_data_pipes_spark.streaming.stream import (
        cms_read_merged,
        foreach_batch_cms,
    )

    path = str(tmp_path / "sketch")
    sink = foreach_batch_cms(path, "tok", d=4, w=64, seed=41)
    b0 = [("a",), ("b",), ("a",)]
    b1 = [("b",), ("c",), ("c",), ("c",)]
    sink(spark.createDataFrame(b0, ["tok"]), 0)
    sink(spark.createDataFrame(b1, ["tok"]), 1)
    sink(spark.createDataFrame(b0, ["tok"]), 0)  # replay of batch 0

    merged = cms_read_merged(spark, path)
    want = cms_build(
        spark.createDataFrame(b0 + b1, ["tok"]), "tok", d=4, w=64, seed=41
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, want.collect())
    )
    qdf = spark.createDataFrame([("a",), ("b",), ("c",), ("z",)], ["tok"])
    est = {
        r["tok"]: r["est"]
        for r in cms_estimate(merged, qdf, "tok", d=4, w=64, seed=41).collect()
    }
    # exact at this tiny scale (few collisions); z unseen -> small/0
    assert est["a"] >= 2 and est["b"] >= 2 and est["c"] >= 3
    assert est["z"] <= 1  # width-64 collision noise at most


def test_foreach_batch_hll_cross_batch_and_replay_idempotent(spark, tmp_path):
    """Streaming HLL: per-batch register tables land in batch_id
    partitions, the merged registers equal the whole-stream build, and
    replaying a batch is a no-op twice over (dynamic partition
    overwrite AND register-max idempotence). The corrected estimate on
    the merged sketch recovers the true distinct count at this tiny
    cardinality (linear-counting regime)."""
    from flask_data_pipes_spark.operators.sketches import (
        hll_build,
        hll_estimate,
    )
    from flask_data_pipes_spark.streaming.stream import (
        foreach_batch_hll,
        hll_read_merged,
    )

    path = str(tmp_path / "hll")
    sink = foreach_batch_hll(path, "tok", b=6, seed=43)
    b0 = [("a",), ("b",), ("a",)]
    b1 = [("b",), ("c",), ("c",), ("d",)]
    sink(spark.createDataFrame(b0, ["tok"]), 0)
    sink(spark.createDataFrame(b1, ["tok"]), 1)
    sink(spark.createDataFrame(b0, ["tok"]), 0)  # replay of batch 0

    merged = hll_read_merged(spark, path)
    want = hll_build(
        spark.createDataFrame(b0 + b1, ["tok"]), "tok", b=6, seed=43
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, want.collect())
    )
    est = hll_estimate(merged, b=6, corrected=True).collect()[0]
    assert est["m"] == 64 and est["n_zero"] >= 60
    assert abs(est["est_distinct"] / 4.0 - 1.0) < 0.30  # 4 distinct toks


def test_foreach_batch_bottomk_cross_batch_and_replay(spark, tmp_path):
    """Streaming bottom-k sample: merged per-batch samples equal the
    whole-stream bottom-k exactly, replay included (k-smallest of the
    union is idempotent and associative)."""
    from flask_data_pipes_spark.operators.sketches import bottomk_sample
    from flask_data_pipes_spark.streaming.stream import (
        bottomk_read_merged,
        foreach_batch_bottomk,
    )

    path = str(tmp_path / "bk")
    sink = foreach_batch_bottomk(path, "doc_id", k=20, seed=47)
    b0 = [(i, i * 10) for i in range(0, 60)]
    b1 = [(i, i * 10) for i in range(60, 150)]
    sink(spark.createDataFrame(b0, ["doc_id", "v"]), 0)
    sink(spark.createDataFrame(b1, ["doc_id", "v"]), 1)
    sink(spark.createDataFrame(b0, ["doc_id", "v"]), 0)  # replay

    merged = sorted(
        (r["doc_id"], r["v"])
        for r in bottomk_read_merged(spark, path, "doc_id", k=20, seed=47).collect()
    )
    want = sorted(
        (r["doc_id"], r["v"])
        for r in bottomk_sample(
            spark.createDataFrame(b0 + b1, ["doc_id", "v"]), "doc_id", k=20, seed=47
        ).collect()
    )
    assert merged == want and len(merged) == 20


def test_foreach_batch_quarantine_split_and_replay(spark, tmp_path):
    """Streaming enforcement: per batch the tagged frame writes ONE
    pass through partitionBy(batch_id, passed); the pass leg comes
    back clean (original schema), the quarantine leg carries the
    per-row failed-check diagnosis, and replaying a batch overwrites
    its own partitions instead of duplicating rows."""
    from pyspark.sql import functions as F

    from flask_data_pipes_spark.streaming.stream import (
        foreach_batch_quarantine,
        quarantine_read,
    )

    checks = {
        "pos": F.col("v") > 0,
        "small": F.col("v") < 100,
    }
    path = str(tmp_path / "gate")
    sink = foreach_batch_quarantine(checks, path)
    b0 = [(1, 5), (2, -1), (3, 50)]
    b1 = [(4, 500), (5, -2), (6, 7)]
    sink(spark.createDataFrame(b0, ["id", "v"]), 0)
    sink(spark.createDataFrame(b1, ["id", "v"]), 1)
    sink(spark.createDataFrame(b0, ["id", "v"]), 0)  # replay of batch 0

    ok = quarantine_read(spark, path, passed=True)
    assert sorted(ok.columns) == ["id", "v"]
    assert sorted((r["id"], r["v"]) for r in ok.collect()) == [
        (1, 5), (3, 50), (6, 7),
    ]
    bad = {
        r["id"]: list(r["failed_checks"])
        for r in quarantine_read(spark, path, passed=False).collect()
    }
    assert bad == {2: ["pos"], 4: ["small"], 5: ["pos"]}

    # collision guard: a frame already carrying the tag column raises
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sink(
            spark.createDataFrame(
                [(1, 2, ["x"])], "id long, v long, failed_checks array<string>"
            ),
            2,
        )


def test_interval_join_stream_matches_batch_range_join(spark, landing, tmp_path):
    """Stream-stream interval join over clicks/errors == the batch
    range_join on the same data (same key, same (0, 300s] bounds) —
    q_range_join's streaming twin, drained with availableNow."""
    from flask_data_pipes_spark.operators.temporal import range_join
    from flask_data_pipes_spark.streaming.stream import interval_join_stream

    def split(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("click_id"),
            "user_id",
            F.col("ts").alias("click_ts"),
        )
        errors = df.filter(F.col("event_type") == "error").select(
            F.col("event_id").alias("error_id"),
            "user_id",
            F.col("ts").alias("error_ts"),
        )
        return clicks, errors

    ev = read_jsonl_stream(spark, landing, EVENTS_SCHEMA)
    sc_clicks, sc_errors = split(ev)
    joined = interval_join_stream(
        sc_clicks, sc_errors,
        on="user_id", left_ts="click_ts", right_ts="error_ts",
        min_delta_s=0, max_delta_s=300,
        left_watermark="3650 days", right_watermark="3650 days",
    ).select("click_id", "error_id", "user_id")
    _drain(joined, str(tmp_path), "ij_out")
    got = {
        (r["click_id"], r["error_id"])
        for r in spark.sql("select * from ij_out").collect()
    }

    b = spark.read.schema(EVENTS_SCHEMA).json(landing)
    bc, be = split(b)
    want = {
        (r["click_id"], r["error_id"])
        for r in range_join(
            bc, be, on="user_id", left_ts="click_ts",
            right_ts="error_ts", min_delta=0.0, max_delta=300.0,
        ).collect()
    }
    assert got == want and len(want) > 0


def test_foreach_batch_histogram_psi_drift(spark, tmp_path):
    """Streaming drift: per-batch histograms land in batch_id
    partitions, replays overwrite idempotently, and the merged
    histogram fed to psi_from_counts equals the batch psi_report over
    the same rows vs the same reference."""
    from flask_data_pipes_spark.operators.corpus import (
        histogram_counts,
        psi_from_counts,
        psi_report,
    )
    from flask_data_pipes_spark.streaming.stream import (
        foreach_batch_histogram,
        histogram_read_merged,
    )

    path = str(tmp_path / "hist")
    sink = foreach_batch_histogram(path, "v", lo=0.0, hi=100.0, bins=10)
    b0 = [(float(x),) for x in range(0, 50)]
    b1 = [(float(x),) for x in range(50, 100)]
    sink(spark.createDataFrame(b0, ["v"]), 0)
    sink(spark.createDataFrame(b1, ["v"]), 1)
    sink(spark.createDataFrame(b0, ["v"]), 0)  # replay: must not double

    stream_rows = spark.createDataFrame(b0 + b1, ["v"])
    ref_rows = spark.createDataFrame(
        [(float(x % 80),) for x in range(200)], ["v"]
    )
    merged = histogram_read_merged(spark, path).withColumnRenamed("n", "n_a")
    ref = histogram_counts(ref_rows, "v", 0.0, 100.0, 10).withColumnRenamed(
        "n", "n_b"
    )
    got = {
        r["bin"]: r
        for r in psi_from_counts(merged, ref, 0.0, 100.0, 10).collect()
    }
    want = {
        r["bin"]: r
        for r in psi_report(
            stream_rows, ref_rows, "v", lo=0.0, hi=100.0, bins=10
        ).collect()
    }
    assert set(got) == set(want) == set(range(10))
    for bin_id in got:
        assert got[bin_id]["n_a"] == want[bin_id]["n_a"]
        assert got[bin_id]["psi_term"] == want[bin_id]["psi_term"]
        assert got[bin_id]["psi"] == want[bin_id]["psi"]
    # the reference has no mass in bins 8-9 -> nonzero drift signal
    assert got[9]["psi"] > 0.1


def test_session_window_stream_matches_batch_twin(spark, landing, tmp_path):
    from flask_data_pipes_spark.streaming.stream import (
        session_window_agg,
        session_window_stream,
    )

    events = read_jsonl_stream(spark, landing, EVENTS_SCHEMA)
    sessions = session_window_stream(
        events, gap_seconds=1800, watermark="100 days"
    )
    _drain(sessions, str(tmp_path), "native_sessions_out")
    got = spark.sql("select * from native_sessions_out").collect()

    batch = session_window_agg(
        spark.read.schema(EVENTS_SCHEMA).json(landing), gap_seconds=1800
    ).collect()

    # availableNow replay with a 100-day watermark: the watermark never
    # passes any session end within the run, so append mode may hold
    # sessions in state — everything that DID emit must match the
    # batch twin exactly.
    batch_by_key = {
        (r["user_id"], str(r["session_start"])): (
            str(r["session_end"]), r["n_events"], r["total_value"],
        )
        for r in batch
    }
    for r in got:
        end, n, total = batch_by_key[(r["user_id"], str(r["session_start"]))]
        assert str(r["session_end"]) == end
        assert r["n_events"] == n
        assert abs(r["total_value"] - total) < 1e-6


def test_session_window_agg_vs_lag_formulation(spark, landing):
    """The native session_window twin and the lag+running-sum twin
    agree on every session's membership on real data (no exact-gap
    ties at microsecond resolution): same starts, counts, sums;
    native end = lag-twin end + gap."""
    from flask_data_pipes_spark.streaming.stream import session_window_agg

    df = spark.read.schema(EVENTS_SCHEMA).json(landing)
    native = {
        (r["user_id"], str(r["session_start"])): (
            str(r["session_end"]), r["n_events"], round(r["total_value"], 6),
        )
        for r in session_window_agg(df, gap_seconds=1800).collect()
    }
    lagged = {
        (r["user_id"], str(r["session_start"])): (
            str(
                r["session_end"]
                + __import__("datetime").timedelta(seconds=1800)
            ),
            r["n_events"], round(r["total_value"], 6),
        )
        for r in sessionize_batch(df, gap_seconds=1800).collect()
    }
    assert native == lagged


def test_ohlc_stream_matches_batch_twin(spark, landing, tmp_path):
    from flask_data_pipes_spark.operators.analytics import ohlc_bars
    from flask_data_pipes_spark.streaming.stream import ohlc_stream

    events = read_jsonl_stream(spark, landing, EVENTS_SCHEMA)
    bars = ohlc_stream(events, window_duration="1 hour", watermark="100 days")
    _drain(bars, str(tmp_path), "ohlc_out")
    got = {
        (r["event_type"], str(r["bar_start"])): (
            r["open"], r["high"], r["low"], r["close"],
            r["n_events"], round(r["total_value"], 6),
        )
        for r in spark.sql("select * from ohlc_out").collect()
    }
    batch = {
        (r["event_type"], str(r["bar_start"])): (
            r["open"], r["high"], r["low"], r["close"],
            r["n_events"], round(r["total_value"], 6),
        )
        for r in ohlc_bars(
            spark.read.schema(EVENTS_SCHEMA).json(landing),
            ts_col="ts", price_col="value", by="event_type", unit="hour",
        ).collect()
    }
    # append mode under a 100-day watermark: whatever emitted must
    # match the batch twin exactly (no bar can emit twice)
    assert len(got) == len(set(got))
    for key, vals in got.items():
        assert batch[key] == vals


def test_foreach_batch_kll_cross_batch_and_replay_exactly_once(spark, tmp_path):
    """Streaming KLL: per-batch sketch rows land in batch_id
    partitions, the merged sketch counts every stream row EXACTLY once
    (total weight == n even after a batch replay, thanks to dynamic
    partition overwrite — KLL merge adds weight, so the partition IS
    the exactly-once guard), and the merged quantiles are certified
    within the pure-Python sketch's error bound."""
    import random

    from flask_data_pipes_spark.operators.sketches import (
        KLLSketch,
        kll_quantiles,
    )
    from flask_data_pipes_spark.streaming.stream import (
        foreach_batch_kll,
        kll_read_merged,
    )

    rng = random.Random(5)
    b0 = [(float(rng.uniform(0, 100)),) for _ in range(400)]
    b1 = [(float(rng.uniform(50, 150)),) for _ in range(300)]
    path = str(tmp_path / "kll")
    sink = foreach_batch_kll(path, "x", k=64)
    sink(spark.createDataFrame(b0, "x double"), 0)
    sink(spark.createDataFrame(b1, "x double"), 1)
    sink(spark.createDataFrame(b0, "x double"), 0)  # replay of batch 0

    merged = kll_read_merged(spark, path, k=64)
    rows = kll_quantiles(merged, (0.1, 0.5, 0.9)).collect()
    data = sorted(x for (x,) in b0 + b1)
    n = len(data)
    assert all(r["n"] == n for r in rows)  # exactly-once despite replay
    # certify each estimate against a generous deterministic bound
    # (k=64 on 700 items: err_bound <= (log2(n)+1)*n/(k-1) ~ 115)
    import math

    cap = (math.log2(n) + 1) * n / 63
    for r in rows:
        true_rank = sum(1 for v in data if v <= r["value"])
        target = int(r["q"] * (n - 1)) + 1
        assert abs(true_rank - target) <= cap, (r, true_rank, target)


def test_foreach_batch_mg_cross_batch_and_replay_exactly_once(spark, tmp_path):
    """Streaming Misra-Gries: per-batch summaries land in batch_id
    partitions with batch-pinned build_ids, the merged read counts
    EXACTLY once after a replay (dynamic partition overwrite — MG merge
    adds counters AND decrements, so the partition is the exactly-once
    guard), and cross-batch decrements ADD so the certificate holds on
    the whole stream. Exact regime first (k >= distinct: stream == a
    single batch MG, dec == 0), then a decrement-forcing regime
    certifies est <= true <= est + dec against true stream counts."""
    from collections import Counter

    from flask_data_pipes_spark.operators.sketches import mg_topk
    from flask_data_pipes_spark.streaming.stream import (
        foreach_batch_mg,
        mg_read_merged,
    )

    # --- exact regime: k=32 >= 10 distinct items -> exact counts
    b0 = [(f"w{i % 10}",) for i in range(500)]
    b1 = [(f"w{i % 7}",) for i in range(350)]
    path = str(tmp_path / "mg")
    sink = foreach_batch_mg(path, "tok", k=32)
    sink(spark.createDataFrame(b0, "tok string"), 0)
    sink(spark.createDataFrame(b1, "tok string"), 1)
    sink(spark.createDataFrame(b0, "tok string"), 0)  # replay of batch 0

    merged = mg_read_merged(spark, path, k=32).collect()
    est = {r["item"]: r["cnt"] for r in merged}
    dec = merged[0]["dec"] if merged else 0
    true = Counter(t for (t,) in b0 + b1)
    assert dec == 0
    assert est == dict(true)  # exactly-once despite replay, exact at k>=D
    top = mg_topk(mg_read_merged(spark, path, k=32), 3).collect()
    assert top[0]["item"] == true.most_common(1)[0][0]
    assert top[0]["est_max"] == top[0]["est"]

    # --- decrement regime: k=4 < distinct -> certificate on the union
    c0 = [(f"a{i % 7}",) for i in range(400)] + [("hot",)] * 250
    c1 = [(f"b{i % 9}",) for i in range(300)] + [("hot",)] * 150
    path2 = str(tmp_path / "mg2")
    sink2 = foreach_batch_mg(path2, "tok", k=4)
    sink2(spark.createDataFrame(c0, "tok string"), 0)
    sink2(spark.createDataFrame(c1, "tok string"), 1)
    sink2(spark.createDataFrame(c1, "tok string"), 1)  # replay of batch 1

    merged2 = mg_read_merged(spark, path2, k=4).collect()
    est2 = {r["item"]: r["cnt"] for r in merged2}
    dec2 = merged2[0]["dec"] if merged2 else 0
    true2 = Counter(t for (t,) in c0 + c1)
    n = sum(true2.values())
    assert 0 < dec2 <= n / 5
    for it, t in true2.items():
        e = est2.get(it, 0)
        assert e <= t <= e + dec2, (it, e, t, dec2)
        if t > dec2:
            assert it in est2
    assert "hot" in est2  # 400 occurrences, guaranteed present


def test_foreach_batch_mg_wipe_batch_keeps_certificate(spark, tmp_path):
    """A micro-batch whose every partition sketch wipes to empty
    counters (k+1 distinct items cycling) must still contribute its
    decrement totals through the sink's parquet rows (the round-11
    null-item dec sentinels) — otherwise the merged stream read would
    certify estimates it cannot honor."""
    from collections import Counter

    from flask_data_pipes_spark.streaming.stream import (
        foreach_batch_mg,
        mg_read_merged,
    )

    k = 4
    # 5 distinct items cycling, length % 5 == 0 -> wipes every round
    b0 = [(f"w{i % 5}",) for i in range(200)]
    b1 = [("x",)] * 60 + [(f"w{i % 5}",) for i in range(40)]
    path = str(tmp_path / "mgw")
    sink = foreach_batch_mg(path, "tok", k=k)
    sink(spark.createDataFrame(b0, "tok string").coalesce(1), 0)
    sink(spark.createDataFrame(b1, "tok string").coalesce(1), 1)
    sink(spark.createDataFrame(b0, "tok string").coalesce(1), 0)  # replay

    raw = spark.read.parquet(path).collect()
    # batch 0's single partition wiped: its row is the dec sentinel
    b0_rows = [r for r in raw if r["sid"].startswith("b0-")]
    assert len(b0_rows) == 1 and b0_rows[0]["item"] is None
    assert b0_rows[0]["dec"] == 40  # 200 / 5 decrement rounds
    merged = mg_read_merged(spark, path, k=k).collect()
    dec = merged[0]["dec"] if merged else 0
    est = {r["item"]: r["cnt"] for r in merged if r["item"] is not None}
    true = Counter(t for (t,) in b0 + b1)
    for it, t in true.items():
        e = est.get(it, 0)
        assert e <= t <= e + dec, (it, e, t, dec)
    assert "x" in est  # 60 > dec's per-item slack keeps the heavy item


def test_foreach_batch_lsh_dedup_cross_batch_and_replay(spark, tmp_path):
    """Streaming NEAR-dup dedup over the persistent LSH index: batch 0
    builds the index from its own survivors, later batches keep only
    LSH-novel docs, and replaying a batch overwrites its own two
    partitions with the identical survivor set (exactly-once on both
    the index and the output)."""
    from flask_data_pipes_spark.streaming.stream import (
        foreach_batch_lsh_dedup,
        read_jsonl_stream,
    )

    texts = {
        0: "the quick brown fox jumps over the lazy dog near the river",
        1: "pack my box with five dozen liquor jugs before the winter",
        # near-dup of 0, same batch -> loses to smaller id
        2: "the quick brown fox jumps over the lazy dog near the rivers",
        # batch 1: near-dup of 0 (cross-batch) + novel
        10: "the quick brown fox jumps over the lazy cat near the river",
        11: "completely novel text about distributed query plan engines",
        # batch 2: near-dup of batch-1 survivor 11
        20: "completely novel text about distributed query plan engine",
    }
    batches = [[0, 1, 2], [10, 11], [20]]
    land = tmp_path / "land"
    land.mkdir()
    for i, ids in enumerate(batches):
        (land / f"b{i}.jsonl").write_text(
            "\n".join(
                json.dumps({"doc_id": d, "text": texts[d]}) for d in ids
            )
        )

    idx = str(tmp_path / "lsh_idx")
    out = str(tmp_path / "out")
    stream = read_jsonl_stream(
        spark, str(land), "doc_id long, text string",
        max_files_per_trigger=1,
    )
    sink = foreach_batch_lsh_dedup(idx, out_path=out)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_lsh"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    kept = sorted(r["doc_id"] for r in spark.read.parquet(out).collect())
    assert kept == [0, 1, 11]  # 2 lost in-batch, 10 vs index, 20 vs 11
    bands = spark.read.parquet(f"{idx}/bands")
    assert sorted(
        r["doc_id"] for r in bands.select("doc_id").distinct().collect()
    ) == [0, 1, 11]

    # replay batch 1 verbatim: identical state after (no growth)
    n_bands = bands.count()
    replay = spark.createDataFrame(
        [(d, texts[d]) for d in batches[1]], "doc_id long, text string"
    )
    sink(replay, 1)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out).collect()
    ) == [0, 1, 11]
    assert spark.read.parquet(f"{idx}/bands").count() == n_bands


def test_foreach_batch_kn_score_matches_batch_and_replays(spark, tmp_path):
    """Streaming quality scoring under a SAVED KN model (the round-13
    train-on-A-score-B split's streaming half): every micro-batch's
    scores equal the batch-side kn_score under the same loaded model,
    the optional bits-per-token keep-filter applies inline, and a
    replayed batch overwrites its own partition with identical rows
    (stateless scoring => exactly-once by construction)."""
    from flask_data_pipes_spark.operators.corpus import (
        kn_model,
        kn_model_save,
        kn_score,
    )
    from flask_data_pipes_spark.streaming.stream import (
        foreach_batch_kn_score,
        read_jsonl_stream,
    )

    train = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),
            (1, "the dog sat on the rug"),
            (2, "the cat ate the fish"),
            (3, "a dog chased the cat around the garden"),
        ],
        "doc_id long, text string",
    )
    mpath = str(tmp_path / "kn_model")
    kn_model_save(spark, kn_model(train), mpath)

    texts = {
        10: "the cat sat on the rug",
        11: "a zebra chased the dog",
        20: "the dog ate the fish near the garden",
        21: "garden mat fish dog cat",
    }
    batches = [[10, 11], [20, 21]]
    land = tmp_path / "land"
    land.mkdir()
    for i, ids in enumerate(batches):
        (land / f"b{i}.jsonl").write_text(
            "\n".join(
                json.dumps({"doc_id": d, "text": texts[d]}) for d in ids
            )
        )
    out = str(tmp_path / "scored")
    stream = read_jsonl_stream(
        spark, str(land), "doc_id long, text string",
        max_files_per_trigger=1,
    )
    sink = foreach_batch_kn_score(mpath, out)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_kn"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"]: (
            r["n_tokens"], r["n_unseen"], r["avg_logp"], r["bits_per_token"]
        )
        for r in spark.read.parquet(out).collect()
    }
    all_docs = spark.createDataFrame(
        [(d, t) for d, t in texts.items()], "doc_id long, text string"
    )
    from flask_data_pipes_spark.operators.corpus import kn_model_load

    want = {
        r["doc_id"]: (
            r["n_tokens"], r["n_unseen"], r["avg_logp"], r["bits_per_token"]
        )
        for r in kn_score(all_docs, kn_model_load(spark, mpath)).collect()
    }
    assert got == want

    # replay batch 0 verbatim (crash-retry): identical rows, no growth
    replay = spark.createDataFrame(
        [(d, texts[d]) for d in batches[0]], "doc_id long, text string"
    )
    sink(replay, 0)
    got2 = {
        r["doc_id"]: (
            r["n_tokens"], r["n_unseen"], r["avg_logp"], r["bits_per_token"]
        )
        for r in spark.read.parquet(out).collect()
    }
    assert got2 == want

    # inline keep-filter: only docs at or under the cut land
    out2 = str(tmp_path / "filtered")
    cut = sorted(v[3] for v in want.values())[1]  # keep the 2 best
    fsink = foreach_batch_kn_score(mpath, out2, max_bits_per_token=cut)
    for i, ids in enumerate(batches):
        fsink(
            spark.createDataFrame(
                [(d, texts[d]) for d in ids], "doc_id long, text string"
            ),
            i,
        )
    kept = sorted(r["doc_id"] for r in spark.read.parquet(out2).collect())
    assert kept == sorted(
        d for d, v in want.items() if v[3] <= cut
    )


def test_foreach_batch_lr_score_matches_batch_and_replays(spark, tmp_path):
    """Streaming quality scoring under a SAVED LR classifier — the
    ninth sink (VERDICT r13 "What's missing" #5): every micro-batch's
    scores equal the batch-side lr_score under the same loaded model,
    the optional min_p keep-filter applies inline, and a replayed
    batch overwrites its own partition with identical rows (the
    scorer is a pure expression => exactly-once by construction)."""
    from flask_data_pipes_spark.operators.classifier import (
        lr_model_load,
        lr_model_save,
        lr_score,
        lr_train_hashed,
    )
    from flask_data_pipes_spark.streaming.stream import (
        foreach_batch_lr_score,
        read_jsonl_stream,
    )
    from pyspark.sql import functions as F

    train = spark.createDataFrame(
        [
            (0, "clean careful prose with structure and citations", 1),
            (1, "well written paragraph about careful methodology", 1),
            (2, "buy now click here spam spam offer", 0),
            (3, "click click spam offer free free now", 0),
        ],
        "doc_id long, text string, y int",
    )
    mpath = str(tmp_path / "lr_model")
    lr_model_save(
        spark, lr_train_hashed(train, "y", n_features=32, iters=4), mpath
    )

    texts = {
        10: "careful prose with citations and structure",
        11: "spam offer click now free",
        20: "a written paragraph about methodology",
        21: "buy buy click offer spam",
    }
    batches = [[10, 11], [20, 21]]
    land = tmp_path / "lr_land"
    land.mkdir()
    for i, ids in enumerate(batches):
        (land / f"b{i}.jsonl").write_text(
            "\n".join(
                json.dumps({"doc_id": d, "text": texts[d]}) for d in ids
            )
        )
    out = str(tmp_path / "lr_scored")
    stream = read_jsonl_stream(
        spark, str(land), "doc_id long, text string",
        max_files_per_trigger=1,
    )
    sink = foreach_batch_lr_score(mpath, out)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt_lr"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        r["doc_id"]: r["p"] for r in spark.read.parquet(out).collect()
    }
    all_docs = spark.createDataFrame(
        [(d, t) for d, t in texts.items()], "doc_id long, text string"
    )
    model = lr_model_load(spark, mpath)
    want = {
        r["doc_id"]: r["p"]
        for r in all_docs.select(
            "doc_id", lr_score(F.col("text"), model).alias("p")
        ).collect()
    }
    assert got == want
    # the classifier actually separates: quality docs above spam docs
    assert min(want[10], want[20]) > max(want[11], want[21])

    # replay batch 0 verbatim (crash-retry): identical rows, no growth
    replay = spark.createDataFrame(
        [(d, texts[d]) for d in batches[0]], "doc_id long, text string"
    )
    sink(replay, 0)
    got2 = {
        r["doc_id"]: r["p"] for r in spark.read.parquet(out).collect()
    }
    assert got2 == want

    # inline keep-filter: only docs at or above the cut land
    out2 = str(tmp_path / "lr_filtered")
    cut = sorted(want.values(), reverse=True)[1]  # keep the 2 best
    fsink = foreach_batch_lr_score(mpath, out2, min_p=cut)
    for i, ids in enumerate(batches):
        fsink(
            spark.createDataFrame(
                [(d, texts[d]) for d in ids], "doc_id long, text string"
            ),
            i,
        )
    kept = sorted(
        r["doc_id"] for r in spark.read.parquet(out2).collect()
    )
    assert kept == sorted(
        d for d, p in want.items() if p >= cut
    ) and len(kept) == 2


# --- round 15: streaming crawl ingest + auto-compaction ---------------------


def _warc_wet(rid, text):
    return (
        {
            "WARC-Type": "conversion",
            "WARC-Record-ID": f"<urn:uuid:{rid}>",
            "WARC-Target-URI": f"https://crawl.example.com/{rid}",
            "WARC-Date": "2024-01-01T00:00:00Z",
            "Content-Type": "text/plain",
        },
        text.encode("utf-8"),
    )


def _warc_page(rid, prose):
    html = (
        "<html><head><script>var x=1;</script></head><body>"
        f"<nav><a href='/'>home</a></nav><p>{prose}</p></body></html>"
    )
    http = (
        b"HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n"
        + html.encode("utf-8")
    )
    return (
        {
            "WARC-Type": "response",
            "WARC-Record-ID": f"<urn:uuid:{rid}>",
            "WARC-Target-URI": f"https://crawl.example.com/{rid}.html",
            "WARC-Date": "2024-01-01T00:00:00Z",
            "Content-Type": "application/http; msgtype=response",
        },
        http,
    )


def test_foreach_batch_warc_score_stream_equals_batch_and_replays(
    spark, tmp_path
):
    """The TENTH sink (round 15): raw archives land in a drop zone,
    the stream parses them from bytes (WET + HTML-extracted response
    records), cleans, scores under a saved KN model with the inline
    keep-filter, and lands exactly-once — stream output equals the
    batch-side composition on the same archives, and a replayed batch
    overwrites its own partition with identical rows."""
    from flask_data_pipes_spark.functions.html_text import html_main_text
    from flask_data_pipes_spark.functions.text import unicode_clean
    from flask_data_pipes_spark.operators.corpus import (
        kn_model,
        kn_model_load,
        kn_model_save,
        kn_score,
    )
    from flask_data_pipes_spark.sources.warc import (
        build_warc_bytes,
        warc_html_documents,
        warc_records,
        wet_documents,
    )
    from flask_data_pipes_spark.streaming.stream import (
        foreach_batch_warc_score,
        read_warc_stream,
    )

    train = spark.createDataFrame(
        [
            (0, "the cat sat on the mat"),
            (1, "the dog sat on the rug"),
            (2, "the cat ate the fish and the dog watched the cat"),
        ],
        "doc_id long, text string",
    )
    mpath = str(tmp_path / "kn")
    kn_model_save(spark, kn_model(train), mpath)

    drop = tmp_path / "dropzone"
    drop.mkdir()
    a0 = build_warc_bytes(
        [
            _warc_wet("w0", "the cat sat on the rug"),
            _warc_page("h0", "the dog sat on the mat near the fish bowl"),
        ],
        member_gzip=True,
    )
    a1 = build_warc_bytes(
        [
            _warc_wet("w1", "zebra quantum flux unrelated tokens"),
            _warc_wet("w2", "the dog ate the fish"),
        ]
    )
    (drop / "arch-0.warc.gz").write_bytes(a0)

    out = str(tmp_path / "scored")
    sink = foreach_batch_warc_score(
        mpath, out, kind="kn", min_line_chars=1
    )
    stream = read_warc_stream(spark, str(drop), max_files_per_trigger=1)
    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # second archive lands later -> second run, second batch
    (drop / "arch-1.warc").write_bytes(a1)
    q2 = (
        read_warc_stream(spark, str(drop), max_files_per_trigger=1)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)

    got = {
        r["doc_id"]: (r["text"], round(r["bits_per_token"], 6))
        for r in spark.read.parquet(out).collect()
    }

    # batch-side composition over the same archives
    recs = warc_records(spark, str(drop))
    docs = wet_documents(recs).unionByName(
        warc_html_documents(recs).select(
            "doc_id",
            "url",
            "fetched_at",
            html_main_text(F.col("html"), min_line_chars=1).alias("text"),
        )
    )
    docs = docs.select(
        "doc_id", unicode_clean("text").alias("text")
    ).where(F.length(F.trim("text")) > 0)
    scored = kn_score(
        docs, kn_model_load(spark, mpath), id_col="doc_id"
    )
    want = {
        r["doc_id"]: round(r["bits_per_token"], 6)
        for r in scored.collect()
    }
    assert set(got) == set(want) and len(got) == 4
    assert {k: v[1] for k, v in got.items()} == want

    # exactly-once: replay batch 0 (the first archive's path) verbatim
    batch0 = spark.createDataFrame(
        [(f"file:{drop}/arch-0.warc.gz",)], "path string"
    )
    sink(batch0, 0)
    got2 = {
        r["doc_id"]: (r["text"], round(r["bits_per_token"], 6))
        for r in spark.read.parquet(out).collect()
    }
    assert got2 == got

    # the keep-filter bites inline
    cut = sorted(want.values())[1]
    out2 = str(tmp_path / "filtered")
    fsink = foreach_batch_warc_score(
        mpath, out2, kind="kn", min_line_chars=1, max_bits_per_token=cut
    )
    fsink(
        spark.createDataFrame(
            [
                (f"file:{drop}/arch-0.warc.gz",),
                (f"file:{drop}/arch-1.warc",),
            ],
            "path string",
        ),
        0,
    )
    kept = sorted(
        r["doc_id"] for r in spark.read.parquet(out2).collect()
    )
    assert kept == sorted(d for d, v in want.items() if v <= cut)

    # LR flavor: stateless expression scoring, same plumbing
    from flask_data_pipes_spark.operators.classifier import (
        lr_model_save,
        lr_train_hashed,
    )

    labeled = train.withColumn(
        "y", (F.col("doc_id") % 2 == 0).cast("int")
    )
    lpath = str(tmp_path / "lr")
    lr_model_save(
        spark, lr_train_hashed(labeled, "y", n_features=32, iters=2), lpath
    )
    out3 = str(tmp_path / "lr_scored")
    lsink = foreach_batch_warc_score(lpath, out3, kind="lr", min_line_chars=1)
    lsink(batch0, 0)
    lr_rows = spark.read.parquet(out3).collect()
    assert len(lr_rows) == 2 and all(0.0 <= r["p"] <= 1.0 for r in lr_rows)


def test_lsh_dedup_sink_auto_compaction(spark, tmp_path):
    """round 15 (VERDICT r14 "What's missing" #4): with
    compact_every=2 the band table folds into one consolidated
    partition every second batch — probe results identical to an
    uncompacted twin, partition count bounded, and a replayed
    pre-compaction batch converges exactly-once."""
    from flask_data_pipes_spark.operators.dedup import (
        _lsh_index_bands_path,
        lsh_index_match,
    )
    from flask_data_pipes_spark.streaming.stream import (
        _LSH_COMPACT_BASE,
        foreach_batch_lsh_dedup,
    )

    texts = {
        0: "the quick brown fox jumps over the lazy dog tonight",
        1: "pack my box with five dozen liquor jugs right now",
        2: "the quick brown fox jumps over the lazy dog tonight",  # dup of 0
        3: "sphinx of black quartz judge my vow completely today",
        4: "how vexingly quick daft zebras jump around the farm",
        5: "pack my box with five dozen liquor jugs right now",  # dup of 1
    }

    def bdf(ids):
        return spark.createDataFrame(
            [(i, texts[i]) for i in ids], "doc_id long, text string"
        )

    idx_a = str(tmp_path / "idx_a")  # compacting
    idx_b = str(tmp_path / "idx_b")  # twin without compaction
    out_a = str(tmp_path / "out_a")
    sink_a = foreach_batch_lsh_dedup(
        idx_a, out_path=out_a, compact_every=2
    )
    sink_b = foreach_batch_lsh_dedup(idx_b)
    batches = [[0, 1], [2, 3], [4, 5]]
    for i, ids in enumerate(batches):
        sink_a(bdf(ids), i)
        sink_b(bdf(ids), i)

    def parts(idx):
        import os as _os

        bp = _lsh_index_bands_path(idx)
        local = bp[5:] if bp.startswith("file:") else bp
        return sorted(
            d for d in _os.listdir(local) if d.startswith("batch_id=")
        )

    # after batch 1 compaction: {compacted}; batch 2 appended its own
    assert parts(idx_a) == [
        f"batch_id={_LSH_COMPACT_BASE + 1}",
        "batch_id=2",
    ]
    probe = bdf(list(texts))
    ra = {
        (r["doc_id"], r["n_index_bands"] > 0, r["first_match"])
        for r in lsh_index_match(spark, idx_a, probe).collect()
    }
    rb = {
        (r["doc_id"], r["n_index_bands"] > 0, r["first_match"])
        for r in lsh_index_match(spark, idx_b, probe).collect()
    }
    assert ra == rb  # probe-identical to the uncompacted twin

    # survivors written: dups 2 and 5 never landed
    import os as _os

    kept = sorted(
        r["doc_id"] for r in spark.read.parquet(out_a).collect()
    )
    assert kept == [0, 1, 3, 4]

    # replay batch 0 (pre-compaction) verbatim: its bands re-append as
    # probe-invisible duplicates, outputs unchanged, next compaction
    # sweeps them
    sink_a(bdf(batches[0]), 0)
    assert sorted(
        r["doc_id"] for r in spark.read.parquet(out_a).collect()
    ) == [0, 1, 3, 4]
    ra2 = {
        (r["doc_id"], r["n_index_bands"] > 0, r["first_match"])
        for r in lsh_index_match(spark, idx_a, probe).collect()
    }
    assert ra2 == ra
    sink_a(bdf([1]), 3)  # batch 3 triggers the next compaction
    assert parts(idx_a) == [f"batch_id={_LSH_COMPACT_BASE + 3}"]
    ra3 = {
        (r["doc_id"], r["n_index_bands"] > 0, r["first_match"])
        for r in lsh_index_match(spark, idx_a, probe).collect()
    }
    assert ra3 == ra


def test_training_shards_sink_auto_compaction_and_replays(spark, tmp_path):
    """The ELEVENTH sink (round 15): packed batches land as
    generations on the interleaved id clock, auto-compaction keeps the
    generation count bounded, verify stays green, and replays are
    exactly-once in every window — including a replay of a batch whose
    generation was already folded away (skipped, not duplicated)."""
    import os as _os

    from flask_data_pipes_spark.operators.corpus import (
        compaction_watermark,
        read_training_shards,
        verify_training_shards,
    )
    from flask_data_pipes_spark.streaming.stream import (
        foreach_batch_training_shards,
    )

    def packed(lo, n):
        return spark.createDataFrame(
            [(lo + i, 0, [lo + i, lo + i + 1], 2) for i in range(n)],
            "grp int, seq_idx long, ids array<int>, n_tokens int",
        )

    path = str(tmp_path / "shards")
    sink = foreach_batch_training_shards(
        path, n_shards=3, compact_every=2
    )
    batches = {0: packed(0, 5), 1: packed(100, 4), 2: packed(200, 3)}
    for i in range(3):
        sink(batches[i], i)

    def rows():
        return sorted(
            (r["grp"], tuple(r["ids"]))
            for r in read_training_shards(spark, path).collect()
        )

    want = sorted(
        (lo + i, (lo + i, lo + i + 1))
        for lo, n in ((0, 5), (100, 4), (200, 3))
        for i in range(n)
    )
    assert rows() == want
    assert all(
        r["ok"] for r in verify_training_shards(spark, path).collect()
    )
    # batch 1's compaction folded gens {0, 2} into gen 3; batch 2
    # appended gen 4
    gens = sorted(
        int(d.split("=")[1])
        for d in _os.listdir(path + "/data")
        if d.startswith("gen=")
    )
    assert gens == [3, 4]
    assert compaction_watermark(spark, path) == 2

    # replay of a FOLDED batch (0 or 1) is skipped — no duplication
    sink(batches[0], 0)
    sink(batches[1], 1)
    assert rows() == want
    # replay of the un-folded batch 2 overwrites its own generation
    sink(batches[2], 2)
    assert rows() == want
    assert all(
        r["ok"] for r in verify_training_shards(spark, path).collect()
    )
    # batch 3 compacts again: gens fold to {7}, new appends continue
    sink(packed(300, 2), 3)
    gens2 = sorted(
        int(d.split("=")[1])
        for d in _os.listdir(path + "/data")
        if d.startswith("gen=")
    )
    assert gens2 == [7]
    assert rows() == sorted(
        want + [(300, (300, 301)), (301, (301, 302))]
    )
    assert all(
        r["ok"] for r in verify_training_shards(spark, path).collect()
    )

"""Streaming tests: debounce coalescing + the event-driven incremental
pipeline (memory/file sources drive a real Structured Streaming query)."""

import json
import pytest
import os
import time
from datetime import datetime, timezone

from pyspark.sql import functions as F

from claude_code_memory_spark.streaming.debounce import coalesce_events, debounced_stream


def test_coalesce_last_event_wins(spark):
    events = spark.createDataFrame(
        [
            ("2024-01-01 00:00:00", "created", "a.py", "h1"),
            ("2024-01-01 00:00:01", "modified", "a.py", "h2"),
            ("2024-01-01 00:00:02", "modified", "a.py", "h3"),
            ("2024-01-01 00:00:00", "created", "b.py", "h9"),
        ],
        "event_time string, event_type string, file_path string, sha256 string",
    ).withColumn("event_time", F.to_timestamp("event_time"))
    got = {r["file_path"]: r["sha256"] for r in coalesce_events(events).collect()}
    assert got == {"a.py": "h3", "b.py": "h9"}


def test_debounced_stream_drops_duplicates(spark, tmp_path):
    """Burst of N duplicate events for one file within the window → the
    streaming query emits each (path, hash) once (ST3)."""
    events_dir = tmp_path / "events"
    events_dir.mkdir()
    rows = [
        {"event_time": "2024-01-01T00:00:00.000Z", "event_type": "modified",
         "file_path": "a.py", "sha256": "h1"},
        {"event_time": "2024-01-01T00:00:00.500Z", "event_type": "modified",
         "file_path": "a.py", "sha256": "h1"},  # duplicate burst
        {"event_time": "2024-01-01T00:00:01.000Z", "event_type": "modified",
         "file_path": "b.py", "sha256": "h2"},
    ]
    with open(events_dir / "batch1.json", "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")

    from claude_code_memory_spark.streaming.pipeline import file_event_stream

    stream = debounced_stream(file_event_stream(spark, str(events_dir)))
    q = (
        stream.writeStream.format("memory")
        .queryName("debounced_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT file_path, sha256 FROM debounced_out").collect()
    finally:
        q.stop()
    pairs = sorted((r["file_path"], r["sha256"]) for r in out)
    assert pairs == [("a.py", "h1"), ("b.py", "h2")]


@pytest.mark.slow
def test_streaming_incremental_index(spark, temp_repo, tmp_path):
    """ST4 end-to-end: an event file lands → foreachBatch re-enters the
    batch pipeline → new entity appears in the store."""
    from claude_code_memory_spark.api import CodeMemoryEngine
    from claude_code_memory_spark.streaming.pipeline import start_watch

    eng = CodeMemoryEngine(spark, str(tmp_path / "store"))
    eng.index(temp_repo)
    assert eng.store.read("entities").filter(F.col("entity_name") == "added_fn").count() == 0

    # mutate the project, then emit the corresponding event
    with open(os.path.join(temp_repo, "main.py"), "a") as fh:
        fh.write("\ndef added_fn():\n    return 7\n")
    events_dir = tmp_path / "events"
    events_dir.mkdir()
    ev = {
        "event_time": datetime.now(timezone.utc).isoformat(),
        "event_type": "modified",
        "file_path": "main.py",
        "sha256": "new",
    }
    q = start_watch(eng, str(events_dir), temp_repo, quiet_seconds=1)
    try:
        with open(events_dir / "ev1.json", "w") as fh:
            fh.write(json.dumps(ev) + "\n")
        deadline = time.time() + 60
        found = False
        while time.time() < deadline and not found:
            q.processAllAvailable()
            found = (
                eng.store.read("entities").filter(F.col("entity_name") == "added_fn").count() == 1
            )
            if not found:
                time.sleep(1)
    finally:
        q.stop()
    assert found


def test_streaming_tumbling_window_with_watermark(spark, tmp_path):
    """Event-time tumbling windows with a watermark: a window is appended
    only once the watermark (max event time - delay) passes its end —
    late-data semantics the reference's wall-clock watcher cannot express
    (batch twin: tumbling_window_counts)."""
    src = tmp_path / "win_events"
    src.mkdir()

    def write(fname, rows):
        with open(src / fname, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    write("b1.jsonl", [
        {"ts": "2024-01-01T00:00:05.000Z", "event_type": "click", "value": 1.0},
        {"ts": "2024-01-01T00:00:40.000Z", "event_type": "click", "value": 2.0},
        {"ts": "2024-01-01T00:00:50.000Z", "event_type": "view", "value": 5.0},
    ])
    write("b2.jsonl", [
        # 5 minutes later: watermark (max ts - 10s) passes the first window
        {"ts": "2024-01-01T00:05:00.000Z", "event_type": "click", "value": 9.0},
    ])
    now = time.time()
    os.utime(src / "b1.jsonl", (now - 10, now - 10))
    os.utime(src / "b2.jsonl", (now, now))

    from pyspark.sql import functions as F2

    stream = (
        spark.readStream.schema("ts timestamp, event_type string, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    agg = (
        stream.withWatermark("ts", "10 seconds")
        .groupBy(F2.window("ts", "1 minute").alias("w"), "event_type")
        .agg(F2.count("*").alias("n"), F2.sum("value").alias("total"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("win_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "win_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {(r["event_type"], r["w"].start.second): (r["n"], r["total"])
                for r in spark.sql("select * from win_out").collect()}
        # only the minute-0 windows are finalized; the minute-5 window is
        # still open (watermark has not passed its end)
        assert rows == {("click", 0): (2, 3.0), ("view", 0): (1, 5.0)}
    finally:
        q.stop()


def test_streaming_session_window_by_inactivity(spark, tmp_path):
    """ST8 in its Spark-native form: `session_window(ts, gap)` closes a
    session when event-time inactivity exceeds the gap, and the watermark
    finalizes it (append mode emits only closed sessions). The reference's
    chat sessionization (chat/parser.py:272-288) is this with a 1-hour gap
    on wall-clock; event-time + watermark is the at-scale-correct version."""
    src = tmp_path / "sess_events"
    src.mkdir()

    def write(fname, rows):
        with open(src / fname, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")

    write("b1.jsonl", [
        {"ts": "2024-01-01T00:00:00.000Z", "user_id": 1, "value": 1.0},
        {"ts": "2024-01-01T00:00:10.000Z", "user_id": 1, "value": 2.0},
        {"ts": "2024-01-01T00:02:00.000Z", "user_id": 1, "value": 4.0},
    ])
    write("b2.jsonl", [
        # far-future event advances the watermark past both earlier sessions
        {"ts": "2024-01-01T00:10:00.000Z", "user_id": 2, "value": 8.0},
    ])
    now = time.time()
    os.utime(src / "b1.jsonl", (now - 10, now - 10))
    os.utime(src / "b2.jsonl", (now, now))

    from pyspark.sql import functions as F2

    stream = (
        spark.readStream.schema("ts timestamp, user_id long, value double")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    agg = (
        stream.withWatermark("ts", "10 seconds")
        .groupBy(F2.session_window("ts", "30 seconds").alias("s"), "user_id")
        .agg(F2.count("*").alias("n"), F2.sum("value").alias("total"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_out")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "sess_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {
            (r["user_id"], r["s"].start.minute): (r["n"], r["total"])
            for r in spark.sql("select * from sess_out").collect()
        }
        # session 1: events at :00 and :10 merge (gap < 30s), closes at :40
        # session 2: the :02:00 event alone
        # user 2's 00:10 session is still open → not emitted
        assert rows == {(1, 0): (2, 3.0), (1, 2): (1, 4.0)}
    finally:
        q.stop()


def test_dedup_within_watermark_collapses_redelivery(spark, tmp_path):
    """ST3 with key-only state: the same (path, hash) redelivered at
    DIFFERENT event times collapses to one row — the at-least-once feed
    semantics plain dropDuplicates(key + event_time) cannot give."""
    from claude_code_memory_spark.streaming.debounce import (
        deduped_stream_within_watermark,
    )
    from claude_code_memory_spark.streaming.pipeline import file_event_stream

    events_dir = tmp_path / "events_wm"
    events_dir.mkdir()
    rows = [
        {"event_time": "2024-01-01T00:00:00.000Z", "event_type": "modified",
         "file_path": "a.py", "sha256": "h1"},
        {"event_time": "2024-01-01T00:00:03.000Z", "event_type": "modified",
         "file_path": "a.py", "sha256": "h1"},  # redelivery, later timestamp
        {"event_time": "2024-01-01T00:00:05.000Z", "event_type": "modified",
         "file_path": "a.py", "sha256": "h2"},  # real new content
    ]
    with open(events_dir / "batch1.json", "w") as fh:
        for r in rows:
            fh.write(json.dumps(r) + "\n")

    stream = deduped_stream_within_watermark(
        file_event_stream(spark, str(events_dir)), watermark="10 seconds"
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("wm_dedup_out")
        .outputMode("append")
        .start()
    )
    try:
        q.processAllAvailable()
        out = spark.sql("SELECT file_path, sha256 FROM wm_dedup_out").collect()
    finally:
        q.stop()
    pairs = sorted((r["file_path"], r["sha256"]) for r in out)
    assert pairs == [("a.py", "h1"), ("a.py", "h2")]


def test_stream_static_broadcast_enrichment(spark, tmp_path):
    """Stream-static join: a streaming fact enriched against a static
    dimension — planned as a broadcast join per micro-batch, the
    standard dimension-enrichment shape (no state store involved)."""
    dim = spark.createDataFrame(
        [(1, "EU"), (2, "US")], "region_id long, region string"
    )
    src = tmp_path / "ss_events"
    src.mkdir()
    with open(src / "e1.jsonl", "w") as f:
        for r in ({"region_id": 1, "v": 10.0}, {"region_id": 2, "v": 5.0},
                  {"region_id": 9, "v": 1.0}):
            f.write(json.dumps(r) + "\n")
    stream = spark.readStream.schema("region_id long, v double").json(str(src))
    enriched = stream.join(F.broadcast(dim), "region_id", "left")
    q = (
        enriched.writeStream.format("memory")
        .queryName("ss_enriched")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {r["region_id"]: r for r in spark.sql("SELECT * FROM ss_enriched").collect()}
        assert rows[1]["region"] == "EU" and rows[2]["region"] == "US"
        assert rows[9]["region"] is None  # unmatched key kept (left join)
    finally:
        q.stop()


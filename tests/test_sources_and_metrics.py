"""Format-parity batch scans (B3), stream-stream join (B11), and the
engine's pull-based status surface: pipeline_query_stats (B2st, A14)
and progress()."""

from __future__ import annotations

import sys
import threading
import time
import uuid

import pytest
from pyspark.sql import functions as F

from pipeline_kinesis_spark.engine import Engine

from pipeline_kinesis_spark.sources.batch_formats import read_table
from pipeline_kinesis_spark.sources.file_replay import (
    FileReplaySource,
    write_record_file,
)


def test_csv_json_scan_parity(spark, sf_dir, tmp_path):
    """The same relation scanned as parquet, csv, and json yields the
    same rows."""
    pq = read_table(spark, f"{sf_dir}/nation.parquet", "parquet")
    csv_dir, json_dir = str(tmp_path / "csv"), str(tmp_path / "json")
    pq.write.option("header", True).csv(csv_dir)
    pq.write.json(json_dir)

    schema = "n_nationkey INT, n_name STRING, n_regionkey INT"
    got_csv = read_table(spark, csv_dir, "csv", schema=schema)
    got_json = read_table(spark, json_dir, "json", schema=schema)
    expect = {tuple(r) for r in pq.collect()}
    assert {tuple(r) for r in got_csv.collect()} == expect
    assert {tuple(r) for r in got_json.select(pq.columns).collect()} == expect


def test_stream_stream_join(spark, tmp_path):
    """B11: two live streams joined on key within a watermarked time
    bound — the streaming form of the as-of/interval join."""
    left_dir, right_dir = str(tmp_path / "l"), str(tmp_path / "r")
    name = f"ssj_{uuid.uuid4().hex[:8]}"
    write_record_file(
        left_dir,
        [
            {"data": "click1", "partition_key": "u1",
             "approximate_arrival_timestamp": "2024-01-01T10:00:00"},
            {"data": "click2", "partition_key": "u2",
             "approximate_arrival_timestamp": "2024-01-01T10:01:00"},
        ],
    )
    write_record_file(
        right_dir,
        [
            {"data": "buy1", "partition_key": "u1",
             "approximate_arrival_timestamp": "2024-01-01T10:02:00"},
            {"data": "buy_far", "partition_key": "u2",
             "approximate_arrival_timestamp": "2024-01-01T11:30:00"},
        ],
    )
    l = (
        FileReplaySource(left_dir)
        .read_stream(spark)
        .selectExpr(
            "partition_key AS user",
            "data AS click",
            "approximate_arrival_timestamp AS click_ts",
        )
        .withWatermark("click_ts", "10 minutes")
    )
    r = (
        FileReplaySource(right_dir)
        .read_stream(spark)
        .selectExpr(
            "partition_key AS buser",
            "data AS buy",
            "approximate_arrival_timestamp AS buy_ts",
        )
        .withWatermark("buy_ts", "10 minutes")
    )
    joined = l.join(
        r,
        F.expr(
            "user = buser AND buy_ts >= click_ts "
            "AND buy_ts <= click_ts + INTERVAL 5 MINUTES"
        ),
    )
    q = (
        joined.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        rows = {(r.user, r.click, r.buy) for r in spark.table(name).collect()}
        # u1's buy is within 5 min of the click; u2's is 89 min away
        assert rows == {("u1", "click1", "buy1")}
    finally:
        q.stop()


def _stats(eng) -> dict:
    return {(r.kind, r.name): r for r in eng.pipeline_query_stats().collect()}


def _qs_engine(spark, tmp_path, n: int) -> tuple[Engine, object]:
    """An engine with one csv stream fed `n` records from a file
    endpoint, plus one continuous view over it."""
    eng = Engine(spark, metadata_dir=str(tmp_path / "meta"))
    src_root = tmp_path / "kinesis"
    write_record_file(
        str(src_root / "s"), [{"data": f"k{i % 2},1"} for i in range(n)]
    )
    eng.add_endpoint("ep", url=str(src_root))
    eng.create_stream("qs_stream", "k STRING, v BIGINT")
    eng.create_continuous_view(
        "qs_view",
        "SELECT k, count(*) AS cnt FROM qs_stream GROUP BY k",
        "qs_stream",
    )
    return eng, src_root


def test_pipeline_query_stats_relation(spark, tmp_path):
    """PipelineDB pipeline_query_stats analog: per-standing-query
    counters, labeled by kind, queryable through sql(). Nothing is
    attached up front: the first call comes after ingest and still
    counts every batch from batch zero."""
    eng, _ = _qs_engine(spark, tmp_path, 10)
    try:
        eng.consume_begin("ep", "s", "qs_stream", fmt="csv", delimiter=",")
        eng.wait_for_ingest()
        stats = _stats(eng)
        ing = stats[("ingest", "qs_stream_c1")]
        vw = stats[("view", "qs_view")]
        assert ing.input_rows == 10 and ing.batches >= 1
        assert vw.input_rows == 10 and vw.errors == 0
        # a second read counts nothing twice
        assert _stats(eng)[("ingest", "qs_stream_c1")].input_rows == 10
        # SQL-surface read
        n = eng.sql(
            "SELECT sum(input_rows) AS n FROM pipeline_query_stats "
            "WHERE kind = 'ingest'"
        ).collect()[0].n
        assert n == 10
    finally:
        eng.consume_end_all()


def test_pipeline_query_stats_survive_consume_end(spark, tmp_path):
    """Stopping a consumer folds its queries' last batches in, so the
    counters outlive the queries; a restart (new run) adds to them."""
    eng, src_root = _qs_engine(spark, tmp_path, 10)
    try:
        eng.consume_begin("ep", "s", "qs_stream", fmt="csv", delimiter=",")
        eng.wait_for_ingest()
        assert eng.consume_end("ep", "s", "qs_stream")
        stats = _stats(eng)
        assert stats[("ingest", "qs_stream_c1")].input_rows == 10
        assert stats[("view", "qs_view")].input_rows == 10
        write_record_file(
            str(src_root / "s"), [{"data": "k0,1"} for _ in range(5)]
        )
        eng.consume_begin("ep", "s", "qs_stream", fmt="csv", delimiter=",")
        eng.wait_for_ingest()
        stats = _stats(eng)
        assert stats[("ingest", "qs_stream_c1")].input_rows == 15
        assert stats[("view", "qs_view")].input_rows == 15
    finally:
        eng.consume_end_all()


def test_pipeline_query_stats_counts_transform_error(spark, tmp_path):
    """A transform whose procedure raises ends its query with an
    exception, counted once under the transform's own query name."""
    eng, _ = _qs_engine(spark, tmp_path, 4)

    def boom(bdf, bid):
        raise ValueError("proc exploded")

    try:
        eng.create_continuous_transform(
            "qs_boom", "SELECT k FROM qs_stream", "qs_stream", proc=boom
        )
        eng.consume_begin("ep", "s", "qs_stream", fmt="csv", delimiter=",")
        with pytest.raises(Exception, match="proc exploded"):
            eng.wait_for_ingest()
        for _ in range(2):  # counted once, however often it is read
            t = _stats(eng)[("transform", "qs_boom")]
            assert t.query == "transform_qs_boom"
            assert t.errors == 1
            assert t.last_error  # the query exception's message head
        assert ("terminated", "") not in _stats(eng)
    finally:
        eng.consume_end_all()


class _FakeProgress:
    def __init__(self, ts: str, bid: int, rows: int) -> None:
        self._ts, self._bid, self._rows = ts, bid, rows

    def timestamp(self):
        time.sleep(0)  # yield the GIL, as the real Py4J round trip does
        return self._ts

    def batchId(self):  # noqa: N802 — mirrors the JVM getter
        return self._bid

    def numInputRows(self):  # noqa: N802
        return self._rows


class _FakeQuery:
    """The slice of a StreamingQuery the stats fold reads: its name,
    run id, liveness, exception and the JVM progress ring."""

    def __init__(self, name: str, run: str) -> None:
        self.name, self.runId = name, run
        self.isActive = True
        self.ring: list[_FakeProgress] = []
        self.exc = None
        self._jsq = self

    def recentProgress(self):  # noqa: N802
        time.sleep(0)
        return list(self.ring)

    def exception(self):
        return self.exc


def test_fold_counts_each_batch_once(spark, tmp_path):
    """The fold's cursor rules, on a scripted progress ring: idle
    reports (next batchId, zero rows) count nothing and do not hide the
    batch that later runs under that id; a report already walked is not
    re-counted; a batch replayed by a new run counts again; reports
    evicted from the ring before a read are lost (the documented
    100-report limit)."""
    eng = Engine(spark, metadata_dir=str(tmp_path / "meta"))
    q = _FakeQuery("ingest_s_c1", "run-a")
    q.ring = [_FakeProgress("t01", 0, 5), _FakeProgress("t02", 1, 0)]
    eng._fold_stats(q)
    q.ring += [_FakeProgress("t03", 1, 0), _FakeProgress("t04", 1, 7)]
    eng._fold_stats(q)
    eng._fold_stats(q)
    t = eng._stats["ingest_s_c1"]
    assert (t["batches"], t["input_rows"], t["last_batch_id"]) == (2, 12, 1)
    # a restart replays batch 1 under a new run id: it counts again
    r = _FakeQuery("ingest_s_c1", "run-b")
    r.ring = [_FakeProgress("t05", 1, 7), _FakeProgress("t06", 2, 3)]
    r.isActive = False
    r.exc = RuntimeError("x" * 600)
    eng._fold_stats(r)
    eng._fold_stats(r)  # a finished run is folded for good
    t = eng._stats["ingest_s_c1"]
    assert (t["batches"], t["input_rows"], t["last_batch_id"]) == (4, 22, 2)
    assert t["errors"] == 1 and len(t["last_error"]) == 500


def test_fold_is_exact_under_concurrent_readers(spark, tmp_path):
    """Status polls and stops fold from different threads: with more
    folding threads than cores and a tiny switch interval, every batch
    is still counted exactly once while the ring grows."""
    eng = Engine(spark, metadata_dir=str(tmp_path / "meta"))
    q = _FakeQuery("ingest_s_c1", "run-a")
    n = 300
    done = threading.Event()

    def append():
        for i in range(n):
            q.ring.append(_FakeProgress(f"t{i:05d}", i, 2))
        done.set()

    def fold():
        while not done.is_set():
            eng._fold_stats(q)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=fold) for _ in range(8)]
        threads.append(threading.Thread(target=append))
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
        assert not any(th.is_alive() for th in threads)
    finally:
        sys.setswitchinterval(old)
    eng._fold_stats(q)
    t = eng._stats["ingest_s_c1"]
    assert (t["batches"], t["input_rows"]) == (n, 2 * n)


def test_progress_snapshot_survives_concurrent_consume_end(spark, tmp_path):
    """progress() walks a copy of the query registry: a consumer
    removed by another thread mid-call (simulated by a lastProgress
    read that pops it) must not raise "dictionary changed size during
    iteration"."""
    eng = Engine(spark, metadata_dir=str(tmp_path / "meta"))

    class _Q:
        def __init__(self, name, on_read=None):
            self.name, self._on_read = name, on_read

        @property
        def lastProgress(self):  # noqa: N802
            if self._on_read:
                self._on_read()
            return {"batchId": 3, "numInputRows": 1, "sources": []}

    eng._queries = {
        1: [_Q("ingest_a_c1", lambda: eng._queries.pop(2, None))],
        2: [_Q("ingest_b_c2")],
    }
    got = eng.progress()
    assert [p["consumer_id"] for p in got] == [1, 2]
    assert 2 not in eng._queries

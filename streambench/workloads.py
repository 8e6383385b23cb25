"""The benchmark's workloads, driving the public ``Engine`` API.

Each workload builds its inputs from the seed, warms one engine up,
measures it, checks every output against what the generator put, and
returns a ``Result`` holding the raw samples the metrics come from.

- ``backfill_file``: closed bulk backfill through the file feed. Each
  round publishes three files of 10k tab-delimited ``k\tv`` records
  (Zipf keys, 1% malformed lines) at once to a running consumer and
  waits until every standing query has processed them before
  publishing the next. Standing queries: the parquet archive, the
  dead-letter quarantine, a memory ``count/sum GROUP BY k`` view and a
  ``parquet_upsert`` view with the same SQL keyed on ``k``. One large
  micro-batch puts the per-row data path (parse, archive, quarantine,
  upsert merge) on the critical path and amortises the framework's
  per-batch cost.
- ``live_pump``: open loop through the driver-side pump: a generator
  appends to 2 shards at a fixed offered rate on a 50 ms schedule that
  never slows when the engine does; a dashboard reads the view at 10 Hz
  and an operator polls the status calls at 1 Hz. Many small
  micro-batches put polling, spool admission and the framework's
  per-batch cost on the critical path, with reads and observation
  running beside the writes.
"""

from __future__ import annotations

import bisect
import json
import math
import os
import random
import shutil
import threading
import time
from dataclasses import dataclass, field

import procstat
from stats import freshness, median
from tracing import FRAMEWORK_PHASES, _epoch

N_KEYS = 10_000
ZIPF_S = 1.1
MALFORMED_SHARE = 0.01
SETUPS = 3  # set-ups timed per run; setup_s is their median
DASHBOARD_HZ = 10.0
OPERATOR_HZ = 1.0
VISIBLE_TIMEOUT_S = 120.0

# backfill_file: 3 files of 10k records, admitted as one micro-batch
# (a trigger admits up to `parallelism` files)
BF_FILE_RECORDS = 10_000
BF_RECORDS = 30_000  # per round
# warm-up rounds: the first pays the cold start. Each round's upsert
# merge costs about the same whatever its size, and rounds speed up in
# a step (the JIT) somewhere in the first five or six merges, so the
# warm-up is counted in rounds. Rounds keep speeding up slowly for
# minutes after that, the same way in every run.
BF_WARMUP_RECORDS = (10_000,) + (BF_RECORDS,) * 4
BF_PARALLELISM = 4
BF_MIN_ROUNDS = 3

# live_pump
PUMP_SHARDS = 2
PUMP_RATE_PER_SHARD = 500.0  # records/s
PUMP_TICK_S = 0.05
PUMP_KEYS = 1_000
PUMP_WARMUP_S = 5.0
# One GetRecords round per shard, and one trigger, per second (the
# engine ties both to rate_limit_rps). At the engine's default pacing
# (4 rounds/s) the pump writes a spool file per shard per round while a
# trigger admits only `parallelism` files, so the backlog grows for as
# long as the run lasts at any offered rate. Here the pump writes 2
# files/s and a trigger admits up to 8, so admission stays ahead while a
# micro-batch takes under 4 s; batches then run back to back instead of
# on the trigger's wall-clock grid, so no run's figures hinge on where
# the pump's polls happen to fall on that grid.
PUMP_RATE_LIMIT_RPS = 1.0
PUMP_PARALLELISM = 8


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    defects: list[str] = field(default_factory=list)
    records: int = 0  # records in the measured window
    setup_s: list[float] = field(default_factory=list)
    rps: list[float] = field(default_factory=list)
    drain_s: list[float] = field(default_factory=list)
    fresh_s: list[float] = field(default_factory=list)
    read_ms: list[float] = field(default_factory=list)
    late_ms: list[float] = field(default_factory=list)
    status_ms: list[float] = field(default_factory=list)
    cpu: dict = field(default_factory=lambda: {
        "driver": 0.0, "jvm": 0.0, "pyworker": 0.0})
    # CPU seconds per thousand records, one sample per measured window
    cpu_per_krec: list[float] = field(default_factory=list)
    # (start, end) of each measured window: a backfill round's publish
    # → done, or live_pump's window start → last record visible
    windows: list[tuple[float, float]] = field(default_factory=list)
    # role -> progress reports of the measured window
    progress: dict = field(default_factory=dict)
    measured_wall_s: float = 0.0
    getrecords_calls: int = 0
    spool_files: int = 0
    put_to_spool_s: list[float] = field(default_factory=list)
    deadletter_rows: int = 0
    parsed_rows: int = 0  # input rows of the standing queries, whole run
    read_errors: int = 0
    store_mb: float = 0.0
    store_files: int = 0


def zipf_sampler(rng: random.Random, n_keys: int):
    cum, acc = [], 0.0
    for i in range(1, n_keys + 1):
        acc += 1.0 / i**ZIPF_S
        cum.append(acc)
    total = cum[-1]

    def draw() -> int:
        return bisect.bisect_left(cum, rng.random() * total)

    return draw


def per_query(progress: list[dict], wall_s: float) -> dict[str, float]:
    """Batches carrying input, their rows/addBatch/framework medians, and
    the share of the wall the query spent in triggers. Concurrent
    queries are reported one by one, never summed against the wall."""
    data = [p for p in progress if (p.get("numInputRows") or 0) > 0]

    def ms(p, keys):
        d = p.get("durationMs") or {}
        return float(sum(d.get(k, 0) for k in keys))

    busy = sum(ms(p, ("triggerExecution",)) for p in progress) / 1000.0
    return {
        "batches": float(len(data)),
        "rows_per_batch_p50": median([p["numInputRows"] for p in data]),
        "add_batch_ms_p50": median([ms(p, ("addBatch",)) for p in data]),
        "framework_ms_p50": median([ms(p, FRAMEWORK_PHASES) for p in data]),
        "busy_share": busy / wall_s if wall_s > 0 else 0.0,
    }


class Names:
    """Catalog names of one engine set-up, and its standing queries."""

    def __init__(self, tag: str) -> None:
        self.ep, self.st = f"ep_{tag}", f"st_{tag}"
        self.vc, self.vu = f"vc_{tag}", f"vu_{tag}"
        self.roles = {
            f"ingest_{self.st}_c1": "archive",
            f"deadletter_{self.st}_c1": "deadletter",
            self.vc: "view_count",
            self.vu: "view_upsert",
        }

    def queries(self, spark):
        return [q for q in spark.streams.active if q.name in self.roles]


def _collect_progress(spark, names: Names, since: float, res, tracer, parent):
    """Every micro-batch report of the engine's standing queries, read
    through the public ``spark.streams`` (the session sizes the progress
    ring so no batch falls out of it). Batches that started before
    ``since`` belong to the warm-up and are left out, except from the
    whole-run count of rows the standing queries read."""
    for q in names.queries(spark):
        role = names.roles[q.name]
        allp = [dict(p) for p in q.recentProgress]
        res.parsed_rows += sum(p.get("numInputRows") or 0 for p in allp)
        prog = [p for p in allp if _epoch(p["timestamp"]) >= since]
        res.progress.setdefault(role, []).extend(prog)
        tracer.add_progress(role, prog, parent)


def _drain(spark, names: Names) -> None:
    """processAllAvailable on every standing query of the engine, all at
    once. Each call waits for a fresh trigger of its query, so made one
    after another they would add up to a trigger interval per query."""
    threads = [threading.Thread(target=q.processAllAvailable, daemon=True)
               for q in names.queries(spark)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()


def _rows_read(spark, names: Names) -> dict[str, int]:
    """Input rows each standing query has reported so far, from its
    progress ring on the public ``spark.streams``."""
    return {q.name: sum(p["numInputRows"] or 0 for p in q.recentProgress)
            for q in names.queries(spark)}


class Dashboard(threading.Thread):
    """Reads a view on a fixed schedule with ``view_table().collect()``,
    recording (time, per-partition counts) for the freshness rule."""

    def __init__(self, eng, view, part_of, tracer, parent):
        super().__init__(name="streambench-dashboard", daemon=True)
        self.eng, self.view, self.part_of = eng, view, part_of
        self.tracer, self.parent = tracer, parent
        self.reads: list[tuple[float, dict]] = []
        self.read_ms: list[tuple[float, float]] = []
        self.late_ms: list[tuple[float, float]] = []
        self.errors: list[tuple[float, str]] = []  # reads that raised
        self.stop = threading.Event()
        self._read = threading.Condition()

    def run(self) -> None:
        period = 1.0 / DASHBOARD_HZ
        due = time.time()
        while not self.stop.is_set():
            a = time.time()
            self.late_ms.append((a, max(0.0, a - due) * 1000.0))
            with self.tracer.span("dashboard.read", parent=self.parent):
                try:
                    rows = self.eng.view_table(self.view).collect()
                except Exception as exc:  # noqa: BLE001 — counted, reported
                    rows = None
                    self.errors.append((time.time(), repr(exc)[:200]))
            b = time.time()
            if rows is not None:
                counts: dict = {}
                for r in rows:
                    p = self.part_of(r)
                    counts[p] = counts.get(p, 0) + int(r["n"])
                with self._read:
                    self.reads.append((b, counts))
                    self._read.notify_all()
                self.read_ms.append((b, (b - a) * 1000.0))
            due = max(due + period, time.time())
            self.stop.wait(max(0.0, due - time.time()))

    def wait_for(self, want: dict, deadline: float) -> float | None:
        """Time of the first read showing at least ``want`` per
        partition, or None at the deadline."""
        with self._read:
            while True:
                if self.reads:
                    t, got = self.reads[-1]
                    if all(got.get(p, 0) >= n for p, n in want.items()):
                        return t
                left = deadline - time.time()
                if left <= 0:
                    return None
                self._read.wait(left)


class Operator(threading.Thread):
    """Polls the engine's status calls at a fixed rate."""

    def __init__(self, eng, tracer, parent):
        super().__init__(name="streambench-operator", daemon=True)
        self.eng, self.tracer, self.parent = eng, tracer, parent
        self.poll_ms: list[tuple[float, float]] = []
        self.stop = threading.Event()

    def run(self) -> None:
        while not self.stop.wait(1.0 / OPERATOR_HZ):
            with self.tracer.span("status.poll", parent=self.parent):
                a = time.time()
                self.eng.progress()
                self.eng.pump_status()
                self.eng.pipeline_query_stats().collect()
            self.poll_ms.append((a, (time.time() - a) * 1000.0))


def _after(samples, t0: float) -> list[float]:
    return [v for t, v in samples if t >= t0]


def _spool_stats(eng, due_of_line, t0: float, t1: float, res: Result) -> None:
    """Spool files the pump wrote between ``t0`` and ``t1`` (by mtime),
    and the due → spooled time of each record due after ``t0``."""
    for root, _, files in os.walk(os.path.join(eng.metadata_dir, "spool")):
        for fn in files:
            if not fn.endswith((".json", ".jsonl")):
                continue
            path = os.path.join(root, fn)
            mtime = os.path.getmtime(path)
            if not t0 <= mtime <= t1:
                continue
            res.spool_files += 1
            with open(path) as f:
                for line in f:
                    due = due_of_line(json.loads(line).get("data"))
                    if due is not None and due >= t0:
                        res.put_to_spool_s.append(mtime - due)


def _mismatches(expected: dict, rows, key, vals) -> int:
    got = {key(r): vals(r) for r in rows}
    bad = sum(1 for k, v in expected.items() if got.get(k) != v)
    return bad + sum(1 for k in got if k not in expected)


def _window_cpu(res: Result, a: dict, b: dict, records: int) -> None:
    """Add one measured window's CPU to the per-role totals, and its CPU
    seconds per thousand records to the samples."""
    for k in a:
        res.cpu[k] += b[k] - a[k]
    res.cpu_per_krec.append(
        sum(b[k] - a[k] for k in a) / (records / 1000.0))


def _timed_setups(ctx, res: Result, make) -> None:
    """Set the engine up SETUPS more times on the warm session and tear
    each down unused; ``make(root, tag)`` returns (engine, set-up s)."""
    for i in range(SETUPS):
        root = os.path.join(ctx.work, f"setup{i}")
        os.makedirs(root)
        eng = None
        try:
            eng, s = make(root, f"s{i}")
            res.setup_s.append(s)
        finally:
            with ctx.tracer.span("teardown"):
                if eng is not None:
                    eng.consume_end_all()
                shutil.rmtree(root, ignore_errors=True)


# ---------------------------------------------------------------- backfill


class Backfill:
    """Seeded record files, BF_FILE_RECORDS each, with the running
    per-key count/sum of the well-formed records."""

    def __init__(self, seed: int, stream_dir: str, staging: str) -> None:
        self.rng = random.Random(f"backfill_file:{seed}")
        self.draw = zipf_sampler(self.rng, N_KEYS)
        self.stream_dir, self.staging = stream_dir, staging
        self.expected: dict[str, tuple[int, int]] = {}
        self.good = self.bad = 0
        self.files = 0

    def write(self, n: int) -> list[str]:
        """Write ``n`` records as files in the staging directory; return
        their paths."""
        from pipeline_kinesis_spark.sources.file_replay import (
            write_record_file,
        )

        paths = []
        for f in range(0, n, BF_FILE_RECORDS):
            lines = []
            for i in range(f, min(n, f + BF_FILE_RECORDS)):
                k = f"k{self.draw()}"
                if self.rng.random() < MALFORMED_SHARE:
                    lines.append({"data": f"{k}\tbad{i}"})
                    self.bad += 1
                else:
                    v = self.rng.randrange(1_000_000)
                    c, s = self.expected.get(k, (0, 0))
                    self.expected[k] = (c + 1, s + v)
                    lines.append({"data": f"{k}\t{v}"})
                    self.good += 1
            paths.append(write_record_file(
                self.staging, lines, file_name=f"batch-{self.files:08d}.jsonl"))
            self.files += 1
        return paths

    def publish(self, paths: list[str]) -> None:
        """Move staged files into the stream directory together, so one
        trigger admits the whole tranche."""
        for p in paths:
            os.replace(p, os.path.join(self.stream_dir, os.path.basename(p)))


def _interval_s(trigger: str) -> float:
    """Seconds in an engine trigger interval such as "500 milliseconds"."""
    value, unit = trigger.split()
    return float(value) / (1000.0 if unit.startswith("milli") else 1.0)


def _bf_setup(ctx, root, tag):
    from pipeline_kinesis_spark.engine import Engine

    tr, n = ctx.tracer, Names(tag)
    with tr.span("setup"):
        t = time.time()
        with tr.span("setup.catalog"):
            eng = Engine(ctx.spark, metadata_dir=os.path.join(root, "meta"))
            eng.add_endpoint(n.ep, url=os.path.join(root, "src"))
            eng.create_stream(n.st, "k STRING, v BIGINT")
            sql = f"SELECT k, count(*) AS n, sum(v) AS s FROM {n.st} GROUP BY k"
            eng.create_continuous_view(n.vc, sql, stream=n.st)
            eng.create_continuous_view(
                n.vu, sql, stream=n.st, materialize="parquet_upsert",
                output_mode="update", key_cols=["k"])
        with tr.span("setup.consume_begin"):
            eng.consume_begin(n.ep, "s", n.st, parallelism=BF_PARALLELISM)
        return eng, time.time() - t, n


def backfill_file(ctx) -> Result:
    """One engine; each round publishes a tranche of record files at once
    and waits until every standing query has processed it. Nothing reads
    the views while a round is measured, so its CPU and wall are the
    engine's alone."""
    spark, tr, res = ctx.spark, ctx.tracer, Result()
    root = os.path.join(ctx.work, "bf")
    src = os.path.join(root, "src", "s")
    os.makedirs(src)
    gen = Backfill(ctx.seed, src, os.path.join(root, "staging"))
    eng = None
    ok = True
    try:
        with tr.span("warmup"):
            # the cold start, then rounds until the JIT has settled
            eng, _, n = _bf_setup(ctx, root, "bf")
            for size in BF_WARMUP_RECORDS:
                ok = ok and _bf_round(ctx, eng, n, gen, size, 0.5, None)
        with tr.span("measure") as measure_id:
            t_start = time.time()
            rnd = 1
            while ok and (rnd <= BF_MIN_ROUNDS
                          or time.time() - t_start < ctx.seconds):
                with tr.span("round", rnd=rnd):
                    # publish phases (k - 0.5)/BF_MIN_ROUNDS of a trigger
                    # interval: see _bf_round
                    phase = ((rnd - 0.5) / BF_MIN_ROUNDS) % 1.0
                    ok = _bf_round(ctx, eng, n, gen, BF_RECORDS, phase, res)
                rnd += 1
            res.measured_wall_s = time.time() - t_start
        vc_rows = eng.view_table(n.vc).collect()
        _collect_progress(spark, n, t_start, res, tr, measure_id)
    finally:
        with tr.span("teardown"):
            if eng is not None:
                eng.consume_end_all()
    # outputs are checked once the standing queries have stopped, so the
    # checks never compete with ingest
    with tr.span("verify"):
        if not ok:
            res.defects.append(
                "a round was never processed by every standing query")
        res.attempted = gen.good + gen.bad
        res.failed += _check_backfill(eng, n, vc_rows, gen, res)
        for sub, _, files in os.walk(eng.view_dir(n.vu)):
            for fn in files:
                if fn.endswith(".parquet"):
                    res.store_mb += os.path.getsize(os.path.join(sub, fn)) / 1e6
                    res.store_files += 1
    shutil.rmtree(root, ignore_errors=True)
    with tr.span("setups"):
        _timed_setups(ctx, res, lambda r, tag: _bf_setup(ctx, r, tag)[:2])
    return res


def _bf_round(ctx, eng, n: Names, gen: Backfill, size: int, phase: float,
              res: Result | None) -> bool:
    """Publish one tranche; drain every standing query until each has
    read all of it.

    Idle file-fed queries trigger on the wall-clock grid of the trigger
    interval, so a tranche waits for the next grid point first. The
    tranche is published ``phase`` of an interval after a grid point:
    rounds spread over the interval sample that wait evenly instead of
    at random, which would swing a round's wall by up to a whole
    interval."""
    tr = ctx.tracer
    with tr.span("generate"):
        paths = gen.write(size)
    interval = _interval_s(eng.trigger_interval)
    at = (math.floor((time.time() - phase * interval) / interval) + 1
          ) * interval + phase * interval
    time.sleep(max(0.0, at - time.time()))
    base = _rows_read(ctx.spark, n)
    cpu0 = procstat.cpu_by_role()
    with tr.span("ingest"):
        t0 = time.time()
        gen.publish(paths)
        while True:
            # processAllAvailable can return on a trigger that listed the
            # source before the publish, so the progress reports decide
            with tr.span("drain"):
                _drain(ctx.spark, n)
            t_done = time.time()
            cpu1 = procstat.cpu_by_role()
            got = _rows_read(ctx.spark, n)
            if all(got.get(q, 0) - base.get(q, 0) >= size for q in n.roles):
                break
            if t_done - t0 > VISIBLE_TIMEOUT_S:
                return False
    if res is not None:
        _window_cpu(res, cpu0, cpu1, size)
        res.records += size
        res.rps.append(size / (t_done - t0))
        res.windows.append((t0, t_done))
    return True


def _check_backfill(eng, n: Names, vc_rows, gen: Backfill, res) -> int:
    """Archive, dead-letter and both views against the generator."""
    expected, n_good, n_bad = gen.expected, gen.good, gen.bad
    from pyspark.sql import functions as F

    failed = 0
    arch = eng.stream_table(n.st).agg(
        F.count("*").alias("n"), F.sum("v").alias("s")).collect()[0]
    want_sum = sum(s for _, s in expected.values())
    if arch["n"] != n_good or arch["s"] != want_sum:
        failed += abs((arch["n"] or 0) - n_good) or 1
        res.defects.append(
            f"archive has {arch['n']} rows (sum {arch['s']}), "
            f"want {n_good} (sum {want_sum})")
    n_dead = eng.dead_letters(n.st).count()
    res.deadletter_rows = n_dead
    if n_dead != n_bad:
        failed += abs(n_dead - n_bad)
        res.defects.append(f"dead-letter has {n_dead} rows, want {n_bad}")
    for view, rows in (("count", vc_rows),
                       ("upsert", eng.view_table(n.vu).collect())):
        bad = _mismatches(expected, rows, lambda r: r["k"],
                          lambda r: (int(r["n"]), int(r["s"])))
        if bad:
            failed += bad
            res.defects.append(f"{view} view: {bad} keys wrong")
    return failed


# ---------------------------------------------------------------- live pump


class Generator:
    """Open-loop producer: every tick of a window appends the records due
    by then to each shard, stamped with their due time, however far
    behind the engine (or this thread) is. Windows continue the same
    shards' sequences."""

    def __init__(self, fake, seed, tracer, parent):
        self.fake, self.tracer, self.parent = fake, tracer, parent
        self.rng = random.Random(f"live_pump:{seed}")
        self.draw = zipf_sampler(self.rng, PUMP_KEYS)
        self.due: dict[int, list[float]] = {s: [] for s in range(PUMP_SHARDS)}
        self.expected: dict[tuple[int, str], int] = {}
        self.late_ms: list[tuple[float, float]] = []
        self.t_start = self.t_stop = 0.0

    def window(self, window_s: float) -> threading.Thread:
        """Start a window of ``window_s`` on its own thread."""
        self.t_start = time.time()
        th = threading.Thread(target=self._run, args=(self.t_start, window_s),
                              name="streambench-generator", daemon=True)
        th.start()
        return th

    def _run(self, t_start: float, window_s: float) -> None:
        ids = sorted(self.fake.shards)
        base = {s: len(d) for s, d in self.due.items()}
        for tick in range(1, int(round(window_s / PUMP_TICK_S)) + 1):
            due = t_start + tick * PUMP_TICK_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            self.late_ms.append((due, max(0.0, time.time() - due) * 1000.0))
            want = int(tick * PUMP_TICK_S * PUMP_RATE_PER_SHARD)
            with self.tracer.span("generate.tick", parent=self.parent):
                for s in range(PUMP_SHARDS):
                    seq = len(self.due[s])
                    while seq - base[s] < want:
                        k = f"k{self.draw()}"
                        self.fake.append(
                            ids[s], f"{s}\t{seq}\t{k}\t{int(due * 1000)}".encode())
                        self.due[s].append(due)
                        self.expected[(s, k)] = self.expected.get((s, k), 0) + 1
                        seq += 1
        self.t_stop = time.time()

    def want(self) -> dict[int, int]:
        return {s: len(d) for s, d in self.due.items()}


def _pump_setup(ctx, root, tag, fake):
    from pipeline_kinesis_spark.engine import Engine

    tr, n = ctx.tracer, Names(tag)
    with tr.span("setup"):
        t = time.time()
        with tr.span("setup.catalog"):
            eng = Engine(ctx.spark, metadata_dir=os.path.join(root, "meta"))
            eng.add_endpoint(n.ep)
            eng.register_kinesis_client(n.ep, fake)
            eng.create_stream(n.st, "shard INT, seq BIGINT, k STRING, due_ms BIGINT")
            eng.create_continuous_view(
                n.vc, f"SELECT shard, k, count(*) AS n FROM {n.st} "
                f"GROUP BY shard, k", stream=n.st)
        with tr.span("setup.consume_begin"):
            eng.consume_begin(n.ep, "s", n.st, source="pump",
                              parallelism=PUMP_PARALLELISM,
                              rate_limit_rps=PUMP_RATE_LIMIT_RPS)
        return eng, time.time() - t, n


def _due_of_pump_line(data: str | None) -> float | None:
    try:
        return int(data.rsplit("\t", 1)[1]) / 1000.0
    except (AttributeError, IndexError, ValueError):
        return None


def live_pump(ctx) -> Result:
    """One engine: a warm-up window, drained, then the measured window
    of ``seconds`` on the same consumer."""
    from pipeline_kinesis_spark.sources.fake_kinesis import FakeKinesisClient

    spark, tr, res = ctx.spark, ctx.tracer, Result()
    fake = FakeKinesisClient(
        {f"shardId-{i:012d}": [] for i in range(PUMP_SHARDS)})
    root = os.path.join(ctx.work, "pump")
    os.makedirs(root)
    eng = dash = op = None
    try:
        with tr.span("warmup") as warm_id:
            # the first set-up and batches pay the JIT cold start; the
            # backlog they leave is drained before measuring
            eng, _, n = _pump_setup(ctx, root, "lp", fake)
            gen = Generator(fake, ctx.seed, tr, warm_id)
            with tr.span("ingest"):
                gen.window(PUMP_WARMUP_S).join()
                eng.wait_for_ingest(timeout_s=VISIBLE_TIMEOUT_S)
        with tr.span("round", rnd=1) as round_id:
            with tr.span("ingest"):
                skip = gen.want()
                gen.parent = round_id
                dash = Dashboard(eng, n.vc, lambda r: int(r["shard"]), tr,
                                 round_id)
                op = Operator(eng, tr, round_id)
                dash.start()
                op.start()
                cpu0 = procstat.cpu_by_role()
                calls0 = fake.calls.count("get_records")
                th = gen.window(float(ctx.seconds))
                t_m = gen.t_start
                th.join()
                t_seen = dash.wait_for(gen.want(), time.time() + VISIBLE_TIMEOUT_S)
                cpu1 = procstat.cpu_by_role()
                calls1 = fake.calls.count("get_records")
                dash.stop.set()
                op.stop.set()
                dash.join(timeout=30)
                op.join(timeout=30)
            if t_seen is not None:
                with tr.span("drain"):
                    # archive and dead-letter finish before the checks
                    _drain(spark, n)
            vc_rows = eng.view_table(n.vc).collect()
            _collect_progress(spark, n, t_m, res, tr, round_id)
    finally:
        for th in (dash, op):
            if th is not None:
                th.stop.set()
        with tr.span("teardown"):
            if eng is not None:
                eng.consume_end_all()
    with tr.span("verify"):
        if t_seen is None:
            res.defects.append("the view never showed every record")
            t_seen = time.time()
        # the measured records are each shard's records after the warm-up
        due = {s: d[skip[s]:] for s, d in gen.due.items()}
        reads = [(t, {s: c.get(s, 0) - skip[s] for s in skip})
                 for t, c in dash.reads if t >= t_m]
        fr = freshness(due, reads)
        res.fresh_s = fr.latencies
        res.failed += fr.failed
        res.records = sum(len(d) for d in due.values())
        res.attempted = sum(len(d) for d in gen.due.values())
        res.rps.append(res.records / (t_seen - t_m))
        res.drain_s.append(t_seen - gen.t_stop)
        res.measured_wall_s = t_seen - t_m
        res.windows.append((t_m, t_seen))
        res.read_ms = _after(dash.read_ms, t_m)
        res.read_errors = len(_after(dash.errors, t_m))
        res.late_ms = _after(gen.late_ms, t_m)
        res.status_ms = _after(op.poll_ms, t_m)
        _window_cpu(res, cpu0, cpu1, res.records)
        res.failed += _check_pump(eng, n, vc_rows, gen, res)
        res.getrecords_calls = calls1 - calls0
        _spool_stats(eng, _due_of_pump_line, t_m, t_seen, res)
    shutil.rmtree(root, ignore_errors=True)
    with tr.span("setups"):
        _timed_setups(ctx, res, lambda r, tag: _pump_setup(
            ctx, r, tag, FakeKinesisClient({"shardId-000000000000": []}))[:2])
    return res


def _check_pump(eng, n: Names, vc_rows, gen: Generator, res: Result) -> int:
    failed = 0
    total = sum(len(d) for d in gen.due.values())
    n_arch = eng.stream_table(n.st).count()
    if n_arch != total:
        failed += abs(n_arch - total)
        res.defects.append(f"archive has {n_arch} rows, want {total}")
    n_dead = eng.dead_letters(n.st).count()
    res.deadletter_rows = n_dead
    if n_dead:
        failed += n_dead
        res.defects.append(f"{n_dead} dead-letter rows, want 0")
    bad = _mismatches(gen.expected, vc_rows,
                      lambda r: (int(r["shard"]), r["k"]), lambda r: int(r["n"]))
    if bad:
        failed += bad
        res.defects.append(f"count view: {bad} keys wrong")
    return failed


WORKLOADS = {
    "backfill_file": backfill_file,
    "live_pump": live_pump,
}

"""Streaming benchmark for the pipeline_kinesis_spark engine.

Run from the root of a checkout:

    python3 streambench/run.py --workload backfill_file --seed 1 --seconds 10 --trace 0

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``). See README.md in this
directory for the workloads and the metric-to-layer map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import procstat  # noqa: E402
from stats import (  # noqa: E402
    Span,
    coverage,
    median,
    percentile,
    self_time_by_name,
    tail_percentile,
)
from tracing import FRAMEWORK_PHASES, Tracer  # noqa: E402

END_TO_END = (
    ("setup_s", "s"),
    ("backfill_rps", "records/s"),
    ("cpu_s_per_krec", "CPU-s/krec"),
    ("peak_rss_mb", "MB"),
)
# user-visible figures whose run-to-run spread on this benchmark's
# workloads is too wide to gate on; the traced run reports them
OBSERVED = (
    ("freshness_p50_s", "s"),
    ("freshness_tail_s", "s"),
    ("drain_s", "s"),
    ("view_read_p50_ms", "ms"),
    ("view_read_tail_ms", "ms"),
)

ROLES = ("archive", "deadletter", "view_count", "view_upsert")
ROLE_FIELDS = (
    ("batches", "count"),
    ("rows_per_batch_p50", "count"),
    ("add_batch_ms_p50", "ms"),
    ("framework_ms_p50", "ms"),
    ("busy_share", "share"),
)
# spans recorded around the benchmark's calls into each layer; their
# self time is reported as a share of the run's wall
LAYER_SPANS = ("session", "setup.catalog", "setup.consume_begin", "generate",
               "ingest", "drain", "verify", "teardown", "dashboard.read",
               "status.poll", "generate.tick")

PER_LAYER = (
    ("pump.getrecords_calls", "count"),
    ("pump.records_per_call", "ratio"),
    ("pump.spool_files", "count"),
    ("pump.put_to_spool_p50_s", "s"),
    ("parse.amplification", "ratio"),
    ("deadletter.rows", "count"),
    *((f"{r}.{f}", u) for r in ROLES for f, u in ROLE_FIELDS),
    ("view_upsert.store_mb", "MB"),
    ("view_upsert.store_files", "count"),
    ("status.poll_ms_p50", "ms"),
    ("cpu.jvm_s", "s"),
    ("cpu.pyworker_s", "s"),
    ("cpu.driver_s", "s"),
    ("gen.late_tail_ms", "ms"),
    ("gen.behind", "count"),
    ("host.loadavg_start", "load"),
    ("host.loadavg_end", "load"),
    ("host.steal_share", "share"),
    ("host.jvm_invol_ctx_switches", "count"),
    ("session.start_s", "s"),
    *((f"self.{n}_share", "share") for n in LAYER_SPANS),
    ("engine.add_batch_share", "share"),
    ("engine.framework_share", "share"),
    ("trace.spans", "count"),
    ("trace.coverage", "share"),
    ("trace.cost_s", "s"),
    ("freshness.samples", "count"),
    ("freshness.tail_pct", "pct"),
    ("view_read.samples", "count"),
    ("view_read.tail_pct", "pct"),
    ("view_read.errors", "count"),
    *((f"traced.{n}", u) for n, u in END_TO_END + OBSERVED),
)

DRIVER_MEM = "2g"
# generator lateness (at the tail percentile) above five 50 ms ticks
# flags the run
BEHIND_MS = 250.0


class Ctx:
    def __init__(self, spark, work, seed, seconds, tracer):
        self.spark, self.work, self.seed = spark, work, seed
        self.seconds, self.tracer = seconds, tracer


def _setup_env(work: str) -> None:
    """Keep every file Spark, the JVM, boto3 and tempfile write inside
    the checkout, and size the session for a small shared host."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    aws_cfg = os.path.join(work, "aws_config")
    with open(aws_cfg, "w") as f:
        f.write("[default]\nregion = us-east-1\n")
    cpus = min(4, os.cpu_count() or 1)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        AWS_CONFIG_FILE=aws_cfg,
        AWS_SHARED_CREDENTIALS_FILE=os.path.join(work, "aws_credentials"),
        AWS_EC2_METADATA_DISABLED="true",
    )


def _start_spark(work: str):
    from pipeline_kinesis_spark import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "streambench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            # keep every micro-batch report of a round in the ring
            "spark.sql.streaming.numRecentProgressUpdates": "10000",
        },
    )


def _stop_spark(spark) -> None:
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def _tail(values) -> float:
    """The value at the highest percentile the sample count supports."""
    return percentile(values, tail_percentile(len(values)) or 50.0)


def end_to_end(res, peak_rss: float) -> dict[str, float]:
    return {
        "setup_s": median(res.setup_s),
        "backfill_rps": median(res.rps),
        "freshness_p50_s": percentile(res.fresh_s, 50),
        "freshness_tail_s": _tail(res.fresh_s),
        "drain_s": median(res.drain_s),
        "view_read_p50_ms": percentile(res.read_ms, 50),
        "view_read_tail_ms": _tail(res.read_ms),
        "cpu_s_per_krec": median(res.cpu_per_krec),
        "peak_rss_mb": peak_rss,
    }


def per_layer(res, tracer, run_id, e2e, stamps) -> dict[str, float]:
    from workloads import per_query

    out: dict[str, float] = {}
    out["pump.getrecords_calls"] = float(res.getrecords_calls)
    out["pump.records_per_call"] = (
        res.records / res.getrecords_calls if res.getrecords_calls else 0.0)
    out["pump.spool_files"] = float(res.spool_files)
    out["pump.put_to_spool_p50_s"] = median(res.put_to_spool_s)
    out["parse.amplification"] = res.parsed_rows / (res.attempted or 1)
    out["deadletter.rows"] = float(res.deadletter_rows)
    for role in ROLES:
        for f, v in per_query(res.progress.get(role, []), res.measured_wall_s).items():
            out[f"{role}.{f}"] = v
    out["view_upsert.store_mb"] = res.store_mb
    out["view_upsert.store_files"] = float(res.store_files)
    out["status.poll_ms_p50"] = median(res.status_ms)
    out["cpu.jvm_s"] = res.cpu["jvm"]
    out["cpu.pyworker_s"] = res.cpu["pyworker"]
    out["cpu.driver_s"] = res.cpu["driver"]
    out.update(stamps)
    out.update(_span_metrics(tracer, run_id, res.windows))
    add = fw = trig = 0.0
    for prog in res.progress.values():
        for p in prog:
            d = p.get("durationMs") or {}
            add += d.get("addBatch", 0)
            fw += sum(d.get(k, 0) for k in FRAMEWORK_PHASES)
            trig += d.get("triggerExecution", 0)
    out["engine.add_batch_share"] = add / trig if trig else 0.0
    out["engine.framework_share"] = fw / trig if trig else 0.0
    out["freshness.samples"] = float(len(res.fresh_s))
    out["freshness.tail_pct"] = tail_percentile(len(res.fresh_s)) or 50.0
    out["view_read.samples"] = float(len(res.read_ms))
    out["view_read.tail_pct"] = tail_percentile(len(res.read_ms)) or 50.0
    out["view_read.errors"] = float(res.read_errors)
    for k, v in e2e.items():
        out[f"traced.{k}"] = v
    return out


def _blocking(name: str) -> bool:
    """Spans of work on the measured blocking path: the engine's
    micro-batches (rebuilt from its progress reports) and the
    generator's puts. The benchmark's own waits are not among them."""
    return name.startswith("batch.") or name in ("generate", "generate.tick")


def _span_metrics(tracer, run_id: int, windows) -> dict[str, float]:
    """Self time per layer span as a share of the run's wall, and the
    share of the measured windows that blocking-path spans cover."""
    spans: list[Span] = tracer.spans
    run = next(s for s in spans if s.span_id == run_id)
    wall = run.duration or 1.0
    st = self_time_by_name(spans)
    out = {f"self.{n}_share": st.get(n, 0.0) / wall for n in LAYER_SPANS}
    out["trace.spans"] = float(len(spans))
    out["trace.coverage"] = coverage(
        ((s.start, s.end) for s in spans if _blocking(s.name)), windows)
    out["trace.cost_s"] = tracer.cost_s
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "pipeline_kinesis_spark", "engine.py")):
        print("streambench: run from the root of a pipeline_kinesis_spark "
              "checkout (pipeline_kinesis_spark/engine.py not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"streambench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(root, ".streambench")
    work = os.path.join(base, f"work-{os.getpid()}")
    _setup_env(work)
    tracer = Tracer(bool(args.trace))
    stamps = {
        "host.loadavg_start": procstat.loadavg_1m(),
    }
    ticks0 = procstat.cpu_ticks()
    spark = None
    try:
        with tracer.span("run") as run_id:
            with tracer.span("session"):
                t = time.time()
                spark = _start_spark(work)
                stamps["session.start_s"] = time.time() - t
            ctx = Ctx(spark, work, args.seed, args.seconds, tracer)
            res = workloads.WORKLOADS[args.workload](ctx)
            peak = procstat.peak_rss_mb()
            stamps["host.jvm_invol_ctx_switches"] = float(
                procstat.jvm_invol_ctx_switches())
            with tracer.span("teardown"):
                _stop_spark(spark)
                spark = None
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    stamps["host.loadavg_end"] = procstat.loadavg_1m()
    ticks1 = procstat.cpu_ticks()
    stamps["host.steal_share"] = (ticks1[1] - ticks0[1]) / max(
        1, ticks1[0] - ticks0[0])
    late = _tail(res.late_ms)
    stamps["gen.late_tail_ms"] = late
    stamps["gen.behind"] = float(late > BEHIND_MS)

    e2e = end_to_end(res, peak)
    units = dict(END_TO_END)
    if args.trace:
        os.makedirs(base, exist_ok=True)
        tracer.write(os.path.join(
            base, f"trace-{args.workload}-{args.seed}.jsonl"))
        vals = per_layer(res, tracer, run_id, e2e, stamps)
        metrics = {n: {"value": vals[n], "unit": u} for n, u in PER_LAYER}
    else:
        metrics = {n: {"value": e2e[n], "unit": units[n]} for n, _ in END_TO_END}
    if res.defects:
        for d in res.defects:
            print(f"streambench: seed defect: {d}", file=sys.stderr)
    if stamps["gen.behind"]:
        print(f"streambench: generator fell behind (late {late:.1f} "
              f"ms); this run's figures are flagged", file=sys.stderr)
    print(json.dumps({
        "workload": args.workload, "seed": args.seed,
        "records": res.records, "samples": {
            "freshness": len(res.fresh_s), "view_reads": len(res.read_ms),
            "setups": len(res.setup_s), "rounds": len(res.rps)},
        "rounds": {"rps": res.rps, "cpu_s_per_krec": res.cpu_per_krec,
                   "setup_s": res.setup_s},
        "stamps": stamps, "defects": res.defects,
    }))
    print(json.dumps({
        "correct": res.failed == 0 and not res.defects,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""Engine control plane — the Spark-native analog of the reference's SQL
UDF surface (pipeline_kinesis--0.9.0.sql:33-83):

reference                           → Engine method
-----------------------------------------------------------------
kinesis_add_endpoint / _remove      → add_endpoint / remove_endpoint
CREATE STREAM (PipelineDB)          → create_stream
CREATE CONTINUOUS VIEW (PipelineDB) → create_continuous_view
kinesis_consume_begin_sr            → consume_begin
kinesis_consume_end_sr / _all       → consume_end / consume_end_all
SELECT * FROM seqnums (progress)    → progress()

consume_begin wires: file-replay source → COPY-parity parse (+dead-letter)
→ (a) exactly-once parquet archive of the stream relation, (b) one
incremental query per registered continuous view, materialized queryable.
Process/thread plumbing from the reference (bgworkers, shard threads,
bounded queues — pipeline_kinesis.c:774-823, conc_queue.hpp) collapses
into Spark's task scheduler; shard→task assignment is automatic.
"""

from __future__ import annotations

import functools
import os
import re
import shutil
import threading
import uuid
import warnings

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from pipeline_kinesis_spark.catalog import (
    Catalog,
    Consumer,
    Endpoint,
    StreamDef,
    TransformDef,
    ViewDef,
)
from pipeline_kinesis_spark.ingest.parse import parse_records, split_quarantine
from pipeline_kinesis_spark.shipping import ship_package
from pipeline_kinesis_spark.sources.file_replay import FileReplaySource
from pipeline_kinesis_spark.sources.kinesis import (
    KinesisPump,
    KinesisReplayBridge,
    KinesisSource,
    describe_all_shards,
    make_boto3_client,
)
from pipeline_kinesis_spark.sources.records import RECORD_SCHEMA
from pipeline_kinesis_spark.streaming.pinned_start import pinned_shuffle
from pipeline_kinesis_spark.streaming.continuous_view import (
    KB_COL,
    OSREL_KEEP_DEFAULT,
    PARTIAL_SEP,
    SW_BUCKET_COL,
    _write_bucket_marker,
    combine_rewrite_sql,
    combine_select_expr,
    combine_view,
    compile_view,
    drop_partial_cols,
    has_hidden_partials,
    materialize_memory,
    parse_combine_view_sql,
    parse_sw_view_sql,
    publish_bucket_files,
    read_reap_marker,
    store_bucket_files,
    read_store_manifest,
    read_store_schema,
    recover_store_swap,
    write_store_manifest,
    split_having,
    sw_combine,
    sw_rewrite_sql,
    upsert_to_parquet,
    validate_having,
)

# Reference caps parallelism at 8 bgworkers (pipeline_kinesis.c:54). We keep
# the knob for API parity but it only bounds maxFilesPerTrigger here —
# actual parallelism is Spark's scheduler.
MAX_PROCS = 8

# <view>_osrel — the output-stream relation naming convention; single
# source of truth for every parser that recognizes it
_OSREL_RE = re.compile(r"^(\w+)_osrel$")

# Default output-stream retention: OSREL_KEEP_DEFAULT (imported above,
# 1000 batches). Unbounded delta history is wrong as a default at
# 100 TB — a standing emitter would grow the osrel dir with stream
# lifetime. 1000 batches at the default 500 ms trigger is ~8 minutes of
# slack for chained consumers that run on the same cadence (typically
# <1 batch behind). Pass osrel_keep_batches=None explicitly (SQL:
# osrel_keep_batches=unbounded) for audit-everything deployments; the
# first reap under the default warns once per store (README
# "Output-stream retention").
# sentinel distinguishing "caller said nothing" (finite default) from an
# explicit None (unbounded opt-in)
_OSREL_KEEP_UNSET = object()

# cap on the error text a foreachBatch function re-raises to the JVM.
# Sizing: the stop classifier's `(.|\r\n|\r|\n)*` loop costs ~6 JVM
# stack frames PER CHARACTER of message tail after the `An error
# occurred while calling` prefix (greedy star + backtrack), and a
# default 1 MB thread stack holds ~10k frames — a 2 kB tail was
# observed to still overflow it. 300 chars ≈ 2k frames, a 5x margin,
# and the informative part (call target + root exception type) is the
# first two lines anyway.
_STREAM_ERR_HEAD = 300


def _raise_compact_batch_error(e: BaseException) -> None:
    """Re-raise a foreachBatch failure with a bounded message.

    When a foreachBatch body fails (most commonly: the stop() interrupt
    landing mid-write), the exception crossing py4j embeds the full
    Java stack as TEXT — tens of kB. Spark's stop classifier
    (StreamExecution.isInterruptionException) then runs the pattern
    ``py4j.protocol.Py4JJavaError: An error occurred while
    calling((.|\\r\\n|\\r|\\n)*)(java.lang.InterruptedException|...)``
    over that text; the unanchored any-char loop recurses once per
    character and a long message overflows the JVM stack, killing the
    stream-execution thread mid-stop instead of concluding "graceful
    stop" (observed: ~9,300 regex frames from a ~30 kB message).

    Capping the message here keeps the classifier's input small. The
    composed head line is ``module.Type: str(e)`` — for a
    Py4JJavaError that reads ``py4j.protocol.Py4JJavaError: An error
    occurred while calling oNNN.json.\\n: java.lang.InterruptedException
    ...``, so the interruption marker sits within the first ~100
    chars and stop classification still succeeds. ``from None``
    suppresses exception chaining so the original giant text does not
    ride along in the formatted traceback either.
    """
    s = f"{type(e).__module__}.{type(e).__name__}: {e}"
    if len(s) <= _STREAM_ERR_HEAD:
        raise e
    # first lines carry the py4j call target and the root exception
    # type; the java stack below them is pure classifier poison
    keep = "\n".join(s.splitlines()[:3])[:_STREAM_ERR_HEAD]
    for marker in (
        "java.lang.InterruptedException",
        "java.io.InterruptedIOException",
        "java.nio.channels.ClosedByInterruptException",
    ):
        if marker in s and marker not in keep:
            keep += f" ... {marker}"
    raise RuntimeError(keep + " ... [message truncated]") from None


def _guarded_batch(fn):
    """Wrap a foreachBatch function with the compact-error boundary."""

    @functools.wraps(fn)
    def wrapper(bdf, bid):
        try:
            return fn(bdf, bid)
        except Exception as e:
            _raise_compact_batch_error(e)
        # non-Exception BaseExceptions (SystemExit, KeyboardInterrupt)
        # propagate unchanged: re-typing them as RuntimeError would
        # alter what the interpreter-shutdown path sees, and their
        # messages are never the multi-kB py4j stacks the compaction
        # exists for

    return wrapper


def _publish_spool_batch(spool: str, bid: int, tmp: str) -> None:
    """Publish one landed datasource micro-batch into the spool: rename
    `tmp`'s non-empty part files to deterministic
    `batch-ds{bid}-{i}.jsonl` names. A REPLAY must fully replace the
    prior attempt's publish — if the first attempt wrote more files for
    this batch id than the replay does (shard set changed between
    attempts, or pinned records expired from retention), a stale
    leftover would duplicate its records downstream — so any existing
    files for this batch id are deleted first. With the source's
    pinned-replay guarantee the rewritten files are byte-identical, so
    the publish is idempotent as seen by downstream file sources."""
    stale_prefix = f"batch-ds{int(bid):010d}-"
    for n in os.listdir(spool):
        if n.startswith(stale_prefix):
            try:
                os.unlink(os.path.join(spool, n))
            except OSError:
                pass
    i = 0
    for n in sorted(os.listdir(tmp)):
        full = os.path.join(tmp, n)
        if not n.startswith("part-") or n.endswith(".crc"):
            continue
        if os.path.getsize(full) == 0:
            continue
        os.replace(
            full,
            os.path.join(spool, f"{stale_prefix}{i:04d}.jsonl"),
        )
        i += 1
    shutil.rmtree(tmp, ignore_errors=True)


def _view_qnames(name: str) -> set[str]:
    """Every streaming-query name a view may run under: the public name
    (plain memory), the sw per-step partial sink, and the combine()
    matrel sink."""
    return {name, f"{name}__sw_raw", f"{name}__mrel"}


class Engine:
    def __init__(
        self,
        spark: SparkSession,
        metadata_dir: str = ".pipeline_kinesis_spark",
        trigger_interval: str = "500 milliseconds",
        state_store: str | None = None,
        shuffle_partitions: int | None = None,
    ):
        self.spark = spark
        ship_package(spark)
        # Per-engine shuffle width for the STANDING queries this engine
        # starts (views/transforms/landing sinks). Structured Streaming
        # snapshots spark.sql.shuffle.partitions into each query's
        # checkpoint at start, and every stateful operator then pays one
        # state-store partition (plus task) per shuffle partition per
        # micro-batch — so the width should follow the pipeline's data
        # volume, not whatever the shared session happens to default to
        # (32 here, 200 stock). Tune UP for wide keyspaces on a real
        # cluster, DOWN for small replays; None = inherit the session.
        # Applied under pinned_shuffle's process-wide lock so concurrent
        # engines/gate rows can't leak widths into each other's starts.
        self._shuffle_partitions = shuffle_partitions
        if state_store == "rocksdb":
            # streaming state spills to disk instead of executor heap —
            # the right provider once view/dedup state outgrows memory
            # (100 TB keyspaces). Must be set before queries start.
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider",
            )
        elif state_store is not None:
            raise ValueError(f"unknown state_store {state_store!r}")
        self.metadata_dir = os.path.abspath(metadata_dir)
        self.catalog = Catalog(self.metadata_dir)
        self.trigger_interval = trigger_interval
        # consumer id → list[StreamingQuery]; registry mutex mirrors the
        # reference's consumer lock (pipeline_kinesis.c:830-849).
        self._queries: dict[int, list[StreamingQuery]] = {}
        # transform name → per-batch callable (THEN EXECUTE PROCEDURE);
        # process-local by nature, re-registered after restart.
        self._procs: dict[str, object] = {}
        # consumer id → (relation, parsed streaming DF) — kept so
        # ACTIVATE can wire a query onto an already-running consumer.
        self._parsed: dict[int, tuple[str, DataFrame]] = {}
        self._lock = threading.RLock()
        # pipeline_query_stats: cumulative counters per query name,
        # folded from Spark's own per-query progress ring when asked and
        # at every stop (_fold_stats) — no listener, so an unobserved
        # engine pays nothing. _stats_runs maps runId → [highest batchId
        # counted, run finished and folded for good].
        self._stats: dict[str, dict] = {}
        self._stats_runs: dict[str, list] = {}
        self._stats_lock = threading.Lock()
        # per-upsert-store mutex: the manifest design assumes a single
        # writer per store (continuous_view.py manifest note). The
        # view's foreachBatch merge and the synchronous ttl_expire()
        # sweep both rewrite buckets and republish the manifest, and
        # both run on driver threads of THIS engine — serializing them
        # here keeps the single-writer invariant without deactivating
        # the view for the sweep.
        self._store_locks: dict[str, threading.Lock] = {}
        # wire-time pins of memory-view contents, served while a
        # restarted sink query hasn't repopulated its table yet
        # (see _snapshot_memory_sink)
        self._memview_snapshots: dict[str, tuple] = {}
        # endpoint name → injected Kinesis client (boto3-shaped). Like
        # _procs, clients are process-local by nature: re-register after
        # a restart (production builds one from the endpoint row via
        # make_boto3_client when none is registered).
        self._kinesis_clients: dict[str, object] = {}
        self._kinesis_client_factories: dict[str, str] = {}
        # consumer ids running the executor-parallel datasource path —
        # their landing query needs quiescence-polling instead of
        # processAllAvailable (an always-advancing source never sets
        # Spark's noNewData flag)
        self._ds_consumers: set[int] = set()
        # auto spool-reap cadence (spool_keep_seconds consumers):
        # listdir cost per sweep, so gated; tests shrink it
        self._spool_reap_interval_s = 30.0
        # consumer id → running KinesisPump background thread
        self._pumps: dict[int, KinesisPump] = {}
        # view names whose CURRENT standing query was started with
        # output-stream emission on — lets chain wiring skip a needless
        # base restart when emission is already flowing
        self._emitting: set[str] = set()

    # ------------------------------------------------------------- catalog

    def add_endpoint(
        self,
        name: str,
        region: str = "local",
        credfile: str | None = None,
        url: str | None = None,
    ) -> None:
        self.catalog.add_endpoint(Endpoint(name, region, credfile, url))

    def remove_endpoint(self, name: str) -> None:
        self.catalog.remove_endpoint(name)
        self._kinesis_clients.pop(name, None)

    def register_kinesis_client(self, endpoint: str, client) -> None:
        """Bind a boto3-shaped Kinesis client to an endpoint: any object
        exposing describe_stream / get_shard_iterator / get_records.
        consume_begin on this endpoint then runs the full consumer
        protocol (discovery, iterator resolution, backoff, reshard
        draining) on a managed background pump instead of reading
        record files. Process-local like transform procs — re-register
        after a restart (or leave unregistered and let production build
        a real boto3 client from the endpoint's region/credfile/url)."""
        self.catalog.endpoint(endpoint)  # must exist
        self._kinesis_clients[endpoint] = client

    def register_kinesis_client_factory(
        self, endpoint: str, factory: str
    ) -> None:
        """Bind a "module:attr" factory string resolving to a zero-arg
        callable that builds a boto3-shaped Kinesis client. Unlike
        register_kinesis_client (an in-process OBJECT, driver-only),
        a factory string can ship to executor tasks — it is what the
        executor-parallel datasource path uses when the endpoint row
        alone cannot build a boto3 client (tests; exotic auth)."""
        self.catalog.endpoint(endpoint)  # must exist
        self._kinesis_client_factories[endpoint] = factory

    def create_stream(self, name: str, schema_ddl: str) -> None:
        self.catalog.create_stream(StreamDef(name, schema_ddl))

    def drop_stream(self, name: str) -> None:
        self.catalog.drop_stream(name)

    def create_continuous_view(
        self,
        name: str,
        sql: str,
        stream: str,
        output_mode: str = "complete",
        materialize: str = "memory",
        key_cols: list[str] | None = None,
        ttl_seconds: int | None = None,
        ttl_column: str | None = None,
        sw_seconds: int | None = None,
        sw_step_seconds: int | None = None,
        upsert_buckets: int | None = None,
        osrel_keep_batches: int | None = _OSREL_KEEP_UNSET,
        watermark_column: str | None = None,
        watermark_delay_seconds: int | None = None,
    ) -> None:
        """ttl_seconds/ttl_column mirror PipelineDB's
        `WITH (ttl='...', ttl_column='...')`: view rows whose ttl_column
        falls more than ttl behind the wall clock are expired — reaped at
        write time for parquet_upsert views (state stays bounded), filtered
        at read time (view_table) for memory views.

        sw_seconds mirrors PipelineDB's `WITH (sw = '...')` sliding-window
        views: reads always answer over the trailing window. The standing
        query maintains per-(group, step) PARTIAL aggregates (step =
        sw_step_seconds, default sw/20) and view_table recombines the live
        steps — aggregates must be combinable count/sum/min/max with
        aliases, the PipelineDB sw restriction, plus
        approx_count_distinct (kept as per-step mergeable HLL sketches,
        union-estimated at read — PipelineDB's own sw count(DISTINCT)
        mechanism). Exact DISTINCT is rejected: per-step distinct
        partials don't combine.

        Two sw materializations:
        - ``memory`` (default): complete-mode partials in the memory
          sink. Simple and exact, but expired steps are only filtered at
          READ time — complete mode never evicts aggregation state, so
          partials grow with process runtime (one row per group per step
          ever touched). Fine for sessions; use the durable form for
          long-running deployments.
        - ``parquet_upsert``: the production form, PipelineDB-step-GC
          equivalent. Update-mode partials under an event-time watermark
          (per-bucket aggregation state EVICTS two steps behind the
          max arrival) upserted into a parquet store keyed on
          (group cols, bucket) whose merge-time TTL reaper drops buckets
          past sw + 2 steps — state AND store bounded by the window at
          any runtime."""
        self._validate_osrel_source(stream)
        if (watermark_column is None) != (watermark_delay_seconds is None):
            raise ValueError(
                "watermark_column and watermark_delay_seconds go together"
            )
        if watermark_column is not None:
            if sw_seconds is not None:
                # sw views carry their own arrival_timestamp watermark
                # (see _view_stream_df) — two watermarks on one stream
                # would race on eviction
                raise ValueError("sw views manage their own watermark")
            if output_mode == "complete":
                # Spark's complete mode never evicts aggregation state,
                # so late rows would be silently ACCEPTED — reject
                # rather than ship a watermark that does nothing
                raise ValueError(
                    "watermark views need append or update output "
                    "(complete mode never drops late data)"
                )
        sw_aggs = sw_group_cols = sw_having = None
        combine_aggs = None
        if sw_seconds is None:
            # combine() support (PipelineDB re-aggregation at coarser
            # groupings): best-effort SELECT-list analysis; decomposable
            # aggregates make the standing query carry hidden partial
            # state. sw views get their combine map from sw_aggs below —
            # their recombined count/sum/min/max finals are themselves
            # combinable.
            combine_aggs = parse_combine_view_sql(sql)
        if sw_seconds is not None:
            if ttl_seconds is not None:
                raise ValueError("sw and ttl are mutually exclusive")
            sw_step_seconds = sw_step_seconds or max(sw_seconds // 20, 1)
            if sw_step_seconds > sw_seconds:
                raise ValueError("sw_step must not exceed sw")
            # HAVING never reaches the standing query: it is stripped
            # here and applied to the RECOMBINED window at read time
            # (view_table) — PipelineDB's overlay-view placement. A
            # per-step HAVING would silently drop groups that pass over
            # the window but in no single step.
            base_sql, sw_having = split_having(sql)
            sw_group_cols, sw_aggs = parse_sw_view_sql(base_sql)
            # combine() over an sw view merges the per-(group, step)
            # PARTIALS inside the live window — count/sum/min/max
            # combine arithmetically and approx_count_distinct unions
            # the stored HLL sketches (set semantics across both steps
            # AND regrouped keys, never sum-of-estimates).
            combine_aggs = {
                a: {"fn": fn, "arg": a} for a, fn in sw_aggs.items()
            } or None
            if sw_having is not None:
                validate_having(
                    sw_having, set(sw_group_cols) | set(sw_aggs)
                )
            if materialize == "parquet_upsert":
                # durable sw: per-step partials keyed by (groups, bucket)
                # upserted each batch; the merge's TTL reaper drops
                # buckets past the retention, and the update-mode query
                # runs under a watermark so per-bucket aggregation state
                # evicts too — sw state bounded by the WINDOW, not by
                # process lifetime (closes the memory-mode retention gap).
                if key_cols is not None:
                    # the key IS derived: (group cols, step bucket). A
                    # caller-supplied key that omits the bucket would
                    # upsert-overwrite partials across steps and silently
                    # undercount the recombined window.
                    raise ValueError(
                        "sw parquet_upsert views derive key_cols "
                        "(group columns + window bucket); do not pass it"
                    )
                key_cols = [*sw_group_cols, SW_BUCKET_COL]
                ttl_seconds = sw_seconds + 2 * sw_step_seconds
                ttl_column = f"{SW_BUCKET_COL}.end"
                output_mode = "update"
            elif materialize != "memory":
                raise ValueError(
                    "sw views support memory or parquet_upsert "
                    "materialization"
                )
        elif sw_step_seconds is not None:
            raise ValueError("sw_step requires sw")
        if materialize == "parquet_upsert" and not key_cols:
            raise ValueError("parquet_upsert materialization requires key_cols")
        if (ttl_seconds is None) != (ttl_column is None):
            raise ValueError("ttl_seconds and ttl_column go together")
        if osrel_keep_batches is _OSREL_KEEP_UNSET:
            # bounded by default; None stays the explicit
            # audit-everything opt-in
            osrel_keep_batches = OSREL_KEEP_DEFAULT
        self.catalog.create_view(
            ViewDef(
                name,
                sql,
                stream,
                output_mode,
                materialize,
                key_cols,
                ttl_seconds,
                ttl_column,
                sw_seconds=sw_seconds,
                sw_step_seconds=sw_step_seconds,
                sw_aggs=sw_aggs,
                sw_group_cols=sw_group_cols,
                sw_having=sw_having,
                upsert_buckets=upsert_buckets,
                combine_aggs=combine_aggs,
                osrel_keep_batches=osrel_keep_batches,
                watermark_column=watermark_column,
                watermark_delay_seconds=watermark_delay_seconds,
            )
        )
        # PipelineDB starts materializing the moment the view exists —
        # wire it onto any consumer already running for its stream
        # (consumers started later pick it up in consume_begin).
        with self._lock:
            vd_live = ViewDef(**self.catalog.state.views[name])
            for cid, (relation, good) in self._parsed.items():
                self._wire_view(cid, relation, good, vd_live)

    def _validate_osrel_source(self, stream: str) -> None:
        """A standing query reading ``<v>_osrel`` chains on view v's
        output stream — v must exist and be a parquet_upsert view (the
        only materialization whose merge sees old and new rows
        together). Checked here so the error surfaces at CREATE, not at
        consume_begin. A DECLARED stream whose name merely ends in
        ``_osrel`` is not an output stream — same precedence as
        catalog._is_source_relation (streams checked first), so the two
        validators agree."""
        m = _OSREL_RE.match(stream)
        if not m or stream in self.catalog.state.streams:
            return
        base = self.catalog.state.views.get(m.group(1))
        if base is None:
            raise KeyError(
                f"output stream {stream!r} has no continuous view "
                f"{m.group(1)!r}"
            )
        if base.get("materialize") != "parquet_upsert":
            raise ValueError(
                "output streams are emitted by parquet_upsert views; "
                f"{m.group(1)!r} materializes as "
                f"{base.get('materialize')!r}"
            )

    def output_stream(self, view_name: str) -> DataFrame:
        """Batch read of a view's output stream history — every (old,
        new, arrival_timestamp) delta tuple emitted so far. The live
        streaming form is a chained view/transform FROM
        ``<view>_osrel`` (SQL: ``FROM output_of('view')``)."""
        d = self.osrel_dir(view_name)
        return (
            self.spark.read.option("recursiveFileLookup", "true")
            .parquet(d)
        )

    def _view_compile_sql(self, view: ViewDef) -> str:
        """The SQL the standing query actually runs: sw views compile to
        their per-step partial form, with any HAVING stripped (it
        belongs to the read-time recombination, never to partials)."""
        if view.sw_seconds is not None:
            return sw_rewrite_sql(
                split_having(view.sql)[0], view.sw_step_seconds
            )
        if view.combine_aggs:
            # hidden partial-state columns ride the same hash-aggregate
            # pass as the user's aggregates — combine() maintenance is
            # free at write time
            return combine_rewrite_sql(view.sql, view.combine_aggs)
        return view.sql

    def _view_stream_df(self, view: ViewDef, src: DataFrame) -> DataFrame:
        """Durable sw views aggregate under an event-time watermark on
        arrival_timestamp so update-mode per-bucket state EVICTS once the
        bucket falls two steps behind the max observed arrival — without
        it the windowed aggregation keeps every bucket ever touched."""
        if (
            view.sw_seconds is not None
            and view.materialize == "parquet_upsert"
        ):
            return src.withWatermark(
                "arrival_timestamp", f"{2 * view.sw_step_seconds} seconds"
            )
        if view.watermark_column is not None:
            # B25 explicit event-time watermark: late rows behind
            # max(event_time) - delay are dropped. NB: Catalyst pushes
            # deterministic WHERE predicates BELOW the watermark node,
            # so rows the view SQL filters out do NOT advance the
            # watermark — a heartbeat/sentinel record must survive the
            # view's own predicates to move event time forward.
            return src.withWatermark(
                view.watermark_column,
                f"{view.watermark_delay_seconds} seconds",
            )
        return src

    def create_continuous_transform(
        self,
        name: str,
        sql: str,
        stream: str,
        sink_relation: str | None = None,
        proc=None,
    ) -> None:
        """CREATE CONTINUOUS TRANSFORM analog (PipelineDB surface): `sql`
        must be row-wise (no aggregation — it runs in append mode). Output
        rows append to `sink_relation` (queryable via stream_table / sql,
        like PipelineDB's output stream), and/or `proc(batch_df, batch_id)`
        runs per micro-batch (THEN EXECUTE PROCEDURE). Callables can't be
        persisted: after a process restart, re-register the proc by calling
        this again before consume_begin (the catalog row itself survives).
        """
        if sink_relation is None and proc is None:
            raise ValueError("transform needs a sink_relation and/or a proc")
        self._validate_osrel_source(stream)
        self.catalog.create_transform(
            TransformDef(name, sql, stream, sink_relation)
        )
        if proc is not None:
            self._procs[name] = proc
        # start on already-running consumers of the stream (PipelineDB
        # semantics: transforms run as soon as they exist)
        with self._lock:
            td_live = TransformDef(
                **self.catalog.state.transforms[name]
            )
            for cid, (relation, good) in self._parsed.items():
                self._wire_transform(cid, relation, good, td_live)

    def drop_continuous_transform(self, name: str) -> None:
        """Stop the transform's standing query and unregister it (running
        consumers keep ingesting — same contract as dropping a view)."""
        with self._lock:
            self.catalog.drop_transform(name)
            self._procs.pop(name, None)
            self._stop_named({f"transform_{name}"})

    def drop_continuous_view(self, name: str) -> None:
        """Unregister the view and stop any running query materializing it
        (running consumers keep ingesting; only this view's maintenance
        stops — the PipelineDB DROP CONTINUOUS VIEW contract). A view
        with standing output-stream consumers cannot be dropped — drop
        the dependents first (PipelineDB's dependent-object error)."""
        with self._lock:
            osrel = f"{name}_osrel"
            deps = [v.name for v in self.catalog.views_on(osrel)] + [
                t.name for t in self.catalog.transforms_on(osrel)
            ]
            if deps:
                raise ValueError(
                    f"continuous view {name!r} has output-stream "
                    f"consumers {deps}; drop them first"
                )
            self.catalog.drop_view(name)
            for sink in (name, f"{name}__sw_raw", f"{name}__mrel"):
                self._memview_snapshots.pop(sink, None)
            self._stop_named(_view_qnames(name))

    # --------------------------------------------------------------- paths

    def table_dir(self, relation: str) -> str:
        return os.path.join(self.metadata_dir, "tables", relation)

    def dead_letter_dir(self, relation: str) -> str:
        return os.path.join(self.metadata_dir, "dead_letter", relation)

    def view_dir(self, view_name: str) -> str:
        return os.path.join(self.metadata_dir, "views", view_name)

    def osrel_dir(self, view_name: str) -> str:
        """Directory backing the view's output stream (PipelineDB
        ``<view>_osrel``): one ``b<batch>`` subdir of delta tuples per
        upsert batch."""
        return os.path.join(self.metadata_dir, "osrel", view_name)

    def _store_lock(self, view_name: str) -> threading.Lock:
        """The single-writer mutex for one view's upsert store (created
        on first use; _lock guards the registry itself)."""
        with self._lock:
            return self._store_locks.setdefault(
                view_name, threading.Lock()
            )

    def _ckpt(self, consumer_id: int, kind: str) -> str:
        """Checkpoint path for one standing query. PURE — no side
        effects; callable from gap checks or diagnostics while a query
        may be mid-batch. The batch-0 debris reset lives in
        _reset_batch0_debris and runs only via _ckpt_for_start,
        immediately before writeStream.start()."""
        return os.path.join(
            self.metadata_dir, "checkpoints", str(consumer_id), kind
        )

    @staticmethod
    def _ckpt_has_committed_batch(path: str) -> bool:
        """True iff the checkpoint's offset log holds at least one
        committed (digit-named) batch. FAIL-SAFE: a transient OSError
        on the listing (EMFILE, permission blip, NFS hiccup) reports
        True — callers must then KEEP the checkpoint and let Spark
        surface the real error, never destroy state on a read failure
        (ADVICE r14 #1)."""
        off = os.path.join(path, "offsets")
        try:
            return os.path.isdir(off) and any(
                n.isdigit() for n in os.listdir(off)
            )
        except OSError:
            return True

    def _reset_batch0_debris(self, path: str) -> str:
        """Batch-0 debris hygiene (r14, found by tools/fuzz_lifecycle.py):
        consume_end can interrupt Spark's offset-log write between the
        temp-file create and its atomic rename, leaving a checkpoint
        whose offset log holds a `.tmp` stub but NO committed batch.
        Spark 4.1's verifyCheckpointDirectoryEmptyOnStart guard
        (default on) then refuses the resume outright
        (STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY: "should be empty
        on batch 0"). A checkpoint with no committed offsets batch
        never got past batch 0, so resetting it for a clean first
        start loses nothing — the exactly-once contract rides the
        sink-side logs (parquet _spark_metadata / spool publish /
        attained-position pins), all of which tolerate a batch-0
        replan by construction. A checkpoint WITH a committed batch —
        or one whose offset log can't be LISTED (fail-safe: only wipe
        when the listing positively shows no committed batch) —
        resumes untouched. Destructive, so called ONLY from
        _ckpt_for_start immediately before a query start (ADVICE r14
        #2: a path-getter with a destructive side effect was safe only
        while every caller preceded query start)."""
        if os.path.isdir(path) and not self._ckpt_has_committed_batch(
            path
        ):
            shutil.rmtree(path, ignore_errors=True)
        return path

    def _ckpt_for_start(self, consumer_id: int, kind: str) -> str:
        """Checkpoint path for a query that is about to START — applies
        the batch-0 debris reset. Every `.option("checkpointLocation",
        ...)` site uses this; everything else uses the pure _ckpt."""
        return self._reset_batch0_debris(self._ckpt(consumer_id, kind))

    def _ds_state_dir(self, consumer_id: int) -> str:
        """Attained-position metadata for the executor-parallel
        datasource path — pairs 1:1 with the consumer's checkpoints
        (wipe both together or neither)."""
        return os.path.join(
            self.metadata_dir, "dsstate", str(consumer_id)
        )

    # ------------------------------------------------------------- consume

    def consume_begin(
        self,
        endpoint: str,
        stream: str,
        relation: str,
        fmt: str = "text",
        delimiter: str = "\t",
        quote: str | None = None,
        escape: str | None = None,
        batchsize: int = 1000,
        parallelism: int = 1,
        start_position: str = "trim_horizon",
        rate_limit_rps: float | None = None,
        source: str = "auto",
        spool_keep_seconds: float | None = None,
        dedup: bool | str = False,
    ) -> Consumer:
        """Start ingesting `stream` (a directory under the endpoint url)
        into the declared `relation`, plus one incremental query per
        continuous view registered on that relation.

        Defaults mirror the reference (format='text', delimiter=tab,
        batchsize=1000, parallelism=1 — pipeline_kinesis--0.9.0.sql:54-60).
        Restarting an existing consumer resumes from its checkpoints — the
        analog of seqnum recovery (pipeline_kinesis.c:459-536).

        ``source`` picks the Kinesis ingest architecture:
        - "pump": the managed driver-side polling pump (reference
          bgworker parity; fine up to MAX_PROCS-ish shards);
        - "datasource": the executor-parallel Python DataSource
          (sources/kinesis_datasource.py) — one input partition per
          shard, GetRecords on executors, ingest bandwidth scales with
          the cluster; needs a boto3-reachable endpoint row (or a
          registered client factory), not an injected client object;
        - "auto" (default): "datasource" when discovery reports more
          shards than MAX_PROCS (the reference's own worker ceiling,
          pipeline_kinesis.c:54) and the endpoint can serve it,
          else "pump".

        ``spool_keep_seconds`` bounds the raw kinesis spool (the record
        files the pump/landing writes and the ingest pipeline consumes):
        files older than this are auto-reaped during ingestion. None
        (default) keeps them forever — the audit-everything behavior;
        at scale pass a retention comfortably above the slowest
        standing query's lag (see reap_spool for the safety contract).
        """
        with self._lock:
            ep = self.catalog.endpoint(endpoint)
            sd = self.catalog.stream(relation)
            # kinesis-typed endpoints carry an injected client, or no
            # local source directory to replay from (url absent, or a
            # scheme:// URL — the reference's AWS endpoint url);
            # file-replay endpoints always carry a plain directory
            # path, whatever region string they declare
            url_is_dir = bool(ep.url) and not re.match(
                r"^[a-z][a-z0-9+.-]*://", ep.url
            )
            is_kinesis = (
                endpoint in self._kinesis_clients or not url_is_dir
            )
            if (
                is_kinesis
                and endpoint not in self._kinesis_clients
                and not ep.url
                and (ep.region or "local") == "local"
            ):
                # plainly misconfigured: nothing to replay, no client,
                # no region to build one from — fail here, not in the
                # pump thread
                raise ValueError(
                    f"endpoint {endpoint!r} has no source url and no "
                    "kinesis client (register_kinesis_client, or set "
                    "url/region)"
                )
            if start_position not in ("trim_horizon", "latest") and not (
                start_position.startswith("after_sequence_number:")
            ):
                raise ValueError(f"unknown start_position {start_position!r}")
            if spool_keep_seconds is not None and not is_kinesis:
                # the file-feed path reads the caller's own directory
                # directly — there is no engine-owned spool to reap, and
                # silently accepting the knob would let a user believe
                # their landing area is retention-bounded when it isn't
                raise ValueError(
                    "spool_keep_seconds applies to kinesis consumers "
                    "only (file-feed consumers read the source "
                    "directory directly; nothing is spooled)"
                )
            parallelism = min(max(parallelism, 1), MAX_PROCS)
            prev = self.catalog.find_consumer(endpoint, stream, relation)
            if (
                prev is not None
                and source in ("pump", "datasource")
                and prev.source in ("pump", "datasource")
                and source != prev.source
            ):
                # an EXPLICIT source that conflicts with the persisted
                # resolution would restart on the other path and
                # resume from checkpoints that path never wrote,
                # re-ingesting from start_position — the exact
                # duplicate window the persisted resolution closes.
                # Refuse before the upsert overwrites the resolution;
                # consume_end drops the consumer (and its checkpoint
                # domain) for a deliberate mode switch.
                raise ValueError(
                    f"consumer for {stream!r} previously ingested via "
                    f"source={prev.source!r}; restarting with "
                    f"source={source!r} would resume from checkpoints "
                    f"the {source!r} path never wrote (duplicate "
                    f"ingest). consume_end first to switch ingest "
                    f"modes, or pass source='auto' / "
                    f"source={prev.source!r}."
                )
            consumer = self.catalog.upsert_consumer(
                Consumer(
                    id=0,
                    endpoint=endpoint,
                    stream=stream,
                    relation=relation,
                    format=fmt,
                    delimiter=delimiter,
                    quote=quote,
                    escape=escape,
                    batchsize=batchsize,
                    parallelism=parallelism,
                    start_position=start_position,
                    rate_limit_rps=rate_limit_rps,
                    spool_keep_seconds=spool_keep_seconds,
                    source=source,
                    dedup=dedup,
                )
            )
            if self._queries.get(consumer.id):
                return consumer  # already running
            interval = self._trigger_for(consumer)

            pump: KinesisPump | None = None
            if is_kinesis and source not in ("auto", "pump", "datasource"):
                raise ValueError(f"unknown source mode {source!r}")
            # a restart in "auto" reuses the RESOLVED path from the
            # catalog (upsert_consumer preserved it): pump checkpoints
            # (catalog seqnums) and datasource offsets (Spark WAL +
            # attained files) are not interchangeable, so re-rolling
            # the auto decision on restart could resume from
            # checkpoints the original path never wrote and re-ingest
            # from start_position (duplicates)
            source_req = source
            if source_req == "auto" and consumer.source in (
                "pump",
                "datasource",
            ):
                source_req = consumer.source
            ds_mode = False
            n_live_shards = 0
            if is_kinesis:
                client = self._kinesis_clients.get(endpoint)
                factory = self._kinesis_client_factories.get(endpoint)
                if client is None and factory is not None:
                    from pipeline_kinesis_spark.sources.kinesis_datasource import (  # noqa: E501
                        _load_factory,
                    )

                    client = _load_factory(factory)()
                if client is None:
                    client = make_boto3_client(
                        ep.region, ep.credfile, ep.url
                    )
                # an injected client OBJECT is driver-only; the
                # datasource needs executors to build their own
                # (factory string, or a boto3-usable endpoint row)
                ds_capable = (
                    factory is not None
                    or endpoint not in self._kinesis_clients
                )
                if source_req == "datasource":
                    if not ds_capable:
                        raise ValueError(
                            "source='datasource' needs a boto3-usable "
                            "endpoint row or register_kinesis_client_"
                            "factory — an injected client object "
                            "cannot ship to executors"
                        )
                    ds_mode = True
                elif source_req == "auto" and ds_capable:
                    # the reference's own worker ceiling (MAX_PROCS=8,
                    # pipeline_kinesis.c:54): beyond it, shard-parallel
                    # executor ingest wins; discovery failure here is
                    # not fatal — the pump will surface it properly
                    try:
                        n_shards = len(
                            describe_all_shards(client, stream)
                        )
                    except Exception as exc:  # noqa: BLE001
                        if isinstance(
                            exc, (NameError, AttributeError, TypeError)
                        ):
                            raise  # programming error, never swallow
                        n_shards = 0
                    n_live_shards = n_shards
                    ds_mode = n_shards > MAX_PROCS
            # persist the RESOLVED ingest path so consume_begin_all
            # restarts this consumer the same way (see source_req above)
            resolved_source = (
                ("datasource" if ds_mode else "pump")
                if is_kinesis
                else "file"
            )
            if consumer.source != resolved_source:
                consumer.source = resolved_source
                self.catalog.upsert_consumer(consumer)
            ds_raw = None
            if ds_mode:
                # Executor-parallel ingest: one input partition per
                # shard, GetRecords polled ON executors (sources/
                # kinesis_datasource.py). Exactly ONE streaming query
                # may consume the source (its attained side-channel is
                # single-consumer), so the topology is LANDING + FAN-
                # OUT: a landing query writes each micro-batch's raw
                # records — executor-parallel, deterministic file
                # names, idempotent under replay — into the same spool
                # format the pump uses, and the proven FileReplaySource
                # → parse → archive/dead-letter/view pipeline consumes
                # the spool with per-query file-source offsets. Bytes
                # flow Kinesis → executors → shared storage; the
                # driver only renames spool files (metadata). Offsets
                # live in the Spark checkpoint (+ attained files) —
                # the catalog seqnum round-trip of the pump path is
                # not needed; seqnums() reads the attained files.
                spec = self.spark.sparkContext.getConf().get(
                    "spark.speculation", "false"
                )
                if str(spec).lower() == "true":
                    # the attained side-channel pins replays first-
                    # writer-wins per (epoch, start), which removes the
                    # record-LOSS window — but a speculative attempt
                    # whose output commits after losing the pin race
                    # could still duplicate a tail; refuse rather than
                    # weaken exactly-once
                    raise ValueError(
                        "source='datasource' requires "
                        "spark.speculation=false (speculative task "
                        "attempts race the attained-position pin)"
                    )
                cfg = KinesisSource(
                    stream_name=stream,
                    region=ep.region or "local",
                    endpoint_url=ep.url,
                    credfile=ep.credfile,
                    start_position=start_position,
                    batch_size=batchsize,
                    max_fetch_rate_per_shard=rate_limit_rps or 4.0,
                )
                ds_raw = cfg.read_stream(
                    self.spark,
                    state_dir=self._ds_state_dir(consumer.id),
                    client_factory=self._kinesis_client_factories.get(
                        endpoint
                    ),
                    # one scheduling wave per trigger: when live shards
                    # outnumber the cluster's task slots, the reader
                    # packs shards round-robin into at most this many
                    # group partitions (per-shard pacing/caps/replay
                    # pins unchanged) — 128 shards on local[32] was 4
                    # waves per 100 ms batch, measured 1.6x slower
                    # than 64 shards despite half the data
                    max_partitions=max(
                        self.spark.sparkContext.defaultParallelism,
                        parallelism,
                    ),
                )
                spool = os.path.join(
                    self.metadata_dir, "spool", str(consumer.id)
                )
                os.makedirs(spool, exist_ok=True)
                # flow control on this path lives in the LANDING query
                # (per-shard record caps + trigger pacing); the file
                # -source admission cap is only a backstop, so it must
                # not throttle the drain below the landing rate — one
                # landing batch publishes up to one file per SHARD, so
                # the backstop is derived from the LIVE shard count
                # (2x headroom for resharding splits between restarts),
                # never a constant a bigger stream can outgrow
                if n_live_shards == 0:
                    try:
                        n_live_shards = len(
                            describe_all_shards(client, stream)
                        )
                    except Exception:  # noqa: BLE001 — backstop only
                        n_live_shards = 0
                replay_src = FileReplaySource(
                    spool,
                    max_files_per_trigger=max(
                        parallelism, 2 * n_live_shards, 64
                    ),
                )
                records = replay_src.read_stream(self.spark)
            elif is_kinesis:
                # full consumer protocol on a managed background pump
                # (reference consume_thread, kinesis_consumer.cpp:
                # 328-332, 364-434): poller → record spool → the same
                # FileReplaySource→parse→view pipeline as file feeds.
                # The poller resolves start position SERVER-side (and a
                # catalog checkpoint always wins), so no driver-side
                # seqnum filtering — kinesis seqnums need not compare
                # lexicographically.
                spool = os.path.join(
                    self.metadata_dir, "spool", str(consumer.id)
                )
                os.makedirs(spool, exist_ok=True)
                cfg = KinesisSource(
                    stream_name=stream,
                    region=ep.region or "local",
                    endpoint_url=ep.url,
                    credfile=ep.credfile,
                    start_position=start_position,
                    batch_size=batchsize,
                    max_fetch_rate_per_shard=rate_limit_rps or 4.0,
                )
                poller = cfg.poller(
                    client,
                    checkpoints=self.catalog.load_kinesis_seqnums(
                        consumer.id
                    ),
                )
                # reference save_consumer_state parity: persist the
                # per-shard COMMITTED (spooled) positions after every
                # landing round. snapshot+write happen under ONE lock:
                # with parallelism>1 each worker thread lands rounds
                # independently, and an unserialized pair would let a
                # worker holding an older snapshot os.replace over a
                # newer one — a restart would then resume BEFORE
                # already-spooled records and re-ingest them. Within
                # the lock, snapshots are taken in write order and the
                # checkpoint map only ever advances per shard, so the
                # last write is always the newest.
                persist_lock = threading.Lock()
                reap_state = {"t": 0.0}

                def _persist_round(
                    n,
                    _cid=consumer.id,
                    _p=poller,
                    _lk=persist_lock,
                    _spool=spool,
                    _keep=spool_keep_seconds,
                    _rs=reap_state,
                ):
                    with _lk:
                        self.catalog.save_kinesis_seqnums(
                            _cid, _p.snapshot_checkpoints()
                        )
                    if _keep is not None:
                        import time as _t

                        now = _t.monotonic()
                        # time-gated: a listdir every landing round
                        # would be O(spool) work per batch
                        if (
                            now - _rs["t"]
                            > self._spool_reap_interval_s
                        ):
                            _rs["t"] = now
                            self._reap_spool_dir(_spool, _keep)

                pump = KinesisPump(
                    KinesisReplayBridge(poller, spool),
                    rate_per_shard=cfg.max_fetch_rate_per_shard,
                    on_round=_persist_round,
                    name=f"kinesis_pump_c{consumer.id}",
                    # A4 parity: shards partition across up to
                    # MAX_PROCS polling workers (parallelism is already
                    # clamped above)
                    workers=parallelism,
                )
                replay_src = FileReplaySource(
                    spool, max_files_per_trigger=parallelism
                )
                records = replay_src.read_stream(self.spark)
            else:
                replay_src = FileReplaySource(
                    os.path.join(ep.url, stream),
                    max_files_per_trigger=parallelism,
                )
                records = self._apply_start_position(
                    consumer, replay_src, replay_src.read_stream(self.spark)
                )
            if dedup:
                # B26: the wire is at-least-once (a failed copy retries
                # the WHOLE batch, pipeline_kinesis.c:744-758), so the
                # same (shard, seqnum) record can arrive again in a
                # later file/batch. Collapse redeliveries BEFORE parse
                # so the archive, the dead-letter quarantine and every
                # standing view each see a record exactly once. Keyed
                # on the Kinesis identity (shard_id, sequence_number);
                # first delivery wins.
                keys = ["shard_id", "sequence_number"]
                if isinstance(dedup, str):
                    # bounded dedup state: redeliveries only need to be
                    # remembered for the redelivery horizon, so the
                    # watermark reaps older keys — the at-scale setting
                    # (unbounded dropDuplicates state on a 100 TB
                    # stream is a slow leak). Records must carry
                    # arrival timestamps for this form.
                    records = records.withWatermark(
                        "approximate_arrival_timestamp", dedup
                    ).dropDuplicatesWithinWatermark(keys)
                else:
                    records = records.dropDuplicates(keys)
            parsed = parse_records(
                records, sd.schema_ddl, fmt, delimiter, quote, escape
            )
            good, bad = split_quarantine(parsed)

            queries: list[StreamingQuery] = []
            if ds_mode:
                # (0) landing: drain the executor-parallel source into
                # the spool. bdf.write.json runs ON EXECUTORS (the
                # data path); the driver only renames the part files
                # to deterministic per-(batch, partition) spool names
                # — with the source's pinned-replay guarantee a
                # replayed batch rewrites byte-identical files, so the
                # publish is idempotent and downstream file sources
                # never see a torn or divergent batch.
                _land_reap = {"t": 0.0}

                def _land(
                    bdf,
                    bid,
                    _spool=spool,
                    _keep=spool_keep_seconds,
                    _rs=_land_reap,
                ):
                    if _keep is not None:
                        import time as _t

                        now = _t.monotonic()
                        if (
                            now - _rs["t"]
                            > self._spool_reap_interval_s
                        ):
                            _rs["t"] = now
                            self._reap_spool_dir(_spool, _keep)
                    tmp = f"{_spool}__tmp_b{bid}"
                    bdf.write.mode("overwrite").json(tmp)
                    _publish_spool_batch(_spool, bid, tmp)

                queries.append(self._start_query(
                    ds_raw.writeStream.foreachBatch(_guarded_batch(_land))
                    .queryName(
                        f"kds_landing_{relation}_c{consumer.id}"
                    )
                    .option(
                        "checkpointLocation",
                        self._ckpt_for_start(consumer.id, "kds_landing"),
                    )
                    .trigger(processingTime=interval)
                ))
                self._ds_consumers.add(consumer.id)
            # (a) exactly-once durable archive of the parsed stream.
            queries.append(self._start_query(
                good.writeStream.format("parquet")
                .queryName(f"ingest_{relation}_c{consumer.id}")
                .option("path", self.table_dir(relation))
                .option("checkpointLocation", self._ckpt_for_start(consumer.id, "ingest"))
                .trigger(processingTime=interval)
            ))
            # (b) dead-letter quarantine (improves on the reference's
            # whole-batch drop, pipeline_kinesis.c:740-758).
            queries.append(self._start_query(
                bad.writeStream.format("parquet")
                .queryName(f"deadletter_{relation}_c{consumer.id}")
                .option("path", self.dead_letter_dir(relation))
                .option(
                    "checkpointLocation",
                    self._ckpt_for_start(consumer.id, "dead_letter"),
                )
                .trigger(processingTime=interval)
            ))
            # (c) continuous views registered on this relation; each may
            # fan out further through its output stream (PipelineDB
            # output_of chaining): delta emission turns on only when the
            # view has active downstream consumers.
            for view in self.catalog.views_on(relation):
                if not view.active:
                    continue
                vdf = compile_view(
                    self.spark,
                    self._view_stream_df(view, good),
                    relation,
                    self._view_compile_sql(view),
                )
                delta_dir = self._osrel_delta_dir(view)
                queries.append(
                    self._start_view_query(
                        consumer.id, view, vdf, delta_dir=delta_dir
                    )
                )
                if delta_dir is not None:
                    self._start_osrel_consumers(
                        consumer.id, view, vdf.schema, queries
                    )
            # (d) continuous transforms registered on this relation:
            # row-wise standing queries, append-mode, output → sink
            # relation parquet and/or per-batch proc.
            for t in self.catalog.transforms_on(relation):
                if not t.active:
                    continue
                tdf = compile_view(self.spark, good, relation, t.sql)
                sink_dir = (
                    self.table_dir(t.sink_relation)
                    if t.sink_relation
                    else None
                )
                queries.append(
                    self._start_transform_query(consumer.id, t, tdf)
                )
                # (e) chained continuous views over this transform's sink
                # relation (PipelineDB: views reading an output stream).
                # The sink dir doubles as a file-stream source; schema is
                # the transform's own output schema, so chaining needs no
                # separate declaration.
                if sink_dir is not None:
                    chained = [
                        v
                        for v in self.catalog.views_on(t.sink_relation)
                        if v.active
                    ]
                    if chained:
                        os.makedirs(sink_dir, exist_ok=True)
                        src = (
                            self.spark.readStream.schema(tdf.schema)
                            .parquet(sink_dir)
                        )
                        for view in chained:
                            vdf = compile_view(
                                self.spark, src, t.sink_relation,
                                self._view_compile_sql(view),
                            )
                            queries.append(
                                self._start_view_query(
                                    consumer.id, view, vdf
                                )
                            )
            self._queries[consumer.id] = queries
            self._parsed[consumer.id] = (relation, good)
            if pump is not None:
                # start polling only after every standing query is up so
                # a pump error never races engine wiring
                pump.start()
                self._pumps[consumer.id] = pump
            return consumer

    # ---------------------------------------- ACTIVATE / DEACTIVATE

    def deactivate(self, name: str) -> None:
        """DEACTIVATE analog: stop maintaining the named continuous view
        or transform. Definition and materialized state stay; consumers
        keep ingesting."""
        with self._lock:
            kind = self.catalog.set_active(name, False)
            self._stop_named(
                # sw / combine-matrel views run under suffixed sink names
                _view_qnames(name)
                if kind == "view"
                else {f"transform_{name}"}
            )

    def activate(self, name: str) -> None:
        """ACTIVATE analog: resume maintenance of a deactivated view or
        transform on every running consumer of its stream, from its
        checkpoint — no events are lost while deactivated (they are
        replayed/resumed from the archived source)."""
        with self._lock:
            kind = self.catalog.set_active(name, True)
            for cid, (relation, good) in self._parsed.items():
                if kind == "view":
                    vd = ViewDef(**self.catalog.state.views[name])
                    self._wire_view(cid, relation, good, vd)
                else:
                    td = TransformDef(**self.catalog.state.transforms[name])
                    self._wire_transform(cid, relation, good, td)

    def _resolve_chain_source(
        self, cid: int, relation: str, good: DataFrame, stream: str
    ) -> DataFrame | None:
        """Resolve the streaming source for `stream` on an
        already-running consumer of `relation`: the consumer's parsed
        stream itself, a view's output stream (recursively — the base
        view is restarted WITH delta emission only if it is not
        already emitting), or a transform's sink relation. None when
        the chain does not root at `relation`."""
        if stream == relation:
            return good
        m = _OSREL_RE.match(stream)
        if m and m.group(1) in self.catalog.state.views:
            base = ViewDef(**self.catalog.state.views[m.group(1)])
            if not base.active:
                return None
            base_src = self._resolve_chain_source(
                cid, relation, good, base.stream
            )
            if base_src is None:
                return None
            base_vdf = compile_view(
                self.spark,
                self._view_stream_df(base, base_src),
                base.stream,
                self._view_compile_sql(base),
            )
            base_running = any(
                q.name in _view_qnames(base.name) and q.isActive
                for q in self._queries[cid]
            )
            if not (base_running and base.name in self._emitting):
                # (re)start the base with emission on — checkpoint
                # resume, nothing lost; an already-emitting base is
                # left untouched (no needless materialization stall)
                self._stop_named(_view_qnames(base.name), cid)
                self._queries[cid].append(
                    self._start_view_query(
                        cid,
                        base,
                        base_vdf,
                        delta_dir=self._osrel_delta_dir(base),
                    )
                )
            return self.spark.readStream.schema(
                self._osrel_schema(base_vdf.schema)
            ).parquet(os.path.join(self.osrel_dir(base.name), "b*"))
        for t in self.catalog.transforms_on(relation):
            if t.sink_relation == stream:
                tdf = compile_view(self.spark, good, relation, t.sql)
                sink_dir = self.table_dir(stream)
                os.makedirs(sink_dir, exist_ok=True)
                return self.spark.readStream.schema(tdf.schema).parquet(
                    sink_dir
                )
        return None

    def _wire_view(
        self, cid: int, relation: str, good: DataFrame, vd: ViewDef
    ) -> bool:
        """Start vd's standing query on an already-running consumer of
        `relation` — direct, chained on another view's output stream
        (any depth), or chained on a transform's sink. Idempotent: a
        live query for the view is never double-started. Shared by
        ACTIVATE and by CREATE CONTINUOUS VIEW issued while consumers
        run (PipelineDB starts materializing immediately in both
        cases)."""
        if any(
            q.name in _view_qnames(vd.name) and q.isActive
            for q in self._queries[cid]
        ):
            return False
        src = self._resolve_chain_source(cid, relation, good, vd.stream)
        if src is None:
            return False
        m = _OSREL_RE.match(vd.stream)
        if m and m.group(1) in self.catalog.state.views:
            self._check_osrel_gap(
                m.group(1),
                self._ckpt(cid, f"view_{vd.name}"),
                f"continuous view {vd.name!r}",
            )
        vdf = compile_view(
            self.spark,
            self._view_stream_df(vd, src),
            vd.stream,
            self._view_compile_sql(vd),
        )
        self._queries[cid].append(
            self._start_view_query(
                cid, vd, vdf, delta_dir=self._osrel_delta_dir(vd)
            )
        )
        return True

    def _wire_transform(
        self, cid: int, relation: str, good: DataFrame, td: TransformDef
    ) -> bool:
        """Start td's standing query on an already-running consumer of
        `relation` (idempotent) — direct or chained on a view's output
        stream. Shared by ACTIVATE and by CREATE CONTINUOUS TRANSFORM
        issued while consumers run."""
        if any(
            q.name == f"transform_{td.name}" and q.isActive
            for q in self._queries[cid]
        ):
            return False
        src = self._resolve_chain_source(cid, relation, good, td.stream)
        if src is None:
            return False
        m = _OSREL_RE.match(td.stream)
        if m and m.group(1) in self.catalog.state.views:
            self._check_osrel_gap(
                m.group(1),
                self._ckpt(cid, f"transform_{td.name}"),
                f"continuous transform {td.name!r}",
            )
        tdf = compile_view(self.spark, src, td.stream, td.sql)
        self._queries[cid].append(
            self._start_transform_query(cid, td, tdf)
        )
        return True

    def pipeline_queries(self) -> DataFrame:
        """Queryable inventory of standing queries — the analog of
        PipelineDB's pipeline_views()/pipeline_transforms() catalog
        relations. `running` reflects live StreamingQuery state."""
        live = {
            q.name
            for _, q in self._query_snapshot()
            if q.name and q.isActive
        }
        rows = []
        for v in self.catalog.state.views.values():
            rows.append(
                (
                    v["name"],
                    "view",
                    v["stream"],
                    v.get("materialize", "memory"),
                    bool(v.get("active", True)),
                    bool(_view_qnames(v["name"]) & live),
                )
            )
        for t in self.catalog.state.transforms.values():
            rows.append(
                (
                    t["name"],
                    "transform",
                    t["stream"],
                    t.get("sink_relation") or "",
                    bool(t.get("active", True)),
                    f"transform_{t['name']}" in live,
                )
            )
        return self.spark.createDataFrame(
            rows,
            "name STRING, kind STRING, stream STRING, sink STRING, "
            "active BOOLEAN, running BOOLEAN",
        )

    def ttl_expire(self, view_name: str) -> int:
        """``pipeline_ttl_expire('<view>')`` analog: synchronously reap
        every expired row from a TTL parquet_upsert view's store, not
        just the buckets recent batches touched — returns the number of
        rows removed. The background path already guarantees
        correctness (merge-time reap + round-robin sweep + read-time
        filter); this is the ops hammer for reclaiming space NOW.
        Per-bucket rewrite through the same two-generation MVCC commit
        the merge uses, so concurrent manifest-planned readers keep
        their files; only buckets that actually hold expired rows are
        rewritten.

        Output-stream note: the manual sweep does NOT emit delete
        tuples (it runs outside any batch, and reads already hide
        expired rows everywhere); chained consumers see TTL deletes
        through the merge-time reaper's tuples."""
        vd = self.catalog.state.views.get(view_name)
        if vd is None:
            raise KeyError(f"unknown continuous view {view_name!r}")
        ttl, col = vd.get("ttl_seconds"), vd.get("ttl_column")
        if ttl is None or col is None:
            raise ValueError(f"view {view_name!r} has no TTL")
        if vd.get("materialize") != "parquet_upsert":
            raise ValueError(
                "memory TTL views filter expired rows at read time; "
                "there is no store to reap"
            )
        table_dir = self.view_dir(view_name)
        alive = F.col(col) >= F.current_timestamp() - F.expr(
            f"INTERVAL {int(ttl)} SECOND"
        )
        reaped = 0
        # single-writer: hold the store mutex for the sweep so a live
        # foreachBatch merge can never commit the same bucket (or
        # clobber the manifest) mid-sweep — merges queue behind the
        # sweep and proceed when it finishes
        with self._store_lock(view_name):
            # a writer holding the mutex owns crash recovery: a store
            # stranded under a crashed legacy swap must be restored or
            # the sweep would silently no-op on it
            recover_store_swap(table_dir)
            if not os.path.isdir(table_dir):
                return 0
            # pre-manifest stores fall back to the single-generation
            # directory listing inside the shared helper
            buckets = store_bucket_files(table_dir, allow_listing=True)
            for bucket in sorted(buckets):
                paths = buckets[bucket]
                if not paths:
                    continue
                cur = self.spark.read.option(
                    "basePath", table_dir
                ).parquet(*paths)
                n_dead = cur.filter(~alive).count()
                if n_dead == 0:
                    continue
                tmp = f"{table_dir}__expire_{uuid.uuid4().hex[:8]}"
                (
                    cur.filter(alive)
                    .withColumn(KB_COL, F.lit(bucket))
                    .write.mode("overwrite")
                    .partitionBy(KB_COL)
                    .parquet(tmp)
                )
                try:
                    # same two-generation MVCC commit the merge uses:
                    # concurrent manifest-planned reads keep their
                    # files through the next commit
                    publish_bucket_files(
                        table_dir, tmp, {bucket}, None, None
                    )
                finally:
                    shutil.rmtree(tmp, ignore_errors=True)
                reaped += n_dead
        return reaped

    def rebucket(self, view_name: str, num_buckets: int) -> None:
        """Resize a parquet_upsert view's hash-bucket count — the ops
        path for a view whose keyspace outgrew the bucket count fixed
        at creation (more buckets = smaller per-batch bucket rewrites).
        One full-store rewrite committed IN PLACE through the same
        two-generation MVCC machinery as the merge: re-hash every
        committed row into the new layout in a tmp dir, move the new
        part files into the live bucket dirs, and flip the manifest —
        which carries the bucket count, so the file list and the hash
        modulus change in ONE atomic rename (a separate marker could
        desync across a crash and make merges hash keys into the wrong
        generation's buckets). The live directory is never renamed, so
        in-flight readers keep every file they planned until the next
        commit reaps the old generation. Serialized against the view's
        live foreachBatch merge (and ttl_expire) via the store mutex;
        merges queue behind the rewrite and resume on the new layout."""
        vd = self.catalog.state.views.get(view_name)
        if vd is None:
            raise KeyError(f"unknown continuous view {view_name!r}")
        if vd.get("materialize") != "parquet_upsert":
            raise ValueError(
                "rebucket applies to parquet_upsert views only"
            )
        if num_buckets < 1:
            raise ValueError("num_buckets must be >= 1")
        key_cols = list(vd.get("key_cols") or [])
        table_dir = self.view_dir(view_name)
        with self._store_lock(view_name):
            # heal any crashed LEGACY whole-dir swap before deciding
            # whether the store exists (writers own recovery)
            recover_store_swap(table_dir)
            # future first-materializations (and restarts before one)
            # pick the new count up from the catalog
            self.catalog.update_view_options(
                view_name, upsert_buckets=num_buckets
            )
            if not os.path.isdir(table_dir):
                return  # nothing materialized yet
            old_per_bucket = store_bucket_files(
                table_dir, allow_listing=True
            )
            old_buckets = set(old_per_bucket or {})
            has_flat = any(
                n.endswith(".parquet") for n in os.listdir(table_dir)
            )
            if not old_buckets and not has_flat:
                # dir exists but holds no data: record the count only
                _write_bucket_marker(table_dir, num_buckets)
                write_store_manifest(
                    table_dir, None, num_buckets=num_buckets
                )
                return
            cur = self._read_view_store(view_name)
            if KB_COL in cur.columns:
                cur = cur.drop(KB_COL)
            kb = F.pmod(
                F.xxhash64(*[F.col(k) for k in key_cols]),
                F.lit(int(num_buckets)),
            ).cast("int")
            rehashed = cur.withColumn(KB_COL, kb)
            tmp = f"{table_dir}__rebucket_{uuid.uuid4().hex[:8]}"
            rehashed.write.mode("overwrite").partitionBy(KB_COL).parquet(
                tmp
            )
            if has_flat:
                # FLAT legacy store: an in-place commit would leave a
                # mixed flat+bucketed dir across a crash (which the
                # next merge's legacy detection cannot read) — migrate
                # through the one-time whole-dir swap instead, whose
                # crash states recover_store_swap already heals. The
                # brief reader window matches the legacy migration
                # _upsert_batch performs on such stores anyway.
                _write_bucket_marker(tmp, num_buckets)
                bak = f"{table_dir}__rebucket_bak"
                os.rename(table_dir, bak)
                try:
                    os.rename(tmp, table_dir)
                except OSError:
                    os.rename(bak, table_dir)
                    raise
                shutil.rmtree(bak, ignore_errors=True)
                write_store_manifest(
                    table_dir,
                    None,
                    rehashed.schema.json(),
                    num_buckets=num_buckets,
                )
                return
            try:
                new_buckets = {
                    int(n.split("=", 1)[1])
                    for n in os.listdir(tmp)
                    if n.startswith(f"{KB_COL}=")
                }
                # touch the UNION: old bucket ids not in the new layout
                # get their manifest entries dropped (files retained one
                # generation, the orphan-dir reap claims them at the
                # commit after next)
                publish_bucket_files(
                    table_dir,
                    tmp,
                    old_buckets | new_buckets,
                    None,
                    rehashed.schema.json(),
                    num_buckets=num_buckets,
                )
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
            # legacy-compat marker (manifest is authoritative)
            _write_bucket_marker(table_dir, num_buckets)

    def pipeline_query_stats(self) -> DataFrame:
        """The pipeline_query_stats catalog relation (PipelineDB's
        per-CQ stats view): cumulative counters per standing query of
        this engine — micro-batches that carried input, rows ingested,
        high-water batch id, error tallies. Also queryable in SQL:
        ``SELECT * FROM pipeline_query_stats``. Counters are
        process-lifetime (a restart starts fresh), matching the
        reference's in-memory stats, while seqnums() stays the durable
        progress ledger.

        Nothing is collected in the background: each call (and each
        stop) folds the progress Spark already keeps per query into the
        totals, so counters cover every batch from batch zero and an
        engine nobody observes pays nothing. Spark keeps the last 100
        progress reports per query (spark.sql.streaming.
        numRecentProgressUpdates), so counters are exact as long as no
        query runs more than 100 micro-batches with input between two
        calls or stops."""
        for _, q in self._query_snapshot():
            self._fold_stats(q)
        with self._stats_lock:
            totals = {k: dict(v) for k, v in self._stats.items()}
        views = set(self.catalog.state.views)
        rows = []
        for qname, t in totals.items():
            if qname.startswith("transform_"):
                kind, entity = "transform", qname[len("transform_"):]
            elif qname.startswith("ingest_"):
                kind, entity = "ingest", qname[len("ingest_"):]
            elif qname.startswith("deadletter_"):
                kind, entity = "dead_letter", qname[len("deadletter_"):]
            elif qname.endswith("__sw_raw") and qname[:-8] in views:
                kind, entity = "view", qname[:-8]
            elif qname.endswith("__mrel") and qname[:-6] in views:
                kind, entity = "view", qname[:-6]
            elif qname in views:
                kind, entity = "view", qname
            else:
                kind, entity = "query", qname
            rows.append(
                (
                    qname,
                    kind,
                    entity,
                    t["batches"],
                    t["input_rows"],
                    t["last_batch_id"],
                    t["errors"],
                    t["last_error"],
                )
            )
        return self.spark.createDataFrame(
            rows,
            "query STRING, kind STRING, name STRING, batches BIGINT, "
            "input_rows BIGINT, last_batch_id BIGINT, errors BIGINT, "
            "last_error STRING",
        )

    def _trigger_for(self, consumer: Consumer) -> str:
        """A12 pacing: the reference caps GetRecords at a fixed request
        rate per shard (kinesis_consumer.cpp:364-434, KINESIS_READS_PER_
        SEC). One micro-batch trigger = one fetch round here, so a
        consumer's ``rate_limit_rps`` maps to a processingTime trigger of
        1/rps seconds — an ACTIVE limit on fetch rounds (and with
        ``batchsize``/``maxFilesPerTrigger`` admission, on records/s),
        not just a stored config value."""
        rps = getattr(consumer, "rate_limit_rps", None)
        if not rps or rps <= 0:
            return self.trigger_interval
        return f"{max(int(1000 / rps), 1)} milliseconds"

    def _trigger_for_cid(self, consumer_id: int) -> str:
        for c in self.catalog.all_consumers():
            if c.id == consumer_id:
                return self._trigger_for(c)
        return self.trigger_interval

    def _query_snapshot(self) -> list[tuple[int, StreamingQuery]]:
        """(consumer id, query) pairs copied under the lock: consume_end
        pops entries from other threads, and iterating the live dict
        across Py4J calls could raise "dictionary changed size during
        iteration" in a monitor call."""
        with self._lock:
            return [
                (cid, q) for cid, qs in self._queries.items() for q in qs
            ]

    def _stop_query(self, q: StreamingQuery) -> None:
        """Stop one standing query, then fold its final progress into
        pipeline_query_stats so its last batches still count."""
        q.stop()
        self._fold_stats(q)

    def _stop_named(self, qnames: set[str], cid: int | None = None) -> None:
        """Stop and unregister the queries named in `qnames` — on every
        consumer, or only on consumer `cid`."""
        lists = (
            self._queries.values() if cid is None else [self._queries[cid]]
        )
        for queries in lists:
            for q in list(queries):
                if q.name in qnames:
                    self._stop_query(q)
                    queries.remove(q)

    def _fold_stats(self, q: StreamingQuery) -> None:
        """Add q's not-yet-counted micro-batches to its name's totals.
        A report counts when it carried input and its batchId is above
        the run's cursor: idle reports carry the NEXT batchId with zero
        rows, and the cursor is per runId, so a batch replayed after a
        restart counts again. The ring Spark keeps per run is walked
        from the newest report back to the last one already walked (by
        trigger timestamp), so a call reads only new reports however
        large the ring. A run that ended with an exception counts it
        once."""
        name = q.name
        if not name:
            return
        run = q.runId
        with self._stats_lock:
            t = self._stats.setdefault(
                name,
                {
                    "batches": 0,
                    "input_rows": 0,
                    "last_batch_id": -1,
                    "errors": 0,
                    "last_error": None,
                },
            )
            # [highest batchId counted, newest timestamp walked, done]
            state = self._stats_runs.setdefault(run, [-1, "", False])
            if state[2]:
                return
            # liveness BEFORE the ring: a run seen inactive has posted
            # its last report, so the ring read below is final
            finished = not q.isActive
            # the JVM ring itself: the public recentProgress JSON-decodes
            # every report in it on each call
            ring = q._jsq.recentProgress()  # noqa: SLF001
            cursor, walked = state[0], state[1]
            for i in range(len(ring) - 1, -1, -1):
                p = ring[i]
                ts = p.timestamp()
                if ts <= walked:
                    break
                state[1] = max(state[1], ts)
                bid, rows = p.batchId(), p.numInputRows()
                t["last_batch_id"] = max(t["last_batch_id"], bid)
                if rows > 0 and bid > cursor:
                    t["batches"] += 1
                    t["input_rows"] += rows
                    state[0] = max(state[0], bid)
            if finished:
                state[2] = True
                exc = q.exception()
                if exc is not None:
                    t["errors"] += 1
                    t["last_error"] = str(exc)[:500]

    def _start_query(self, builder) -> StreamingQuery:
        """``.start()`` a standing query under this engine's shuffle
        width (see ``shuffle_partitions`` in ``__init__``); no-op
        passthrough when unset. The pin is held under a process-wide
        lock so concurrent starts never inherit each other's width."""
        if self._shuffle_partitions is None:
            return builder.start()
        with pinned_shuffle(self.spark, self._shuffle_partitions):
            return builder.start()

    def _osrel_delta_dir(self, view: ViewDef) -> str | None:
        """Where this view's output stream lands — or None when no
        active downstream consumer reads it (emission off, zero cost).
        Only parquet_upsert views emit: their foreachBatch merge is the
        one place old and new matrel rows coexist."""
        if view.materialize != "parquet_upsert":
            return None
        osrel = f"{view.name}_osrel"
        has_consumers = any(
            v.active for v in self.catalog.views_on(osrel)
        ) or any(t.active for t in self.catalog.transforms_on(osrel))
        if not has_consumers:
            return None
        d = self.osrel_dir(view.name)
        os.makedirs(d, exist_ok=True)
        return d

    def _osrel_schema(self, view_schema) -> "StructType":
        """Schema of a view's output stream: (old, new) structs of the
        DECLARED view columns (hidden combine partials excluded) plus
        arrival_timestamp — PipelineDB's (old, new) delta records."""
        from pyspark.sql.types import (
            StructField,
            StructType,
            TimestampType,
        )

        row = StructType(
            [f for f in view_schema.fields if PARTIAL_SEP not in f.name]
        )
        return StructType(
            [
                StructField("old", row, True),
                StructField("new", row, True),
                StructField("arrival_timestamp", TimestampType(), True),
            ]
        )

    def _check_osrel_gap(
        self, base_view: str, ckpt: str, consumer_desc: str
    ) -> None:
        """A chained consumer starting WITHOUT a checkpoint reads the
        osrel history from scratch — if retention has already reaped
        batches, its aggregates silently undercount. Surface that at
        wire time (warning, not error: the operator may know the
        consumer only needs go-forward deltas)."""
        lo = read_reap_marker(self.osrel_dir(base_view))
        # "no checkpoint" for gap purposes = no COMMITTED batch: a
        # batch-0-debris checkpoint will be reset at start and read the
        # history from scratch exactly like an absent one.
        if lo > 0 and not self._ckpt_has_committed_batch(ckpt):
            warnings.warn(
                f"{consumer_desc} chains on {base_view!r}'s output "
                f"stream, which has already reaped delta batches below "
                f"b{lo}; the new consumer starts from the retained "
                f"window only (history before the reap is gone). "
                f"Create chained consumers before retention reaps, or "
                f"raise osrel_keep_batches.",
                stacklevel=3,
            )

    def _start_osrel_consumers(
        self,
        consumer_id: int,
        view: ViewDef,
        view_schema,
        queries: list,
    ) -> None:
        """Start the standing queries chained on this view's output
        stream: a glob file-stream over the delta dir's ``b<batch>``
        subdirs (rename-published, so readers never see half a batch)
        feeding each downstream view/transform — PipelineDB's
        ``SELECT ... FROM output_of('v')`` cascade."""
        osrel = f"{view.name}_osrel"
        src = (
            self.spark.readStream.schema(self._osrel_schema(view_schema))
            .parquet(os.path.join(self.osrel_dir(view.name), "b*"))
        )
        for cv in self.catalog.views_on(osrel):
            if not cv.active:
                continue
            self._check_osrel_gap(
                view.name,
                self._ckpt(consumer_id, f"view_{cv.name}"),
                f"continuous view {cv.name!r}",
            )
            cvdf = compile_view(
                self.spark,
                self._view_stream_df(cv, src),
                osrel,
                self._view_compile_sql(cv),
            )
            # multi-level cascades: the chained view may itself have
            # output-stream consumers (creation order makes cycles
            # impossible — a view can only chain on views that already
            # exist)
            cv_delta = self._osrel_delta_dir(cv)
            queries.append(
                self._start_view_query(
                    consumer_id, cv, cvdf, delta_dir=cv_delta
                )
            )
            if cv_delta is not None:
                self._start_osrel_consumers(
                    consumer_id, cv, cvdf.schema, queries
                )
        for t in self.catalog.transforms_on(osrel):
            if not t.active:
                continue
            self._check_osrel_gap(
                view.name,
                self._ckpt(consumer_id, f"transform_{t.name}"),
                f"continuous transform {t.name!r}",
            )
            tdf = compile_view(self.spark, src, osrel, t.sql)
            queries.append(
                self._start_transform_query(consumer_id, t, tdf)
            )

    def _start_transform_query(
        self, consumer_id: int, t: TransformDef, tdf: DataFrame
    ) -> StreamingQuery:
        """Run one compiled continuous transform: append-mode standing
        query whose batches land in the sink relation and/or invoke the
        registered per-batch procedure."""
        interval = self._trigger_for_cid(consumer_id)
        sink_dir = (
            self.table_dir(t.sink_relation) if t.sink_relation else None
        )
        proc = self._procs.get(t.name)

        def _transform_batch(
            bdf: DataFrame, bid: int, _dir=sink_dir, _p=proc
        ) -> None:
            if _dir is not None:
                bdf.write.mode("append").parquet(_dir)
            if _p is not None:
                _p(bdf, bid)

        return self._start_query(
            tdf.writeStream.foreachBatch(_guarded_batch(_transform_batch))
            .queryName(f"transform_{t.name}")
            .outputMode("append")
            .option(
                "checkpointLocation",
                self._ckpt_for_start(consumer_id, f"transform_{t.name}"),
            )
            .trigger(processingTime=interval)
        )

    def _start_view_query(
        self,
        consumer_id: int,
        view: ViewDef,
        vdf: DataFrame,
        delta_dir: str | None = None,
    ) -> StreamingQuery:
        """Materialize one compiled continuous view (memory sink or keyed
        parquet upsert with optional TTL reaping). delta_dir switches on
        output-stream emission (PipelineDB ``<view>_osrel``): the merge
        also appends (old, new, arrival_timestamp) change tuples there —
        only requested when the view has active downstream consumers, so
        unconsumed output streams cost nothing."""
        interval = self._trigger_for_cid(consumer_id)
        if delta_dir is not None:
            self._emitting.add(view.name)
        else:
            self._emitting.discard(view.name)
        if view.materialize == "parquet_upsert":
            table_dir = self.view_dir(view.name)
            key_cols = list(view.key_cols or [])
            store_lock = self._store_lock(view.name)

            def _merge_batch(
                bdf, bid, _d=table_dir, _k=key_cols, _v=view,
                _lk=store_lock,
            ):
                # serialized against ttl_expire()/rebucket() — the
                # store's manifest contract is single-writer
                with _lk:
                    # the FIRST materialization fixes the bucket count
                    # in the (thereafter authoritative) manifest — if a
                    # rebucket() ran between view start and this first
                    # batch, the captured ViewDef's count is stale, so
                    # re-read the catalog's current value; once the
                    # store exists the manifest wins and the kwarg is
                    # only a bootstrap default anyway
                    buckets = _v.upsert_buckets
                    if not os.path.isdir(_d):
                        cur = self.catalog.state.views.get(_v.name)
                        if cur is not None and cur.get("upsert_buckets"):
                            buckets = cur["upsert_buckets"]
                    upsert_to_parquet(
                        bdf,
                        _d,
                        _k,
                        ttl_seconds=_v.ttl_seconds,
                        ttl_column=_v.ttl_column,
                        batch_id=bid,
                        delta_dir=delta_dir,
                        delta_keep_batches=_v.osrel_keep_batches,
                        **({"num_buckets": buckets} if buckets else {}),
                    )

            return self._start_query(
                vdf.writeStream.foreachBatch(_guarded_batch(_merge_batch))
                .queryName(view.name)
                .outputMode("update")
                .option(
                    "checkpointLocation",
                    self._ckpt_for_start(consumer_id, f"view_{view.name}"),
                )
                .trigger(processingTime=interval)
            )
        # sw views keep their per-step partials under a raw-suffixed sink
        # name: view_table / sql() recombine them under the public name,
        # which must never shadow the sink table in the catalog. Views
        # carrying hidden combine() partial columns likewise sink under
        # a matrel-suffixed name so the public name always shows the
        # declared schema (PipelineDB's <v>_mrel / overlay-view split).
        if view.sw_seconds is not None:
            sink_name = f"{view.name}__sw_raw"
        elif has_hidden_partials(view.combine_aggs):
            sink_name = f"{view.name}__mrel"
        else:
            sink_name = view.name
        self._snapshot_memory_sink(sink_name)
        return materialize_memory(
            vdf,
            sink_name,
            self._ckpt_for_start(consumer_id, f"view_{view.name}"),
            output_mode=view.output_mode,
            trigger_interval=interval,
            start_fn=self._start_query,
        )

    def _snapshot_memory_sink(self, sink_name: str) -> None:
        """Pin a memory view's current contents just before its sink
        query (re)starts (r15, found by tools/fuzz_lifecycle.py's
        chained-view ledger): Spark recreates a memory sink EMPTY on
        query restart and only repopulates it when the next batch runs
        — so after any consume_end/consume_begin cycle (pause, ALTER,
        engine restart) a memory view read EMPTY until new data
        arrived, where PipelineDB's matrel would still show its
        contents. The pre-restart table (which survives the query stop
        in the session catalog) is snapshotted driver-side here;
        view_table serves the snapshot while the live table is empty.
        Complete-mode agg output can only lose rows across a restart
        by losing state (which the checkpoint prevents), so an empty
        live table with a non-empty snapshot always means 'no batch
        has repopulated the sink yet', never 'the view became empty'.
        Memory views are the session-scale tier by contract, so the
        driver-side copy is bounded."""
        try:
            df = self.spark.table(sink_name)
            rows = df.collect()
        except Exception:  # noqa: BLE001 — first start: no table yet
            return
        if rows:
            self._memview_snapshots[sink_name] = (df.schema, rows)

    def _memory_sink_table(self, sink_name: str) -> DataFrame:
        """The memory sink's live table, or its wire-time snapshot
        while the live table is empty (see _snapshot_memory_sink)."""
        snap = self._memview_snapshots.get(sink_name)
        try:
            df = self.spark.table(sink_name)
        except Exception:  # noqa: BLE001 — never started this session
            if snap is None:
                raise
            return self.spark.createDataFrame(snap[1], snap[0])
        if snap is not None and df.isEmpty():
            return self.spark.createDataFrame(snap[1], snap[0])
        return df

    def _apply_start_position(
        self,
        consumer: Consumer,
        source: FileReplaySource,
        records: DataFrame,
    ) -> DataFrame:
        """A3 offset resolution (pipeline_kinesis.c:587-605,
        kinesis_consumer.cpp:258-291): trim_horizon | latest |
        after_sequence_number:X. 'latest' is resolved ONCE into a concrete
        per-shard seqnum snapshot and persisted, so restarts resume from the
        checkpoint rather than re-resolving (which could skip records).
        Seqnums compare lexicographically — the file source zero-pads its
        framing (write_record_file); a real Kinesis connector resolves this
        server-side via GetShardIterator instead.
        """
        sp = consumer.start_position or "trim_horizon"
        if sp == "trim_horizon":
            return records
        if sp == "latest":
            snap = self._resolve_latest(consumer, source)
            if not snap:
                return records
            snap_df = self.spark.createDataFrame(
                sorted(snap.items()), "shard_id STRING, _start_seq STRING"
            )
            return (
                records.join(F.broadcast(snap_df), "shard_id", "left")
                .filter(
                    F.col("_start_seq").isNull()
                    | (F.col("sequence_number") > F.col("_start_seq"))
                )
                .select(*[f.name for f in RECORD_SCHEMA.fields])
            )
        if sp.startswith("after_sequence_number:"):
            seq = sp.split(":", 1)[1]
            return records.filter(F.col("sequence_number") > F.lit(seq))
        raise ValueError(f"unknown start_position {sp!r}")

    def _resolve_latest(
        self, consumer: Consumer, source: FileReplaySource
    ) -> dict[str, str]:
        if consumer.resolved_position is not None:
            return consumer.resolved_position
        snap: dict[str, str] = {}
        if os.path.isdir(source.stream_dir):
            rows = (
                source.read_batch(self.spark)
                .groupBy("shard_id")
                .agg(F.max("sequence_number").alias("m"))
                .collect()
            )
            snap = {r.shard_id: r.m for r in rows if r.m is not None}
        consumer.resolved_position = snap
        self.catalog.upsert_consumer(consumer)
        return snap

    def consume_end(self, endpoint: str, stream: str, relation: str) -> bool:
        """Stop the consumer's queries (kinesis_consume_end_sr analog)."""
        with self._lock:
            consumer = self.catalog.find_consumer(endpoint, stream, relation)
            if consumer is None:
                return False
            pump = self._pumps.pop(consumer.id, None)
            if pump is not None:
                pump.stop()  # stop polling before stopping the drain
            for q in self._queries.pop(consumer.id, []):
                self._stop_query(q)
            self._parsed.pop(consumer.id, None)
            self._ds_consumers.discard(consumer.id)
            return True

    def consume_begin_all(self) -> list[Consumer]:
        """Restart every cataloged consumer (kinesis_consume_begin no-arg,
        pipeline_kinesis--0.9.0.sql:75-78). One consumer failing to
        start — typically a kinesis consumer whose process-local client
        was not re-registered after a restart — must not keep the
        OTHERS down: failures are warned and skipped; re-run after
        register_kinesis_client to pick the stragglers up (already
        -running consumers are idempotent no-ops)."""
        started: list[Consumer] = []
        for c in self.catalog.all_consumers():
            try:
                started.append(
                    self.consume_begin(
                        c.endpoint,
                        c.stream,
                        c.relation,
                        c.format,
                        c.delimiter,
                        c.quote,
                        c.escape,
                        c.batchsize,
                        c.parallelism,
                        c.start_position,
                        getattr(c, "rate_limit_rps", None),
                        # restart on the RESOLVED ingest path — a
                        # datasource consumer restarted in pump mode
                        # would resume from catalog seqnums that path
                        # never wrote and re-ingest from
                        # start_position (and vice versa)
                        source=getattr(c, "source", "auto"),
                        spool_keep_seconds=getattr(
                            c, "spool_keep_seconds", None
                        ),
                        dedup=getattr(c, "dedup", False),
                    )
                )
            except Exception as exc:  # noqa: BLE001 — isolate per consumer
                warnings.warn(
                    f"consumer {c.id} ({c.endpoint}/{c.stream}→"
                    f"{c.relation}) failed to start: {exc}",
                    stacklevel=2,
                )
        return started

    def consume_end_all(self) -> int:
        with self._lock:
            n = 0
            for cid in list(self._pumps):
                self._pumps.pop(cid).stop()
            for cid, queries in list(self._queries.items()):
                for q in queries:
                    self._stop_query(q)
                del self._queries[cid]
                self._parsed.pop(cid, None)
                self._ds_consumers.discard(cid)
                n += 1
            return n

    def pump_status(self) -> dict[int, dict]:
        """Live state of the managed Kinesis pumps: rounds/records
        landed, per-shard MillisBehindLatest (A14 lag feed), and any
        terminal error (consumer_status analog)."""
        # copy under the lock: consume_end/consume_end_all pop entries
        # from other threads, and iterating the live dict could raise
        # "dictionary changed size during iteration" in a monitor call
        with self._lock:
            pumps = dict(self._pumps)
        out = {}
        for cid, p in pumps.items():
            out[cid] = {
                "alive": p.is_alive(),
                "rounds": p.rounds,
                "records": p.records,
                "error": None if p.error is None else repr(p.error),
                "lag": p.bridge.poller.lag(),
            }
        return out

    def datasource_status(self) -> dict[int, dict]:
        """Live state of executor-parallel (datasource-mode) consumers —
        the pump_status analog for the path where polling happens on
        executors: landing-query liveness and batch progress, plus the
        per-shard attained positions / closed flags from the
        side-channel (A14 lag feed counterpart)."""
        with self._lock:
            ids = sorted(self._ds_consumers)
            queries = {
                cid: list(self._queries.get(cid, [])) for cid in ids
            }
        from pipeline_kinesis_spark.sources.kinesis_datasource import (
            _read_attained,
        )

        out = {}
        for cid in ids:
            landing = next(
                (
                    q
                    for q in queries[cid]
                    if (q.name or "").startswith("kds_landing_")
                ),
                None,
            )
            p = landing.lastProgress if landing is not None else None
            out[cid] = {
                "alive": bool(landing is not None and landing.isActive),
                "batch_id": p.get("batchId") if p else None,
                "num_input_rows": p.get("numInputRows") if p else None,
                "shards": {
                    sid: {
                        "seqnum": st.get("seq"),
                        "closed": bool(st.get("closed")),
                    }
                    for sid, st in sorted(
                        _read_attained(self._ds_state_dir(cid)).items()
                    )
                },
            }
        return out

    @staticmethod
    def _reap_spool_dir(spool: str, older_than_s: float) -> int:
        import time as _time

        now = _time.time()
        n = 0
        try:
            names = os.listdir(spool)
        except OSError:
            return 0
        for f in names:
            if not f.endswith(".jsonl"):
                continue
            p = os.path.join(spool, f)
            try:
                if now - os.path.getmtime(p) > older_than_s:
                    os.unlink(p)
                    n += 1
            except OSError:
                pass  # concurrent reap / already gone
        return n

    def reap_spool(
        self,
        endpoint: str,
        stream: str,
        relation: str,
        older_than_s: float = 3600.0,
    ) -> int:
        """Delete the consumer's raw spool record files older than
        ``older_than_s`` — the maintenance op that bounds the kinesis
        landing area (compact_stream_table's sibling; without it the
        spool duplicates the archived stream forever). SAFETY CONTRACT:
        the age must exceed the slowest standing query's processing lag
        — already-processed files are tracked BY NAME in each query's
        file-source offset log (and spool names are never reused), so
        reaping them is invisible to consumers; reaping an unprocessed
        file would lose its records. Returns files deleted. Runs
        automatically during ingestion when the consumer was started
        with spool_keep_seconds."""
        c = self.catalog.find_consumer(endpoint, stream, relation)
        if c is None:
            raise KeyError(
                f"no consumer for {endpoint}/{stream}→{relation}"
            )
        return self._reap_spool_dir(
            os.path.join(self.metadata_dir, "spool", str(c.id)),
            older_than_s,
        )

    # ---------------------------------------------------------- inspection

    def alter_stream_add_column(
        self, relation: str, col_name: str, col_type: str
    ) -> None:
        """ALTER STREAM ... ADD COLUMN (stream schema evolution): append
        a column to the declared schema. Consumers must be stopped first
        — the parse schema binds when a consumer's standing queries
        start, and a restart re-binds it (same contract as compaction).
        Archived rows written under the old schema read back NULL for
        the new column (mergeSchema parquet read + declared-schema
        fill-in in stream_table)."""
        with self._lock:
            for c in self.catalog.all_consumers():
                if c.relation == relation and c.id in self._queries:
                    raise ValueError(
                        f"stop consumers for {relation!r} before altering"
                    )
            self.catalog.alter_stream_add_column(relation, col_name, col_type)

    def stream_table(self, relation: str) -> DataFrame:
        """Ad-hoc batch reads over the archived stream relation (ingested
        rows plus any recovered via replay_dead_letters). mergeSchema
        unions file schemas across ALTER STREAM generations; declared
        columns present in no file yet are filled with typed NULLs."""
        df = self.spark.read.option("mergeSchema", "true").parquet(
            self.table_dir(relation)
        )
        if os.path.isdir(self._replayed_dir(relation)):
            df = df.unionByName(
                self.spark.read.option("mergeSchema", "true").parquet(
                    self._replayed_dir(relation)
                ),
                allowMissingColumns=True,
            )
        try:
            sd = self.catalog.stream(relation)
        except KeyError:
            return df  # transform sink relations have no declared schema
        present = set(df.columns)
        from pyspark.sql.types import StructType

        for field in StructType.fromDDL(sd.schema_ddl).fields:
            if field.name not in present:
                df = df.withColumn(
                    field.name, F.lit(None).cast(field.dataType)
                )
        return df

    def compact_stream_table(
        self, relation: str, target_files: int = 4
    ) -> tuple[int, int]:
        """Rewrite the stream relation's parquet into ``target_files``
        files and swap directories — the OPTIMIZE/compaction maintenance
        op every streaming sink needs (micro-batches write a file per
        trigger per partition; small files dominate scan cost long before
        100 TB). Consumers for the relation must be stopped (the swap
        cannot race an appending writer); the file-source checkpoint
        tracks SOURCE offsets, not sink files, so consumption resumes
        cleanly after compaction. The sink's ``_spark_metadata``
        transaction log is rewritten as a single ``<latestId>.compact``
        snapshot naming the compacted files, which is exactly where
        FileStreamSink readers and the resumed sink's own log compaction
        pick up. (The snapshot's id need not land on the sink's own
        N*compactInterval-1 boundary: FileStreamSink reads the NEWEST
        .compact regardless of alignment — behavior the compaction tests
        pin down.) Returns (files_before, files_after).

        The swap is two os.rename calls, NOT one atomic operation: a
        concurrent reader in the instant between them sees a missing
        directory (consumers are required stopped for exactly this
        reason, and the engine lock serializes engine-API readers). If
        the second rename fails, the original directory is restored from
        the .compact.bak snapshot before the error propagates, so the
        relation is never left missing.
        """
        import glob
        import json
        import shutil

        with self._lock:
            for c in self.catalog.all_consumers():
                if c.relation == relation and c.id in self._queries:
                    raise ValueError(
                        f"stop consumers for {relation!r} before compacting"
                    )
            d = self.table_dir(relation)
            if not os.path.isdir(d):
                raise ValueError(f"no stream table for {relation!r}")

            def _nfiles(p: str) -> int:
                return len(
                    [f for f in os.listdir(p) if f.endswith(".parquet")]
                )

            meta = os.path.join(d, "_spark_metadata")
            latest = -1
            if os.path.isdir(meta):
                for f in os.listdir(meta):
                    base = f[: -len(".compact")] if f.endswith(
                        ".compact"
                    ) else f
                    if base.isdigit():
                        latest = max(latest, int(base))

            before = _nfiles(d)
            tmp = d.rstrip("/") + ".compact.tmp"
            bak = d.rstrip("/") + ".compact.bak"
            (
                self.spark.read.parquet(d)
                .coalesce(max(target_files, 1))
                .write.mode("overwrite")
                .parquet(tmp)
            )
            if latest >= 0:
                # snapshot log entry in FileStreamSinkLog v1 format: the
                # resumed sink appends <latest+1>, readers start from the
                # newest .compact — older per-batch entries are obsolete.
                newmeta = os.path.join(tmp, "_spark_metadata")
                os.makedirs(newmeta, exist_ok=True)
                lines = ["v1"]
                for p in sorted(glob.glob(os.path.join(tmp, "*.parquet"))):
                    st = os.stat(p)
                    lines.append(
                        json.dumps(
                            {
                                "path": "file://" + os.path.join(d, os.path.basename(p)),
                                "size": st.st_size,
                                "isDir": False,
                                "modificationTime": int(st.st_mtime * 1000),
                                "blockReplication": 1,
                                "blockSize": 33554432,
                                "action": "add",
                            }
                        )
                    )
                with open(
                    os.path.join(newmeta, f"{latest}.compact"), "w"
                ) as fh:
                    fh.write("\n".join(lines))
            os.rename(d, bak)
            try:
                os.rename(tmp, d)
            except BaseException:
                os.rename(bak, d)  # restore — never leave the relation gone
                raise
            shutil.rmtree(bak)
            return before, _nfiles(d)

    def replay_dead_letters(
        self,
        relation: str,
        fmt: str | None = None,
        delimiter: str | None = None,
        quote: str | None = None,
        escape: str | None = None,
        schema_ddl: str | None = None,
    ) -> int:
        """Re-parse quarantined rows — with optionally corrected format
        options — appending recovered rows to the stream table. Returns
        the number recovered. Idempotent: recovered seqnums are recorded
        in a marker table and excluded from ``dead_letters`` and from
        future replays. (The reference DROPPED such batches outright,
        pipeline_kinesis.c:744-758; quarantine+replay is the upgrade.)

        ``schema_ddl`` overrides the declared stream schema for the
        re-parse (r14, found by tools/fuzz_lifecycle.py): rows framed
        under a PRE-``ALTER STREAM`` schema that were still unconsumed
        when the ALTER landed quarantine as arity-mismatches, and
        re-parsing them under the post-ALTER schema can never recover
        them. Pass the schema they were framed with; stream_table's
        mergeSchema + declared-schema NULL-fill then reads them back
        with NULL for the later-added columns, same as any archived
        pre-ALTER row. The override must be a prefix of the declared
        schema (ADD COLUMN only appends), so recovered files stay
        union-compatible."""
        consumer = next(
            (
                c
                for c in self.catalog.all_consumers()
                if c.relation == relation
            ),
            None,
        )
        sd = self.catalog.stream(relation)
        replay_ddl = schema_ddl or sd.schema_ddl
        if schema_ddl is not None:
            from pyspark.sql.types import StructType

            declared = [
                (f.name, f.dataType)
                for f in StructType.fromDDL(sd.schema_ddl).fields
            ]
            override = [
                (f.name, f.dataType)
                for f in StructType.fromDDL(schema_ddl).fields
            ]
            if override != declared[: len(override)]:
                raise ValueError(
                    "replay schema_ddl must be a prefix of the declared "
                    f"stream schema (ALTER only appends); declared="
                    f"{sd.schema_ddl!r}"
                )
        pending = self.dead_letters(relation)
        records = pending.select(
            F.col("_corrupt_record").alias("data"),
            "sequence_number",
            F.lit(None).cast("string").alias("partition_key"),
            F.col("arrival_timestamp").alias(
                "approximate_arrival_timestamp"
            ),
            "shard_id",
        )
        parsed = parse_records(
            records,
            replay_ddl,
            fmt or (consumer.format if consumer else "text"),
            delimiter or (consumer.delimiter if consumer else "\t"),
            quote if quote is not None else (consumer.quote if consumer else None),
            escape if escape is not None else (consumer.escape if consumer else None),
        )
        good, _bad = split_quarantine(parsed)
        good = good.cache()
        n = good.count()
        if n:
            # a separate dir: the streaming sink's _spark_metadata log
            # makes its own directory append-only from its point of view —
            # batch reads there ignore foreign files. stream_table unions
            # both; dead_letters anti-joins this dir's lineage.
            good.write.mode("append").parquet(self._replayed_dir(relation))
        good.unpersist()
        return n

    def _replayed_dir(self, relation: str) -> str:
        return os.path.join(self.metadata_dir, "dead_letter_replayed", relation)

    def dead_letters(self, relation: str) -> DataFrame:
        """Quarantined rows not yet recovered by replay_dead_letters."""
        dl = self.spark.read.parquet(self.dead_letter_dir(relation))
        if not os.path.isdir(self._replayed_dir(relation)):
            return dl
        replayed = self.spark.read.parquet(
            self._replayed_dir(relation)
        ).select("sequence_number", "shard_id")
        return dl.join(
            replayed, ["sequence_number", "shard_id"], "left_anti"
        )

    def _sink_name(self, vd: dict) -> str:
        """Memory-sink table name for a view dict — mirrors
        _start_view_query's naming (sw partials / combine matrel /
        plain)."""
        if vd.get("sw_seconds") is not None:
            return f"{vd['name']}__sw_raw"
        if has_hidden_partials(vd.get("combine_aggs")):
            return f"{vd['name']}__mrel"
        return vd["name"]

    def _ttl_live_filter(self, df: DataFrame, vd: dict) -> DataFrame:
        """Apply a TTL view's read-time liveness predicate — every read
        path that bypasses view_table (combine over the matrel) must
        still honor the view's declared expiry semantics."""
        ttl, col = vd.get("ttl_seconds"), vd.get("ttl_column")
        if ttl is None or col is None:
            return df
        return df.filter(
            F.col(col)
            >= F.current_timestamp() - F.expr(f"INTERVAL {ttl} SECOND")
        )

    def _read_view_store(self, view_name: str) -> DataFrame:
        """Plan a read of a parquet_upsert store from its committed
        MANIFEST (snapshot-consistent even while a multi-bucket merge
        is mid-swap); directory listing only for pre-manifest stores.

        Readers NEVER mutate: during a whole-dir swap (rebucket /
        legacy migration / its crash window) the store is briefly
        under the ``__rebucket_bak`` / ``__legacy_bak`` name — plan
        from whichever complete dir exists, retrying across the
        microsecond rename window. Restoring a crashed swap is the
        WRITERS' job (merge/rebucket, under the store mutex) — a
        reader renaming dirs would race a live swap and corrupt it.
        A manifest whose files have ALL vanished means we raced a
        swap — retry; a subset missing is the crash-to-retry window
        (dropped from the plan, as before)."""
        import time as _time

        table_dir = self.view_dir(view_name)
        last_exc: Exception | None = None
        for attempt in range(6):
            d = table_dir
            if not os.path.isdir(d):
                for suffix in ("__rebucket_bak", "__legacy_bak"):
                    cand = f"{table_dir}{suffix}"
                    if os.path.isdir(cand):
                        d = cand
                        break
                else:
                    if attempt > 0:
                        # nothing across two looks: the view was never
                        # materialized. (One brief retry is required —
                        # a racing whole-dir swap can momentarily show
                        # neither the live dir nor the bak between the
                        # writer's two renames and its bak cleanup.)
                        break
                    _time.sleep(0.02)
                    continue
            raw = read_store_manifest(d)
            if raw is not None:
                live = [p for p in raw if os.path.exists(p)]
                if live:
                    # basePath keeps the KB_COL partition column in the
                    # schema, same as a directory read would infer
                    return self.spark.read.option(
                        "basePath", d
                    ).parquet(*live)
                if raw:
                    # every manifest file gone: mid-swap — retry
                    _time.sleep(0.05)
                    continue
                # committed-but-EMPTY store (a merge can delete every
                # row — TTL expiring the last key): a typed empty
                # relation from the schema the manifest recorded
                schema = read_store_schema(d)
                if schema is not None:
                    return self.spark.createDataFrame([], schema)
            if os.path.isdir(d):
                try:
                    return self.spark.read.parquet(d)
                except Exception as exc:  # noqa: BLE001 — vanished mid-plan
                    last_exc = exc
            _time.sleep(0.05)
        state = {
            "table_dir": os.path.isdir(table_dir),
            "rebucket_bak": os.path.isdir(f"{table_dir}__rebucket_bak"),
            "legacy_bak": os.path.isdir(f"{table_dir}__legacy_bak"),
            "manifest": read_store_manifest(table_dir) is not None,
        }
        if not any(state.values()) and last_exc is None:
            # fast, plain miss (one ~20 ms confirm look, no retry
            # ladder): the view simply has not materialized yet —
            # distinct message so callers don't chase a swap race
            raise RuntimeError(
                f"view {view_name!r} not materialized: no store "
                "directory exists yet (the standing query has not "
                "committed a batch, or the view was never activated)"
            )
        raise RuntimeError(
            f"store read for {view_name!r} found no readable generation "
            f"after retries: {state}"
        ) from last_exc

    def matrel(self, view_name: str) -> DataFrame:
        """The view's raw materialization — PipelineDB's ``<v>_mrel``:
        partial-state columns included, one row per declared group (per
        (group, step) for sw views). combine() reads this; ordinary
        reads go through view_table, which hides the partials."""
        vd = self.catalog.state.views.get(view_name)
        if vd is None:
            raise KeyError(f"unknown continuous view {view_name!r}")
        if vd.get("materialize") == "parquet_upsert":
            df = self._read_view_store(view_name)
            return df.drop(KB_COL) if KB_COL in df.columns else df
        return self._memory_sink_table(self._sink_name(vd))

    def combine(
        self, view_name: str, group_cols: list[str] | None = None
    ) -> DataFrame:
        """PipelineDB ``combine()``: re-aggregate a continuous view at a
        COARSER grouping with exact semantics — avg merges as
        (Σsum/Σcount) over hidden partials, never avg-of-avgs;
        stddev/variance merge their (n, Σx, Σx²) states;
        approx_count_distinct unions the mergeable HLL sketches. The
        merge is one hash aggregate over O(view groups) matrel rows —
        the raw stream is never rescanned, which is the whole point of
        the feature at scale. SQL spelling:
        ``SELECT g, combine(alias) AS x FROM v GROUP BY g``."""
        vd = self.catalog.state.views.get(view_name)
        if vd is None:
            raise KeyError(f"unknown continuous view {view_name!r}")
        specs = vd.get("combine_aggs")
        if not specs:
            raise ValueError(
                f"view {view_name!r} has no combinable aggregates "
                "(or its SQL shape is outside combine() parse scope)"
            )
        group_cols = list(group_cols or [])
        if vd.get("sw_seconds") is not None:
            # sw: merge the per-(group, step) partials inside the live
            # window directly — sketches union, so approx-distinct
            # regroups with set semantics; the window always applies
            allowed = set(vd.get("sw_group_cols") or [])
            missing = [c for c in group_cols if c not in allowed]
            if missing:
                raise ValueError(
                    f"group columns {missing} not in sw view groups "
                    f"{sorted(allowed)}"
                )
            return sw_combine(
                self.matrel(view_name),
                vd["sw_seconds"],
                vd["sw_aggs"],
                group_cols,
            )
        base = self._ttl_live_filter(self.matrel(view_name), vd)
        missing = [c for c in group_cols if c not in base.columns]
        if missing:
            raise ValueError(
                f"group columns {missing} not in view output "
                f"{[c for c in base.columns if PARTIAL_SEP not in c]}"
            )
        return combine_view(base, group_cols, specs)

    def view_table(self, view_name: str) -> DataFrame:
        """Query a continuous view's current materialized state, whatever
        its sink (memory table or parquet_upsert directory). TTL views
        (create_continuous_view ttl_seconds/ttl_column) never show expired
        rows here: parquet_upsert reaps them at write time, memory views
        filter them at read time."""
        vd = self.catalog.state.views.get(view_name)
        if vd is not None and vd.get("materialize") != "parquet_upsert":
            if vd.get("sw_seconds") is not None:
                # sliding-window view: the raw memory table holds
                # per-step partials — recombine the steps in the window
                df = sw_combine(
                    self._memory_sink_table(f"{view_name}__sw_raw"),
                    vd["sw_seconds"],
                    vd["sw_aggs"],
                    vd.get("sw_group_cols") or [],
                )
                if vd.get("sw_having"):
                    df = df.filter(F.expr(vd["sw_having"]))
                return df
            df = drop_partial_cols(
                self._memory_sink_table(self._sink_name(vd))
            )
            ttl, col = vd.get("ttl_seconds"), vd.get("ttl_column")
            if ttl is not None and col is not None:
                df = df.filter(
                    F.col(col)
                    >= F.current_timestamp() - F.expr(f"INTERVAL {ttl} SECOND")
                )
            return df
        df = self._read_view_store(view_name)
        if KB_COL in df.columns:
            # hash-bucket partition column — physical store layout, not
            # part of the view's schema
            df = df.drop(KB_COL)
        df = drop_partial_cols(df)
        if vd is not None and vd.get("sw_seconds") is not None:
            # durable sw view: the parquet store holds per-step partials
            # (already reaped to the retention) — recombine the live ones
            df = sw_combine(
                df,
                vd["sw_seconds"],
                vd["sw_aggs"],
                vd.get("sw_group_cols") or [],
            )
            if vd.get("sw_having"):
                df = df.filter(F.expr(vd["sw_having"]))
            return df
        if vd is not None:
            # TTL rides the merge for touched buckets and a round-robin
            # sweep covers the rest within n batches; this read-time
            # filter guarantees sweep lag is never visible to queries.
            ttl, col = vd.get("ttl_seconds"), vd.get("ttl_column")
            if ttl is not None and col is not None:
                df = df.filter(
                    F.col(col)
                    >= F.current_timestamp() - F.expr(f"INTERVAL {ttl} SECOND")
                )
        return df

    def sql(self, query: str) -> DataFrame:
        """Ad-hoc SQL with every registered continuous view queryable as a
        table — the reference's `SELECT * FROM foo_view` read path
        (README.md:78-88), available mid-stream. Views resolve to their
        CURRENT materialized state at call time.

        Plain MEMORY views resolve to their live sink table by name —
        for a memory view with TTL that means expired rows are visible
        here (use view_table()/combine() for TTL-filtered reads; the
        name cannot be rebound without detaching the standing sink).
        Every other materialization (parquet, sw, hidden partials)
        resolves through view_table and honors TTL."""
        # PipelineDB spelling output_of('v') → the <v>_osrel relation;
        # emitted delta history is batch-queryable like any relation
        query = re.sub(
            r"output_of\(\s*'(\w+)'\s*\)", r"\1_osrel", query, flags=re.I
        )
        # register ONLY relations the query text references — an ad-hoc
        # read must not pay O(registry) view_table planning (manifest
        # reads, sw recombination) for relations it never touches.
        # Matching is case-insensitive, like Spark SQL's own identifier
        # resolution (``FROM Events`` must find stream ``events``).
        ids = {t.lower() for t in re.findall(r"\w+", query)}
        for name in self.catalog.state.views:
            osrel = f"{name}_osrel"
            if osrel.lower() in ids and os.path.isdir(
                self.osrel_dir(name)
            ):
                self.output_stream(name).createOrReplaceTempView(osrel)
        for name, vd in self.catalog.state.views.items():
            if name.lower() in ids and (
                vd.get("materialize") == "parquet_upsert"
                or vd.get("sw_seconds") is not None
                or has_hidden_partials(vd.get("combine_aggs"))
            ):
                # parquet views, sliding-window views and views carrying
                # hidden combine() partials resolve through view_table
                # (sw: per-step partials recombined; combine: partial
                # columns hidden); plain memory views are already
                # queryable by name
                try:
                    self.view_table(name).createOrReplaceTempView(name)
                except Exception:
                    continue  # not materialized yet — leave unregistered
        query = self._rewrite_combine(query)
        for name in self.catalog.state.streams:
            if name.lower() not in ids:
                continue
            try:
                self.stream_table(name).createOrReplaceTempView(name)
            except Exception:
                continue
        # transform output relations are stream tables too (chainable)
        for td in self.catalog.state.transforms.values():
            sink = td.get("sink_relation")
            if (
                sink
                and sink.lower() in ids
                and sink not in self.catalog.state.streams
            ):
                try:
                    self.stream_table(sink).createOrReplaceTempView(sink)
                except Exception:
                    continue
        # the standing-query inventory is itself queryable — PipelineDB's
        # pipeline_queries catalog relation
        if re.search(r"\bpipeline_queries\b", query):
            self.pipeline_queries().createOrReplaceTempView(
                "pipeline_queries"
            )
        # per-CQ cumulative stats relation (PipelineDB
        # pipeline_query_stats)
        if re.search(r"\bpipeline_query_stats\b", query):
            self.pipeline_query_stats().createOrReplaceTempView(
                "pipeline_query_stats"
            )
        return self.spark.sql(query)

    _COMBINE_CALL = re.compile(r"\bcombine\s*\(\s*(\w+)\s*\)", re.IGNORECASE)

    def _rewrite_combine(self, query: str) -> str:
        """SQL spelling of PipelineDB's combine(): each ``combine(alias)``
        in an ad-hoc query over ONE continuous view becomes that alias's
        partial-merge expression, and the view name is re-pointed at its
        matrel (partials visible) for this query. The rewrite is textual
        but anchored: it fires only when exactly one registered view both
        appears in the query and exposes every referenced alias."""
        from pipeline_kinesis_spark.streaming.continuous_view import (
            _outside_string_mask,
        )

        pre_mask = _outside_string_mask(query)
        aliases = {
            m.group(1)
            for m in self._COMBINE_CALL.finditer(query)
            if pre_mask[m.start()]
        }
        if not aliases:
            return query
        cands = [
            (name, vd)
            for name, vd in self.catalog.state.views.items()
            if re.search(rf"\b{re.escape(name)}\b", query)
            and vd.get("combine_aggs")
            and aliases <= set(vd["combine_aggs"])
        ]
        if not cands:
            known = {
                n: sorted(vd["combine_aggs"])
                for n, vd in self.catalog.state.views.items()
                if vd.get("combine_aggs")
            }
            raise ValueError(
                f"combine() over {sorted(aliases)}: no referenced "
                f"continuous view exposes those aggregates "
                f"(combinable: {known})"
            )
        if len(cands) > 1:
            raise ValueError(
                "combine() is ambiguous between views "
                f"{[n for n, _ in cands]}; query one view at a time"
            )
        name, vd = cands[0]
        is_sw = vd.get("sw_seconds") is not None
        if is_sw:
            # the LIVE-window slice of the raw per-step partials:
            # count/sum/min/max merge arithmetically and approx-distinct
            # unions the stored sketches
            mrel = self.matrel(name).filter(
                F.col(f"{SW_BUCKET_COL}.end")
                > F.current_timestamp()
                - F.expr(f"INTERVAL {int(vd['sw_seconds'])} SECOND")
            )
        else:
            # the matrel with partial columns in scope (TTL liveness
            # still applies — combine must agree with the view's own
            # read semantics)
            mrel = self._ttl_live_filter(self.matrel(name), vd)
        # register under a throwaway name and rewrite the reference in
        # the query text — repointing the PUBLIC view name would leak
        # matrel semantics (TTL filter, partial columns) into every
        # later plain `SELECT * FROM v` in the session
        tmp_name = f"__combine_mrel_{name}"
        mrel.createOrReplaceTempView(tmp_name)
        specs = vd["combine_aggs"]
        from pipeline_kinesis_spark.streaming.continuous_view import (
            _outside_string_mask,
        )

        # rewrites apply OUTSIDE string literals only — a predicate
        # like WHERE label = 'v' must keep its literal untouched.
        # re.sub scans the original string, so match offsets index the
        # original mask even as replacements change lengths.
        mask = _outside_string_mask(query)
        # substitute combine() calls BEFORE the table-name rewrite so an
        # alias that happens to equal the view name still resolves
        query2 = self._COMBINE_CALL.sub(
            lambda m: (
                combine_select_expr(
                    m.group(1),
                    specs[m.group(1)]["fn"],
                    sw=is_sw,
                    spec=specs[m.group(1)],
                )
                if mask[m.start()]
                else m.group(0)
            ),
            query,
        )
        mask2 = _outside_string_mask(query2)
        return re.sub(
            rf"\b{re.escape(name)}\b",
            lambda m: tmp_name if mask2[m.start()] else m.group(0),
            query2,
        )

    def execute(self, statement: str) -> DataFrame | str:
        """The reference's SQL surface as a single entry point: endpoint /
        consume control calls (``SELECT pipeline_kinesis.<fn>(...)``,
        pipeline_kinesis--0.9.0.sql:33-82), PipelineDB DDL (CREATE STREAM
        / CONTINUOUS VIEW / CONTINUOUS TRANSFORM, ACTIVATE/DEACTIVATE,
        DROP), and ad-hoc reads — see sqlapi.py. Control statements
        return 'success' (README.md:103-110); reads return a DataFrame."""
        from pipeline_kinesis_spark.sqlapi import execute as _execute

        return _execute(self, statement)

    def register_proc(self, name: str, proc) -> None:
        """Register a per-batch procedure so SQL-surface transforms can
        reference it via THEN EXECUTE PROCEDURE name()."""
        self._procs[name] = proc

    def execute_script(self, script: str) -> list:
        """Run a multi-statement ops script (psql-style: `--` comments,
        semicolon-terminated statements) through execute()."""
        from pipeline_kinesis_spark.sqlapi import execute_script

        return execute_script(self, script)

    def seqnums(self) -> DataFrame:
        """Per-(consumer, shard) high-water marks — the queryable progress
        relation the reference exposes as pipeline_kinesis.seqnums
        (README.md:119-129; table written by save_consumer_state,
        pipeline_kinesis.c:543-579). Kinesis consumers report the
        catalog-persisted poller positions (the direct
        save_consumer_state analog); file-replay consumers derive their
        marks from ingested lineage, so they reflect exactly what is
        durably in the stream tables."""
        schema = "consumer_id INT, shard_id STRING, seqnum STRING"
        frames = []
        ck_rows = []
        for c in self.catalog.all_consumers():
            ds_state = self._ds_state_dir(c.id)
            if os.path.isdir(os.path.join(ds_state, "attained")):
                # datasource consumers: Spark's checkpoint owns the
                # offsets; the attained side-channel is the queryable
                # per-shard high-water mark
                from pipeline_kinesis_spark.sources.kinesis_datasource import (  # noqa: E501
                    _read_attained,
                )

                att = _read_attained(ds_state)
                rows = [
                    (c.id, sid, st["seq"])
                    for sid, st in sorted(att.items())
                    if st.get("seq") is not None
                ]
                if rows:
                    ck_rows.extend(rows)
                    continue
            ck = self.catalog.load_kinesis_seqnums(c.id)
            if ck:
                ck_rows.extend(
                    (c.id, sid, seq) for sid, seq in sorted(ck.items())
                )
                continue
            if not os.path.isdir(self.table_dir(c.relation)):
                continue
            frames.append(
                self.stream_table(c.relation)
                .groupBy("shard_id")
                .agg(F.max("sequence_number").alias("seqnum"))
                .select(
                    F.lit(c.id).alias("consumer_id"),
                    "shard_id",
                    "seqnum",
                )
            )
        if ck_rows:
            frames.append(self.spark.createDataFrame(ck_rows, schema))
        if not frames:
            return self.spark.createDataFrame([], schema)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out

    def wait_for_ingest(self, timeout_s: float = 60.0) -> None:
        """Block until all running queries have processed available input
        (test/demo helper). Datasource landing queries poll an
        always-advancing source (every trigger plans a batch), so
        Spark's noNewData flag — what processAllAvailable waits on —
        never sets for them; they are instead polled until three
        consecutive completed batches carried zero input rows (three,
        not two — see _await_quiescent for the pinned-replay chain)."""
        import time as _time

        deadline = _time.monotonic() + timeout_s
        for queries in list(self._queries.values()):
            for q in queries:
                if (q.name or "").startswith("kds_landing_"):
                    self._await_quiescent(q, deadline)
        for queries in list(self._queries.values()):
            for q in queries:
                if not (q.name or "").startswith("kds_landing_"):
                    q.processAllAvailable()

    @staticmethod
    def _await_quiescent(q, deadline: float) -> None:
        import time as _time

        zero_streak = 0
        last_bid = None
        while _time.monotonic() < deadline:
            if not q.isActive:
                return
            p = q.lastProgress
            bid = p.get("batchId") if p else None
            if bid is not None and bid != last_bid:
                last_bid = bid
                if p.get("numInputRows", 0) == 0:
                    zero_streak += 1
                    # 3, not 2: after a kill/resume, a record already on
                    # the stream takes up to three batches to surface —
                    # the REPLAY batch reads only to its attained pin
                    # (no poll past it, by design), the first live batch
                    # polls and records the new reach but its planned
                    # range predates it, and the third delivers. The
                    # first two legitimately carry zero input rows, so a
                    # 2-streak can declare quiescence with data still
                    # undelivered server-side.
                    if zero_streak >= 3:
                        return
                else:
                    zero_streak = 0
            _time.sleep(0.05)
        raise TimeoutError(
            f"landing query {q.name!r} did not quiesce before deadline"
        )

    def progress(self) -> list[dict]:
        """Per-consumer ingest progress — the queryable analog of the
        seqnums table (README.md:119-129) + lag metric (A14)."""
        out = []
        for cid, q in self._query_snapshot():
            p = q.lastProgress
            if p:
                out.append(
                    {
                        "consumer_id": cid,
                        "query": q.name or p.get("name"),
                        "batch_id": p.get("batchId"),
                        "num_input_rows": p.get("numInputRows"),
                        "sources": [
                            s.get("endOffset") for s in p.get("sources", [])
                        ],
                    }
                )
        return out

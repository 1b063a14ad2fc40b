"""The traced run: per-layer metrics recorded from outside the program.

Three sources, none inside the library:

* Spark's public ``StreamingQueryProgress`` of the measured query (the
  micro-batch loop, the state store of the commit gate);
* spans the benchmark puts around its own calls into each layer (the MOR
  sink, replica reads, service events), kept in memory;
* standalone legs on one micro-batch-sized slice of the workload's own
  input: read, then demux, then decode, then ``latest_image``, each a
  prefix of the next and timed with a noop write, then
  ``apply_batch``. A layer's self time is the difference between
  successive prefixes.

Spark's event log (turned on by this module's session conf) adds the
stage-level numbers: jobs and stages per micro-batch, executor run and
CPU time, GC, shuffle writes and spill.

A metric of a layer the workload does not pass through reads 0: that
layer did no work. ``NOT_MEASURED`` says why a metric has no value.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time

from pyspark.sql import functions as F

# name, unit, better
PER_LAYER = [
    ("stream.trigger_ms", "ms", "lower"),
    ("stream.latest_offset_ms", "ms", "lower"),
    ("stream.planning_ms", "ms", "lower"),
    ("stream.wal_commit_ms", "ms", "lower"),
    ("stream.commit_ms", "ms", "lower"),
    ("stream.queue_wait_ms", "ms", "lower"),
    ("stream.batches", "count", "lower"),
    ("stream.rows_per_batch", "count", "higher"),
    ("service.sink_overhead_ms", "ms", "lower"),
    ("service.ack_delay_ms", "ms", "lower"),
    ("mor.apply_batch_ms", "ms", "lower"),
    ("mor.files_per_batch", "count", "lower"),
    ("mor.bytes_per_batch", "bytes", "lower"),
    ("mor.log_files", "count", "lower"),
    ("mor.snapshot_ms", "ms", "lower"),
    ("mor.compact_ms", "ms", "lower"),
    ("mor.read_ms_after_compact", "ms", "lower"),
    ("source.poll_ms", "ms", "lower"),
    ("source.partitions_per_batch", "count", "higher"),
    ("source.rows_per_frame", "ratio", "lower"),
    ("wire.demux_ms", "ms", "lower"),
    ("decode.pgoutput_ms", "ms", "lower"),
    ("decode.pgoutput_msgs_per_s", "1/s", "higher"),
    ("decode.kernel_msgs_per_s", "1/s", "higher"),
    ("decode.wal2json_ms", "ms", "lower"),
    ("decode.error_rows", "count", "lower"),
    ("apply.latest_image_ms", "ms", "lower"),
    ("apply.rows_out_per_in", "ratio", "lower"),
    ("gate.state_rows", "count", "lower"),
    ("gate.state_bytes", "bytes", "lower"),
    ("gate.state_commit_ms", "ms", "lower"),
    ("gate.add_batch_ms", "ms", "lower"),
    ("spark.jobs_per_batch", "count", "lower"),
    ("spark.stages_per_batch", "count", "lower"),
    ("spark.executor_run_ms", "ms", "lower"),
    ("spark.executor_cpu_ms", "ms", "lower"),
    ("spark.gc_ms", "ms", "lower"),
    ("spark.shuffle_write_bytes", "bytes", "lower"),
    ("spark.spill_bytes", "bytes", "lower"),
    ("gen.lateness_ms_max", "ms", "lower"),
    ("host.cpu_scale", "ratio", "lower"),
]

NOT_MEASURED = {
    "source.partitions_per_batch": "on the commit-gate path the sink sees "
    "the gate's post-shuffle partitions, not the source's; reads 0 there",
    "stream.queue_wait_ms": "a backlog has no due times: measured on live "
    "segments only (the catch-ups' live tail)",
    "wire.demux_ms": "the JVM-side demux is thin beside the read it follows: "
    "the value is the median of PREFIX_PAIRS paired (demux - read) noop "
    "writes; legs_ms.demux_within_noise is true when 0 lies inside the "
    "pairs' interquartile range, so the value cannot be told from 0",
}

LEG_REPEATS = 2
# read and demux legs, run alternately; the demux self time is the
# median of the paired differences
PREFIX_PAIRS = 7

# pinned quiet-host references of the repository's calibration kernels
_CAL_REF_PY_DECODE_S = 0.65
_CAL_REF_NP_SORT_S = 0.67


def _median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else default


def offset_dict(v) -> dict:
    """A source offset from a progress record (a JSON object, or its
    string form)."""
    if isinstance(v, dict):
        return v
    return json.loads(v) if v else {}


def progress_dicts(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


class Tracer:
    def __init__(self, tmp: str):
        self.event_dir = os.path.join(tmp, "eventlog")
        os.makedirs(self.event_dir)
        self.spans: list[tuple] = []
        self.data_events: list[tuple] = []  # (time, batch_id, lsn)
        self.ack_events: list[float] = []
        self.progress: list[dict] = []
        self.query_id: str | None = None
        self.clock_offset = time.time() - time.perf_counter()
        self.due: list[float] = []
        self.seg_lsns: list[int] = []
        self.legs: dict = {}
        self.after: dict = {}

    def spark_conf(self) -> dict:
        return {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": self.event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "5000",
        }

    # ------------------------------------------------------------ spans
    def span(self, name: str, t0: float, t1: float, **attrs) -> None:
        self.spans.append((name, t0, t1, attrs))

    def traced_sink(self, tbl):
        """``tbl.apply_batch`` with a span, the batch's partition count
        and its decode error rows (both extra work, traced run only)."""

        def sink(df, batch_id: int) -> None:
            parts = df.rdd.getNumPartitions()
            errors = df.filter(F.col("op") == "error").count() \
                if "op" in df.columns else 0
            t0 = time.perf_counter()
            tbl.apply_batch(df, batch_id)
            t1 = time.perf_counter()
            self.span("mor.apply_batch", t0, t1, batch=batch_id,
                      parts=parts, errors=errors)

        return sink

    def attach(self, svc) -> None:
        from pg_logical_replication_spark.model import lsn_to_long

        svc.on("data", lambda lsn, bid: self.data_events.append(
            (time.perf_counter(), bid, lsn_to_long(lsn))))
        svc.on("acknowledge", lambda lsn: self.ack_events.append(
            time.perf_counter()))

    def collect_query(self, query, due: list[float], seg_lsns: list[int]):
        """Keep the measured query's progress and the timed segments."""
        self.progress = progress_dicts(query)
        self.query_id = str(query.id)
        self.due, self.seg_lsns = list(due), list(seg_lsns)

    # ------------------------------------------------------ after the run
    def after_run(self, ctx, tbl, num_col: str, legs_input: tuple) -> None:
        """MOR layout and maintenance, then the standalone legs. Runs
        after the measured query stopped, before Spark stops."""
        from perfbench.workloads import read_query

        files = glob.glob(os.path.join(tbl.path, "batch=*", "*.parquet"))
        batches = glob.glob(os.path.join(tbl.path, "batch=*"))
        self.after["mor.log_files"] = len(files)
        self.after["mor.files_per_batch"] = len(files) / max(len(batches), 1)
        self.after["mor.bytes_per_batch"] = (
            sum(os.path.getsize(f) for f in files) / max(len(batches), 1))
        t0 = time.perf_counter()
        tbl.compact()
        self.after["mor.compact_ms"] = (time.perf_counter() - t0) * 1000.0
        reads = []
        for _ in range(5):
            t0 = time.perf_counter()
            read_query(tbl, num_col)
            reads.append((time.perf_counter() - t0) * 1000.0)
        self.after["mor.read_ms_after_compact"] = _median(reads)
        if legs_input[0] == "pgoutput":
            self.legs = pgoutput_legs(ctx, *legs_input[1:])
        else:
            self.legs = wal2json_legs(ctx, legs_input[1])

    # ----------------------------------------------------------- summary
    def layer_metrics(self, ctx, host_after: dict) -> dict:
        m = {n: 0.0 for n, _u, _b in PER_LAYER}
        batches = [p for p in self.progress if p.get("numInputRows", 0) > 0]
        dur = lambda k: [p["durationMs"].get(k) for p in batches]  # noqa: E731
        m["stream.trigger_ms"] = _median(dur("triggerExecution"))
        m["stream.latest_offset_ms"] = _median(dur("latestOffset"))
        m["stream.planning_ms"] = _median(dur("queryPlanning"))
        m["stream.wal_commit_ms"] = _median(dur("walCommit"))
        m["stream.commit_ms"] = _median(dur("commit"))
        m["stream.batches"] = float(len(batches))
        m["stream.rows_per_batch"] = _median(
            [p["numInputRows"] for p in batches])

        applies = {s[3]["batch"]: s for s in self.spans
                   if s[0] == "mor.apply_batch"}
        add_batch = {p["batchId"]: p["durationMs"].get("addBatch")
                     for p in batches}
        m["mor.apply_batch_ms"] = _median(
            [(s[2] - s[1]) * 1000.0 for s in applies.values()])
        m["service.sink_overhead_ms"] = _median(
            [add_batch[b] - (s[2] - s[1]) * 1000.0
             for b, s in applies.items() if add_batch.get(b) is not None])
        ack_at = {}
        for (_t, bid, _lsn), ta in zip(self.data_events, self.ack_events):
            ack_at[bid] = ta
        m["service.ack_delay_ms"] = _median(
            [(ack_at[b] - s[2]) * 1000.0 for b, s in applies.items()
             if b in ack_at])
        m["mor.snapshot_ms"] = _median(
            [(s[2] - s[1]) * 1000.0 for s in self.spans if s[0] == "mor.read"])
        m.update(self.after)

        gate = [p for p in batches if p.get("stateOperators")]
        if gate:
            ops = [p["stateOperators"][0] for p in gate]
            m["gate.state_rows"] = float(max(o.get("numRowsTotal", 0)
                                             for o in ops))
            m["gate.state_bytes"] = float(max(o.get("memoryUsedBytes", 0)
                                              for o in ops))
            m["gate.state_commit_ms"] = _median(
                [o.get("commitTimeMs") for o in ops])
            m["gate.add_batch_ms"] = _median(dur("addBatch"))
        else:
            parts = [s[3]["parts"] for s in applies.values()]
            if parts and ctx.extra.get("frames_source"):
                m["source.partitions_per_batch"] = _median(parts)
        m["decode.error_rows"] = float(
            sum(s[3]["errors"] for s in applies.values()))

        if ctx.extra.get("frames_source"):
            ratios = []
            for p in batches:
                src = p["sources"][0]
                end = offset_dict(src["endOffset"])
                start = offset_dict(src["startOffset"])
                frames = end.get("frames", 0) - start.get("frames", 0)
                if frames > 0:
                    ratios.append(p["numInputRows"] / frames)
            m["source.rows_per_frame"] = _median(ratios)

        m["stream.queue_wait_ms"] = self._queue_wait(batches)
        m.update({k: v for k, v in self.legs.items() if k in m})
        m.update(self._event_log())
        m["gen.lateness_ms_max"] = float(
            ctx.extra.get("gen_lateness_ms_max", 0.0))
        m["host.cpu_scale"] = (
            host_after["py_decode_s"] / _CAL_REF_PY_DECODE_S
            * host_after["np_sort_s"] / _CAL_REF_NP_SORT_S) ** 0.5
        return {k: float(v) for k, v in m.items()}

    def _queue_wait(self, batches: list[dict]) -> float:
        """Due time of each timed segment to the start of the micro-batch
        that took it (the first delivered batch whose LSN covers it)."""
        import bisect
        from datetime import datetime

        if not self.due:
            return 0.0
        start = {}
        for p in batches:
            ts = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00"))
            start[p["batchId"]] = ts.timestamp() - self.clock_offset
        lsns = [e[2] for e in self.data_events]
        waits = []
        for due, lsn in zip(self.due, self.seg_lsns):
            i = bisect.bisect_left(lsns, lsn)
            if i < len(lsns) and self.data_events[i][1] in start:
                waits.append((start[self.data_events[i][1]] - due) * 1000.0)
        return _median(waits)

    def _event_log(self) -> dict:
        """Per-micro-batch job, stage and task totals of the measured
        query, from Spark's event log (read after Spark stopped)."""
        jobs: dict[int, list[int]] = {}
        job_batch: dict[int, int] = {}
        stage_tasks: dict[int, dict] = {}
        paths = [p for p in glob.glob(os.path.join(self.event_dir, "**"),
                                      recursive=True) if os.path.isfile(p)]
        for path in paths:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        if props.get("sql.streaming.queryId") != self.query_id:
                            continue
                        bid = props.get("streaming.sql.batchId")
                        if bid is None:
                            continue
                        job_batch[ev["Job ID"]] = int(bid)
                        jobs.setdefault(int(bid), []).extend(ev["Stage IDs"])
                    elif kind == "SparkListenerTaskEnd":
                        tm = ev.get("Task Metrics") or {}
                        acc = stage_tasks.setdefault(ev["Stage ID"], {
                            "run": 0, "cpu": 0, "gc": 0, "shuffle": 0,
                            "spill": 0})
                        acc["run"] += tm.get("Executor Run Time", 0)
                        acc["cpu"] += tm.get("Executor CPU Time", 0) / 1e6
                        acc["gc"] += tm.get("JVM GC Time", 0)
                        acc["shuffle"] += (tm.get("Shuffle Write Metrics") or {}
                                           ).get("Shuffle Bytes Written", 0)
                        acc["spill"] += (tm.get("Memory Bytes Spilled", 0)
                                         + tm.get("Disk Bytes Spilled", 0))
        per = {"run": [], "cpu": [], "gc": [], "shuffle": [], "spill": [],
               "jobs": [], "stages": []}
        for bid, stages in jobs.items():
            ran = [s for s in set(stages) if s in stage_tasks]
            per["jobs"].append(sum(1 for j, b in job_batch.items() if b == bid))
            per["stages"].append(len(ran))
            for k in ("run", "cpu", "gc", "shuffle", "spill"):
                per[k].append(sum(stage_tasks[s][k] for s in ran))
        return {
            "spark.jobs_per_batch": _median(per["jobs"]),
            "spark.stages_per_batch": _median(per["stages"]),
            "spark.executor_run_ms": _median(per["run"]),
            "spark.executor_cpu_ms": _median(per["cpu"]),
            "spark.gc_ms": _median(per["gc"]),
            "spark.shuffle_write_bytes": _median(per["shuffle"]),
            "spark.spill_bytes": _median(per["spill"]),
        }


# ------------------------------------------------------- standalone legs
def _timed(df) -> float:
    """Median wall time of LEG_REPEATS noop writes of ``df``, in ms."""
    return _median([_noop(df) for _ in range(LEG_REPEATS)]) * 1000.0


def pgoutput_legs(ctx, log_dir: str, frames: int, reg: dict) -> dict:
    """Standalone legs on the first micro-batch-sized slice of a frame
    log, plus the bare single-thread decode kernel on the same slice."""
    from pg_logical_replication_spark.operators.apply_changes import (
        latest_image,
    )
    from pg_logical_replication_spark.sources import decode
    from pg_logical_replication_spark.sources import pgoutput_format as pgf
    from pg_logical_replication_spark.sources.datasource import register
    from pg_logical_replication_spark.sources.transport import (
        FrameLogTailTransport,
        FrameLogWriter,
    )
    from pg_logical_replication_spark.sources.wire import demux_copy_stream
    from pg_logical_replication_spark.streaming.apply import MergeOnReadTable

    from perfbench import gen

    polls = []
    for _ in range(LEG_REPEATS):
        t0 = time.perf_counter()
        got = FrameLogTailTransport(log_dir).poll(frames)
        polls.append((time.perf_counter() - t0) * 1000.0)
    slice_dir = ctx.path("leg_slice")
    FrameLogWriter(slice_dir, segment_frames=len(got) + 1).append(got)
    payloads = [f[25:] for f in got if f[:1] == b"w"]
    cache = dict(reg)
    in_stream = False  # inside a protocol-v2 S..E segment
    t0 = time.perf_counter()
    for p in payloads:
        ev = pgf.parse_message(p, cache, streamed=in_stream)
        if ev["op"] in ("stream_start", "stream_stop"):
            in_stream = ev["op"] == "stream_start"
    kernel_s = time.perf_counter() - t0

    spark = ctx.spark
    register(spark)
    read = spark.read.format("pg_cdc").option("path", slice_dir).load()
    dm = demux_copy_stream(read, passthrough=("lsn", "seq")).filter(
        F.col("msg_type") == "w")
    dec = decode(dm.select("lsn", "seq", F.col("payload").alias("data")),
                 "pgoutput", relations=reg)
    lat = latest_image(dec, [gen.PG_KEY], table=gen.PG_TABLE)
    pairs = [(_noop(read), _noop(dm)) for _ in range(PREFIX_PAIRS)]
    t_read = _median([r for r, _d in pairs]) * 1000.0
    t_demux = _median([d for _r, d in pairs]) * 1000.0
    diffs = [(d - r) * 1000.0 for r, d in pairs]
    demux_self = _median(diffs)
    q1, _q2, q3 = statistics.quantiles(diffs, n=4)
    t_dec, t_lat = (_timed(d) for d in (dec, lat))
    n_dml = dec.filter(F.col("op").isin("insert", "update", "delete",
                                        "truncate")).count()
    n_out = lat.count()
    tbl = MergeOnReadTable(spark, ctx.path("leg_tbl"), [gen.PG_KEY],
                           table=gen.PG_TABLE)
    t0 = time.perf_counter()
    tbl.apply_batch(dec, 0)
    t_apply = (time.perf_counter() - t0) * 1000.0
    ctx.extra["legs_ms"] = {"read": t_read, "demux": t_demux,
                            "demux_pair_diffs": diffs,
                            "demux_within_noise": q1 <= 0.0 <= q3,
                            "decode": t_dec, "latest_image": t_lat,
                            "apply_batch": t_apply,
                            "slice_frames": len(got)}
    return {
        "source.poll_ms": _median(polls),
        "wire.demux_ms": demux_self,
        "decode.pgoutput_ms": t_dec - t_demux,
        "decode.pgoutput_msgs_per_s": len(payloads) / (t_dec / 1000.0),
        "decode.kernel_msgs_per_s": len(payloads) / kernel_s,
        "apply.latest_image_ms": t_lat - t_dec,
        "apply.rows_out_per_in": n_out / max(n_dml, 1),
    }


def wal2json_legs(ctx, files: list[str]) -> dict:
    """Standalone legs on one micro-batch worth of text segments."""
    from pg_logical_replication_spark.operators.apply_changes import (
        latest_image,
    )
    from pg_logical_replication_spark.sources import decode

    from perfbench import gen

    spark = ctx.spark
    rows = _median([p["numInputRows"] for p in ctx.tracer.progress
                    if p.get("numInputRows", 0) > 0], 1.0)
    files = files[: max(1, int(round(rows)))]
    read = spark.read.text(files)
    dec = decode(read, "wal2json")
    lat = latest_image(dec, ["id"], table=gen.W2J_TABLE)
    t_read, t_dec, t_lat = (_timed(d) for d in (read, dec, lat))
    n_in = dec.filter(F.col("op").isin("insert", "update", "delete")).count()
    n_out = lat.count()
    ctx.extra["legs_ms"] = {"read": t_read, "decode": t_dec,
                            "latest_image": t_lat, "slice_lines": len(files)}
    return {
        "decode.wal2json_ms": t_dec - t_read,
        "apply.latest_image_ms": t_lat - t_dec,
        "apply.rows_out_per_in": n_out / max(n_in, 1),
    }

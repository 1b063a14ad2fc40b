"""The workloads: Spark pipelines built only from the library's public
API, driven by pre-encoded inputs.

Each ``run_*`` function is called once per process with a :class:`Ctx`
and returns a result dict: ``metrics`` (name -> value), ``check`` (the
oracle comparison) and ``extra`` (sample counts, generator lateness and
what the traced run needs).
"""

from __future__ import annotations

import bisect
import json
import os
import threading
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from pg_logical_replication_spark.model import lsn_to_long
from pg_logical_replication_spark.sources.transport import FrameLogWriter
from pg_logical_replication_spark.streaming.apply import MergeOnReadTable
from pg_logical_replication_spark.streaming.service import (
    LogicalReplicationService,
)
from pg_logical_replication_spark.streaming.stateful import (
    resolve_transactions_gate,
)

from perfbench import gen, oracle
from perfbench.stats import min_samples, percentile, summarize, tail_value
from perfbench.trace import offset_dict, progress_dicts

SEGMENT_INTERVAL_S = 0.1
CATCHUP_FRAMES_PER_TRIGGER = 50_000
STREAMED_FRAMES_PER_TRIGGER = 20_000
VISIBILITY_TAIL_PCT = 95.0
MIN_SEGMENTS = min_samples(VISIBILITY_TAIL_PCT)  # 200
MIN_READS = 10
# Untimed reads before the catch-up's timed ones: read latency on a
# freshly written table falls over its first ~10 queries.
READ_WARMUP = 10
DRAIN_TIMEOUT_S = 120.0
WARM_BACKLOG_CHANGES = 3_000


@dataclass
class Ctx:
    spark: object
    root: str
    seed: int
    seconds: float
    tracer: object = None  # perfbench.trace.Tracer when --trace 1
    t_process: float = 0.0  # perf_counter at process start
    setup_s: float | None = None
    extra: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def mark(self, name: str) -> None:
        """Record a set-up milestone, seconds since process start."""
        self.extra.setdefault("marks_s", {})[name] = (
            time.perf_counter() - self.t_process)

    def start_timing(self) -> None:
        """The first timed event: everything before it is set-up."""
        self.setup_s = time.perf_counter() - self.t_process


class Acks:
    """Records every ``acknowledge`` event of a service with its time."""

    def __init__(self, svc: LogicalReplicationService):
        self.times: list[float] = []
        self.lsns: list[int] = []
        self._cv = threading.Condition()
        svc.on("acknowledge", self._on)

    def _on(self, lsn: str) -> None:
        with self._cv:
            self.times.append(time.perf_counter())
            self.lsns.append(lsn_to_long(lsn))
            self._cv.notify_all()

    def last(self) -> int:
        return self.lsns[-1] if self.lsns else -1

    def wait_for(self, lsn: int, query, timeout: float = DRAIN_TIMEOUT_S) -> float:
        """Block until an ack at or above ``lsn``; returns its time."""
        deadline = time.perf_counter() + timeout
        with self._cv:
            while self.last() < lsn:
                if query.exception() is not None:
                    raise RuntimeError(f"stream failed: {query.exception()}")
                left = deadline - time.perf_counter()
                if left <= 0:
                    raise TimeoutError(
                        f"no ack at {gen.lsn_str(lsn)} within {timeout} s "
                        f"(last {gen.lsn_str(max(self.last(), 0))})"
                    )
                self._cv.wait(min(left, 0.05))
            i = bisect.bisect_left(self.lsns, lsn)
            return self.times[i]

    def first_at_or_above(self, lsn: int) -> float | None:
        i = bisect.bisect_left(self.lsns, lsn)
        return self.times[i] if i < len(self.lsns) else None


# ------------------------------------------------------------ table I/O
def make_table(ctx: Ctx, name: str, key: str, table: str) -> MergeOnReadTable:
    return MergeOnReadTable(ctx.spark, ctx.path(name), key_columns=[key],
                            table=table)


def sink_for(ctx: Ctx, tbl: MergeOnReadTable):
    """The foreachBatch sink: ``tbl.apply_batch``, with a span around it
    when tracing."""
    if ctx.tracer is None:
        return tbl.writer()
    return ctx.tracer.traced_sink(tbl)


def replica_rows(tbl: MergeOnReadTable, columns: list[str]) -> dict:
    snap = tbl.snapshot()
    if snap is None:
        return {}
    rows = snap.select(
        *[F.col("after").getItem(c).alias(c) for c in columns]
    ).collect()
    return {r[columns[0]]: r.asDict() for r in rows}


def read_query(tbl: MergeOnReadTable, num_col: str):
    """One replica query, collected: row count and the sum of a numeric
    column over the current snapshot."""
    snap = tbl.snapshot()
    if snap is None:
        return (0, None)
    r = snap.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("after").getItem(num_col).cast("long")).alias("s"),
    ).first()
    return (r["n"], r["s"])


class Reader(threading.Thread):
    """Closed-loop replica reader: one query after another until stopped
    and at least ``min_reads`` have run."""

    def __init__(self, tbl: MergeOnReadTable, num_col: str, tracer=None,
                 min_reads: int = MIN_READS):
        super().__init__(daemon=True)
        self.tbl, self.num_col, self.tracer = tbl, num_col, tracer
        self.min_reads = min_reads
        self.lat_ms: list[float] = []
        self.failed = 0
        self.errors: list[str] = []
        self._halt = threading.Event()

    def run(self) -> None:
        while not (self._halt.is_set() and self.attempted >= self.min_reads):
            t0 = time.perf_counter()
            try:
                read_query(self.tbl, self.num_col)
            except Exception as e:  # noqa: BLE001 — a failed read is a result
                self.failed += 1
                self.errors.append(repr(e)[:300])
                continue
            t1 = time.perf_counter()
            self.lat_ms.append((t1 - t0) * 1000.0)
            if self.tracer is not None:
                self.tracer.span("mor.read", t0, t1)

    @property
    def attempted(self) -> int:
        return len(self.lat_ms) + self.failed

    def finish(self, timeout: float = 120.0) -> None:
        self._halt.set()
        self.join(timeout)
        if self.is_alive():
            raise TimeoutError("replica reader did not finish")


class Publisher(threading.Thread):
    """Open-loop generator. Publishes the first ``warm`` segments every
    ``interval``, waits for ``go``, then publishes segment ``k`` at
    ``t_go + (k - warm) * interval`` whatever the system does, until
    ``halt`` or the last segment, recording each due time and how late
    the publish ran."""

    def __init__(self, publish, n: int, warm: int,
                 interval: float = SEGMENT_INTERVAL_S):
        super().__init__(daemon=True)
        self.publish, self.n, self.warm = publish, n, warm
        self.interval = interval
        self.go = threading.Event()
        self.halt = threading.Event()
        self.published = 0
        self.due: list[float] = [0.0] * n
        self.lateness_ms: list[float] = []
        self.error: BaseException | None = None

    def _phase(self, ks: range) -> None:
        t0 = time.perf_counter()
        for i, k in enumerate(ks):
            if self.halt.is_set():
                return
            due = t0 + i * self.interval
            self.due[k] = due
            wait = due - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            self.publish(k)
            self.published = k + 1
            self.lateness_ms.append((time.perf_counter() - due) * 1000.0)

    def run(self) -> None:
        try:
            self._phase(range(self.warm))
            self.go.wait()
            self._phase(range(self.warm, self.n))
        except BaseException as e:  # noqa: BLE001 — re-raised by the caller
            self.error = e


def text_publisher(log_dir: str, lines: list[str]):
    """Atomic text segments: written under a dot-prefixed temp name (the
    file source skips it), then renamed into place."""

    def publish(k: int) -> None:
        tmp = os.path.join(log_dir, f".{k:06d}.json.tmp")
        with open(tmp, "w") as f:
            f.write(lines[k] + "\n")
        os.rename(tmp, os.path.join(log_dir, f"{k:06d}.json"))

    return publish


def frames_publisher(writer: FrameLogWriter, segments: list[list[bytes]]):
    def publish(k: int) -> None:
        writer.append(segments[k])

    return publish


def live_phase(ctx: Ctx, publish, seg_lsns: list[int], warm: int,
               acks: Acks, query, reader: Reader | None, window_s: float):
    """An open-loop trickle, with ``reader`` (when given) running during
    it. The first ``warm`` segments are an untimed warm-up: timing
    starts once they are acknowledged. The window lasts ``window_s``, at
    least MIN_SEGMENTS timed segments and, with a reader, until it has
    MIN_READS samples. Returns (visibility ms per timed segment,
    publisher, segments published)."""
    pub = Publisher(publish, len(seg_lsns), warm)
    pub.start()
    try:
        acks.wait_for(seg_lsns[warm - 1], query)
    finally:
        pub.go.set()
    ctx.start_timing()
    t_end = time.perf_counter() + window_s
    if reader is not None:
        reader.start()
    while (time.perf_counter() < t_end
           or pub.published - warm < MIN_SEGMENTS
           or (reader is not None and reader.attempted < MIN_READS)) \
            and pub.is_alive():
        time.sleep(0.01)
    pub.halt.set()
    pub.join(DRAIN_TIMEOUT_S)
    if pub.error is not None:
        raise pub.error
    last = pub.published
    acks.wait_for(seg_lsns[last - 1], query)
    if reader is not None:
        reader.finish()
    vis = [(acks.first_at_or_above(seg_lsns[k]) - pub.due[k]) * 1000.0
           for k in range(warm, last)]
    ctx.extra["segments_timed"] = last - warm
    ctx.extra["gen_lateness_ms_max"] = max(pub.lateness_ms[warm:])
    return vis, pub, last


def reads_after_drain(tbl: MergeOnReadTable, num_col: str,
                      tracer=None) -> Reader:
    """READ_WARMUP untimed replica reads, then MIN_READS timed ones, back
    to back."""
    for _ in range(READ_WARMUP):
        read_query(tbl, num_col)
    reader = Reader(tbl, num_col, tracer)
    reader.start()
    reader.finish()
    return reader


def visibility_metrics(ctx: Ctx, vis_segments: list[float]) -> dict:
    # Every change of a segment shares its due time and its ack, and
    # every segment holds the same number of changes: the per-change
    # percentiles equal the per-segment ones, and the segments are the
    # independent samples the ten-beyond rule counts.
    ctx.extra.setdefault("timings", {})["visibility_ms"] = summarize(
        vis_segments)
    return {
        "visibility_ms_p50": percentile(vis_segments, 50.0),
        "visibility_ms_p95": tail_value(vis_segments, VISIBILITY_TAIL_PCT),
    }


def read_metrics(ctx: Ctx, reader: Reader) -> dict:
    # MIN_READS samples support no tail percentile with ten samples
    # beyond it, so the median is the highest reported
    ctx.extra.setdefault("timings", {})["read_ms"] = summarize(reader.lat_ms)
    return {"read_ms_p50": percentile(reader.lat_ms, 50.0)}


def final_check(tbl, txns, columns, acked_lsn: int, last_lsn: int,
                reader: Reader | None, num_col: str | None) -> dict:
    """Oracle comparison, the final-position check and the reader's
    failed queries, as one attempted/failed count."""
    expected = oracle.replay(txns, columns)
    chk = oracle.compare(replica_rows(tbl, columns), expected)
    chk["position_ok"] = acked_lsn == last_lsn
    chk["acked_lsn"] = gen.lsn_str(max(acked_lsn, 0))
    chk["last_lsn"] = gen.lsn_str(last_lsn)
    chk["attempted"] += 1
    chk["failed"] += 0 if chk["position_ok"] else 1
    if reader is not None:
        # the last read, taken after the drain, must equal the oracle
        n, s = read_query(tbl, num_col)
        want = (len(expected), sum(int(r[num_col]) for r in expected.values()))
        chk["final_read_ok"] = (n, s or 0) == want
        chk["reads_failed"] = reader.failed
        chk["read_errors"] = reader.errors[:3]
        chk["attempted"] += reader.attempted + 1
        chk["failed"] += reader.failed + (0 if chk["final_read_ok"] else 1)
    return chk


# ------------------------------------------------------------ workloads
def _max_segments(window_s: float, warm: int) -> int:
    # pre-encoded headroom: the window may outlast window_s while the
    # reader collects MIN_READS samples
    return warm + 4 * max(int(round(window_s / SEGMENT_INTERVAL_S)),
                          MIN_SEGMENTS)


def live_metrics(ctx, vis, reader, txns, warm, last, due, acks,
                 seg_lsns) -> dict:
    """The end-to-end metrics of a live window. ``changes_per_s`` is the
    apply rate: changes acknowledged over due-of-first to ack-of-last; it
    falls below the 200/s offered rate when the pipeline lags."""
    delivered = sum(len(t.changes) for t in txns[warm:last])
    window = acks.first_at_or_above(seg_lsns[last - 1]) - due[warm]
    return {
        **visibility_metrics(ctx, vis),
        **read_metrics(ctx, reader),
        "changes_per_s": delivered / window,
    }


def run_live_trickle(ctx: Ctx) -> dict:
    """wal2json text segments, 20 changes every 100 ms, continuous
    subscribe into a MOR table, one closed-loop reader."""
    warm = 20
    lines, txns = gen.live_wal2json(ctx.seed, _max_segments(ctx.seconds, warm))
    ctx.mark("generated")
    seg_lsns = [t.commit_lsn for t in txns]
    log_dir = ctx.path("w2j_log")
    os.makedirs(log_dir)
    svc = LogicalReplicationService(ctx.spark, log_dir, ctx.path("ckpt"))
    acks = Acks(svc)
    tbl = make_table(ctx, "w2j_tbl", "id", gen.W2J_TABLE)
    if ctx.tracer is not None:
        ctx.tracer.attach(svc)
    q = svc.subscribe("wal2json", "live", sink_for(ctx, tbl),
                      available_now=False)
    reader = Reader(tbl, "amount", ctx.tracer)
    try:
        vis, pub, last = live_phase(
            ctx, text_publisher(log_dir, lines), seg_lsns, warm, acks, q,
            reader, ctx.seconds)
        if ctx.tracer is not None:
            ctx.tracer.collect_query(q, pub.due[warm:last],
                                     seg_lsns[warm:last])
    finally:
        svc.stop()
    metrics = live_metrics(ctx, vis, reader, txns, warm, last, pub.due, acks,
                           seg_lsns)
    ctx.mark("live_done")
    check = final_check(tbl, txns[:last], gen.W2J_COLUMNS, acks.last(),
                        seg_lsns[last - 1], reader, "amount")
    ctx.mark("checked")
    if ctx.tracer is not None:
        ctx.tracer.after_run(ctx, tbl, "amount", ("wal2json", [
            os.path.join(log_dir, f"{k:06d}.json") for k in range(warm, last)
        ]))
    return {"metrics": metrics, "check": check}


def _warm_pgoutput(ctx: Ctx, reg: dict) -> None:
    """Untimed warm-up: the same subscribe pipeline drains a small
    backlog (one micro-batch) on its own slot, log and table."""
    fs, _txns, _ks, _rng = gen.pgoutput_backlog(
        ctx.seed + 1_000_003, changes=WARM_BACKLOG_CHANGES, truncate=False)
    log_dir = ctx.path("warm_log")
    FrameLogWriter(log_dir).append(fs.frames)
    svc = LogicalReplicationService(ctx.spark, log_dir, ctx.path("warm_ckpt"),
                                    max_files_per_trigger=CATCHUP_FRAMES_PER_TRIGGER)
    acks = Acks(svc)
    tbl = make_table(ctx, "warm_tbl", gen.PG_KEY, gen.PG_TABLE)
    q = svc.subscribe("pgoutput", "warm", tbl.writer(),
                      decode_options={"relations": reg}, available_now=False,
                      source="frames")
    try:
        acks.wait_for(fs.lsn, q)
        ctx.mark("warm_drained")
        read_query(tbl, "col01")
    finally:
        svc.stop()


def run_catchup_pgoutput(ctx: Ctx, truncate: bool = True) -> dict:
    """A pre-written pgoutput v1 frame log drained by a live
    ``subscribe(source="frames")``, then replica reads, then a live
    tail."""
    warm = 10
    ctx.extra["frames_source"] = True
    fs, txns, ks, rng = gen.pgoutput_backlog(ctx.seed, truncate=truncate)
    backlog_last = fs.lsn
    n_dml = sum(len(t.changes) for t in txns if t.changes[0][0] != "T")
    tail_s = ctx.seconds
    tail, tail_txns = gen.pgoutput_tail(fs, ks, rng,
                                        _max_segments(tail_s, warm))
    tail_lsns = [t.commit_lsn for t in tail_txns]
    log_dir = ctx.path("pg_log")
    writer = FrameLogWriter(log_dir)
    writer.append(fs.frames)
    fs.frames.clear()
    ctx.mark("generated")
    reg = gen.relations_registry()
    _warm_pgoutput(ctx, reg)
    ctx.mark("warmed")

    svc = LogicalReplicationService(ctx.spark, log_dir, ctx.path("ckpt"),
                                    max_files_per_trigger=CATCHUP_FRAMES_PER_TRIGGER)
    acks = Acks(svc)
    tbl = make_table(ctx, "pg_tbl", gen.PG_KEY, gen.PG_TABLE)
    if ctx.tracer is not None:
        ctx.tracer.attach(svc)
    t_sub = time.perf_counter()
    setup_s = t_sub - ctx.t_process
    q = svc.subscribe("pgoutput", "catchup", sink_for(ctx, tbl),
                      decode_options={"relations": reg}, available_now=False,
                      source="frames")
    try:
        t_drained = acks.wait_for(backlog_last, q)
        ctx.mark("drained")
        # the reads hit the log the drain left: few, large batches
        reader = reads_after_drain(tbl, "col01", ctx.tracer)
        ctx.mark("read")
        vis, pub, last = live_phase(
            ctx, frames_publisher(writer, tail), tail_lsns, warm, acks, q,
            None, tail_s)
        if ctx.tracer is not None:
            ctx.tracer.collect_query(q, pub.due[warm:last],
                                     tail_lsns[warm:last])
    finally:
        svc.stop()
    # set-up ends at subscribe: the drain is the first timed event
    ctx.setup_s = setup_s
    ctx.extra["drain_s"] = t_drained - t_sub
    ctx.extra["backlog_changes"] = n_dml
    metrics = {
        **live_metrics(ctx, vis, reader, tail_txns, warm, last, pub.due,
                       acks, tail_lsns),
        "changes_per_s": n_dml / (t_drained - t_sub),
    }
    ctx.mark("live_done")
    check = final_check(tbl, txns + tail_txns[:last], gen.PG_COLUMNS,
                        acks.last(), tail_lsns[last - 1], reader, "col01")
    ctx.mark("checked")
    if ctx.tracer is not None:
        ctx.tracer.after_run(ctx, tbl, "col01", ("pgoutput", log_dir,
                             CATCHUP_FRAMES_PER_TRIGGER, reg))
    return {"metrics": metrics, "check": check}


def _committed_lsn(query) -> int:
    p = query.lastProgress
    if p is None:
        return -1
    p = json.loads(p.json)
    if not p.get("sources"):
        return -1
    lsn = offset_dict(p["sources"][0].get("endOffset")).get("lsn")
    return lsn_to_long(lsn) if lsn else -1


def _gate_query(ctx: Ctx, log_dir: str, reg: dict, tbl, slot: str):
    svc = LogicalReplicationService(ctx.spark, log_dir, ctx.path("ckpt"),
                                    max_files_per_trigger=STREAMED_FRAMES_PER_TRIGGER)
    ev = svc.changes("pgoutput", source="frames", relations=reg)
    gated = resolve_transactions_gate(ev)
    return (
        gated.writeStream.foreachBatch(sink_for(ctx, tbl) if slot != "warm"
                                       else tbl.writer())
        .option("checkpointLocation", ctx.path("ckpt", slot))
        .start()
    )


def _wait_committed(query, lsn: int, timeout: float = DRAIN_TIMEOUT_S) -> float:
    deadline = time.perf_counter() + timeout
    while True:
        if _committed_lsn(query) >= lsn:
            return time.perf_counter()
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        if time.perf_counter() > deadline:
            raise TimeoutError(f"offset {gen.lsn_str(lsn)} not committed")
        time.sleep(0.005)


def run_catchup_streamed(ctx: Ctx) -> dict:
    """A protocol-v2 backlog with interleaved streamed transactions,
    through the stateful commit gate into a MOR table."""
    ctx.extra["frames_source"] = True
    fs, txns = gen.streamed_backlog(ctx.seed)
    log_dir = ctx.path("v2_log")
    FrameLogWriter(log_dir).append(fs.frames)
    reg = gen.relations_registry()

    wfs, _ = gen.streamed_backlog(ctx.seed + 1_000_003, streamed_txns=8)
    warm_dir = ctx.path("warm_log")
    FrameLogWriter(warm_dir).append(wfs.frames)
    wq = _gate_query(ctx, warm_dir, reg, make_table(ctx, "warm_tbl", gen.PG_KEY,
                                                    gen.PG_TABLE), "warm")
    try:
        _wait_committed(wq, wfs.lsn)
    finally:
        wq.stop()

    tbl = make_table(ctx, "v2_tbl", gen.PG_KEY, gen.PG_TABLE)
    ctx.start_timing()
    t0 = time.perf_counter()
    q = _gate_query(ctx, log_dir, reg, tbl, "streamed")
    try:
        t1 = _wait_committed(q, fs.lsn)
        if ctx.tracer is not None:
            ctx.tracer.collect_query(q, [], [])
    finally:
        q.stop()
    n_dml = sum(len(t.changes) for t in txns)
    check = final_check(tbl, txns, gen.PG_COLUMNS, _committed_lsn(q), fs.lsn,
                        None, None)
    if ctx.tracer is not None:
        ctx.tracer.after_run(ctx, tbl, "col01", ("pgoutput", log_dir,
                             STREAMED_FRAMES_PER_TRIGGER, reg))
    return {"metrics": {"changes_per_s": n_dml / (t1 - t0)}, "check": check}


def run_probe_available_now(ctx: Ctx) -> dict:
    """Correctness probe, not a performance workload: a bounded
    ``subscribe(available_now=True, source="frames")`` must drain the
    whole log before it stops."""
    fs, txns, _ks, _rng = gen.pgoutput_backlog(ctx.seed, changes=30_000,
                                               truncate=False)
    log_dir = ctx.path("probe_log")
    FrameLogWriter(log_dir).append(fs.frames)
    svc = LogicalReplicationService(ctx.spark, log_dir, ctx.path("ckpt"),
                                    max_files_per_trigger=10_000)
    tbl = make_table(ctx, "probe_tbl", gen.PG_KEY, gen.PG_TABLE)
    ctx.start_timing()
    t0 = time.perf_counter()
    q = svc.subscribe("pgoutput", "probe", tbl.writer(),
                      decode_options={"relations": gen.relations_registry()},
                      available_now=True, source="frames")
    q.awaitTermination(DRAIN_TIMEOUT_S)
    t1 = time.perf_counter()
    last = svc.last_lsn("probe")
    check = final_check(tbl, txns, gen.PG_COLUMNS,
                        lsn_to_long(last) if last else -1, fs.lsn, None, None)
    frames = max([offset_dict(p["sources"][0]["endOffset"]).get("frames", 0)
                  for p in progress_dicts(q)] or [0])
    check["frames_read"] = frames
    check["frames_in_log"] = len(fs.frames)
    return {"metrics": {"drain_s": t1 - t0}, "check": check}


def run_probe_truncate(ctx: Ctx) -> dict:
    """Correctness probe, not a performance workload: a TRUNCATE in a
    later micro-batch must remove the rows earlier batches wrote."""
    rng = gen.random.Random(ctx.seed)
    ks = gen.KeySpace(rng, range(1, 2001))
    txns = gen.v1_txns(rng, ks, 1000, 100, (1.0, 0.0, 0.0), 0.0, 10_000)
    txns.append(gen.Txn(xid=20_000, changes=[("T",)], subs=[None]))
    ks.clear()
    txns += gen.v1_txns(rng, ks, 100, 100, (1.0, 0.0, 0.0), 0.0, 20_001)
    fs = gen.FrameStream()
    fs.emit(gen.relation_message())
    for t in txns:
        fs.v1_txn(t)
    log_dir = ctx.path("probe_log")
    FrameLogWriter(log_dir).append(fs.frames)
    svc = LogicalReplicationService(ctx.spark, log_dir, ctx.path("ckpt"),
                                    max_files_per_trigger=600)
    acks = Acks(svc)
    tbl = make_table(ctx, "probe_tbl", gen.PG_KEY, gen.PG_TABLE)
    ctx.start_timing()
    t0 = time.perf_counter()
    q = svc.subscribe("pgoutput", "probe", tbl.writer(),
                      decode_options={"relations": gen.relations_registry()},
                      available_now=False, source="frames")
    try:
        t1 = acks.wait_for(fs.lsn, q)
    finally:
        svc.stop()
    check = final_check(tbl, txns, gen.PG_COLUMNS, acks.last(), fs.lsn,
                        None, None)
    return {"metrics": {"drain_s": t1 - t0}, "check": check}


WORKLOADS = {
    "live_trickle": run_live_trickle,
    "catchup_pgoutput_notrunc": lambda ctx: run_catchup_pgoutput(ctx, truncate=False),
    "catchup_pgoutput": run_catchup_pgoutput,
    "catchup_streamed": run_catchup_streamed,
    "probe_available_now": run_probe_available_now,
    "probe_truncate": run_probe_truncate,
}

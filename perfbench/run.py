"""CDC benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

runs one workload in this process and prints, as the last line of
standard output, one JSON object: ``correct``, ``attempted``, ``failed``
and ``metrics`` (the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``).

    python3 perfbench/run.py --workload all [--seed n] [--seconds s]

runs every workload, each in a fresh process, prints one table of
metrics with units and failure counts, and rewrites ``BENCHMARK.json``.
Run it from the root of a checkout: the library is imported from there.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
PACKAGE = "pg_logical_replication_spark"
TMP_DIRNAME = ".perfbench_tmp"

# Workloads the benchmark contract runs (BENCHMARK.json). The others run
# under --workload all: catchup_pgoutput and catchup_streamed report HEAD
# defects as failures (catchup_pgoutput on some seeds only), and the
# probes are correctness checks of single defects.
KEPT = {
    "live_trickle": "open-loop wal2json trickle, 200 changes/s: per-batch "
                    "fixed cost, MOR small writes beside MOR reads",
    "catchup_pgoutput_notrunc": "100k-change pgoutput v1 frame backlog, no "
                                "TRUNCATE: frames reader, Python decode, "
                                "latest_image on large batches; then a "
                                "live pgoutput tail",
}
ALL = list(KEPT) + ["catchup_pgoutput", "catchup_streamed",
                    "probe_available_now", "probe_truncate"]

END_TO_END = [
    # name, unit, bound (share of the parent median it may worsen)
    ("setup_s", "s", 0.25),
    ("visibility_ms_p50", "ms", 0.25),
    ("visibility_ms_p95", "ms", 0.25),
    ("read_ms_p50", "ms", 0.25),
    ("changes_per_s", "1/s", 0.25),
]
# Recorded in every run record and printed by --workload all, but not a
# contract metric: the JVM's heap growth moved it 1.7 -> 3.5 GB between
# runs of one workload and seed range, beyond any allowed bound.
RECORDED = [("peak_rss_mb", "MB")]
BETTER = {"changes_per_s": "higher"}

MANIFEST_SECONDS = 20


def manifest() -> dict:
    from perfbench.trace import PER_LAYER

    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": MANIFEST_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in KEPT.items()],
        "end_to_end": [
            {"name": n, "unit": u, "better": BETTER.get(n, "lower"),
             "bound": b}
            for n, u, b in END_TO_END
        ],
        "per_layer": [
            {"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER
        ],
    }


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _checkout_root() -> str:
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "__init__.py")):
        _fail(f"run from a checkout root: no {PACKAGE}/ in {root}")
    return root


def _sandbox_env(tmp: str) -> dict:
    """Keep every file Spark, the JVM and the Python workers write inside
    the run's own directory."""
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    return {
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} "
                                         f"-Dderby.system.home={tmp}",
    }


def _stop_spark(spark) -> None:
    """Stop Spark, shut the JVM gateway down and wait until every
    descendant process (JVM, Python workers) has exited."""
    from pyspark import SparkContext

    from perfbench.stats import process_tree

    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        SparkContext._gateway = None
        SparkContext._jvm = None
        try:
            gw.shutdown()
        finally:
            proc = getattr(gw, "proc", None)
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
    deadline = time.time() + 30
    while len(process_tree()) > 1 and time.time() < deadline:
        time.sleep(0.1)
    left = process_tree()[1:]
    if left:
        import signal

        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except OSError:
                pass
        time.sleep(0.5)


def run_one(args) -> dict:
    root = _checkout_root()
    tmp = os.path.join(root, TMP_DIRNAME, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    conf = _sandbox_env(tmp)
    try:
        from perfbench import stats, workloads

        with stats.TreeRss() as rss:
            host_before = stats.calibration()
            tracer = None
            if args.trace:
                from perfbench.trace import Tracer

                tracer = Tracer(tmp)
                conf.update(tracer.spark_conf())
            from pg_logical_replication_spark import get_spark

            cpus = len(os.sched_getaffinity(0))
            ctx = workloads.Ctx(spark=None, root=os.path.join(tmp, "data"),
                                seed=args.seed, seconds=args.seconds,
                                tracer=tracer, t_process=T_PROCESS)
            ctx.mark("calibrated")
            ctx.spark = spark = get_spark(cpus=cpus, extra_conf=conf)
            ctx.mark("spark_started")
            os.makedirs(ctx.root)
            try:
                res = workloads.WORKLOADS[args.workload](ctx)
            finally:
                _stop_spark(spark)
            ctx.mark("stopped")
            host_after = stats.calibration()
        res["metrics"]["setup_s"] = ctx.setup_s
        res["metrics"]["peak_rss_mb"] = rss.peak_mb
        ctx.extra["peak_rss_parts_mb"] = [kb / 1024 for kb in rss.peak_parts]
        res["host"] = {"before": host_before, "after": host_after,
                       "cpus": cpus}
        res["extra"] = ctx.extra
        if tracer is not None:
            from perfbench.trace import NOT_MEASURED

            res["layers"] = tracer.layer_metrics(ctx, host_after)
            res["layers_not_measured"] = NOT_MEASURED
        return res
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        parent = os.path.dirname(tmp)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def result_line(res: dict, trace: bool) -> dict:
    from perfbench.trace import PER_LAYER

    chk = res["check"]
    if trace:
        units = {n: u for n, u, _b in PER_LAYER}
        metrics = {n: {"value": res["layers"][n], "unit": units[n]}
                   for n in units}
    else:
        units = {n: u for n, u, _b in END_TO_END}
        metrics = {n: {"value": res["metrics"][n], "unit": units[n]}
                   for n in units if n in res["metrics"]}
    return {"correct": chk["failed"] == 0, "attempted": chk["attempted"],
            "failed": chk["failed"], "metrics": metrics}


def _child(root: str, name: str, args, trace: int) -> tuple[dict, dict]:
    """One workload in a fresh process: (full record, result line)."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(trace), "--detail"]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=root, capture_output=True, text=True,
                       timeout=900)
    wall = time.perf_counter() - t0
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith("{")]
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{name} (trace {trace}) exited {p.returncode}: "
                           f"{p.stderr[-2000:]}")
    rec = json.loads(lines[-2])
    rec["wall_s"] = wall
    return rec, json.loads(lines[-1])


def run_all(args) -> None:
    """Every workload in its own process, then a traced run of each when
    ``--trace 1``; a summary table; the manifest."""
    root = _checkout_root()
    records = {}
    units = {n: u for n, u, _b in END_TO_END}
    units.update(RECORDED)
    try:
        for name in ALL:
            try:
                rec, line = _child(root, name, args, 0)
            except RuntimeError as e:
                records[name] = {"error": str(e)}
                print(f"{name}: FAILED to run\n{e}")
                continue
            records[name] = {"untraced": rec}
            print(f"{name}: correct={line['correct']} attempted="
                  f"{line['attempted']} failed={line['failed']}")
            for m, v in sorted(rec["metrics"].items()):
                print(f"  {m:<28} {v:>14.4f} {units.get(m, '(samples)')}")
            if not args.trace:
                continue
            try:
                trec, tline = _child(root, name, args, 1)
            except RuntimeError as e:
                records[name]["traced"] = {"error": str(e)}
                print(f"{name} traced: FAILED to run\n{e}")
                continue
            # tracing overhead: traced minus untraced end-to-end numbers
            trec["overhead"] = {m: trec["metrics"][m] - v
                                for m, v in rec["metrics"].items()
                                if m in units and m in trec["metrics"]}
            records[name]["traced"] = trec
            for m, v in tline["metrics"].items():
                print(f"  {m:<28} {v['value']:>14.4f} {v['unit']}")
            for m, v in sorted(trec["overhead"].items()):
                print(f"  overhead {m:<19} {v:>+14.4f} {units[m]}")
    finally:
        _write_record(args, records)
    with open(os.path.join(root, "BENCHMARK.json"), "w") as f:
        json.dump(manifest(), f, indent=2)
        f.write("\n")


def _write_record(args, records: dict) -> None:
    if args.record:
        with open(args.record, "w") as f:
            json.dump({"seed": args.seed, "seconds": args.seconds,
                       "workloads": records}, f, indent=1, default=str)
            f.write("\n")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=ALL + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=MANIFEST_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--detail", action="store_true",
                    help="also print the full run record before the result")
    ap.add_argument("--record", help="--workload all: write the records here")
    args = ap.parse_args()
    sys.path.insert(0, _checkout_root())
    if args.workload == "all":
        run_all(args)
        return
    res = run_one(args)
    if args.detail:
        print(json.dumps(res, default=str))
    print(json.dumps(result_line(res, bool(args.trace))))


if __name__ == "__main__":
    main()

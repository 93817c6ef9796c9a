"""Benchmark entry point.

    python3 perfbench/run.py --workload full_dedup --seed 1 --seconds 3 --trace 0

Runs one workload in one process on ``local[<cpus>]`` as a closed loop
with one client, checks the outputs, and prints as its LAST stdout line
one JSON object ``{"correct", "attempted", "failed", "metrics"}``: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. The line before it is a JSON report with the details
(operation latencies, gate results, CPU control probe). Exits 1 when a
correctness gate fails, 2 when the checkout holds no engine to run.

Everything a run writes stays under the checkout: a per-run scratch
directory ``.perfbench_work/<pid>`` (removed at exit) and the span dump
of a traced run under ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOAD_NAMES = ("full_dedup", "memo_rescan", "probe_ingest")

# (name, unit) — the end-to-end metrics every workload reports untraced.
END_TO_END = (
    ("setup_s", "s"),
    ("pages_per_s", "pages/s"),
    ("op_p50_s", "s"),
    ("pair_f1", "ratio"),
    ("peak_rss_mb", "MB"),
)

# (name, unit, span) — per-layer metrics of the traced run; ``span`` names
# the span whose self time the metric is, None for counts and ratios.
PER_LAYER = (
    ("session.start_s", "s", "session.start"),
    ("scan.s", "s", "scan"),
    ("scan.bytes", "bytes", None),
    ("page_meta.s", "s", "page_meta"),
    ("page_meta.rows", "rows", None),
    ("assign_exact.s", "s", "assign_exact"),
    ("assign_exact.shuffle_bytes", "bytes", None),
    ("assign_exact.dup_rows", "rows", None),
    ("candidates.s", "s", "candidates"),
    ("candidates.bucket_rows", "rows", None),
    ("candidates.pairs", "count", None),
    ("candidates.dropped_buckets", "count", None),
    ("candidates.shuffle_bytes", "bytes", None),
    ("band_gate.pass_ratio", "ratio", None),
    ("confirm.s", "s", "confirm"),
    ("confirm.pairs_in", "count", None),
    ("confirm.edges_out", "count", None),
    ("confirm.yield", "ratio", None),
    ("cc.s", "s", "cc"),
    ("cc.edges_in", "count", None),
    ("cc.components", "count", None),
    ("audit.flush_s", "s", "audit.flush"),
    ("audit.rows_written", "rows", None),
    ("memo.read_s", "s", "memo.read"),
    ("memo.hit_ratio", "ratio", None),
    ("memo.upsert_s", "s", "memo.upsert"),
    ("memo.bytes_written", "bytes", None),
    ("index.build_s", "s", "index.build"),
    ("index.bytes", "bytes", None),
    ("probe.exact_s", "s", "probe.exact"),
    ("probe.near_s", "s", "probe.near"),
    ("probe.unseen_s", "s", "probe.unseen"),
    ("probe.near_candidates", "count", None),
    ("probe.near_hits", "count", None),
    ("probe.corpus_rows_per_batch_row", "ratio", None),
    ("spark.executor_run_s", "s", None),
    ("spark.gc_s", "s", None),
    ("spark.shuffle_write_bytes", "bytes", None),
    ("spark.spill_bytes", "bytes", None),
    ("spark.task_failures", "count", None),
    ("trace.overhead_ratio", "ratio", None),
)

DRIVER_MEM = "2g"  # get_spark defaults to a 16g heap, more than a small host can spare


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True, help="synthetic-input seed")
    p.add_argument("--seconds", type=float, required=True, help="measured window")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--scale", type=float, default=1.0, help="input-size multiplier (tests)"
    )
    return p.parse_args(argv)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def make_workdir() -> str:
    """``.perfbench_work/<pid>``, after removing what earlier runs that
    are no longer alive left behind."""
    base = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(base, exist_ok=True)
    for entry in os.listdir(base):
        if not (entry.isdigit() and _alive(int(entry))):
            shutil.rmtree(os.path.join(base, entry), ignore_errors=True)
    work = os.path.join(base, str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("tmp", "spark-local", "eventlog", "warehouse"):
        os.makedirs(os.path.join(work, sub))
    return work


def pin_environment(work: str) -> None:
    """Environment the engine reads, set from outside before the JVM
    starts: driver heap, shuffle/spill and audit directories inside the
    run's scratch directory, and the checkout on the workers' path."""
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["DEDUPE_AUDIT_DIR"] = os.path.join(work, "audit")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # every JVM the launch starts: temp files in the scratch directory,
    # and no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )


def spark_conf(work: str, trace: bool) -> dict[str, str]:
    conf = {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        conf["spark.eventLog.rolling.enabled"] = "false"  # one plain JSON file
        conf["spark.eventLog.compress"] = "false"
    return conf


def stop_spark(spark) -> None:
    """Stop the session, the JVM behind it and every process it forked,
    and wait until each has ended."""
    from pyspark import SparkContext

    from perfbench.measure import descendants

    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    deadline = time.time() + 30
    while any(_alive(k) for k in kids) and time.time() < deadline:
        time.sleep(0.2)
    for k in kids:
        if _alive(k):
            os.kill(k, signal.SIGKILL)
    while any(_alive(k) for k in kids):
        time.sleep(0.1)


def end_to_end(setup_s: float, ops: list, peak_rss: int, gates: dict) -> dict:
    from perfbench.stats import median

    times = [dt for dt, _ in ops]
    values = {
        "setup_s": setup_s,
        "pages_per_s": sum(n for _, n in ops) / sum(times),
        "op_p50_s": median(times),
        "pair_f1": gates["pair_f1"]["value"],
        "peak_rss_mb": peak_rss / 2**20,
    }
    return {name: {"value": values[name], "unit": unit} for name, unit in END_TO_END}


def _engine(engine: dict, iteration: int, *spans: str) -> dict:
    """Event-log counters summed over the job groups of ``spans``."""
    out: dict = {}
    for span in spans:
        for key, v in engine.get(f"pb:{iteration}:{span}", {}).items():
            out[key] = out.get(key, 0) + v
    return out


ENGINE_KEYS = ("executor_run_s", "gc_s", "shuffle_write_bytes", "spill_bytes", "task_failures")


def per_layer(wl, setup_tr, iterations: list, engine: dict) -> dict:
    """Median over traced iterations of every per-layer metric."""
    from perfbench.stats import median

    rows = []
    for k, tr, counts in iterations:
        row = dict(counts)
        for name, _, span in PER_LAYER:
            if span is not None:
                setup_span = span in ("session.start", "index.build")
                row[name] = (setup_tr if setup_span else tr).self_time(span)
        row["index.bytes"] = wl.index_bytes()
        for layer in ("assign_exact", "candidates"):
            row[f"{layer}.shuffle_bytes"] = _engine(engine, k, layer).get(
                "shuffle_write_bytes", 0
            )
        batch_rows = counts.get("probe.batch_rows", 0)
        index_rows = _engine(
            engine, k, "probe.exact", "probe.near", "probe.unseen"
        ).get("index_records_read", 0)
        row["probe.corpus_rows_per_batch_row"] = (
            index_rows / batch_rows if batch_rows else 0.0
        )
        # engine counters of the operation itself, not of the layer pass
        op_engine = _engine(engine, k, "op", "audit.flush")
        for key in ENGINE_KEYS:
            row[f"spark.{key}"] = op_engine.get(key, 0)
        row["trace.overhead_ratio"] = tr.duration("layers") / tr.duration("op") - 1
        rows.append(row)
    return {
        name: {"value": median([r[name] for r in rows]), "unit": unit}
        for name, unit, _ in PER_LAYER
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (
        os.path.isdir(os.path.join(ROOT, "dedupe_algo_spark"))
        and os.path.isfile(os.path.join(ROOT, "jobs", "incremental_job.py"))
    ):
        print(
            f"perfbench: no engine under {ROOT} (dedupe_algo_spark/ and "
            "jobs/incremental_job.py are required)",
            file=sys.stderr,
        )
        return 2
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    work = make_workdir()
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args, work: str) -> int:
    pin_environment(work)
    from dedupe_algo_spark.session import get_spark
    from perfbench.measure import PeakRSS, Tracer, cpu_control, find_event_log, read_event_log
    from perfbench.stats import tail_percentile
    from perfbench.workloads import INDEX_TABLES, WORKLOADS, Context

    cpus = len(os.sched_getaffinity(0))
    ctl_before = cpu_control()
    setup_tr = Tracer()
    with setup_tr.span("session.start"):
        spark = get_spark(
            app_name=f"perfbench-{args.workload}",
            master=f"local[{cpus}]",
            extra_conf=spark_conf(work, bool(args.trace)),
        )
    try:
        ctx = Context(spark, work, args.seed, args.scale)
        wl = WORKLOADS[args.workload](ctx)
        ctx.group("prepare")
        t_prep = time.perf_counter()
        wl.prepare()
        phases = {"prepare_s": time.perf_counter() - t_prep}
        ctx.group("setup")
        t0 = time.perf_counter()
        wl.setup(setup_tr)
        wl.warm_up()
        setup_s = setup_tr.duration("session.start") + time.perf_counter() - t0

        rss = PeakRSS().start()
        ops: list[tuple[float, int]] = []
        iterations: list = []
        failed_ops = 0
        t_start = time.perf_counter()
        while True:
            i = len(ops) + len(iterations) + failed_ops
            try:
                if args.trace:
                    ctx.iteration = i
                    tr = Tracer(on_enter=ctx.group)
                    iterations.append((i, tr, wl.traced_iteration(tr)))
                else:
                    ctx.group("op")
                    ops.append(wl.op(i))
            except Exception:
                traceback.print_exc()
                failed_ops += 1
                if failed_ops >= 3:
                    break
            if time.perf_counter() - t_start >= args.seconds:
                break
        peak = rss.stop()
        if not ops and not iterations:
            print("perfbench: every operation failed", file=sys.stderr)
            return 1
        ctx.group("gates")
        t_gates = time.perf_counter()
        gates = wl.gates()
        phases["gates_s"] = time.perf_counter() - t_gates
        ctl_after = cpu_control()
    finally:
        stop_spark(spark)

    attempted = len(ops) + len(iterations) + failed_ops
    failed = min(attempted, failed_ops + sum(not g["ok"] for g in gates.values()))
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "loop": "closed loop, one client",
        "size": wl.size(),
        "cpu_control_s": {"before": ctl_before, "after": ctl_after},
        "phase_s": phases,
        "gates": gates,
        # metrics that are 0 on a correct run, or that need more samples
        # than a run usually has: reported here, not in BENCHMARK.json
        "more_metrics": {
            "result_diff": {"value": gates["result_diff"]["value"], "unit": "rows"},
            "failed_ratio": {"value": failed / attempted, "unit": "ratio"},
        },
    }
    if args.trace:
        engine = read_event_log(
            find_event_log(os.path.join(work, "eventlog")), INDEX_TABLES
        )
        metrics = per_layer(wl, setup_tr, iterations, engine)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        dump = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
        with open(dump, "w") as f:
            json.dump(
                {
                    "setup": setup_tr.records(),
                    "iterations": [
                        {"spans": tr.records(), "counts": counts}
                        for _, tr, counts in iterations
                    ],
                    "engine_by_group": engine,
                    "metrics": metrics,
                },
                f,
                indent=1,
            )
        report["trace_file"] = os.path.relpath(dump, ROOT)
        report["op_s"] = [tr.duration("op") for _, tr, _ in iterations]
    else:
        metrics = end_to_end(setup_s, ops, peak, gates)
        times = [dt for dt, _ in ops]
        report["op_s"] = times
        tail = tail_percentile(times)
        if tail is not None:
            report["more_metrics"][f"op_p{tail[0]:g}_s"] = {
                "value": tail[1],
                "unit": "s",
                "samples": len(times),
            }
    correct = failed == 0
    print(json.dumps(report, default=str))
    print(
        json.dumps(
            {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}
        )
    )
    return 0 if correct else 1


if __name__ == "__main__":
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    sys.exit(main())

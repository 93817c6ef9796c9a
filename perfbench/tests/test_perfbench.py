"""Tests of the benchmark's own code: statistics, span self time, the
event-log reader, the gates' recomputations, the BENCHMARK.json schema,
and a tiny-size smoke run of every workload."""

from __future__ import annotations

import json
import os
import re
import shutil
import statistics
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

from perfbench import run
from perfbench.measure import Tracer, read_event_log
from perfbench.stats import (
    median,
    percentile,
    quartile_spread,
    self_times,
    tail_percentile,
)

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


# ---------------------------------------------------------------- statistics


def test_median_odd_even():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 3.0, 2.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


@pytest.mark.parametrize("q", [0, 10, 25, 50, 90, 99, 100])
def test_percentile_matches_numpy_linear(q):
    xs = [5.0, 1.0, 9.0, 3.0, 7.0, 2.0, 8.0]
    assert percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


def test_percentile_rejects_bad_input():
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 101)


def test_tail_percentile_needs_ten_samples_beyond():
    assert tail_percentile([1.0] * 99) is None
    q, v = tail_percentile([float(i) for i in range(100)])
    assert q == 90 and v == pytest.approx(89.1)
    q, _ = tail_percentile([float(i) for i in range(1000)])
    assert q == 99


def test_quartile_spread_uses_statistics_quantiles():
    xs = [10.0, 11.0, 12.0, 13.0, 14.0, 15.0, 16.0, 17.0, 18.0, 19.0]
    q1, _, q3 = statistics.quantiles(xs, n=4)
    assert quartile_spread(xs) == pytest.approx((q3 - q1) / statistics.median(xs))


# ----------------------------------------------------------------- self time


def _span(i, parent, start, end):
    return {"id": i, "parent": parent, "start": start, "end": end}


def test_self_time_subtracts_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 5.0, 9.0),
        _span(3, 2, 6.0, 7.0),  # grandchild: counts against 2, not 0
    ]
    st = self_times(spans)
    assert st == pytest.approx({0: 4.0, 1: 2.0, 2: 3.0, 3: 1.0})


def test_self_time_overlapping_and_overhanging_children():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 2.0, 6.0),
        _span(2, 0, 4.0, 8.0),  # overlaps child 1: covered once
        _span(3, 0, 9.0, 12.0),  # runs past the parent: clipped
    ]
    assert self_times(spans)[0] == pytest.approx(10.0 - 6.0 - 1.0)


def test_tracer_spans_groups_and_self_time():
    ticks = iter(range(100))
    entered = []
    tr = Tracer(on_enter=entered.append, clock=lambda: float(next(ticks)))
    with tr.span("op"):
        with tr.span("audit.flush"):
            pass
    with tr.span("layers"):
        with tr.span("scan"):
            pass
        with tr.span("scan"):
            pass
    assert entered == [
        "op", "audit.flush", "op", None,
        "layers", "scan", "layers", "scan", "layers", None,
    ]
    assert tr.duration("op") == 3.0
    assert tr.self_time("op") == 2.0
    assert tr.self_time("scan") == 2.0
    assert tr.self_time("layers") == 5.0 - 2.0
    recs = tr.records()
    assert [r["parent"] for r in recs] == [None, 0, None, 2, 2]
    assert all("self_s" in r for r in recs)


# ----------------------------------------------------------------- event log


def test_read_event_log_groups_and_index_rows(tmp_path):
    def task(stage, run_ms, shuffle=0, records=0, ok=True):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task End Reason": {"Reason": "Success" if ok else "ExceptionFailure"},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "JVM GC Time": 10,
                "Disk Bytes Spilled": 0,
                "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
                "Input Metrics": {"Records Read": records},
            },
        }

    events = [
        {
            "Event": "SparkListenerJobStart",
            "Stage IDs": [0, 1],
            "Properties": {"spark.jobGroup.id": "pb:0:op"},
        },
        {
            "Event": "SparkListenerStageSubmitted",
            "Stage Info": {
                "Stage ID": 1,
                "RDD Info": [
                    {"Name": "x", "Scope": '{"name":"Scan parquet spark_catalog.default.idx_bands"}'}
                ],
            },
            "Properties": {"spark.jobGroup.id": "pb:0:op"},
        },
        task(0, 1000, shuffle=100),
        task(1, 500, records=40),
        task(1, 500, records=2, ok=False),
        {
            "Event": "SparkListenerJobStart",
            "Stage IDs": [2],
            "Properties": {"spark.jobGroup.id": "pb:0:count"},
        },
        task(2, 250),
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    out = read_event_log(str(path), ("idx_bands",))
    op = out["pb:0:op"]
    assert op["executor_run_s"] == pytest.approx(2.0)
    assert op["gc_s"] == pytest.approx(0.03)
    assert op["shuffle_write_bytes"] == 100
    assert op["task_failures"] == 1
    assert op["index_records_read"] == 42
    assert out["pb:0:count"]["executor_run_s"] == pytest.approx(0.25)


# ------------------------------------------------------------- recomputation


def test_exact_tier_diff_and_cluster_diff():
    from perfbench.workloads import cluster_diff, exact_tier_diff

    text = "alpha beta gamma delta"
    pages = pd.DataFrame(
        {
            "url": ["a", "b", "c", "d", "e"],
            "text": [text, text, text + " x", "short", "short"],
        }
    )
    good = pd.DataFrame(
        {"url": ["a", "b"], "cluster_id": ["a", "a"], "match_kind": ["exact"] * 2}
    )
    assert exact_tier_diff(pages, good) == 0
    split = good.assign(cluster_id=["a", "b"])
    assert exact_tier_diff(pages, split) == 1
    extra = pd.concat(
        [good, pd.DataFrame({"url": ["c"], "cluster_id": ["a"], "match_kind": ["exact"]})]
    )
    assert exact_tier_diff(pages, extra) == 1
    assert cluster_diff(good, good) == 0
    assert cluster_diff(good, split) == 1
    assert cluster_diff(good, extra) == 1


# ------------------------------------------------------------ BENCHMARK.json


def _benchmark():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_benchmark_json_schema():
    b = _benchmark()
    assert set(b) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer",
    }
    assert b["command"] == ["python3", "perfbench/run.py"]
    assert b["paths"] == ["perfbench"]
    assert isinstance(b["run_seconds"], int) and 1 <= b["run_seconds"] <= 60
    assert 2 <= len(b["workloads"]) <= 8
    for w in b["workloads"]:
        assert set(w) == {"name", "why"}
        assert "\n" not in w["why"] and len(w["why"]) <= 200
    names = [m["name"] for m in b["end_to_end"] + b["per_layer"]] + [
        w["name"] for w in b["workloads"]
    ]
    assert len(names) == len(set(names))
    for m in b["end_to_end"]:
        assert set(m) == {"name", "unit", "better", "bound"}
        assert 0 < m["bound"] <= 0.25 and m["better"] in ("lower", "higher")
    for m in b["per_layer"]:
        assert set(m) == {"name", "unit", "better"}
    for m in b["end_to_end"] + b["per_layer"]:
        assert NAME_RE.match(m["name"]) and UNIT_RE.match(m["unit"])
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])
    assert os.path.getsize(os.path.join(ROOT, "BENCHMARK.json")) <= 64 * 1024


def test_benchmark_json_matches_the_code():
    from perfbench.workloads import WORKLOADS

    b = _benchmark()
    assert [w["name"] for w in b["workloads"]] == list(run.WORKLOAD_NAMES)
    assert set(WORKLOADS) == set(run.WORKLOAD_NAMES)
    assert [(m["name"], m["unit"]) for m in b["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"]) for m in b["per_layer"]] == [
        (n, u) for n, u, _ in run.PER_LAYER
    ]


# ------------------------------------------------------------------ CLI runs


def _run(args, cwd):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def test_exits_nonzero_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"),
        tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    p = _run(["--workload", "full_dedup", "--seed", "1", "--seconds", "1", "--trace", "0"], tmp_path)
    assert p.returncode != 0
    assert p.stdout == ""


@pytest.mark.parametrize(
    "workload,trace",
    [("full_dedup", 0), ("full_dedup", 1), ("memo_rescan", 1), ("probe_ingest", 1)],
)
def test_smoke_run(workload, trace):
    p = _run(
        ["--workload", workload, "--seed", "5", "--seconds", "1",
         "--trace", str(trace), "--scale", "0.25"],
        ROOT,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    expected = run.PER_LAYER if trace else run.END_TO_END
    assert [(n, m["unit"]) for n, m in result["metrics"].items()] == [
        (e[0], e[1]) for e in expected
    ]
    for m in result["metrics"].values():
        assert isinstance(m["value"], (int, float))
    if trace:
        # every named layer has a span in every iteration
        report = json.loads(p.stdout.strip().splitlines()[-2])
        with open(os.path.join(ROOT, report["trace_file"])) as f:
            dump = json.load(f)
        setup = {"session.start", "index.build"}
        layers = {span for _, _, span in run.PER_LAYER if span} - setup
        names = {s["name"] for s in dump["iterations"][0]["spans"]}
        assert layers | {"op", "layers"} <= names
        assert {s["name"] for s in dump["setup"]} == setup
    else:
        assert result["metrics"]["pair_f1"]["value"] >= 0.99

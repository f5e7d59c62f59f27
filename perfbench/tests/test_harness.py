"""Tests for the benchmark's measurement helpers.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import harness as H  # noqa: E402

# ---------------------------------------------------------------- percentiles


def test_p90_needs_ten_samples_beyond_it():
    assert H.percentile(list(range(99)), 0.9) is None
    assert H.percentile(list(range(100)), 0.9) == pytest.approx(89.1)


def test_median_needs_twenty_samples_under_the_rule():
    assert H.percentile([1.0] * 19, 0.5) is None
    assert H.percentile(list(range(20)), 0.5) == pytest.approx(9.5)


def test_highest_reportable_quantile():
    assert H.highest_reportable_quantile(10) is None
    q = H.highest_reportable_quantile(30)
    assert q == pytest.approx(2 / 3)
    assert H.percentile(list(range(30)), q) is not None


def test_half_trend_and_warmup_rule():
    assert H.half_trend([2.0, 2.0, 1.0, 1.0]) == 0.5
    assert H.half_trend([1.0]) is None
    assert not H.warmed_up([20.0], 2, 5)
    assert not H.warmed_up([20.0, 8.0], 2, 5)          # still falling fast
    assert H.warmed_up([20.0, 8.0, 7.0], 2, 5)         # levelled off
    assert H.warmed_up([20.0, 8.0, 3.0, 1.0, 0.3], 2, 5)  # cap
    assert not H.warmed_up([], 1, 1) and H.warmed_up([20.0], 1, 1)


# ---------------------------------------------------------------- /proc


def _fake_proc(root: Path, procs: dict[int, tuple[int, int, int, int, int, int]]):
    """procs: pid -> (ppid, utime, stime, cutime, cstime, vmhwm_kib)."""
    for pid, (ppid, ut, st, cut, cst, hwm) in procs.items():
        d = root / str(pid)
        d.mkdir()
        # comm with a space and a ')' must not shift the fields
        rest = ["S", str(ppid)] + ["0"] * 9 + [str(ut), str(st), str(cut), str(cst)]
        (d / "stat").write_text(f"{pid} (odd ) name) " + " ".join(rest + ["0"] * 30))
        (d / "status").write_text(f"Name:\tx\nVmPeak:\t999 kB\nVmHWM:\t{hwm} kB\n")
    (root / "self").mkdir()  # non-numeric entries are skipped


def test_process_tree_cpu_and_hwm(tmp_path):
    _fake_proc(tmp_path, {
        10: (1, 100, 50, 7, 3, 1000),      # driver
        11: (10, 400, 100, 0, 0, 5000),    # JVM
        12: (11, 20, 10, 30, 20, 300),     # python daemon, reaped workers
        13: (12, 5, 5, 0, 0, 200),         # live worker
        99: (1, 1000, 1000, 0, 0, 9999),   # unrelated
    })
    proc = str(tmp_path)
    tree = H.process_tree(10, proc)
    assert sorted(tree) == [10, 11, 12, 13]
    tick = H.CLK_TCK
    assert H.cpu_seconds(tree, proc) == pytest.approx(
        (150 + 10 + 500 + 30 + 50 + 10) / tick)
    assert H.cpu_seconds([11], proc, with_children=False) == pytest.approx(500 / tick)
    assert H.vm_hwm_kib(tree, proc) == 1000 + 5000 + 300 + 200
    jvm, py = H.CpuSplit(10, 11, proc).read()
    assert jvm == pytest.approx(500 / tick)
    assert py == pytest.approx((150 + 10 + 30 + 50 + 10) / tick)


def test_process_tree_finds_a_live_child():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        tree = H.process_tree(os.getpid())
        assert child.pid in tree
        assert H.vm_hwm_kib(tree) > H.vm_hwm_kib([child.pid]) > 0
    finally:
        child.kill()
        child.wait(timeout=10)


# ---------------------------------------------------------------- failures


def test_oplog_counts_failures():
    log = H.OpLog()
    with pytest.raises(ValueError):
        log.fail_last("nothing ran yet")
    log.record(True)
    log.record(False, "boom")
    log.record(True)
    assert (log.attempted, log.failed) == (3, 1)
    log.fail_last("store does not verify")
    assert (log.attempted, log.failed) == (3, 2)
    assert log.reasons == ["boom", "store does not verify"]


def test_ingest_checks_reject_corrupted_results():
    want = H.expected_ingest_stats(4, 144)
    assert want["tier_1d"] == {"written_partitions": 4, "skipped_partitions": 0}
    assert H.expected_ingest_stats(4, 1441)["blocks_1m"]["written_partitions"] == 8
    bad = json.loads(json.dumps(want))
    bad["tier_1h"]["written_partitions"] = 3
    assert bad != want

    rows = [{"partition_key": f"s{i}|2024-01-01", "ok": True} for i in range(4)]
    assert H.check_lineage(rows, 4)
    assert not H.check_lineage(rows[:3], 4)
    assert not H.check_lineage(rows[:3] + [{"partition_key": "x", "ok": None}], 4)

    toks = {"d1": [1, 2, 3], "d2": [-1, 4, 5]}
    assert H.check_roundtrip(dict(toks), toks)
    assert not H.check_roundtrip({"d1": [1, 2, 3], "d2": [-1, 4, 6]}, toks)
    assert not H.check_roundtrip({"d1": [1, 2, 3]}, toks)
    assert not H.check_roundtrip({}, {})


def test_anonymize_checks_reject_corrupted_results():
    ids = [f"d{i}" for i in range(7)]
    groups = ["a", "a", "a", "b", "b", "b", None]
    supp = [False] * 6 + [True]
    assert H.check_anon_groups(ids, groups, supp, 3, 7)
    assert not H.check_anon_groups(ids, groups, supp, 4, 7)        # group < k
    assert not H.check_anon_groups(ids[:6] + ["d0"], groups, supp, 3, 7)  # dup
    assert not H.check_anon_groups(ids, groups, supp, 3, 8)        # lost record
    assert not H.check_anon_groups(ids, groups[:6] + [None], [False] * 7, 3, 7)

    row = {"avg_value_loss": 60.1, "avg_pattern_loss": 0.8,
           "tot_value_loss": 6010.0, "tot_pattern_loss": 80.0}
    assert H.check_losses(dict(row), row)
    assert H.check_losses(dict(row, tot_value_loss=6010.0 * (1 + 1e-12)), row)
    assert not H.check_losses(dict(row, avg_value_loss=60.1001), row)
    assert not H.check_losses(dict(row, avg_pattern_loss=0.79), row)
    assert not H.check_losses(dict(row, tot_pattern_loss=math.nan), row)


def test_losses_pinned_for_every_input():
    import run as R

    losses = R.expected_losses()
    assert sorted(map(int, losses)) == list(range(R.N_INPUTS))
    assert all(sorted(v) == sorted(H.LOSS_KEYS) and H.check_losses(v, v)
               for v in losses.values())


# ---------------------------------------------------------------- spans


def test_span_parents():
    tr = H.Tracer(True)
    with tr.span("window") as w:
        with tr.span("op1") as a:
            pass
        with tr.span("op2") as b:
            pass
    assert tr.spans[w]["parent"] is None
    assert tr.spans[a]["parent"] == w and tr.spans[b]["parent"] == w
    assert all(s["end"] >= s["start"] for s in tr.spans)
    off = H.Tracer(False)
    with off.span("x") as sid:
        assert sid is None
    assert off.spans == []


# ---------------------------------------------------------------- event log

_SQL = "org.apache.spark.sql.execution.ui."


def test_parse_event_log_synthetic():
    plan = {"nodeName": "Write", "metrics": [
        {"name": "number of output rows", "accumulatorId": 1, "metricType": "sum"}],
        "children": [{"nodeName": "Exchange", "children": [], "metrics": [
            {"name": "shuffle write time", "accumulatorId": 2,
             "metricType": "nsTiming"}]}]}
    events = [
        {"Event": _SQL + "SparkListenerSQLExecutionStart", "executionId": 0,
         "description": "op1", "sparkPlanInfo": plan},
        {"Event": "SparkListenerTaskEnd", "Task Info": {"Accumulables": [
            {"ID": 1, "Update": "5", "Metadata": "sql"},
            {"ID": 2, "Update": "2000000", "Metadata": "sql"},
            {"ID": 77, "Update": 9}]}},
        {"Event": "SparkListenerTaskEnd", "Task Info": {"Accumulables": [
            {"ID": 1, "Update": "6", "Metadata": "sql"}]}},
        {"Event": _SQL + "SparkListenerDriverAccumUpdates", "executionId": 0,
         "accumUpdates": [[1, 1]]},
        {"Event": _SQL + "SparkListenerSQLExecutionStart", "executionId": 1,
         "description": "op1", "sparkPlanInfo": {
             "nodeName": "Scan parquet ", "children": [],
             "metadata": {"Location": "InMemoryFileIndex(1 paths)[file:/w/s/_lineage]"},
             "metrics": [{"name": "size of files read", "accumulatorId": 3,
                          "metricType": "size"}]}},
        {"Event": "SparkListenerTaskEnd", "Task Info": {"Accumulables": [
            {"ID": 3, "Update": "700", "Metadata": "sql"}]}},
    ]
    out = H.parse_event_log(json.dumps(e) for e in events)
    assert out["op1"]["executions"] == 2
    assert out["op1"]["Write/number of output rows"] == 12
    assert out["op1"]["*/number of output rows"] == 12
    assert out["op1"]["*/shuffle write time"] == pytest.approx(2.0)  # ms
    assert out["op1"]["Scan parquet _lineage/size of files read"] == 700


def test_parse_event_log_tiny_spark_query(tmp_path):
    pyspark = pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    log_dir = tmp_path / "ev"
    log_dir.mkdir()
    spark = (SparkSession.builder.master("local[1]").appName("perfbench-test")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", log_dir.as_uri())
             .config("spark.eventLog.compress", "false")
             .getOrCreate())
    try:
        spark.range(1000).write.parquet(str(tmp_path / "t"))
        sc = spark.sparkContext
        sc.setJobDescription("tiny")
        rows = (spark.read.parquet(str(tmp_path / "t"))
                .filter("id % 10 = 0").groupBy((pyspark.sql.functions.col("id") % 3)
                                               .alias("m")).count().collect())
        sc.setJobDescription(None)
    finally:
        spark.stop()
    assert sum(r["count"] for r in rows) == 100
    m = H.read_event_log(log_dir)["tiny"]
    assert m["executions"] >= 1
    size = sum(f.stat().st_size for f in (tmp_path / "t").glob("*.parquet"))
    assert m["*/size of files read"] == size
    assert m["Scan parquet t/size of files read"] == size
    assert m["Filter/number of output rows"] == 100
    assert m["*/shuffle bytes written"] > 0

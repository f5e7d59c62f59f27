"""Measurement helpers for the benchmark in this directory.

Everything here is plain Python with no Spark import, so the tests can
exercise it without a JVM: the percentile rule, the ``/proc``
process-tree counters, op/failure counting, the output checks, spans,
the box-speed probe and the Spark event-log parser.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from contextlib import contextmanager
from pathlib import Path

# --------------------------------------------------------------------------
# sample statistics
# --------------------------------------------------------------------------

#: a percentile is reported only with at least this many samples above it
MIN_SAMPLES_BEYOND = 10


def percentile(samples: list[float], q: float) -> float | None:
    """The ``q``-quantile (0 < q < 1) of ``samples`` by linear
    interpolation, or ``None`` when fewer than ``MIN_SAMPLES_BEYOND``
    samples lie strictly above its rank (a p90 needs >= 100 samples)."""
    n = len(samples)
    if n == 0 or round(n * (1.0 - q), 9) < MIN_SAMPLES_BEYOND:
        return None
    s = sorted(samples)
    pos = q * (n - 1)
    lo = math.floor(pos)
    hi = min(lo + 1, n - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def highest_reportable_quantile(n: int) -> float | None:
    """Highest quantile with ``MIN_SAMPLES_BEYOND`` samples above it."""
    if n <= MIN_SAMPLES_BEYOND:
        return None
    return (n - MIN_SAMPLES_BEYOND) / n


def half_trend(samples: list[float]) -> float | None:
    """Median of the second half over the median of the first half of
    a time-ordered window: > 1 means ops got slower during the window
    (a VM phase or unfinished warm-up), < 1 faster."""
    if len(samples) < 2:
        return None
    h = len(samples) // 2
    return statistics.median(samples[-h:]) / statistics.median(samples[:h])


def warmed_up(jit_s_per_op: list[float], min_ops: int, max_ops: int,
              level: float = 0.75) -> bool:
    """Warm-up stop rule: per-op JIT compile time has levelled off once
    an op compiled at least ``level`` times what the op before it did
    (no longer falling fast). Never fewer than ``min_ops`` ops, never
    more than ``max_ops``."""
    n = len(jit_s_per_op)
    if n >= max_ops:
        return True
    if n < max(2, min_ops):
        return False
    return jit_s_per_op[-1] >= level * jit_s_per_op[-2]


# --------------------------------------------------------------------------
# /proc process tree
# --------------------------------------------------------------------------

CLK_TCK = os.sysconf("SC_CLK_TCK")


def _read_stat(pid: int, proc: str) -> list[str] | None:
    try:
        with open(f"{proc}/{pid}/stat") as f:
            raw = f.read()
    except OSError:  # the process ended between listing and reading
        return None
    # comm may hold spaces and parens: the fields start after the LAST ')'
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int, proc: str = "/proc") -> list[int]:
    """``root`` and every live descendant, found through the ppid field
    of ``/proc/<pid>/stat``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir(proc):
        if not name.isdigit():
            continue
        fields = _read_stat(int(name), proc)
        if fields is None:
            continue
        children.setdefault(int(fields[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int], proc: str = "/proc",
                with_children: bool = True) -> float:
    """utime+stime of ``pids`` in seconds. With ``with_children`` the
    reaped children's cutime+cstime are added too, so a worker that
    exited keeps counting (once, in the parent that waited for it)."""
    ticks = 0
    for pid in pids:
        fields = _read_stat(pid, proc)
        if fields is None:
            continue
        # fields[0] is field 3 (state) of proc(5): utime..cstime = 14..17
        ticks += int(fields[11]) + int(fields[12])
        if with_children:
            ticks += int(fields[13]) + int(fields[14])
    return ticks / CLK_TCK


def vm_hwm_kib(pids: list[int], proc: str = "/proc") -> int:
    """Sum of the kernel's peak resident set (``VmHWM``) over ``pids``."""
    total = 0
    for pid in pids:
        try:
            with open(f"{proc}/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
                        break
        except OSError:
            continue
    return total


def steal_seconds(proc: str = "/proc") -> float:
    """CPU time the hypervisor gave to other guests, summed over this
    VM's CPUs since boot (``steal`` of the ``cpu`` line of /proc/stat)."""
    with open(f"{proc}/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK


class CpuSplit:
    """CPU of this process tree split into JVM and Python: the JVM's own
    utime+stime against everything else in the tree (the driver and
    the Python workers, live or reaped)."""

    def __init__(self, root: int, jvm_pid: int, proc: str = "/proc"):
        self.root, self.jvm_pid, self.proc = root, jvm_pid, proc

    def read(self) -> tuple[float, float]:
        """(jvm_cpu_s, python_cpu_s)."""
        total = cpu_seconds(process_tree(self.root, self.proc), self.proc)
        jvm = cpu_seconds([self.jvm_pid], self.proc, with_children=False)
        return jvm, total - jvm


# --------------------------------------------------------------------------
# ops, failures and checks
# --------------------------------------------------------------------------

class OpLog:
    """Every op the benchmark attempts, warm-up included. An op fails
    when it raises or when its check rejects the result."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.reasons: list[str] = []

    def record(self, ok: bool, reason: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.reasons.append(reason or "check failed")

    def fail_last(self, reason: str) -> None:
        """A check made after the op (once per run, untimed) rejected
        its output: the op that produced it counts as failed."""
        if self.attempted == 0:
            raise ValueError("no op to fail")
        self.failed += 1
        self.reasons.append(reason)


def expected_ingest_stats(n_sources: int, n_tok: int) -> dict:
    """What ``run_rollup_pipeline`` must return on a fresh directory for
    a tokens table with ``n_sources`` sources whose series start at the
    epoch and span ``n_tok`` minutes: every output is partitioned by
    (source, day) and nothing is skipped."""
    days = -(-n_tok // 1440)
    per = {"written_partitions": n_sources * days, "skipped_partitions": 0}
    return {stage: dict(per) for stage in ("blocks_1m", "tier_1h", "tier_1d")}


def check_lineage(rows: list[dict], expected_partitions: int) -> bool:
    """``verify_against_lineage`` rows: one per partition, all ok."""
    return (len(rows) == expected_partitions
            and all(r["ok"] is True for r in rows))


def check_roundtrip(decoded: dict[str, list[int]],
                    expected: dict[str, list[int]]) -> bool:
    """Decoded token arrays equal the input's, for every sampled id."""
    return bool(expected) and decoded == expected


def check_anon_groups(doc_ids: list[str], group_ids: list[str | None],
                      suppressed: list[bool], k: int, n_records: int) -> bool:
    """Every record appears exactly once and every non-suppressed group
    has at least ``k`` members."""
    if len(doc_ids) != n_records or len(set(doc_ids)) != n_records:
        return False
    sizes: dict[str, int] = {}
    for g, s in zip(group_ids, suppressed):
        if s:
            continue
        if g is None:
            return False
        sizes[g] = sizes.get(g, 0) + 1
    return bool(sizes) and min(sizes.values()) >= k


LOSS_KEYS = ("avg_value_loss", "avg_pattern_loss", "tot_value_loss",
             "tot_pattern_loss")


def check_losses(row: dict, expected: dict) -> bool:
    """Value and pattern loss equal the values pinned for this input, to
    a relative 1e-9 (Spark may merge partial sums in another order). A
    change that trades anonymization quality for speed fails here."""
    return all(math.isclose(row[k], expected[k], rel_tol=1e-9)
               for k in LOSS_KEYS)


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------

class Tracer:
    """In-memory spans (id, parent, name, start, end), written out once
    when the run ends. A span's parent is the span open around it.
    ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._open[-1] if self._open else None,
               "name": name, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._open.append(sid)
        try:
            yield sid
        finally:
            self._open.pop()
            rec["end"] = time.perf_counter()

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps(self.spans))


# --------------------------------------------------------------------------
# diagnostics
# --------------------------------------------------------------------------

def box_speed_index(seconds: float = 0.5) -> float:
    """Single-thread NumPy probe in Mops/s: tells a slow VM phase from a
    slow program. A diagnostic only, never a gated metric."""
    import numpy as np
    a = np.arange(1 << 16, dtype=np.int64)
    n, t0 = 0, time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        (a * 3 + 1).sum()
        n += a.size
    return n / (time.perf_counter() - t0) / 1e6


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

_SQL = "org.apache.spark.sql.execution.ui."


def _node_label(node: dict) -> str:
    """The plan node's name; a file scan also names the directory it
    reads (``Scan parquet _lineage``), so reads of different tables in
    one query can be told apart."""
    loc = node.get("metadata", {}).get("Location", "")
    if not loc.endswith("]"):
        return node["nodeName"]
    return f'{node["nodeName"].strip()} {loc[:-1].rsplit("/", 1)[-1]}'


def _plan_metrics(node: dict, out: dict[int, tuple[str, str, str]]) -> None:
    for m in node.get("metrics", ()):
        out[m["accumulatorId"]] = (_node_label(node), m["name"], m["metricType"])
    for child in node.get("children", ()):
        _plan_metrics(child, out)


def event_log_files(log_dir: Path) -> list[Path]:
    """Event files of every application logged under ``log_dir``:
    a plain file per app, or a v2 rolling directory of ``events_*``."""
    files = []
    for entry in sorted(log_dir.iterdir()):
        if entry.is_dir():
            files.extend(sorted(entry.glob("events_*"),
                                key=lambda p: int(p.name.split("_")[1])))
        elif not entry.name.startswith("."):
            files.append(entry)
    return files


def parse_event_log(lines) -> dict[str, dict]:
    """SQL metrics per job description from event-log JSON lines.

    Accumulator ids map to (plan node, metric name) through every plan
    an execution had (``sparkPlanInfo`` of the start event and of each
    adaptive update). Task-side updates and driver-side updates are
    summed per accumulator; each execution is attributed to its
    description (``spark.job.description`` at submission). Returns
    ``{description: {"executions": n, "<node>/<metric>": total, ...,
    "*/<metric>": total over nodes}}``. Times are in ms as Spark
    reports them ('timing'); 'nsTiming' values are converted to ms.
    """
    acc_meta: dict[int, tuple[str, str, str]] = {}
    acc_exec: dict[int, int] = {}
    desc_of: dict[int, str] = {}
    totals: dict[int, float] = {}
    for line in lines:
        e = json.loads(line)
        ev = e["Event"]
        if ev in (_SQL + "SparkListenerSQLExecutionStart",
                  _SQL + "SparkListenerSQLAdaptiveExecutionUpdate"):
            eid = e["executionId"]
            if "description" in e:
                desc_of[eid] = e["description"]
            found: dict[int, tuple[str, str, str]] = {}
            _plan_metrics(e["sparkPlanInfo"], found)
            for aid, meta in found.items():
                acc_meta[aid] = meta
                acc_exec.setdefault(aid, eid)
        elif ev == _SQL + "SparkListenerDriverAccumUpdates":
            for aid, val in e["accumUpdates"]:
                totals[aid] = totals.get(aid, 0) + float(val)
        elif ev == "SparkListenerTaskEnd":
            for acc in e.get("Task Info", {}).get("Accumulables", ()):
                if acc.get("Metadata") != "sql" or "Update" not in acc:
                    continue
                aid = acc["ID"]
                totals[aid] = totals.get(aid, 0) + float(acc["Update"])
    out: dict[str, dict] = {}
    for eid, desc in desc_of.items():
        out.setdefault(desc, {"executions": 0})["executions"] += 1
    for aid, val in totals.items():
        if aid not in acc_meta or acc_exec[aid] not in desc_of:
            continue
        node, name, mtype = acc_meta[aid]
        if mtype == "nsTiming":
            val /= 1e6
        d = out[desc_of[acc_exec[aid]]]
        for key in (f"{node}/{name}", f"*/{name}"):
            d[key] = d.get(key, 0) + val
    return out


def read_event_log(log_dir: Path) -> dict[str, dict]:
    lines = []
    for path in event_log_files(log_dir):
        with open(path) as f:
            lines.extend(line for line in f if line.strip())
    return parse_event_log(lines)


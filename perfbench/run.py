"""kapra_spark benchmark: the rollup write path and (k,P)-anonymization.

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Workloads (closed loop, one client; see README.md in this directory):

- ``ingest``: one op is ``run_rollup_pipeline`` into a fresh directory.
- ``anonymize``: one op is ``run_kp_anonymity(kapra, k=10, P=3, paa=5,
  l=2)``.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` runs the same
loop with Spark's event log on and prints the per-layer metrics. The last
stdout line is one JSON object: correct / attempted / failed / metrics.
Run it from the repository root; it reads and writes only under
``perfbench/_work``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import fcntl  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

import harness as H  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / "_work"

N_TOK = 144                 # one day of 1-minute points per series
INGEST_SERIES = 10_000      # 1.44M points per ingest op
ANON_SERIES = 2_000         # 288k points per anonymize op
SWEEP_ANON_SERIES = 1_000   # anonymize layers on the ingest input
K, P, PAA, L = 10, 3, 5, 2
N_INPUTS = 64               # --seed picks input seed % N_INPUTS
MIN_TIMED_OPS = 3
WARMUP_OPS = {"ingest": (2, 2), "anonymize": (3, 4)}  # (min, max)
WARMUP_DEADLINE_S = 100.0   # from process start; only a very slow box hits it
DRIVER_MEM = "3g"
ROUNDTRIP_SAMPLE = 64
EXPECTED_LOSSES = HERE / "expected_losses.json"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def parquet_files(path: Path) -> list[Path]:
    return sorted(path.rglob("*.parquet"))


class Bench:
    """One benchmark process: a Spark session, a workload's input, the
    op loop and the counters read around every op."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool,
                 run_dir: Path):
        self.workload, self.seed = workload, seed
        self.seconds, self.trace = seconds, trace
        self.dir = run_dir
        self.ops = H.OpLog()
        self.tracer = H.Tracer(trace)
        self.samples: list[dict] = []   # timed ops only
        self.warm: list[dict] = []
        self.layer: dict[str, float] = {}
        self.diag: dict = {"workload": workload, "seed": seed}
        self.spark = None

    # ---------------------------------------------------------------- session
    def start_session(self) -> None:
        from kapra_spark.session import get_spark

        t0 = time.perf_counter()
        extra = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(self.dir / "spark-local"),
        }
        if self.trace:
            log_dir = self.dir / "eventlog"
            log_dir.mkdir()
            extra.update({"spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": log_dir.as_uri(),
                          "spark.eventLog.compress": "false"})
        ncpu = len(os.sched_getaffinity(0))
        self.spark = get_spark(f"perfbench-{self.workload}",
                               master=f"local[{ncpu}]", extra_conf=extra)
        sc = self.spark.sparkContext
        sc.setLogLevel("ERROR")
        self.jvm_proc = sc._gateway.proc
        mf = sc._jvm.java.lang.management.ManagementFactory
        self.jit_bean = mf.getCompilationMXBean()
        self.gc_beans = list(mf.getGarbageCollectorMXBeans())
        self.cpu = H.CpuSplit(os.getpid(),
                              int(sc._jvm.java.lang.ProcessHandle.current().pid()))
        self.layer["session.start_s"] = time.perf_counter() - t0
        self.diag["cores"] = ncpu

    def jvm_counters(self) -> tuple[float, float]:
        """(JIT compile s, GC s) since JVM start, from JMX."""
        return (self.jit_bean.getTotalCompilationTime() / 1000,
                sum(g.getCollectionTime() for g in self.gc_beans) / 1000)

    def close(self) -> None:
        """Stop Spark and the JVM and wait for every process this run
        started (JVM, Python daemon and workers) to end."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        self.jvm_proc.stdin.close()
        self.jvm_proc.wait(timeout=60)
        deadline = time.time() + 30
        while len(H.process_tree(os.getpid())) > 1 and time.time() < deadline:
            time.sleep(0.2)
        self.spark = None

    # --------------------------------------------------------------- op loop
    def run_op(self, tag: str, fn, check) -> dict:
        """Time ``fn()`` as one op, then ``check(result)`` outside the
        timed span. A raise or a rejected result is a failed op."""
        sc = self.spark.sparkContext
        # run_kp_anonymity leaves its table cached; a later op would
        # find the same plan cached and skip the anonymization
        self.spark.catalog.clearCache()
        jit0, gc0 = self.jvm_counters()
        jvm0, py0 = self.cpu.read()
        sc.setJobDescription(tag)
        ok, reason = True, ""
        with self.tracer.span(tag):
            t0 = time.perf_counter()
            try:
                result = fn()
            except Exception:  # a failing op is counted, the loop goes on
                ok, reason, result = False, traceback.format_exc(limit=3), None
            wall = time.perf_counter() - t0
        sc.setJobDescription(None)
        jvm1, py1 = self.cpu.read()
        jit1, gc1 = self.jvm_counters()
        if ok:
            try:
                ok = check(result)
                reason = "" if ok else f"{tag}: wrong result"
            except Exception:
                ok, reason = False, traceback.format_exc(limit=3)
        self.ops.record(ok, reason)
        if not ok:
            log(f"op {tag} failed: {reason}")
        return {"wall": wall, "jit": jit1 - jit0, "gc": gc1 - gc0,
                "jvm_cpu": jvm1 - jvm0, "py_cpu": py1 - py0}

    def run(self, workload_cls) -> "Workload":
        self.start_session()
        wl = workload_cls(self)
        t0 = time.perf_counter()
        wl.tokens = build_tokens(self.spark, wl.n, self.seed % N_INPUTS,
                                 wl.input_dir)
        self.layer["datagen.tokens_df_s"] = time.perf_counter() - t0
        wl.prepare()

        t0 = time.perf_counter()
        jit = []
        lo, hi = WARMUP_OPS[self.workload]
        with self.tracer.span("warmup"):
            while not (H.warmed_up(jit, lo, hi)
                       or time.perf_counter() - T_START > WARMUP_DEADLINE_S):
                s = self.run_op(f"warmup{len(self.warm)}",
                                wl.op(len(self.warm)), wl.check)
                self.warm.append(s)
                jit.append(s["jit"])
        self.layer["session.warmup_s"] = time.perf_counter() - t0
        self.layer["session.warmup_ops"] = len(self.warm)
        self.diag["warmup_jit_s"] = [round(j, 3) for j in jit]

        self.diag["box_speed"] = H.box_speed_index()
        steal0 = H.steal_seconds()
        t_first = time.perf_counter()
        self.setup_s = t_first - T_START
        with self.tracer.span("window"):
            while (time.perf_counter() - t_first < self.seconds
                   or len(self.samples) < MIN_TIMED_OPS):
                i = len(self.warm) + len(self.samples)
                self.samples.append(self.run_op(f"op{i}", wl.op(i), wl.check))
        self.diag["steal_s_in_window"] = H.steal_seconds() - steal0
        tree = H.process_tree(os.getpid())
        self.peak_rss_mb = H.vm_hwm_kib(tree) / 1024
        jvm_mb = H.vm_hwm_kib([self.cpu.jvm_pid]) / 1024
        self.diag["peak_rss_mb_jvm_rest"] = [round(jvm_mb),
                                             round(self.peak_rss_mb - jvm_mb)]
        self.diag["processes_at_peak_rss"] = len(tree)
        t0 = time.perf_counter()
        wl.final_check()
        self.diag["final_check_s"] = time.perf_counter() - t0
        if self.trace:
            with self.tracer.span("layers"):
                wl.sweep()
            gorilla_micro(self)
        return wl

    # ---------------------------------------------------------------- layers
    def layer_call(self, name: str, fn):
        """One call into a layer's public function, as a span and under
        its own job description so the event log attributes its SQL
        metrics to it. Returns fn's result; adds the wall time to
        ``<name>_s``."""
        sc = self.spark.sparkContext
        sc.setJobDescription(f"layer:{name}")
        with self.tracer.span(name):
            t0 = time.perf_counter()
            out = fn()
            dt = time.perf_counter() - t0
        sc.setJobDescription(None)
        self.layer[f"{name}_s"] = self.layer.get(f"{name}_s", 0.0) + dt
        return out

    # --------------------------------------------------------------- results
    def end_to_end(self, points_per_op: int) -> dict:
        walls = [s["wall"] for s in self.samples]
        points = points_per_op * len(walls)
        cpu = sum(s["jvm_cpu"] + s["py_cpu"] for s in self.samples)
        q = H.highest_reportable_quantile(len(walls))
        self.diag.update({
            "setup_parts_s": {k: round(self.layer[k], 2) for k in (
                "session.start_s", "datagen.tokens_df_s", "session.warmup_s")},
            "warmup_walls_s": [round(s["wall"], 2) for s in self.warm],
            "timed_ops": len(walls),
            "op_walls_s": [round(w, 4) for w in walls],
            "op_jit_s": [round(s["jit"], 3) for s in self.samples],
            "op_cpu_s": [round(s["jvm_cpu"] + s["py_cpu"], 2) for s in self.samples],
            "trend_second_over_first_half": H.half_trend(walls),
            "highest_reportable_quantile": q,
            "op_at_that_quantile_s": H.percentile(walls, q) if q else None,
        })
        m = {"setup_s": self.setup_s,
             "points_per_s": points / sum(walls),
             "op_p50_s": statistics.median(walls),
             "cpu_s_per_mpoint": cpu / (points / 1e6),
             "peak_rss_mb": self.peak_rss_mb}
        return {k: (m[k], unit) for k, unit in END_TO_END.items()}

    def per_layer(self, wl) -> dict:
        ev = H.read_event_log(self.dir / "eventlog")
        med = statistics.median
        m = dict(self.layer)
        for key, src in (("jit_s_per_op", "jit"), ("gc_s_per_op", "gc"),
                         ("jvm_cpu_s_per_op", "jvm_cpu"),
                         ("python_cpu_s_per_op", "py_cpu")):
            m[f"session.{key}"] = med(s[src] for s in self.samples)
        op_p50 = med(s["wall"] for s in self.samples)
        m["trace.op_p50_s"] = op_p50
        untraced = WORK / f"untraced_{self.workload}.json"
        if untraced.exists():  # the last untraced run in this checkout
            base = json.loads(untraced.read_text())
            self.diag["tracing_overhead_s"] = op_p50 - base["op_p50_s"]
            self.diag["tracing_overhead_vs_untraced_run_seed"] = base["seed"]

        def sql(desc: str, metric: str) -> float:
            """One SQL metric summed over a description's plan nodes; file
            reads leave out the ``_lineage`` table, whose commit
            timestamps make its file sizes vary by a few bytes."""
            d = ev.get(desc, {})
            lineage = d.get(f"Scan parquet _lineage/{metric}", 0.0)
            return d.get(f"*/{metric}", 0.0) - lineage

        n0 = len(self.warm)
        for key, metric in (("scan_bytes", "size of files read"),
                            ("shuffle_bytes", "shuffle bytes written")):
            m[f"plan.{key}"] = med(sql(f"op{n0 + i}", metric)
                                   for i in range(len(self.samples)))
        m["plan.self_s"] = op_p50 - sum(m[f"{name}_s"] for name in wl.LAYERS)
        for name in ("compress", "rollup", "lineage"):
            m[f"{name}.scan_bytes"] = sql(READ_LAYER[name], "size of files read")
        m["compress.py_bytes_out"] = sql("layer:compress.compress_tokens",
                                         "data returned from Python workers")
        m["compress.py_time_s"] = sql("layer:compress.compress_tokens",
                                      "time to run Python workers") / 1e3
        c = "layer:rollup.cascade_fast"
        m["rollup.rows_out"] = ev.get(c, {}).get("MapInArrow/number of output rows", 0.0)
        m["rollup.py_bytes_in"] = sql(c, "data sent to Python workers")
        m["rollup.py_bytes_out"] = sql(c, "data returned from Python workers")
        m["rollup.py_time_s"] = sql(c, "time to run Python workers") / 1e3
        m["grouping.py_time_s"] = sql("layer:grouping.kp_anonymize",
                                      "time to run Python workers") / 1e3
        m["metrics_ops.py_time_s"] = sum(
            sql(f"layer:metrics_ops.{f}", "time to run Python workers")
            for f in ("global_value_loss", "global_pattern_loss")) / 1e3
        missing = sorted(set(PER_LAYER) - set(m))
        if missing:
            raise RuntimeError(f"per-layer metrics not measured: {missing}")
        return {k: (m[k], unit) for k, unit in PER_LAYER.items()}


#: end-to-end metrics (``--trace 0``) and their units
END_TO_END = {"setup_s": "s", "points_per_s": "points/s", "op_p50_s": "s",
              "cpu_s_per_mpoint": "CPU-s/Mpt", "peak_rss_mb": "MiB"}

#: per-layer metrics (``--trace 1``) and their units; times of Python
#: workers are summed over tasks, the other times are wall
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "session.warmup_ops": "count", "datagen.tokens_df_s": "s",
    "session.jit_s_per_op": "s", "session.gc_s_per_op": "s",
    "session.jvm_cpu_s_per_op": "CPU-s", "session.python_cpu_s_per_op": "CPU-s",
    "trace.op_p50_s": "s", "plan.self_s": "s",
    "plan.scan_bytes": "B", "plan.shuffle_bytes": "B",
    "rollup.cascade_fast_s": "s", "rollup.rows_out": "count",
    "rollup.py_bytes_in": "B", "rollup.py_bytes_out": "B",
    "rollup.py_time_s": "s",
    "compress.compress_tokens_s": "s", "compress.py_bytes_out": "B",
    "compress.py_time_s": "s", "compress.payload_bits_per_point": "bit/pt",
    "gorilla.encode_s_per_mpoint": "s/Mpt",
    "gorilla.decode_s_per_mpoint": "s/Mpt",
    "lineage.write_with_lineage_s": "s", "lineage.bytes_written": "B",
    "lineage.files_written": "count", "lineage.partitions_written": "count",
    "compress.decompress_tokens_s": "s", "compress.points_decoded": "count",
    "compress.scan_bytes": "B",
    "rollup.apply_retention_rows_kept": "count", "rollup.tier_scan_s": "s",
    "rollup.scan_bytes": "B",
    "lineage.verify_against_lineage_s": "s", "lineage.scan_bytes": "B",
    "grouping.kp_anonymize_s": "s", "grouping.max_group_rows": "count",
    "grouping.py_time_s": "s",
    "metrics_ops.global_value_loss_s": "s",
    "metrics_ops.global_pattern_loss_s": "s", "metrics_ops.py_time_s": "s",
    "metrics_ops.avg_value_loss": "1", "metrics_ops.avg_pattern_loss": "1",
}


#: job description of the read-side layer call each ``<module>.scan_bytes`` sums
READ_LAYER = {"compress": "layer:compress.decompress_tokens",
              "rollup": "layer:rollup.tier_scan",
              "lineage": "layer:lineage.verify_against_lineage"}


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

def build_tokens(spark, n_series: int, seed: int, path: Path):
    """The workload input: ``tokens_df(fast=True)`` written as parquet
    under the run directory and read back."""
    from kapra_spark import datagen
    (datagen.tokens_df(spark, n_series, n_tok=N_TOK, seed=seed, fast=True)
     .write.mode("overwrite").parquet(str(path)))
    return spark.read.parquet(str(path))


class Workload:
    #: the layer calls of the sweep that the workload's op makes itself;
    #: ``plan.self_s`` is the op minus their times
    LAYERS: tuple[str, ...] = ()

    def __init__(self, b: Bench, n_series: int):
        self.b, self.spark, self.n = b, b.spark, n_series
        self.input_dir = b.dir / "input"
        self.points_per_op = n_series * N_TOK


class Ingest(Workload):
    """``run_rollup_pipeline`` with default arguments into a fresh
    directory per op; the previous op's output is deleted before the
    next op starts (outside its timer)."""

    LAYERS = ("compress.compress_tokens", "rollup.cascade_fast",
              "lineage.write_with_lineage")

    def __init__(self, b: Bench):
        super().__init__(b, INGEST_SERIES)

    def prepare(self) -> None:
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        sources = pq.read_table(self.input_dir, columns=["source"])["source"]
        n_sources = len(pc.unique(sources))
        self.expected = H.expected_ingest_stats(n_sources, N_TOK)
        self.last: Path | None = None

    def op(self, i: int):
        from kapra_spark.operators.rollup import EPOCH_SECONDS
        from kapra_spark.plans.rollup_plan import run_rollup_pipeline

        if self.last is not None:
            shutil.rmtree(self.last)
        self.last = self.b.dir / f"store{i}"
        out = str(self.last)
        return lambda: run_rollup_pipeline(
            self.spark, self.tokens, out, f"run{i}",
            now_bucket_seconds=EPOCH_SECONDS + 86400)

    def check(self, stats: dict) -> bool:
        return stats == self.expected

    def final_check(self) -> None:
        """Once per run, untimed, on the last op's store: lineage verifies
        and a sample of series decodes back to its input tokens."""
        ok, why = ingest_store_ok(self.b, self.last, self.input_dir,
                                  self.expected)
        if not ok:
            self.b.ops.fail_last(why)
            log(why)

    def sweep(self) -> None:
        store = write_layers(self.b, self.tokens)
        read_layers(self.b, store, self.n)
        anonymize_layers(self.b, self.tokens.filter(
            self.tokens.doc_id < f"d{SWEEP_ANON_SERIES:08d}"))


class Anonymize(Workload):
    """``run_kp_anonymity`` as the plan runs it by default (anonymized
    table cached, not persisted). Every op's losses must equal the values
    pinned for its input in ``expected_losses.json``; once per run the
    grouping is checked (every record once, every kept group >= k) on
    ``kp_anonymize`` with the plan's arguments."""

    LAYERS = ("grouping.kp_anonymize", "metrics_ops.global_value_loss",
              "metrics_ops.global_pattern_loss")

    def __init__(self, b: Bench):
        super().__init__(b, ANON_SERIES)

    def prepare(self) -> None:
        self.expected = expected_losses()[str(self.b.seed % N_INPUTS)]

    def op(self, i: int):
        from kapra_spark.plans.anonymize_plan import run_kp_anonymity

        return lambda: run_kp_anonymity(self.spark, "kapra", K, P, PAA, L,
                                        self.tokens)

    def check(self, row: dict) -> bool:
        return H.check_losses(row, self.expected)

    def final_check(self) -> None:
        from kapra_spark.operators.grouping import kp_anonymize

        t = (kp_anonymize(self.tokens, k=K, p=P, paa=PAA, l=L, algorithm="kapra")
             .select("doc_id", "group_id", "suppressed").toPandas())
        if not H.check_anon_groups(list(t["doc_id"]), list(t["group_id"]),
                                   list(t["suppressed"]), K, self.n):
            self.b.ops.fail_last("kp_anonymize grouping breaks k or coverage")
            log("kp_anonymize grouping breaks k or coverage")

    def sweep(self) -> None:
        anonymize_layers(self.b, self.tokens)
        store = write_layers(self.b, self.tokens)
        read_layers(self.b, store, self.n)


WORKLOADS = {"ingest": Ingest, "anonymize": Anonymize}


def anonymize_params() -> dict:
    return {"algorithm": "kapra", "k": K, "p": P, "paa": PAA, "l": L,
            "n_series": ANON_SERIES, "n_tok": N_TOK, "n_inputs": N_INPUTS}


def expected_losses() -> dict:
    """Losses of every anonymize input, pinned by ``pin_losses.py``; they
    must have been pinned for the arguments and input sizes in use."""
    pinned = json.loads(EXPECTED_LOSSES.read_text())
    if pinned["params"] != anonymize_params():
        raise RuntimeError(f"{EXPECTED_LOSSES.name} was pinned for other "
                           "arguments; run perfbench/pin_losses.py")
    return pinned["losses"]


# ---------------------------------------------------------------------------
# checks and layer calls shared by the workloads
# ---------------------------------------------------------------------------

def ingest_store_ok(b: Bench, store: Path, input_dir: Path,
                    expected: dict) -> tuple[bool, str]:
    import random

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from kapra_spark.operators.compress import decompress_tokens
    from kapra_spark.operators.lineage import verify_against_lineage

    for stage, want in expected.items():
        rows = verify_against_lineage(
            b.spark, str(store / stage), ["source", "day"],
            str(store / "_lineage"), stage).collect()
        if not H.check_lineage([r.asDict() for r in rows],
                               want["written_partitions"]):
            return False, f"lineage does not verify for {stage}"
    inp = pq.read_table(input_dir, columns=["doc_id", "tokens"])
    pick = sorted(random.Random(b.seed).sample(range(inp.num_rows),
                                               ROUNDTRIP_SAMPLE))
    sample = inp.take(pick).to_pydict()
    want = dict(zip(sample["doc_id"], sample["tokens"]))
    blocks = (b.spark.read.parquet(str(store / "blocks_1m"))
              .filter(F.col("doc_id").isin(list(want)))
              .withColumnRenamed("day", "bucket_day"))
    got: dict[str, list] = {}
    for r in sorted(decompress_tokens(blocks).collect(),
                    key=lambda r: (r["doc_id"], r["t0"])):
        got.setdefault(r["doc_id"], []).extend(r["tokens"])
    if not H.check_roundtrip(got, want):
        return False, "decompress_tokens round trip differs from the input"
    return True, ""


def write_layers(b: Bench, tokens) -> Path:
    """The write path's layers on the workload's input, in plan order:
    the two kernels forced through the noop sink, then
    ``write_with_lineage`` of blocks, 1h and 1d on cached frames (kernel
    cost excluded). Returns the store those writes made."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from kapra_spark.operators.compress import compress_tokens
    from kapra_spark.operators.lineage import write_with_lineage
    from kapra_spark.operators.rollup import cascade_fast

    def noop(df):
        return lambda: df.write.format("noop").mode("overwrite").save()

    b.layer_call("compress.compress_tokens", noop(compress_tokens(tokens)))
    b.layer_call("rollup.cascade_fast",
                 noop(cascade_fast(tokens, tiers=("1h", "1d"))))
    blocks = compress_tokens(tokens).withColumnRenamed("bucket_day", "day").cache()
    tiers = cascade_fast(tokens, tiers=("1h", "1d")).cache()
    blocks.count()
    tiers.count()
    frames = {"blocks_1m": blocks}
    for tier in ("1h", "1d"):
        frames[f"tier_{tier}"] = (
            tiers.filter(F.col("tier") == tier).drop("tier")
            .withColumn("day", F.to_date(F.timestamp_seconds(F.col("bucket")))))
    out = b.dir / "sweep_store"
    parts = 0
    for stage, df in frames.items():
        st = b.layer_call("lineage.write_with_lineage", lambda df=df, s=stage:
                          write_with_lineage(df, str(out / s), ["source", "day"],
                                             str(out / "_lineage"), "sweep", s))
        parts += st["written_partitions"]
    blocks.unpersist()
    tiers.unpersist()
    # byte counts leave out _lineage: see ``sql`` in Bench.per_layer
    files = [f for s in frames for f in parquet_files(out / s)]
    b.layer["lineage.bytes_written"] = sum(f.stat().st_size for f in files)
    b.layer["lineage.files_written"] = len(files)
    b.layer["lineage.partitions_written"] = parts
    t = pq.read_table(out / "blocks_1m", columns=["payload", "n"])
    bits = pc.sum(pc.binary_length(t["payload"])).as_py() * 8
    b.layer["compress.payload_bits_per_point"] = bits / pc.sum(t["n"]).as_py()
    return out


def read_layers(b: Bench, store: Path, n_series: int) -> None:
    """The read side of the store ``write_layers`` made: Gorilla decode
    of one source over a doc_id range, both tiers aggregated per (source,
    bucket) after retention, and a lineage audit of the blocks."""
    from pyspark.sql import functions as F

    from kapra_spark.operators.compress import decompress_tokens
    from kapra_spark.operators.lineage import verify_against_lineage
    from kapra_spark.operators.rollup import EPOCH_SECONDS, apply_retention

    spark = b.spark
    blocks = (spark.read.parquet(str(store / "blocks_1m"))
              .filter((F.col("source") == "sales")
                      & (F.col("doc_id") < f"d{n_series // 4:08d}"))
              .withColumnRenamed("day", "bucket_day"))
    b.layer["compress.points_decoded"] = b.layer_call(
        "compress.decompress_tokens",
        lambda: decompress_tokens(blocks).agg(F.sum("n_tok")).collect()[0][0])

    def tier_scan():
        kept = 0
        for tier in ("1h", "1d"):
            t = apply_retention(spark.read.parquet(str(store / f"tier_{tier}")),
                                tier, EPOCH_SECONDS + 86400)
            rows = (t.groupBy("source", "bucket")
                    .agg(F.sum("sum"), F.count("*").alias("n")).collect())
            kept += sum(r["n"] for r in rows)
        return kept

    b.layer["rollup.apply_retention_rows_kept"] = b.layer_call(
        "rollup.tier_scan", tier_scan)
    b.layer_call("lineage.verify_against_lineage", lambda: verify_against_lineage(
        spark, str(store / "blocks_1m"), ["source", "day"],
        str(store / "_lineage"), "blocks_1m").collect())


def anonymize_layers(b: Bench, tokens) -> None:
    """kp_anonymize materialized the way the plan does (cache + count),
    then the two loss aggregates on it."""
    from kapra_spark.operators.grouping import kp_anonymize
    from kapra_spark.operators.metrics_ops import (global_pattern_loss,
                                                   global_value_loss)

    b.spark.catalog.clearCache()
    anon = kp_anonymize(tokens, k=K, p=P, paa=PAA, l=L, algorithm="kapra").cache()
    b.layer_call("grouping.kp_anonymize", anon.count)
    vl = b.layer_call("metrics_ops.global_value_loss",
                      lambda: global_value_loss(anon).collect()[0])
    pl = b.layer_call("metrics_ops.global_pattern_loss",
                      lambda: global_pattern_loss(tokens, anon).collect()[0])
    anon.unpersist()
    b.layer["metrics_ops.avg_value_loss"] = float(vl["avg_value_loss"])
    b.layer["metrics_ops.avg_pattern_loss"] = float(pl["avg_pattern_loss"])
    b.layer["grouping.max_group_rows"] = max(
        r["count"] for r in tokens.groupBy("source").count().collect())


def gorilla_micro(b: Bench, rows: int = 2000, reps: int = 3) -> None:
    """Gorilla encode/decode of a fixed seeded walk matrix, no Spark."""
    import numpy as np

    from kapra_spark.functions import gorilla
    from kapra_spark.operators.rollup import EPOCH_SECONDS

    rng = np.random.default_rng(b.seed)
    vals = np.maximum(0, rng.integers(0, 100, (rows, 1))
                      + np.cumsum(rng.integers(-3, 4, (rows, N_TOK)), axis=1))
    ts = np.broadcast_to(EPOCH_SECONDS + 60 * np.arange(N_TOK, dtype=np.int64),
                         (rows, N_TOK))
    enc, dec = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        t0a, v0a, na, payload = gorilla.encode_batch_arrow(ts, vals)
        enc.append(time.perf_counter() - t0)
        blobs = payload.to_pylist()
        t0 = time.perf_counter()
        _, back = gorilla.decode_batch(t0a, v0a, na, blobs)
        dec.append(time.perf_counter() - t0)
        if not np.array_equal(back, vals):
            raise RuntimeError("gorilla round trip differs")
    mpts = rows * N_TOK / 1e6
    b.layer["gorilla.encode_s_per_mpoint"] = statistics.median(enc) / mpts
    b.layer["gorilla.decode_s_per_mpoint"] = statistics.median(dec) / mpts


# ---------------------------------------------------------------------------

def prepare_env(run_dir: Path) -> None:
    """A fresh run directory, and the environment the Spark session and
    its Python workers inherit: kapra_spark imported from this checkout
    (workers do not see the driver's sys.path), a bounded driver heap,
    and temp files kept in the run directory. Every JVM, spark-submit's
    launcher included, keeps its perf counters in memory instead of
    /tmp/hsperfdata_*; no JIT or GC flag is touched."""
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["TMPDIR"] = str(tmp)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:+PerfDisableSharedMem -Djava.io.tmpdir={tmp}")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    import kapra_spark  # noqa: F401  fails here when the program is absent

    WORK.mkdir(exist_ok=True)
    lock = open(WORK / "lock", "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        log("another benchmark run holds perfbench/_work/lock")
        return 2
    run_dir = WORK / args.workload
    prepare_env(run_dir)

    b = Bench(args.workload, args.seed, args.seconds, bool(args.trace), run_dir)
    try:
        wl = b.run(WORKLOADS[args.workload])
        metrics = b.end_to_end(wl.points_per_op)
    finally:
        t0 = time.perf_counter()
        b.close()
        b.diag["close_s"] = time.perf_counter() - t0
        b.diag["run_s"] = time.perf_counter() - T_START
    if args.trace:
        metrics = b.per_layer(wl)
        b.tracer.dump(run_dir / "spans.json")
    else:
        (WORK / f"untraced_{args.workload}.json").write_text(json.dumps(
            {"seed": args.seed, "op_p50_s": metrics["op_p50_s"][0]}))
    for entry in run_dir.iterdir():  # keep the trace, drop the data
        if entry.is_dir() and entry.name != "eventlog":
            shutil.rmtree(entry)
    b.diag["failures"] = b.ops.reasons
    result = {
        "correct": b.ops.failed == 0,
        "attempted": b.ops.attempted,
        "failed": b.ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    (run_dir / "report.json").write_text(json.dumps(
        {"diagnostics": b.diag, "result": result}, default=str, indent=1))
    print(json.dumps({"diagnostics": b.diag}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

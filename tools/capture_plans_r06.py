"""Capture .explain("formatted") for every bench query into
plans/r06/<query>_<tag>.txt (tag = before|after). Driver-side only —
plans are not executed.

Usage: python tools/capture_plans_r06.py before|after [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "before"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    from kapra_spark.session import get_spark

    spark = get_spark("plan_capture", master="local[2]",
                      shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as E
    from kapra_spark.operators import rollup as R
    from kapra_spark.operators.compress import compress_tokens

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tokens_path = os.path.join(here, ".bench_data", "tokens_100000_144_f1")
    tokens = spark.read.parquet(tokens_path)

    dfs = {
        "tokens_cascade_fast": R.cascade_fast(tokens),
        "tokens_cascade_longform_1d": R.cascade(tokens)["1d"],
        "tokens_compress": compress_tokens(tokens),
        "tokens_production_fused": R.series_kernel(tokens,
                                                   ("blocks", "1h", "1d")),
        "events_rollup_1h": E.q_rollup_1h_events(spark, sf_dir),
        "events_gapfill_locf": E.q_gapfill_locf_events(spark, sf_dir),
        "envelope_groups": E.q_envelope_groups(spark, sf_dir),
        "vl_groups": E.q_vl_groups(spark, sf_dir),
        "join_broadcast": E.q_join_broadcast(spark, sf_dir),
    }
    outdir = os.path.join(here, "plans", "r06")
    os.makedirs(outdir, exist_ok=True)
    for name, df in dfs.items():
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        n_ex = plan.count("Exchange")
        print(f"{name}: {n_ex} Exchange -> {path}")
    spark.stop()


if __name__ == "__main__":
    main()

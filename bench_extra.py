"""Extra benchmarks (guide §1.4): noop-sink isolation of the bench
queries, per-stage kernel timings, and multi-partition timings for the
operators bench.py does not cover (media MJPG, jaccard join).

NOT part of the frozen driver contract — bench.py stays the official
metric; this file exists so optimization work can attribute time to
kernel vs boundary vs JVM aggregation. Prints one JSON line.

Usage:
  SPARK_GRAFT_SF_DIR=/root/testdata/sf1.0 python bench_extra.py \
      [--queries q1,q2] [--rounds N]
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    rounds = int(os.environ.get("SPARK_GRAFT_BENCH_ROUNDS", "3"))
    only = None
    if "--queries" in sys.argv:
        only = set(sys.argv[sys.argv.index("--queries") + 1].split(","))
    if "--rounds" in sys.argv:
        rounds = int(sys.argv[sys.argv.index("--rounds") + 1])

    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from kapra_spark.session import get_spark

    spark = get_spark("kapra_bench_extra", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8) * 2,
                      extra_conf={
                          "spark.sql.files.maxPartitionBytes": str(1 << 20),
                          "spark.sql.files.openCostInBytes": "0"})
    spark.sparkContext.setLogLevel("ERROR")

    sf = 0.1
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        pass
    n_series = max(1000, int(1_000_000 * sf))
    tokens_path = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               ".bench_data", f"tokens_{n_series}_144_f1")

    import __spark_entry__ as E
    from kapra_spark.operators import rollup as R
    from kapra_spark.operators.compress import compress_tokens

    tokens = spark.read.parquet(tokens_path)
    tokens.limit(1000).mapInPandas(lambda it: it, tokens.schema).count()
    tokens.count()

    def noop(df) -> None:
        df.write.format("noop").mode("overwrite").save()

    cases: dict[str, object] = {
        # full-result materialization (every column of every row)
        "cascade_fast_noop": lambda: noop(R.cascade_fast(tokens)),
        # the exact JVM-side shape bench.py times
        "cascade_fast_groupby": lambda: R.cascade_fast(tokens)
            .groupBy("tier").count().collect(),
        "cascade_longform_1d_count": lambda: R.cascade(tokens)["1d"].count(),
        "compress_noop": lambda: noop(compress_tokens(tokens)),
        "fused_noop": lambda: noop(R.series_kernel(tokens,
                                                   ("blocks", "1h", "1d"))),
        # identity pass: bounds the JVM->Python->JVM transfer cost of
        # the tokens table itself (no kernel work at all)
        "tokens_identity_arrow": lambda: noop(
            tokens.mapInArrow(lambda it: it, tokens.schema)),
        # multi-partition timings bench.py lacks (VERDICT r5 #5):
        # the exact Jaccard self-join over the sf documents table, and
        # MJPG decode through the distributed media operator
        "jaccard_ngram_join_noop": lambda: noop(
            E.q_jaccard_ngram_join(spark, sf_dir)),
        "media_features_mjpg_noop": lambda: noop(
            E.q_media_features_mjpg(spark, sf_dir)),
        "events_rollup_1h_noop": lambda: noop(E.q_rollup_1h_events(spark, sf_dir)),
        "events_gapfill_noop": lambda: noop(E.q_gapfill_locf_events(spark, sf_dir)),
        "envelope_groups_noop": lambda: noop(E.q_envelope_groups(spark, sf_dir)),
        "vl_groups_noop": lambda: noop(E.q_vl_groups(spark, sf_dir)),
        "join_broadcast_noop": lambda: noop(E.q_join_broadcast(spark, sf_dir)),
    }
    if only:
        cases = {k: v for k, v in cases.items() if k in only}

    timings: dict[str, float] = {}
    for _ in range(rounds):
        for name, fn in cases.items():
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.time()
            fn()
            dt = round(time.time() - t0, 3)
            if name not in timings or dt < timings[name]:
                timings[name] = dt
    spark.sparkContext.setJobDescription(None)

    print(json.dumps({"metric": "bench_extra noop-isolated seconds (min of rounds)",
                      "unit": "sec", "sf": sf, "cpus": cpus,
                      "rounds": rounds, "queries": timings}))
    spark.stop()


if __name__ == "__main__":
    main()

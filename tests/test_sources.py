"""TableStore (parquet backend), reference CSV downsampler, statfile
format writer."""

import os

import pytest


def test_table_store_parquet_backend(spark, tmp_path):
    from kapra_spark.sources.table_store import TableStore, detect_iceberg_catalog

    # this sandbox has no Iceberg catalog configured
    assert detect_iceberg_catalog(spark) is None

    store = TableStore(spark, str(tmp_path / "warehouse"))
    df = spark.createDataFrame(
        [(1, "a", 10), (2, "a", 20), (3, "b", 30)], "id int, part string, v int")
    store.write(df, "t1", ["part"])
    assert store.exists("t1")
    back = store.read("t1")
    assert back.count() == 3

    # overwrite_partitions: rewriting only part=a leaves part=b intact
    df2 = spark.createDataFrame([(9, "a", 99)], "id int, part string, v int")
    store.write(df2, "t1", ["part"])
    rows = {(r.id, r.part) for r in store.read("t1").collect()}
    assert rows == {(9, "a"), (3, "b")}

    # append mode accumulates
    store.write(df2, "t2", [], mode="append")
    store.write(df2, "t2", [], mode="append")
    assert store.read("t2").count() == 2
    assert not store.exists("missing")


def test_table_store_write_restores_partition_overwrite_mode(spark, tmp_path):
    """Both parquet overwrite modes scope partitionOverwriteMode to the
    write: the session's prior setting (set or unset) reads the same
    afterwards."""
    from kapra_spark.sources.table_store import TableStore

    key = "spark.sql.sources.partitionOverwriteMode"
    store = TableStore(spark, str(tmp_path / "warehouse"))
    df = spark.createDataFrame([(1, "a")], "id int, part string")
    prior = spark.conf.get(key, None)
    try:
        spark.conf.unset(key)
        store.write(df, "t", ["part"])
        assert spark.conf.get(key, None) is None
        spark.conf.set(key, "static")
        store.write(df, "t", ["part"])
        assert spark.conf.get(key) == "static"
        store.write(df, "t", ["part"], mode="replace")
        assert spark.conf.get(key) == "static"
    finally:
        if prior is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prior)


def test_downsample_wide_csv(spark, tmp_path):
    """Reference utils/downsample_dataset.py semantics: head-N file
    rows, skip-with-warning for oversized counts."""
    from kapra_spark.sources.csv_compat import downsample_wide_csv

    src = str(tmp_path / "series.csv")
    with open(src, "w") as f:
        f.write("id,w1,w2\n")
        for i in range(50):
            f.write(f"r{i:03d},{i},{i * 2}\n")

    with pytest.warns(UserWarning, match="Cannot extract 100"):
        written = downsample_wide_csv(spark, src, [10, 100, 25],
                                      out_dir=str(tmp_path / "down"))
    assert len(written) == 2
    ten = spark.read.csv(written[0], header=True)
    assert ten.count() == 10
    # head-N preserves file order: the first 10 ids exactly
    ids = sorted(r.id for r in ten.collect())
    assert ids == [f"r{i:03d}" for i in range(10)]


def test_write_statfile(tmp_path):
    """Statfile format matches the reference plotter's parser
    (utils/draw_stat_plots.py header + row layout)."""
    from kapra_spark.experiments import write_statfile

    results = [
        {"algorithm": "naive", "k": 16, "p": 9, "tot_pattern_loss": 1.5,
         "dataset": "sales"},
        {"algorithm": "kapra", "k": 16, "p": 9, "tot_pattern_loss": 1.1,
         "dataset": "sales"},
        {"algorithm": "kapra", "k": 64, "p": 6, "tot_pattern_loss": 9.9,
         "dataset": "sales"},  # excluded: k != 16
    ]
    path = str(tmp_path / "K16_tot_pattern_loss.txt")
    write_statfile(results, "tot_pattern_loss", "K", 16, path)
    lines = open(path).read().strip().splitlines()
    assert lines[0] == "tot_pattern_loss K 16"
    assert lines[1].split() == ["naive", "1.5", "9", "sales"]
    assert lines[2].split() == ["kapra", "1.1", "9", "sales"]
    assert len(lines) == 3

"""End-to-end (k,P)-anonymity pipeline tests: privacy guarantees,
partition properties, determinism, metric consistency, CSV compat."""

import numpy as np
import pandas as pd
import pytest

from kapra_spark import datagen
from kapra_spark.functions import metrics as M
from kapra_spark.operators.grouping import kp_anonymize
from tests.fixtures import jobs_of

K, P, PAA, L = 8, 4, 4, 2
N = 120


@pytest.fixture(scope="module")
def tokens(spark):
    pdf = datagen.tokens_pdf(N, n_tok=13, seed=11, gap_fraction=0.0)
    return spark.createDataFrame(pdf, schema=datagen.TOKENS_SCHEMA).cache()


@pytest.fixture(scope="module")
def anon_kapra(spark, tokens):
    return kp_anonymize(tokens, k=K, p=P, paa=PAA, l=L,
                        algorithm="kapra").toPandas()


def test_partition_property(anon_kapra, tokens):
    """grouped + suppressed rows partition the input exactly."""
    ids = set(r.doc_id for r in tokens.select("doc_id").collect())
    assert set(anon_kapra["doc_id"]) == ids
    assert len(anon_kapra) == len(ids)  # no duplicates


def test_k_guarantee(anon_kapra):
    grouped = anon_kapra[~anon_kapra["suppressed"]]
    sizes = grouped.groupby("group_id").size()
    assert (sizes >= K).all(), sizes[sizes < K]


def test_p_guarantee(anon_kapra):
    """every P-subgroup (same group, same sax) has >= P members."""
    grouped = anon_kapra[~anon_kapra["suppressed"]]
    psub = grouped.groupby(["group_id", "sax"]).size()
    assert (psub >= P).all(), psub[psub < P]


def test_envelope_contains_series(anon_kapra, tokens):
    toks = {r.doc_id: np.array(r.tokens[:-1]) for r in tokens.collect()}
    for _, row in anon_kapra[~anon_kapra["suppressed"]].iterrows():
        s = toks[row["doc_id"]]
        assert (s >= np.array(row["lo"])).all()
        assert (s <= np.array(row["hi"])).all()


def test_groups_within_source(anon_kapra):
    grouped = anon_kapra[~anon_kapra["suppressed"]]
    for gid, grp in grouped.groupby("group_id"):
        assert grp["source"].nunique() == 1
        assert gid.startswith(grp["source"].iloc[0] + "#")


def test_determinism(spark, tokens, anon_kapra):
    again = kp_anonymize(tokens.repartition(7), k=K, p=P, paa=PAA, l=L,
                         algorithm="kapra").toPandas()
    a = anon_kapra.sort_values("doc_id").reset_index(drop=True)
    b = again.sort_values("doc_id").reset_index(drop=True)
    for c in ("group_id", "sax", "as_perturbed", "suppressed"):
        av = a[c].astype(object).where(a[c].notna(), None).tolist()
        bv = b[c].astype(object).where(b[c].notna(), None).tolist()
        assert av == bv, c


def test_naive_path(spark, tokens):
    anon = kp_anonymize(tokens, k=K, p=P, paa=PAA, l=L,
                        algorithm="naive").toPandas()
    assert not anon["suppressed"].any()  # naive never suppresses
    assert len(anon) == N
    assert anon["sax"].notna().all()


def test_value_loss_consistency(spark, tokens, anon_kapra):
    """Spark HOF aggregate equals the NumPy reference formula."""
    from kapra_spark.operators.grouping import kp_anonymize as _
    from kapra_spark.operators.metrics_ops import group_value_loss

    anon_df = spark.createDataFrame(anon_kapra)
    vl_spark = {r["group_id"]: r["vl"]
                for r in group_value_loss(anon_df).collect()}
    grouped = anon_kapra[~anon_kapra["suppressed"]]
    for gid, grp in grouped.groupby("group_id"):
        lo = np.array(grp["lo"].iloc[0], dtype=float)
        hi = np.array(grp["hi"].iloc[0], dtype=float)
        expect = M.value_loss_given_bounds(
            np.zeros((len(grp), len(lo))), hi, lo)
        assert abs(vl_spark[gid] - expect) < 1e-6 * max(1, expect)


def test_pattern_loss_runs(spark, tokens):
    from kapra_spark.operators.metrics_ops import global_pattern_loss

    anon = kp_anonymize(tokens, k=K, p=P, paa=PAA, l=L, algorithm="kapra")
    row = global_pattern_loss(tokens, anon).collect()[0]
    assert 0.0 <= row["avg_pattern_loss"] <= 1.0


def test_pattern_loss_per_record_matches_scalar(spark):
    """Every record of the batched PL (grouped by series length and SAX
    width) equals the scalar reference ``metrics.pattern_loss``: two
    series lengths, SAX widths 3/4/6, alphabet sizes 1-6, and constant
    series for the z-normalization threshold."""
    from kapra_spark.operators.metrics_ops import pattern_loss_per_record

    rng = np.random.default_rng(5)
    toks, saxes = [], []
    for i in range(144):
        n, width, asize = (12, 20)[i % 2], (3, 4, 6)[i % 3], 1 + i // 24
        series = (np.full(n, 7) if i % 11 == 0
                  else rng.integers(-40, 100, n))
        toks.append((f"d{i:03d}", series.tolist() + [int(i)]))
        saxes.append((f"d{i:03d}",
                      "".join(chr(97 + c)
                              for c in rng.integers(0, asize, width))))
    tokens = spark.createDataFrame(toks, "doc_id string, tokens array<int>")
    anon = spark.createDataFrame(saxes, "doc_id string, sax string")
    got = {r["doc_id"]: r["pl"]
           for r in pattern_loss_per_record(tokens, anon).collect()}
    assert len(got) == len(toks)
    for (doc, t), (_, sax) in zip(toks, saxes):
        expect = M.pattern_loss(np.asarray(t[:-1]), sax, len(sax))
        assert abs(got[doc] - expect) <= 1e-12, (doc, sax)


def test_envelope_metrics_equal_row_level():
    """VL and NCP from ``envelope`` summaries (what C5 merges on) equal
    the row-level metrics bit for bit, negative values included."""
    rng = np.random.default_rng(9)
    for _ in range(50):
        m = rng.integers(-30, 60, (rng.integers(1, 9), rng.integers(2, 17)))
        g = np.vstack([m, rng.integers(-30, 60, (3, m.shape[1]))])
        g[:, 0] = 5                       # one zero-width global column
        m[:, 0] = 5
        hi, lo, n = M.envelope(m)
        assert M.value_loss_env(hi, lo, n) == M.value_loss(m)
        assert (M.ncp_env(hi, lo, n, g.max(axis=0), g.min(axis=0))
                == M.ncp(m, g.max(axis=0), g.min(axis=0)))


def test_l_diversity_guarantee(anon_kapra):
    """after perturbation every P-subgroup's dominant sensitive value
    has frequency <= 1/L (the reference enforces <= |PS_R|/l via
    x_i perturbations; verify the resulting distribution)."""
    grouped = anon_kapra[~anon_kapra["suppressed"]]
    viol = 0
    for (gid, sax), grp in grouped.groupby(["group_id", "sax"]):
        vc = grp["as_perturbed"].value_counts()
        if vc.iloc[0] / len(grp) > 1 / L:
            viol += 1
    # perturbation guarantees uniqueness of new values, so violations
    # can only remain when a class was already dominant beyond repair;
    # on this fixture none should remain
    assert viol == 0


def test_csv_compat_roundtrip(spark, tmp_path, tokens):
    from kapra_spark.sources.csv_compat import (parse_envelope_strings,
                                                read_wide_csv,
                                                write_anonymized_csv)

    anon = kp_anonymize(tokens, k=K, p=P, paa=PAA, l=L, algorithm="kapra")
    out = str(tmp_path / "anon_csv")
    write_anonymized_csv(anon, out)
    back = spark.read.csv(out, header=True)
    assert back.count() == N
    # suppressed rows render as the reference's " - " placeholder
    suppressed_csv = back.filter("trim(envelopes) = '-'").count()
    suppressed_orig = anon.filter("suppressed").count()
    assert suppressed_csv == suppressed_orig
    parsed = parse_envelope_strings(
        back.filter("trim(envelopes) != '-'")).select("doc_id", "lo", "hi").toPandas()
    orig = anon.filter("NOT suppressed").select("doc_id", "lo", "hi").toPandas()
    a = parsed.sort_values("doc_id").reset_index(drop=True)
    b = orig.sort_values("doc_id").reset_index(drop=True)
    for x, y in zip(a["lo"], b["lo"]):
        assert list(x) == list(y)
    for x, y in zip(a["hi"], b["hi"]):
        assert list(x) == list(y)

    # wide-CSV reader shape check against the reference's own dataset
    wide = read_wide_csv(
        spark, "/root/reference/data/sales_transactions_dataset_weekly.csv")
    r = wide.limit(1).collect()[0]
    assert len(r.tokens) == 52 and r.n_tok == 52


def test_experiment_grid(spark, tokens, tmp_path):
    """Grid runner mirrors the reference's experiments/__main__.py:
    sweep cells in one session, append metrics rows, capture per-cell
    errors without aborting the sweep."""
    from kapra_spark.experiments import run_grid

    res_path = str(tmp_path / "grid_results")
    results, errors = run_grid(
        spark, {"synthetic": tokens},
        k_p_pairs=[(K, P), (2, 4)],  # second cell violates k >= P
        paa=PAA, l=L, results_path=res_path)

    assert len(results) == 2   # (naive|kapra) x the valid pair
    assert len(errors) == 2    # (naive|kapra) x the invalid pair
    assert all(e["k"] == 2 and "k must be >= P" in e["error"]
               for e in errors)
    for r in results:
        assert r["dataset"] == "synthetic"
        assert 0.0 <= r["avg_pattern_loss"] <= 1.0
        assert r["eta"] > 0
    stored = spark.read.parquet(res_path)
    assert stored.count() == 2
    assert {"algorithm", "k", "p", "avg_pattern_loss",
            "avg_value_loss"} <= set(stored.columns)


def _persisted(spark):
    return set(spark.sparkContext._jsc.getPersistentRDDs().keys())


def _losses(row):
    return {k: v for k, v in row.items() if k.endswith("_loss")}


def test_run_kp_anonymity_releases_its_cache(spark, tokens):
    """The plan leaves nothing cached: Spark's cache manager ends as it
    started, so a second call on the same input anonymizes again instead
    of reading a stale cache, and reports the same losses."""
    from kapra_spark.plans.anonymize_plan import run_kp_anonymity

    tokens.count()  # the fixture's own cache is not the plan's
    before = _persisted(spark)
    a = run_kp_anonymity(spark, "kapra", K, P, PAA, L, tokens)
    assert _persisted(spark) == before
    b = run_kp_anonymity(spark, "kapra", K, P, PAA, L, tokens)
    assert _persisted(spark) == before
    assert {k: v for k, v in a.items() if k != "eta"} == \
        {k: v for k, v in b.items() if k != "eta"}


def test_run_kp_anonymity_job_count(spark, tokens):
    """A call without ``output_path`` runs 3 Spark jobs: the losses come
    out of the anonymize kernel, so one aggregate over its output scores
    the run. Re-scoring the output from the input (count, join back to
    the series, a second Python crossing) took 14."""
    from kapra_spark.plans.anonymize_plan import run_kp_anonymity

    tokens.count()  # the fixture's own cache is not the plan's
    assert jobs_of(spark, lambda: run_kp_anonymity(
        spark, "kapra", K, P, PAA, L, tokens)) == 3


@pytest.fixture(scope="module")
def tokens_tiny_source(spark):
    """The fixture's rows plus a source of K - 3 records: too few for a
    k-group, so kapra suppresses them (naive keeps them as one group)."""
    pdf = datagen.tokens_pdf(N, n_tok=13, seed=11, gap_fraction=0.0)
    tiny = datagen.tokens_pdf(K - 3, n_tok=13, seed=12, gap_fraction=0.0)
    tiny = tiny.assign(doc_id="t" + tiny["doc_id"], source="tiny")
    return spark.createDataFrame(pd.concat([pdf, tiny], ignore_index=True),
                                 schema=datagen.TOKENS_SCHEMA).cache()


@pytest.mark.parametrize("algorithm,l,frame", [
    ("kapra", 1, "tokens"), ("kapra", 2, "tokens"),
    ("naive", 1, "tokens"), ("naive", 2, "tokens"),
    ("kapra", 2, "tokens_tiny_source"), ("naive", 2, "tokens_tiny_source"),
])
def test_in_kernel_losses_match_reference(spark, request, algorithm, l,
                                          frame):
    """The losses the anonymize kernel emits equal the reference
    aggregates over the stored table (``metrics_ops``), per row and per
    run, to a relative 1e-9: ``vl`` is the record's share of its group's
    VL (null when suppressed), ``pl`` its pattern loss (null without a
    pattern), and ``n_in`` sums to the input rows."""
    from kapra_spark.operators.grouping import (ANON_SCHEMA,
                                                kp_anonymize_scored)
    from kapra_spark.operators.metrics_ops import (global_pattern_loss,
                                                   global_value_loss,
                                                   group_value_loss,
                                                   pattern_loss_per_record)
    from kapra_spark.plans.anonymize_plan import run_kp_anonymity

    tokens = request.getfixturevalue(frame)
    n_in = tokens.count()
    scored = kp_anonymize_scored(tokens, k=K, p=P, paa=PAA, l=l,
                                 algorithm=algorithm).cache()
    anon = scored.select(*ANON_SCHEMA.fieldNames())
    rows = scored.toPandas()
    if frame == "tokens_tiny_source" and algorithm == "kapra":
        assert rows["suppressed"].any()

    group_vl = {r["group_id"]: r["vl"] / r["n"]
                for r in group_value_loss(anon).collect()}
    for gid, supp, vl in zip(rows["group_id"], rows["suppressed"],
                             rows["vl"]):
        if supp:
            assert pd.isna(vl)
        else:
            assert vl == pytest.approx(group_vl[gid], rel=1e-9, abs=0)
    ref_pl = {r["doc_id"]: r["pl"]
              for r in pattern_loss_per_record(tokens, anon).collect()}
    assert set(ref_pl) == set(rows["doc_id"][rows["sax"].notna()])
    for doc, sax, pl in zip(rows["doc_id"], rows["sax"], rows["pl"]):
        if sax is None:
            assert pd.isna(pl)
        else:
            assert pl == pytest.approx(ref_pl[doc], rel=1e-9, abs=1e-15)
    assert rows["n_in"].sum() == n_in

    vl = global_value_loss(anon).collect()[0]
    pl = global_pattern_loss(tokens, anon).collect()[0]
    scored.unpersist()
    got = run_kp_anonymity(spark, algorithm, K, P, PAA, l, tokens)
    for key, ref in (("tot_value_loss", vl), ("avg_value_loss", vl),
                     ("tot_pattern_loss", pl), ("avg_pattern_loss", pl)):
        assert got[key] == pytest.approx(ref[key], rel=1e-9, abs=0), key


def test_run_kp_anonymity_output_path(spark, tokens, tmp_path):
    """With ``output_path`` the plan stores the ``kp_anonymize`` rows
    under ``ANON_SCHEMA``, appends the metrics row to ``results_path``,
    reports the losses of the call without ``output_path`` and releases
    the cache it scores from."""
    from kapra_spark.operators.grouping import ANON_SCHEMA
    from kapra_spark.plans.anonymize_plan import run_kp_anonymity

    out, res = str(tmp_path / "anon"), str(tmp_path / "results")
    tokens.count()  # the fixture's own cache is not the plan's
    before = _persisted(spark)
    row = run_kp_anonymity(spark, "kapra", K, P, PAA, L, tokens,
                           output_path=out, results_path=res)
    assert _persisted(spark) == before

    stored = spark.read.parquet(out)
    assert ([(f.name, f.dataType) for f in stored.schema]
            == [(f.name, f.dataType) for f in ANON_SCHEMA])

    def canon(df):
        pdf = df.toPandas().sort_values("doc_id").reset_index(drop=True)
        return [[None if v is None or (isinstance(v, float) and np.isnan(v))
                 else list(v) if isinstance(v, np.ndarray) else v
                 for v in r] for r in pdf.itertuples(index=False)]

    assert canon(stored) == canon(kp_anonymize(tokens, k=K, p=P, paa=PAA,
                                               l=L, algorithm="kapra"))
    # the cached plan may split the partial sums differently
    assert _losses(row) == pytest.approx(_losses(
        run_kp_anonymity(spark, "kapra", K, P, PAA, L, tokens)), rel=1e-12)
    assert [r.asDict() for r in spark.read.parquet(res)
            .drop("eta", "run_ts").collect()] == \
        [{k: v for k, v in row.items() if k != "eta"}]

"""Distributed (k,P)-anonymity END TO END — C3+C4+C5+F9 past the
tree-split phase (the round-3 verdict's #1 directive).

``grouping.kp_anonymize`` runs the whole reference pipeline
(reference ``k_P_anonymity.py:58-103``) inside one ``applyInPandas``
task per source — correct, parity-certified, but bounded by one Arrow
batch per source. ``tree_dist.create_tree_distributed`` removed that
bound for the SPLIT phase only; this module removes it for the rest:
recycle-bad-leaves (reference ``includes/node.py:224-397``, C4),
bottom-up k-group formation (reference ``includes/k_anonymity.py:34-167``,
C5) and l-diversity (reference ``includes/l_diversity.py:7-107``, F9)
now run with records distributed throughout.

``source`` is a key column of every phase, as it is the key of
``kp_anonymize``'s ``groupBy(source)``: the tree grows one root per
source, leaf summaries group by ``(source, leaf_id)``, and every C5/F9
kernel groups by ``(source, ...)``, so P-groups, subgroups, shards and
PS_Rs never cross a source and all sources share one job chain.

How each phase distributes (the 10^12-sequence shapes):

- **C4 recycle** needs only leaf SUMMARIES: per leaf (level, pattern,
  count, min doc, that doc's per-level SAX patterns). One
  ``groupBy(source, leaf_id)`` aggregate — output is leaf-metadata-sized
  — and the decision core ``clustering.recycle_bad_leaves_meta`` (the
  SAME code the in-memory kernel runs) executes on the driver over each
  source's summaries. Records never move.
- **C5 merge** is exact on envelope summaries (VL is envelope-
  determined, SURVEY.md §2.9): one ``groupBy(p-subgroup)`` envelope
  aggregate, then ``clustering.kgroups_from_subgroups`` (again the
  shared decision core) per SHARD in ``applyInPandas``. A shard is a
  contiguous range of one source's DFS pgl order (tree locality as the
  envelope-locality proxy); subgroup summaries never reach the
  driver. Up to ``c5_exact_max`` subgroups one shard holds a source,
  which is the sequential global greedy itself — O(n_subgroups^2)
  time and O(n_subgroups * T) memory in ONE task (at the default
  1e5 subgroups and T = 143 that is up to ~460 MB of hi/lo/phi/plo).
  Above the threshold shards of ``c5_shard_size`` subgroups bound
  both: a deliberate approximation of the global greedy (shards never
  merge across their boundary — reference semantics are inherently
  sequential here) that preserves every k/P/l invariant
  (tests/test_anonymize_dist.py).
- **C5 preprocessing** (splitting P-groups >= 2P via C1+C2,
  ``clustering.split_subgroup``) is the one genuinely sequential-
  greedy part (reference ``includes/common.py``); it runs
  per-P-GROUP in ``applyInPandas`` — embarrassingly parallel across
  groups with per-group seeded RNG. The Arrow bound therefore
  drops from per-SOURCE to per-P-GROUP (P-groups are O(P)-sized except
  the pathological all-records-share-one-max-level-pattern source,
  which retains an in-memory bound for that group — documented
  residual).
- **F9 l-diversity** perturbs within a PS_R (same k-group, same SAX
  pattern) only, so it runs per-PS_R in ``applyInPandas`` with
  per-PS_R seeded RNG.

DETERMINISTIC ORDER CONTRACT (what makes the distributed run equal the
in-memory kernel record for record, independent of partition layout):

1. records within any scope order by ``doc_id`` (binary/ASCII
   comparison — Spark's string ordering must match Python's);
2. leaves order by the DFS ``order_key`` emitted by
   ``create_tree_distributed`` (proven equal to the recursive kernel's
   append order, tests/test_tree_dist.py);
3. a merged-TB / recycled leaf's "first record" is its min doc;
4. RNG scopes are content-addressed: the C5 split of a P-group seeds
   from (seed, source, group's min doc); a PS_R seeds from (seed,
   source, k-group index, pattern);
5. a record the C2 postprocess quirk duplicated across subgroups is
   l-diversity-processed in its FIRST k-group only and rendered in its
   LAST (the reference's renderer dedup rule,
   ``anonymized_dataset.py:22-50``).

``kp_anonymize_canonical`` is the in-memory twin: the same contract,
the same shared decision cores, executed in one pandas kernel per
source. ``tests/test_anonymize_dist.py`` pins the two paths to
row-for-row equality; the quirk-exact ``kp_anonymize`` remains the
reference-parity path (product golden) — canonical mode differs from
it only in the order-contract points above.

Driver-side state is leaf/P-group METADATA only (one row per leaf /
P-group; the tree build keeps its node metadata in DataFrames and
holds none on the driver); per-subgroup and per-record state stays in
DataFrames at every size.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import clustering as C
from ..functions import sax as S
from ..functions.metrics import envelope
from .grouping import (ANON_SCHEMA, per_source, render, source_arrays,
                       token_matrix)
from .tree_dist import create_tree_distributed

_SPLIT_SCHEMA = "source string, doc_id string, pg int, sub int, pos int"
_ENV_SCHEMA = ("source string, pg int, sub int, hi array<double>, "
               "lo array<double>, phi array<long>, plo array<long>, n long")
_LDIV_SCHEMA = "source string, doc_id string, as_perturbed long"
_SUBMAP_SCHEMA = ("source string, pg int, sub int, kg long, rank int, "
                  "glo array<long>, ghi array<long>")


# ---------------------------------------------------------------------------
# shared phase logic (pure, driver-side, metadata only)
# ---------------------------------------------------------------------------

def _recycle_phase(p: int, paa: int, good_leaves: list[tuple],
                   bad_metas: list[C.MetaLeaf], pattern_of_first):
    """C4 over summaries. ``good_leaves``: (pattern, handle) in DFS
    order; ``bad_metas``: DFS order. Returns (pgroups as (pattern,
    handle, count, first) in the reference's good-list order,
    suppressed handles)."""
    good_new, supp = C.recycle_bad_leaves_meta(
        p, paa, bad_metas, pattern_of_first, canonical=True)
    pgroups = ([(pat, handle, count, first)
                for (pat, handle, count, first) in good_leaves]
               + [(m.pattern, m.handle, m.count, m.first) for m in good_new])
    return pgroups, [m.handle for m in supp]


def _ldiv_one_psr(ordered_sens: list[int], pattern: str, l_value: int,
                  seed_val: int) -> list[int]:
    """F9 for ONE PS_R: perturb the ordered sensitive values; returns
    the final values in the same order. Reuses the quirk-exact
    ``enforce_l_diversity`` restricted to a single group."""
    rnd = C.NumpyRandomSource(seed_val)
    keys = list(range(len(ordered_sens)))
    sens = {i: v for i, v in zip(keys, ordered_sens)}
    C.enforce_l_diversity({i: pattern for i in keys}, sens, [keys],
                          l_value, rnd)
    return [sens[i] for i in keys]


def _submap_rows(env: pd.DataFrame, k: int, kg_base: int) -> list[tuple]:
    """C5 merge over subgroup envelopes (one row per subgroup): order
    them by ``idx`` (the pgl order), run ``kgroups_from_subgroups`` and
    return ``(pg, sub, kg, rank, glo, ghi)`` rows, k-groups numbered
    from ``kg_base``; an unplaced subgroup gets ``kg = -1``."""
    pgl = [C.SubgroupMeta(handle=(int(r.pg), int(r.sub)),
                          hi=np.asarray(r.hi, np.float64),
                          lo=np.asarray(r.lo, np.float64), n=int(r.n),
                          phi=np.asarray(r.phi, np.int64),
                          plo=np.asarray(r.plo, np.int64))
           for r in env.sort_values("idx").itertuples()]
    t = len(pgl[0].hi) if pgl else 1
    gl, unplaced = C.kgroups_from_subgroups(pgl, k, t)
    rows = []
    for i, members in enumerate(gl):
        glo = np.minimum.reduce([m.plo for m in members]).tolist()
        ghi = np.maximum.reduce([m.phi for m in members]).tolist()
        rows += [(*m.handle, kg_base + i, rank, glo, ghi)
                 for rank, m in enumerate(members)]
    return rows + [(*m.handle, -1, 0, None, None) for m in unplaced]


# ---------------------------------------------------------------------------
# in-memory canonical twin
# ---------------------------------------------------------------------------

def _anonymize_source_canonical(pdf: pd.DataFrame, k: int, p: int, paa: int,
                                l: int, seed: int) -> pd.DataFrame:
    source, ids, values, sensitive = source_arrays(pdf)

    good: list[C.Leaf] = []
    bad: list[C.Leaf] = []
    C.split_node(values, list(range(len(values))), 1, "a" * paa, p, paa,
                 S.MAX_LEVEL, good, bad, canonical=True)

    bad_metas = [C.MetaLeaf(lf.level, lf.pattern, len(lf.rows),
                            min(lf.rows), sorted(lf.rows)) for lf in bad]

    def pat_first(first: int, level: int) -> str:
        return S.ts_to_string(S.paa(S.znorm(values[first]), paa),
                              S.cuts_for_asize(level))

    pgroups, supp_handles = _recycle_phase(
        p, paa,
        [(lf.pattern, sorted(lf.rows), len(lf.rows), min(lf.rows))
         for lf in good],
        bad_metas, pat_first)

    # C5 preprocessing (per-group seeded, like the distributed kernel);
    # pgl order: unsplit groups, then split products in group order
    ordered = [(gi, 0, sorted(rows_g))
               for gi, (_, rows_g, count, _) in enumerate(pgroups)
               if count < 2 * p]
    for gi, (_, rows_g, count, first) in enumerate(pgroups):
        if count >= 2 * p:
            rnd = C.NumpyRandomSource(
                C.stable_seed(seed, source, "c5split", ids[first]))
            ordered += [(gi, si, grp) for si, grp in enumerate(
                C.split_subgroup(values, sorted(rows_g), p, rnd))]

    sub_rows: dict[tuple[int, int], list[int]] = {}
    pgl: list[C.SubgroupMeta] = []
    for gi, si, rows_s in ordered:
        hi, lo, n = envelope(values[rows_s])
        pgl.append(C.SubgroupMeta(
            handle=(gi, si), hi=hi, lo=lo, n=n,
            phi=values[rows_s].max(axis=0).astype(np.int64),
            plo=values[rows_s].min(axis=0).astype(np.int64)))
        sub_rows[(gi, si)] = rows_s

    gl, unplaced = C.kgroups_from_subgroups(pgl, k, values.shape[1])

    # F9 per PS_R (first k-group wins for processing)
    pattern_of_group = {gi: pat for gi, (pat, _, _, _) in enumerate(pgroups)}
    seen: set[int] = set()
    psr: dict[tuple[int, str], list[int]] = {}
    for kg_idx, members in enumerate(gl):
        for m in members:
            gi, _ = m.handle
            for r in sub_rows[m.handle]:
                if r in seen:
                    continue
                seen.add(r)
                psr.setdefault((kg_idx, pattern_of_group[gi]), []).append(r)
    for (kg_idx, pat), rows_p in psr.items():
        out_vals = _ldiv_one_psr([sensitive[r] for r in rows_p], pat, l,
                                 C.stable_seed(seed, source, "ldiv",
                                               kg_idx, pat))
        for r, v in zip(rows_p, out_vals):
            sensitive[r] = v

    placed = []
    for kg_idx, members in enumerate(gl):
        glo = np.minimum.reduce([m.plo for m in members])
        ghi = np.maximum.reduce([m.phi for m in members])
        placed += [(r, f"{source}#{kg_idx}", pattern_of_group[m.handle[0]],
                    glo, ghi)
                   for m in members for r in sub_rows[m.handle]]
    suppressed = [r for h in supp_handles for r in h]
    suppressed += [r for m in unplaced for r in sub_rows[m.handle]]
    return render(ids, source, sensitive, placed, suppressed)


def kp_anonymize_canonical(tokens_df: DataFrame, k: int, p: int, paa: int,
                           l: int = 1, seed: int = 42) -> DataFrame:
    """In-memory execution of the canonical order contract — the parity
    twin for :func:`kp_anonymize_distributed` (one Arrow batch per
    source, like ``kp_anonymize``, but with the distributed path's
    deterministic ordering and RNG scoping)."""
    return per_source(tokens_df, _anonymize_source_canonical, k, p, paa, l,
                      seed)


# ---------------------------------------------------------------------------
# the distributed operator
# ---------------------------------------------------------------------------

def kp_anonymize_distributed(tokens_df: DataFrame, k: int, p: int, paa: int,
                             l: int = 1, seed: int = 42,
                             c5_shard_size: int | None = None,
                             c5_exact_max: int = 100_000) -> DataFrame:
    """(k,P)-anonymity with l-diversity per ``source``, records
    distributed through EVERY phase — the scale path for sources too
    large for one Arrow batch (``kp_anonymize``'s bound): groups here
    may span any subset of a source, exactly like the reference's
    in-memory run. ``source`` is a key column of every phase, so all
    sources run in one job chain. ``doc_id`` must be unique within a
    source.

    Output schema and semantics match ``kp_anonymize`` under the
    canonical order contract (see module docstring);
    ``kp_anonymize_canonical`` is the in-memory twin it is
    parity-tested against.

    C5 scale knobs: the bottom-up merge runs the shared decision core
    per shard of DFS-adjacent P-subgroups of one source inside
    ``applyInPandas``; the driver holds only per-P-group counts. Up to
    ``c5_exact_max`` subgroups in a source there is one shard for it —
    the exact global greedy, O(n_subgroups^2) time and O(n_subgroups *
    T) memory in one task (up to ~460 MB at the default 1e5 and T =
    143). Above it shards of ``c5_shard_size`` subgroups (default
    ``max(4096, 4k)``) bound both. Set ``c5_exact_max=0`` to force
    multi-shard runs, or a huge value to keep one shard."""
    if k < p:
        raise ValueError("k must be >= P (reference k_P_anonymity.py:40-44)")
    spark = tokens_df.sparkSession
    src_doc = ["source", "doc_id"]
    toks = tokens_df.select("source", "doc_id", "tokens").cache()

    # ---- C3: one tree per source (records stay distributed) -----------
    leaves = create_tree_distributed(toks, p, paa).localCheckpoint()

    # ---- leaf summaries (ONE leaf-metadata-sized collect) -------------
    summ = (leaves.groupBy("source", "leaf_id")
            .agg(F.count("*").alias("cnt"),
                 F.min("doc_id").alias("first_doc"),
                 F.min_by("pats", "doc_id").alias("first_pats"),
                 F.first("level").alias("level"),
                 F.first("pattern").alias("pattern"),
                 F.first("label").alias("label"),
                 F.first("order_key").alias("okey"))
            .collect())
    if not summ:
        toks.unpersist()
        return spark.createDataFrame([], ANON_SCHEMA)

    # ---- C4: recycle on summaries, per source (driver, over leaf rows,
    # shared decision core); a P-group is (source, index in its source)
    summ_by_src: dict[str, list] = {}
    for r in sorted(summ, key=lambda r: (r["source"], r["okey"])):
        summ_by_src.setdefault(r["source"], []).append(r)
    pgroups_by_src, supp_rows = {}, []
    for source, rows in summ_by_src.items():
        good_summ = [r for r in rows if r["label"] == "good-leaf"]
        bad_summ = [r for r in rows if r["label"] == "bad-leaf"]
        first_pats = {r["first_doc"]: r["first_pats"] for r in bad_summ}
        pgroups, supp_handles = _recycle_phase(
            p, paa,
            [(r["pattern"], [r["leaf_id"]], r["cnt"], r["first_doc"])
             for r in good_summ],
            [C.MetaLeaf(r["level"], r["pattern"], r["cnt"], r["first_doc"],
                        [r["leaf_id"]]) for r in bad_summ],
            # pats[0] is level 2
            lambda first_doc, level: first_pats[first_doc][level - 2])
        if pgroups:   # else the source is smaller than P
            pgroups_by_src[source] = pgroups
        supp_rows += [(source, lid) for h in supp_handles for lid in h]

    # ---- leaf -> P-group assignment (broadcast map join) --------------
    lp_df = F.broadcast(spark.createDataFrame(
        [(src, lid, gi) for src, pgroups in pgroups_by_src.items()
         for gi, (_, lids, _, _) in enumerate(pgroups) for lid in lids],
        "source string, leaf_id string, pg int"))
    assigned = (leaves.select("source", "doc_id", "leaf_id")
                .join(lp_df, ["source", "leaf_id"])
                .select("source", "doc_id", "pg"))

    # ---- C5 preprocessing: per-P-GROUP split (Arrow bound = P-group) --
    seed_by_pg = {(src, gi): C.stable_seed(seed, src, "c5split", first)
                  for src, pgroups in pgroups_by_src.items()
                  for gi, (_, _, cnt, first) in enumerate(pgroups)
                  if cnt >= 2 * p}
    src_pg = ["source", "pg"]
    base_assign = assigned.select(
        "source", "doc_id", "pg", F.lit(0).alias("sub"),
        F.lit(0).alias("pos"))
    if seed_by_pg:
        ov_df = F.broadcast(spark.createDataFrame(
            list(seed_by_pg), "source string, pg int"))

        def split_kernel(key, pdf):
            src, gi = key[0], int(key[1])
            pdf = pdf.sort_values("doc_id").reset_index(drop=True)
            values, _ = token_matrix(pdf["tokens"])
            post = C.split_subgroup(values, range(len(pdf)), p,
                                    C.NumpyRandomSource(seed_by_pg[src, gi]))
            rows = [r for grp in post for r in grp]
            return pd.DataFrame({
                "source": src,
                "doc_id": pdf["doc_id"].to_numpy()[rows],
                "pg": np.full(len(rows), gi, np.int32),
                "sub": np.repeat(np.arange(len(post), dtype=np.int32),
                                 [len(grp) for grp in post]),
                "pos": np.array([i for grp in post for i in range(len(grp))],
                                np.int32)})

        split_assign = (assigned.join(ov_df, src_pg).join(toks, src_doc)
                        .groupBy(*src_pg)
                        .applyInPandas(split_kernel, _SPLIT_SCHEMA))
        assignment = (base_assign.join(ov_df, src_pg, "left_anti")
                      .unionByName(split_assign))
    else:
        assignment = base_assign
    assignment = assignment.localCheckpoint()

    # ---- subgroup envelopes ------------------------------------------
    def env_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        m, _ = token_matrix(pdf["tokens"])
        hi, lo, n = envelope(m)
        return pd.DataFrame({
            "source": [pdf["source"].iloc[0]],
            "pg": [int(pdf["pg"].iloc[0])], "sub": [int(pdf["sub"].iloc[0])],
            "hi": [hi.tolist()], "lo": [lo.tolist()],
            "phi": [m.max(axis=0).astype(np.int64).tolist()],
            "plo": [m.min(axis=0).astype(np.int64).tolist()],
            "n": [int(n)]})

    env_df = (assignment.join(toks, src_doc)
              .groupBy("source", "pg", "sub")
              .applyInPandas(env_kernel, _ENV_SCHEMA))

    # subgroup counts per P-group (one row per P-GROUP — leaf-metadata-
    # sized) give each subgroup its pgl position and its source's
    # shard layout
    ns_by_pg = {(r["source"], r["pg"]): r["ns"] for r in (
        assignment.groupBy(*src_pg).agg((F.max("sub") + 1).alias("ns"))
        .collect())}

    # pgl order contract, per source: unsplit groups by index, then
    # split products by (group index, sub index) — the reference's list
    # construction; idx = off + sub is each subgroup's position in it.
    # C5 merge: the shared decision core per shard, inside
    # applyInPandas. A shard is a contiguous range of one source's pgl
    # order (DFS-adjacent subgroups share tree locality, the cheap
    # envelope-locality proxy). Up to c5_exact_max subgroups ONE shard
    # holds the source, which IS the sequential global greedy; above it
    # shards of shard_size never merge across their boundary (every
    # k/P/l invariant still holds — each shard has >= shard_size >= k
    # records, so the core always forms k-groups and attaches leftovers
    # in-shard).
    off_rows = []
    for src, pgroups in pgroups_by_src.items():
        gis = sorted(range(len(pgroups)),
                     key=lambda gi: ((src, gi) in seed_by_pg, gi))
        offs, n_subgroups = [], 0
        for gi in gis:
            offs.append(n_subgroups)
            n_subgroups += ns_by_pg[src, gi]
        if n_subgroups > max(c5_exact_max, 0):
            shard_size = max(int(c5_shard_size or max(4096, 4 * k)), k, 2)
        else:
            shard_size = n_subgroups
        n_shards = max(1, n_subgroups // shard_size)
        off_rows += [(src, gi, off, shard_size, n_shards)
                     for gi, off in zip(gis, offs)]
    env_idx = (env_df.join(F.broadcast(spark.createDataFrame(
        off_rows, "source string, pg int, off long, shard_size long, "
        "n_shards long")), src_pg)
        .withColumn("idx", F.col("off") + F.col("sub")))

    def shard_kernel(key, pdf):
        # the last shard holds <= 2*shard_size - 1 subgroups
        kg_base = int(key[1]) * 2 * int(pdf["shard_size"].iloc[0])
        return pd.DataFrame([(key[0], *r)
                             for r in _submap_rows(pdf, k, kg_base)],
                            columns=["source", "pg", "sub", "kg", "rank",
                                     "glo", "ghi"])

    # checkpointed: F9 and render read the sub-map four times, and the
    # greedy and env_kernel must run once per shard, not once per read
    sub_map_df = (env_idx.withColumn("shard", F.least(
                      F.floor(F.col("idx") / F.col("shard_size")),
                      F.col("n_shards") - 1).cast("int"))
                  .groupBy("source", "shard")
                  .applyInPandas(shard_kernel, _SUBMAP_SCHEMA)
                  .localCheckpoint())

    # ---- common downstream: F9 + render off the subgroup map ----------
    pat_df = F.broadcast(spark.createDataFrame(
        [(src, gi, pat) for src, pgroups in pgroups_by_src.items()
         for gi, (pat, _, _, _) in enumerate(pgroups)],
        "source string, pg int, pattern string"))
    a2all = (assignment.join(sub_map_df, [*src_pg, "sub"])
             .join(pat_df, src_pg))
    a2 = a2all.filter(F.col("kg") >= 0)
    unplaced_docs = a2all.filter(F.col("kg") < 0).select(*src_doc)

    # ---- F9: l-diversity per PS_R (seed derived IN the kernel — no
    # driver-side per-k-group state) ------------------------------------
    sens = toks.select(*src_doc,
                       F.element_at("tokens", -1).cast("long").alias("_sv"))
    w_first = Window.partitionBy(*src_doc).orderBy("kg", "rank", "pos")

    def ldiv_kernel(key, pdf):
        src, kg, pat = key[0], int(key[1]), str(key[2])
        pdf = pdf.sort_values(["rank", "pos", "doc_id"]).reset_index(drop=True)
        vals = _ldiv_one_psr([int(v) for v in pdf["_sv"]], pat, l,
                             C.stable_seed(seed, src, "ldiv", kg, pat))
        return pd.DataFrame({"source": src, "doc_id": pdf["doc_id"],
                             "as_perturbed": np.array(vals, np.int64)})

    ldiv_out = (a2.withColumn("_rn", F.row_number().over(w_first))
                .filter(F.col("_rn") == 1).drop("_rn")
                .join(sens, src_doc)
                .groupBy("source", "kg", "pattern")
                .applyInPandas(ldiv_kernel, _LDIV_SCHEMA))

    # ---- render: last k-group wins; the k-group envelope (glo/ghi,
    # plain-bound union over members — exact, min/max ignore duplicates)
    # rides on every subgroup-map row -----------------------------------
    w_last = Window.partitionBy(*src_doc).orderBy(
        F.desc("kg"), F.desc("rank"), F.desc("pos"))
    rendered = (a2.withColumn("_rn", F.row_number().over(w_last))
                .filter(F.col("_rn") == 1).drop("_rn")
                .join(ldiv_out, src_doc)
                .select("doc_id", "source",
                        F.concat("source", F.lit("#"), F.col("kg"))
                        .alias("group_id"),
                        F.col("pattern").alias("sax"),
                        "as_perturbed",
                        F.col("glo").alias("lo"), F.col("ghi").alias("hi"),
                        F.lit(False).alias("suppressed"))
                # suppression wins for a quirk-duplicated record that
                # landed in both a k-group and an unplaced subgroup
                # (the canonical twin's rowmap overwrite order)
                .join(unplaced_docs, src_doc, "left_anti"))

    suppressed = unplaced_docs
    if supp_rows:
        suppressed = suppressed.unionByName(leaves.join(
            F.broadcast(spark.createDataFrame(
                supp_rows, "source string, leaf_id string")),
            ["source", "leaf_id"]).select(*src_doc))
    out = rendered.unionByName(suppressed.distinct().select(
        "doc_id", "source",
        F.lit(None).cast("string").alias("group_id"),
        F.lit(None).cast("string").alias("sax"),
        F.lit(None).cast("long").alias("as_perturbed"),
        F.lit(None).cast("array<long>").alias("lo"),
        F.lit(None).cast("array<long>").alias("hi"),
        F.lit(True).alias("suppressed")))
    toks.unpersist()
    return out

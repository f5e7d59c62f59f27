"""Distributed create-tree (SURVEY.md C3 option ii, VERDICT r2 #9).

``grouping.kp_anonymize`` runs the reference's pattern-tree split
(reference includes/node.py:25-156) inside one ``applyInPandas`` task
per source — the same whole-table-in-memory bound the single-node
reference has. This module builds the same tree per source,
breadth-first over levels, with ``source`` a key column throughout:

- records stay distributed; the only per-record state is the
  ``(source, node_id)`` key of the tree node currently holding the
  record, plus a precomputed array of the record's SAX patterns at
  every level (ONE vectorized Arrow pass, levels 2..MAX_LEVEL+1 —
  levels are alphabet sizes, so the whole array is ~paa * MAX_LEVEL
  chars per record);
- node metadata (source, node_id, level, pattern, order key) is a
  DataFrame too, starting from one root per source. Each round's split
  decisions come from the (node, child-pattern) SIZE HISTOGRAM — a
  ``groupBy(source, node_id, pattern_at_level)`` count + min-doc
  aggregate that is never collected — and the reference's decision
  procedure (bad-leaf / good-leaf / maximize-level / TB-merge / split)
  runs on it as column expressions, window ranks and broadcast joins;
  node ids, window ranks and order keys never cross a source;
- finalized leaves accumulate as a union of DataFrames.

Cost shape at scale: at most ``MAX_LEVEL`` + 2 rounds (MAX_LEVEL = 5)
shared by every source, each one shuffle on (source, node, pattern)
with map-side partial aggregation, plus a maximize-level aggregate
over the 1-2P-sized nodes. The driver holds no per-node or per-record
state: per round it runs only an ``isEmpty`` loop-control check.

Leaf assignment is IDENTICAL to the in-memory ``split_node`` run on
each source (parity-tested in tests/test_tree_dist.py): same leaves,
same levels, same patterns, same labels — and leaf ORDER is
reconstructible too, via the emitted DFS ``order_key``, which is what
lets the downstream recycle/bottom-up phases
(operators/anonymize_dist.py) consume this tree with reference
semantics.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import sax as S
from .grouping import token_matrix

_LEAF_SCHEMA = ("source string, doc_id string, leaf_id string, level int, "
                "pattern string, label string, order_key string, "
                "pats array<string>")
_NODE = ["source", "node_id"]


def pattern_arrays(tokens_df: DataFrame, paa_value: int) -> DataFrame:
    """(source, doc_id, pats): pats[l-2] = SAX pattern at level
    (alphabet) l, for l in 2..MAX_LEVEL+1, computed in one vectorized
    pass. Level 1 is always 'a'*paa (reference node.py:16) and never
    computed. The last token is the sensitive attribute and is dropped,
    like kp_anonymize."""
    levels = list(range(2, S.MAX_LEVEL + 2))

    def fn(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            mat, _ = token_matrix(pdf["tokens"])
            pa = S.paa2d(S.znorm2d(mat), paa_value)
            cols = [S.sax_of_paa(pa, mat, paa_value, lvl) for lvl in levels]
            yield pd.DataFrame({
                "source": pdf["source"],
                "doc_id": pdf["doc_id"],
                "pats": [list(t) for t in zip(*cols)],
            })

    return tokens_df.select("source", "doc_id", "tokens").mapInPandas(
        fn, "source string, doc_id string, pats array<string>")


def create_tree_distributed(tokens_df: DataFrame, p_value: int,
                            paa_value: int) -> DataFrame:
    """Build the reference pattern tree of every source over a
    distributed table. Returns (source, doc_id, leaf_id, level, pattern,
    label, order_key, pats) with label in {'good-leaf', 'bad-leaf'} —
    per source, the exact split-phase output of includes/node.py:25-156
    / functions.clustering.split_node — and each record's
    :func:`pattern_arrays` ``pats``. ``leaf_id`` is unique within a
    source; ``(source, leaf_id)`` identifies a leaf.

    ``order_key`` is the DETERMINISTIC ORDER CONTRACT for the
    downstream C4/C5 phases (operators/anonymize_dist.py): sorting a
    source's leaves by it reproduces the recursive kernel's depth-first
    append order exactly. The key is the leaf's root-to-leaf path where
    each step contributes one fixed-width token ``<phase><rank:06d>``:
    phase 0 = the merged-TB leaf (appended before any recursion),
    phase 1 = TB children (recursed first), phase 2 = TG children;
    rank = the child's position among its phase's siblings ordered by
    min doc_id — which equals the reference's tentative-dict insertion
    order when records are scanned in doc order, the contract's record
    order. Terminal leaves use the node's own path key. Distinct leaf
    keys never prefix one another (a terminal node has no descendants),
    so plain lexicographic sort is the DFS order. A phase with more
    than 10^6 siblings raises rather than emit a 7-digit rank.
    """
    spark = tokens_df.sparkSession
    max_level = S.MAX_LEVEL
    # checkpointed like every later frontier: the returned leaves then
    # never re-run the pattern pass
    frontier = (pattern_arrays(tokens_df, paa_value)
                .withColumn("node_id", F.lit("root")).localCheckpoint())
    # one root per source
    nodes = (frontier.select("source", "node_id").distinct()
             .select(*_NODE, F.lit(1).alias("lvl"),
                     F.lit("a" * paa_value).alias("pattern"),
                     F.lit("").alias("okey")))
    finalized: list[DataFrame] = []

    for _round in range(max_level + 2):
        # a node at level L splits on the level-(L+1) pattern, pats[L-1]
        # 0-indexed (pats[0] is level 2); element_at is 1-based
        hist = (frontier.join(F.broadcast(nodes), _NODE)
                .groupBy(*_NODE,
                         F.element_at("pats", F.col("lvl")).alias("cp"))
                .agg(F.count("*").alias("cnt"), F.min("doc_id").alias("mdoc"))
                .localCheckpoint())
        agg = (hist.groupBy(*_NODE)
               .agg(F.sum("cnt").alias("size"),
                    F.max("cnt").alias("max_child"),
                    F.coalesce(F.sum(F.when(F.col("cnt") < p_value,
                                            F.col("cnt"))),
                               F.lit(0)).alias("tb_sum")))
        # the reference's case ladder, as one column (order matters)
        case = (F.when(F.col("size") < p_value, "bad")             # base 1
                .when(F.col("lvl") == max_level, "good")           # base 2
                .when(F.col("size") < 2 * p_value, "maximize")     # base 3
                .when(F.col("max_child") < p_value, "good")        # base 4
                .when(F.col("tb_sum") >= p_value, "tbmerge")
                .otherwise("split"))
        nstate = (nodes.join(agg, _NODE)   # empty nodes drop out
                  .withColumn("case", case)
                  .localCheckpoint())
        if nstate.isEmpty():
            break

        # terminal leaves (bad / good at the node itself); no otherwise:
        # label stays nullable, as in the empty-input _LEAF_SCHEMA
        term = nstate.filter(F.col("case").isin("bad", "good"))
        finalized.append(
            frontier.join(F.broadcast(term), _NODE)
            .select("source", "doc_id", F.col("node_id").alias("leaf_id"),
                    F.col("lvl").alias("level"), "pattern",
                    F.when(F.col("case") == "bad", "bad-leaf")
                    .when(F.col("case") == "good", "good-leaf")
                    .alias("label"),
                    F.col("okey").alias("order_key"), "pats"))

        # maximize-level: per-node countDistinct/first per level, then
        # the level walk as a when-ladder (node.py:197-222 semantics)
        mx = nstate.filter(F.col("case") == "maximize")
        aggs = []
        for j in range(1, max_level + 1):   # pats[j-1] = level j+1
            aggs.append(F.countDistinct(
                F.element_at("pats", j)).alias(f"d{j}"))
            aggs.append(F.first(F.element_at("pats", j)).alias(f"p{j}"))
        mrows = (frontier.join(F.broadcast(mx.select(*_NODE)), _NODE)
                 .groupBy(*_NODE).agg(*aggs)
                 .join(F.broadcast(mx), _NODE))

        def final_lvl(v: int):
            # first level j >= v whose members diverge (d_j != 1);
            # all-shared walks to max_level + 1 (preserved quirk).
            # d_j gates the step FROM level j to j+1; pats[j-1] is the
            # pattern at level j+1, so d index == level index here.
            e = F.lit(max_level + 1)
            for j in range(max_level, v - 1, -1):
                e = F.when(F.col(f"d{j}") != 1, F.lit(j)).otherwise(e)
            return e

        lvl_col = F.lit(None).cast("int")
        for v in range(max_level, 0, -1):
            lvl_col = F.when(F.col("lvl") == v, final_lvl(v)).otherwise(lvl_col)
        pat_col = F.col("pattern")
        for j in range(2, max_level + 2):
            pat_col = (F.when((lvl_col == j) & (F.col("lvl") < j),
                              F.col(f"p{j-1}")).otherwise(pat_col))
        mx_nodes = mrows.select(*_NODE, lvl_col.alias("level"),
                                pat_col.alias("pattern"),
                                F.col("okey").alias("order_key"))
        finalized.append(
            frontier.join(F.broadcast(mx_nodes), _NODE)
            .select("source", "doc_id", F.col("node_id").alias("leaf_id"),
                    "level", "pattern", F.lit("good-leaf").alias("label"),
                    "order_key", "pats"))

        # splitting nodes: rank children per phase by min doc
        act = nstate.filter(F.col("case").isin("tbmerge", "split"))
        ch = (hist.join(F.broadcast(act), _NODE)
              .withColumn("is_tb", F.col("cnt") < p_value)
              .withColumn("rank", F.row_number().over(
                  Window.partitionBy(*_NODE, "is_tb").orderBy("mdoc")) - 1))

        # merged-TB leaf: parent's level/pattern, DFS phase 0
        tbm = (ch.filter((F.col("case") == "tbmerge") & F.col("is_tb"))
               .select(*_NODE, "cp",
                       F.concat("node_id", F.lit("|TBMERGE")).alias("leaf_id"),
                       F.col("lvl").alias("level"), "pattern",
                       F.concat("okey", F.lit("0000000")).alias("order_key")))
        fr_cp = (frontier.join(F.broadcast(act.select(*_NODE, "lvl")), _NODE)
                 .withColumn("cp", F.element_at("pats", F.col("lvl"))))
        finalized.append(
            fr_cp.join(F.broadcast(tbm), [*_NODE, "cp"])
            .select("source", "doc_id", "leaf_id", "level", "pattern",
                    F.lit("good-leaf").alias("label"), "order_key", "pats"))

        # continuing children: all of a split node's children (TB phase
        # 1 first, TG phase 2), plus a tbmerge node's TG children
        contc = ch.filter((F.col("case") == "split") | (~F.col("is_tb")))
        phase = (F.when(F.col("case") == "tbmerge", F.lit("2"))
                 .when(F.col("is_tb"), F.lit("1")).otherwise(F.lit("2")))
        # rank token is exactly 6 digits; lpad would TRUNCATE >= 10^6
        # and silently break DFS ordering — fail loudly instead
        rank_tok = F.when(
            F.col("rank") <= 999_999,
            F.lpad(F.col("rank").cast("string"), 6, "0")
        ).otherwise(F.raise_error(F.lit(
            "order_key overflow: a node has more than 10^6 children "
            "in one phase (rank token is 6 digits)")))
        new_nodes = (contc.select(
            *_NODE, "cp",
            F.concat("node_id", F.lit("|"), "cp").alias("new_node_id"),
            (F.col("lvl") + 1).alias("new_lvl"),
            F.col("cp").alias("new_pattern"),
            F.concat("okey", phase, rank_tok).alias("new_okey")))

        frontier = (fr_cp.join(
            F.broadcast(new_nodes.select(*_NODE, "cp", "new_node_id")),
            [*_NODE, "cp"])
            .select("source", "doc_id", "pats",
                    F.col("new_node_id").alias("node_id"))
            .localCheckpoint())
        nodes = (new_nodes.select(
            "source", F.col("new_node_id").alias("node_id"),
            F.col("new_lvl").alias("lvl"),
            F.col("new_pattern").alias("pattern"),
            F.col("new_okey").alias("okey"))
            .localCheckpoint())
        if nodes.isEmpty():
            break

    if not finalized:   # empty input: no leaves were ever finalized
        return spark.createDataFrame([], _LEAF_SCHEMA)
    out = finalized[0]
    for df in finalized[1:]:
        out = out.unionByName(df)
    return out

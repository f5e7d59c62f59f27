"""Similarity search over embedding columns (array<float>).

- :func:`topk_cosine_bruteforce` — exact top-k: broadcast the (small)
  query set against the corpus, JVM-side dot products via zip_with/
  aggregate HOFs, per-query row_number window. The correctness
  baseline; linear scan, embarrassingly parallel at 100 TB.
- :func:`topk_cosine_lsh` — scale path 1: multi-table random-hyperplane
  LSH with multi-probe (queries also probe neighboring buckets at
  hamming distance 1 in every table), exact rerank inside candidate
  buckets. Shuffle keys are (table, bucket), never all-pairs.
- :func:`topk_cosine_ivf` — scale path 2: IVF-flat. Spherical-kmeans
  coarse quantizer trained on a bounded seeded sample, corpus
  partitioned by nearest-centroid cell, queries probe their nprobe
  nearest cells, exact rerank inside. Scanned fraction ~ nprobe /
  n_cells; with nprobe == n_cells it degenerates to exact brute force
  (the invariant the driver oracle checks).
- :func:`ann_recall` — recall@k of an approximate path vs brute force
  (the quality metric a pipeline would monitor).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .dedup import dot_col, norm_col, plane_sigs_udf


def topk_cosine_bruteforce(corpus: DataFrame, queries: DataFrame, k: int = 10,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k per query (queries broadcast)."""
    c = (corpus.select(F.col(id_col).alias("corpus_id"),
                       F.col(vec_col).alias("cvec"))
         .withColumn("cnorm", norm_col("cvec")))
    q = (queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("qvec"))
         .withColumn("qnorm", norm_col("qvec")))
    scored = (c.crossJoin(F.broadcast(q))
              .filter(F.col("corpus_id") != F.col("query_id"))
              .withColumn("cosine",
                          dot_col("cvec", "qvec")
                          / (F.col("cnorm") * F.col("qnorm"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "corpus_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "corpus_id", "cosine", "rank"))


def topk_cosine_lsh(corpus: DataFrame, queries: DataFrame, k: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    n_planes: int = 8, n_tables: int = 8, seed: int = 7,
                    multiprobe: bool = True) -> DataFrame:
    """Approximate top-k: multi-table hyperplane LSH + exact rerank.

    Recall is OR-amplified over ``n_tables`` independent hash tables
    (P(candidate) = 1-(1-p^r)^L); with ``multiprobe`` each query also
    probes every bucket at hamming distance 1 in every table. The
    corpus side is stored L times (the classic LSH space-for-recall
    trade); all shuffle keys are (table, bucket) — never all-pairs.
    On *uniform random* vectors (the synthetic test corpus) true
    neighbors sit near cosine ~0.3 and ANY sublinear index degrades —
    size n_tables/n_planes for the corpus at hand; real embedding
    corpora with near-dup structure (cos >= 0.9) need far fewer probes."""
    dim = corpus.select(F.size(vec_col).alias("d")).first()["d"]
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, n_planes, dim))
    sigs = plane_sigs_udf(planes)

    c = (corpus.select(F.col(id_col).alias("corpus_id"),
                       F.col(vec_col).alias("cvec"))
         .withColumn("cnorm", norm_col("cvec"))
         .select("corpus_id", "cvec", "cnorm",
                 F.posexplode(sigs(F.col("cvec"))).alias("table", "bucket")))
    q = (queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("qvec"))
         .withColumn("qnorm", norm_col("qvec"))
         .select("query_id", "qvec", "qnorm",
                 F.posexplode(sigs(F.col("qvec"))).alias("table", "bucket0")))
    if multiprobe:
        probes = F.array(F.col("bucket0"),
                         *[F.col("bucket0").bitwiseXOR(F.lit(1 << i))
                           for i in range(n_planes)])
        q = q.select("query_id", "qvec", "qnorm", "table",
                     F.explode(probes).alias("bucket"))
    else:
        q = q.withColumnRenamed("bucket0", "bucket")

    scored = (c.join(F.broadcast(q), ["table", "bucket"])
              .filter(F.col("corpus_id") != F.col("query_id"))
              .dropDuplicates(["query_id", "corpus_id"])
              .withColumn("cosine",
                          dot_col("cvec", "qvec")
                          / (F.col("cnorm") * F.col("qnorm"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "corpus_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "corpus_id", "cosine", "rank"))


def ann_recall(exact: DataFrame, approx: DataFrame) -> float:
    """recall@k: |approx ∩ exact| / |exact| over (query, corpus) pairs."""
    e = exact.select("query_id", "corpus_id")
    a = approx.select("query_id", "corpus_id")
    inter = e.intersect(a).count()
    total = e.count()
    return inter / total if total else 1.0


# ---------------------------------------------------------------------------
# IVF (inverted-file) index — the coarse-quantizer scale path
# ---------------------------------------------------------------------------

def ivf_train_centroids(corpus: DataFrame, n_cells: int = 64,
                        vec_col: str = "embedding", seed: int = 7,
                        sample_per_cell: int = 64,
                        iters: int = 8) -> np.ndarray:
    """Train spherical k-means centroids on a bounded seeded sample.

    The sample (<= n_cells * sample_per_cell rows) is the ONLY
    driver-side collect, and it needs NO prior ``count()``: a fixed
    Bernoulli fraction + ``limit`` early-exits the scan once ``target``
    rows have passed the filter, so at 10^12 rows the build reads
    ~target/frac rows instead of a full table pass just to size the
    fraction. The residual bias (rows come from the scan prefix) is
    acceptable for k-means *seeding* — dead-cell reseeding and the
    Lloyd iterations correct it. A small corpus that yields fewer than
    ``target`` sampled rows falls back to a second scan taking the
    ``target`` smallest rows by vector hash (a deterministic
    shuffle-ish ordering via TakeOrderedAndProject — NOT a scan
    prefix, so a clustered/sorted small corpus still seeds from all
    regions; still no count()). Lloyd iterations run as NumPy
    matmuls on the driver — centroids are (n_cells, dim), a few MB at
    any realistic dim. Vectors are unit-normalized so cosine
    assignment == max dot product."""
    target = n_cells * sample_per_cell
    frac = 0.05
    sample = (corpus.select(vec_col).sample(fraction=frac, seed=seed)
              .limit(target).toPandas())
    if len(sample) < target:
        sample = (corpus.select(vec_col)
                  .orderBy(F.xxhash64(vec_col))
                  .limit(target).toPandas())
    m = np.stack(sample[vec_col].to_numpy()).astype(np.float64)
    m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)

    rng = np.random.default_rng(seed)
    n_cells = min(n_cells, len(m))
    cents = m[rng.choice(len(m), size=n_cells, replace=False)]
    for _ in range(iters):
        assign = np.argmax(m @ cents.T, axis=1)
        for c in range(n_cells):
            members = m[assign == c]
            if len(members):
                v = members.sum(axis=0)
                cents[c] = v / max(np.linalg.norm(v), 1e-12)
            else:  # dead cell: reseed from the worst-fit point
                worst = np.argmin((m @ cents.T).max(axis=1))
                cents[c] = m[worst]
    return cents


def _cell_udf(cents: np.ndarray, nprobe: int = 1):
    """Assign each vector to its ``nprobe`` nearest centroid cells in
    one matmul per Arrow batch. Returns array<int> of cell ids."""
    ct = np.ascontiguousarray(cents.astype(np.float64).T)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def cells(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype=object)
        m = np.stack(vec.to_numpy()).astype(np.float64)
        m /= np.maximum(np.linalg.norm(m, axis=1, keepdims=True), 1e-12)
        scores = m @ ct
        if nprobe == 1:
            top = np.argmax(scores, axis=1)[:, None]
        else:
            k = min(nprobe, scores.shape[1])
            part = np.argpartition(-scores, k - 1, axis=1)[:, :k]
            order = np.argsort(
                -np.take_along_axis(scores, part, axis=1), axis=1)
            top = np.take_along_axis(part, order, axis=1)
        return pd.Series(list(top.astype(np.int32)))

    return cells


def ivf_assign(corpus: DataFrame, cents: np.ndarray,
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """(id, vec, norm, cell): corpus rows tagged with their nearest
    centroid cell — write this partitioned/bucketed by ``cell`` so
    probes prune at scan time."""
    cells = _cell_udf(cents, nprobe=1)
    return (corpus.select(F.col(id_col).alias("corpus_id"),
                          F.col(vec_col).alias("cvec"))
            .withColumn("cnorm", norm_col("cvec"))
            .withColumn("cell", cells(F.col("cvec"))[0]))


def ivf_store(corpus: DataFrame, store, table: str, n_cells: int = 64,
              id_col: str = "vec_id", vec_col: str = "embedding",
              seed: int = 7) -> np.ndarray:
    """Build the IVF index AT REST: train centroids, assign every
    corpus row to its cell, and write the assignment PARTITIONED BY
    ``cell`` through a :class:`~kapra_spark.sources.table_store.
    TableStore` (Iceberg partition or parquet subdir per cell — the
    same idempotent-partition contract as every other stored table).
    Centroids land in ``<table>_centroids`` (n_cells tiny rows).
    Probes then prune at SCAN time: only nprobe/n_cells of the stored
    bytes are ever read (see :func:`topk_cosine_ivf_at_rest`)."""
    cents = ivf_train_centroids(corpus, n_cells, vec_col, seed)
    assigned = ivf_assign(corpus, cents, id_col, vec_col)
    store.write(assigned, table, partition_cols=["cell"], mode="replace")
    spark = corpus.sparkSession
    cent_df = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell int, centroid array<double>")
    store.write(cent_df, f"{table}_centroids", mode="replace")
    return cents


def topk_cosine_ivf_at_rest(store, table: str, queries: DataFrame,
                            k: int = 10, id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            nprobe: int = 8) -> DataFrame:
    """IVF-flat top-k against a stored :func:`ivf_store` index.

    The probed cell set is computed from the (small, broadcast-sized)
    query set on the driver and applied as a LITERAL ``cell IN (...)``
    predicate, so the parquet/Iceberg scan shows partition filters and
    physically reads only the probed cells' files — the at-scale
    payoff of partitioning the index by cell. Results are identical to
    :func:`topk_cosine_ivf` with the same centroids."""
    cent_rows = store.read(f"{table}_centroids").collect()
    cents = np.zeros((len(cent_rows), len(cent_rows[0]["centroid"])))
    for r in cent_rows:
        cents[r["cell"]] = r["centroid"]

    probes = _cell_udf(cents, nprobe=nprobe)
    q = (queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("qvec"))
         .withColumn("qnorm", norm_col("qvec"))
         .withColumn("cell", F.explode(probes(F.col("qvec")))))
    # literal probed-cell set -> partition pruning at the stored scan
    probed = sorted({r["cell"] for r in q.select("cell").distinct().collect()})
    c = store.read(table).filter(F.col("cell").isin(probed))
    scored = (c.join(F.broadcast(q), "cell")
              .filter(F.col("corpus_id") != F.col("query_id"))
              .withColumn("cosine",
                          dot_col("cvec", "qvec")
                          / (F.col("cnorm") * F.col("qnorm"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "corpus_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "corpus_id", "cosine", "rank"))


def topk_cosine_ivf(corpus: DataFrame, queries: DataFrame, k: int = 10,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    n_cells: int = 64, nprobe: int = 8, seed: int = 7,
                    cents: np.ndarray | None = None) -> DataFrame:
    """IVF-flat approximate top-k: spherical-kmeans coarse quantizer,
    queries probe their ``nprobe`` nearest cells, exact cosine rerank
    inside probed cells. Scanned fraction ~= nprobe / n_cells; the only
    shuffle key is ``cell``. Pass precomputed ``cents`` (or a stored
    ivf_assign output) to skip training."""
    if cents is None:
        cents = ivf_train_centroids(corpus, n_cells, vec_col, seed)
    c = ivf_assign(corpus, cents, id_col, vec_col)
    probes = _cell_udf(cents, nprobe=nprobe)
    q = (queries.select(F.col(id_col).alias("query_id"),
                        F.col(vec_col).alias("qvec"))
         .withColumn("qnorm", norm_col("qvec"))
         .withColumn("cell", F.explode(probes(F.col("qvec")))))
    scored = (c.join(F.broadcast(q), "cell")
              .filter(F.col("corpus_id") != F.col("query_id"))
              .withColumn("cosine",
                          dot_col("cvec", "qvec")
                          / (F.col("cnorm") * F.col("qnorm"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "corpus_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "corpus_id", "cosine", "rank"))

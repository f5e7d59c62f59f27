"""Deduplication family for training-data pipelines.

- exact:      hash-groupBy on normalized text (scan-speed, 1 shuffle)
- minhash:    char-shingle MinHash signatures (Arrow-vectorized NumPy)
              + LSH banding (bucket self-join finds candidates without
              the O(n^2) cross join) + exact-Jaccard verification with
              native array_intersect/array_union
- simhash:    64-bit SimHash + pigeonhole banding for hamming<=3
- embedding:  cosine near-dup via random-hyperplane LSH buckets,
              verified with an exact dot product (vectors normalized)

All candidate generation is bucket-join shaped: at 10^12 docs the only
shuffles are on (band, band_hash) keys, never all-pairs. Clusters are
resolved to a canonical keeper (min doc_id) with a pointer-jumping
min-propagation loop (per-round localCheckpoint keeps the plan depth
constant) that converges in O(log(cluster diameter)) rounds.

Hashing note: all 64-bit hashing here is an explicitly AD-HOC mixer —
polynomial accumulation with natural uint64 wraparound finished by the
splitmix64 finalizer (Steele/Lea/Flood, public domain). We deliberately
do NOT claim the (a*x+b) mod p universal family: computing a true
128-bit modmul in vectorized NumPy costs 4 extra multiplies per hash,
and MinHash recall only needs well-mixed, collision-sparse 64-bit
values, which the finalizer provides.
"""

from __future__ import annotations

import warnings

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized over uint64 (wraparound is the
    point — every op is mod 2^64)."""
    x = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
    return x


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, text_col: str = "text",
                id_col: str = "doc_id") -> DataFrame:
    """Keep the min-id row per exact (normalized) text. Adds
    ``is_duplicate`` + ``keeper_id`` for the dropped rows."""
    norm = F.trim(F.regexp_replace(F.lower(F.col(text_col)), r"\s+", " "))
    w = df.withColumn("_h", F.md5(norm))
    keepers = (w.groupBy("_h").agg(F.min(id_col).alias("keeper_id")))
    return (w.join(keepers, "_h")
            .withColumn("is_duplicate", F.col(id_col) != F.col("keeper_id"))
            .drop("_h"))


# ---------------------------------------------------------------------------
# shingles + minhash signatures (vectorized)
# ---------------------------------------------------------------------------

def _char_shingle_hashes(text: str, k: int) -> np.ndarray:
    """Distinct k-char shingle hashes: vectorized base-257 polynomial
    over the byte sequence accumulated mod 2^64 (uint64 wraparound),
    finished with the splitmix64 mixer. Ad-hoc by design — see module
    docstring. Returned as int64 with the top bit cleared so values
    survive the Spark LongType round-trip order-free."""
    b = np.frombuffer(text.encode("utf-8", "ignore"), dtype=np.uint8)
    n = len(b)
    if n < k:
        b = np.pad(b, (0, k - n), constant_values=32)
        n = k
    powers = np.array([pow(257, k - 1 - j, 1 << 64) for j in range(k)],
                      dtype=np.uint64)
    windows = np.lib.stride_tricks.sliding_window_view(b, k).astype(np.uint64)
    with np.errstate(over="ignore"):
        h = _mix64((windows * powers[None, :]).sum(axis=1, dtype=np.uint64))
    h >>= np.uint64(1)  # keep values non-negative as int64
    return np.unique(h)


def shingle_df(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
               k: int = 5) -> DataFrame:
    """(id, shingles: array<long>) — distinct shingle hashes per doc."""
    schema = T.StructType([
        T.StructField("doc_id", df.schema[id_col].dataType, False),
        T.StructField("shingles", T.ArrayType(T.LongType()), False),
    ])

    def fn(batches):
        for pdf in batches:
            yield pd.DataFrame({
                "doc_id": pdf[id_col],
                "shingles": [
                    _char_shingle_hashes(t if isinstance(t, str) else "", k)
                    .astype(np.int64) for t in pdf[text_col]],
            })

    return df.select(id_col, text_col).mapInPandas(fn, schema)


def minhash_signatures(shingles_df: DataFrame, num_hashes: int = 64,
                       seed: int = 42) -> DataFrame:
    """(doc_id, sig: array<long>) MinHash signatures. Hash family:
    h_i(x) = splitmix64(x ^ g_i) for seeded random 64-bit g_i — an
    explicitly ad-hoc mixer family (module docstring), min over the
    doc's shingle set."""
    rng = np.random.default_rng(seed)
    g = rng.integers(0, 1 << 63, size=num_hashes, dtype=np.uint64)

    schema = T.StructType([
        T.StructField("doc_id", shingles_df.schema["doc_id"].dataType, False),
        T.StructField("sig", T.ArrayType(T.LongType()), False),
    ])

    def fn(batches):
        for pdf in batches:
            sigs = []
            for sh in pdf["shingles"]:
                x = np.asarray(sh, dtype=np.uint64)
                h = _mix64(x[:, None] ^ g[None, :])
                sig = h.min(axis=0) >> np.uint64(1)
                sigs.append(sig.astype(np.int64))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "sig": sigs})

    return shingles_df.mapInPandas(fn, schema)


def lsh_candidate_pairs(sig_df: DataFrame, bands: int = 16,
                        max_bucket_size: int | None = 2000) -> DataFrame:
    """Band the signatures and self-join each bucket: docs sharing any
    band hash become candidate pairs (id_a < id_b).

    Hot-bucket guard: a degenerate bucket with B members would emit
    B^2/2 pairs from one task (at web scale, boilerplate routinely puts
    1e5+ near-identical docs in one band bucket -> 1e10 pairs). With
    ``max_bucket_size`` set, only the ``max_bucket_size`` smallest
    doc_ids in a bucket form the full clique; every doc beyond the cap
    is instead STAR-paired with the bucket's min doc_id, bounding the
    bucket's pair count at cap^2/2 + (B - cap) while keeping every
    member reachable (for the exact-duplicate floods that cause hot
    buckets the star pairs all pass verification, so cluster
    connectivity is preserved exactly; for heterogeneous giant buckets
    recall degrades gracefully to only-vs-min). Buckets at or under the
    cap are byte-identical to the unguarded output. Run
    ``minhash_dedup(exact_first=True)`` to remove exact-duplicate
    floods before banding entirely."""
    from pyspark.sql import Window

    n = bands
    banded = sig_df.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(n - 1)),
                lambda i: F.xxhash64(
                    F.slice(F.col("sig"), i * (F.size("sig") / n).cast("int") + 1,
                            (F.size("sig") / n).cast("int")).cast("string"))
            )).alias("band", "band_hash"))
    if max_bucket_size is None:
        x = banded.alias("x")
        y = banded.alias("y")
        return (x.join(y, (F.col("x.band") == F.col("y.band"))
                       & (F.col("x.band_hash") == F.col("y.band_hash"))
                       & (F.col("x.doc_id") < F.col("y.doc_id")))
                .select(F.col("x.doc_id").alias("id_a"),
                        F.col("y.doc_id").alias("id_b"))
                .distinct())
    # rank + bucket-min in one pass; the window shuffle key equals the
    # self-join key, so the join below reuses the partitioning
    bucket = Window.partitionBy("band", "band_hash")
    banded = (banded
              .withColumn("_rk", F.row_number().over(bucket.orderBy("doc_id")))
              .withColumn("_b0", F.min("doc_id").over(bucket)))
    head = banded.filter(F.col("_rk") <= max_bucket_size)
    x = head.alias("x")
    y = head.alias("y")
    clique = (x.join(y, (F.col("x.band") == F.col("y.band"))
                     & (F.col("x.band_hash") == F.col("y.band_hash"))
                     & (F.col("x.doc_id") < F.col("y.doc_id")))
              .select(F.col("x.doc_id").alias("id_a"),
                      F.col("y.doc_id").alias("id_b")))
    star = (banded.filter(F.col("_rk") > max_bucket_size)
            .select(F.col("_b0").alias("id_a"),
                    F.col("doc_id").alias("id_b")))
    return clique.union(star).distinct()


def verify_jaccard(pairs: DataFrame, shingles_df: DataFrame,
                   threshold: float = 0.7) -> DataFrame:
    """Exact Jaccard on candidate pairs with native array ops."""
    a = shingles_df.select(F.col("doc_id").alias("id_a"),
                           F.col("shingles").alias("sh_a"))
    b = shingles_df.select(F.col("doc_id").alias("id_b"),
                           F.col("shingles").alias("sh_b"))
    j = (pairs.join(a, "id_a").join(b, "id_b")
         .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
         .withColumn("uni", F.size(F.array_union("sh_a", "sh_b")))
         .withColumn("jaccard", F.col("inter") / F.greatest("uni", F.lit(1))))
    return (j.filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard"))


def minhash_dedup(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", k: int = 5, num_hashes: int = 64,
                  bands: int = 16, threshold: float = 0.7,
                  exact_first: bool = True,
                  max_bucket_size: int | None = 2000) -> DataFrame:
    """Full near-dup pipeline: shingle -> minhash -> band -> bucket
    join -> exact-Jaccard verify -> cluster to canonical keeper.

    ``exact_first`` collapses exact-identical texts to one
    representative per group BEFORE shingling (scan-speed hash-groupBy)
    and expands the membership back into the final clustering. This is
    semantically exact — identical texts have Jaccard 1, so the
    unguarded pipeline would put them in one cluster anyway, and the
    keeper (min doc_id per component) is unchanged because each
    representative is already its exact group's min id — and it removes
    the #1 cause of hot LSH buckets (web boilerplate repeated verbatim
    1e5+ times) before any banding happens. ``max_bucket_size`` then
    guards the residual near-identical buckets (see
    ``lsh_candidate_pairs``)."""
    if exact_first:
        ex = exact_dedup(df, text_col, id_col)
        reps = (ex.filter(~F.col("is_duplicate"))
                .select(id_col, text_col))
        members = ex.select(F.col(id_col).alias("_member_id"),
                            F.col("keeper_id").alias("_rep_id"))
    else:
        reps = df.select(id_col, text_col)
        members = None

    sh = shingle_df(reps, text_col, id_col, k).cache()
    sig = minhash_signatures(sh, num_hashes)
    cand = lsh_candidate_pairs(sig, bands, max_bucket_size=max_bucket_size)
    dup_pairs = verify_jaccard(cand, sh, threshold)
    clusters = cluster_pairs(dup_pairs,
                             reps.select(F.col(id_col).alias("doc_id")))
    if members is None:
        return clusters
    return (members
            .join(clusters.withColumnRenamed("doc_id", "_rep_id"), "_rep_id")
            .select(F.col("_member_id").alias("doc_id"), "keeper_id"))


def cluster_pairs(pairs: DataFrame, all_ids: DataFrame,
                  max_iter: int = 10) -> DataFrame:
    """(doc_id, keeper_id): connected components by min-id propagation
    over the duplicate-pair graph with POINTER JUMPING — each round
    first pulls the min label over graph neighbors, then compresses
    label(u) <- label(label(u)), so convergence is O(log diameter)
    rounds, not O(diameter). Every round ends in ``localCheckpoint``:
    the plan depth stays constant across iterations and no cached
    frames leak. Convergence detection is folded into the round itself:
    a ``_moved`` flag (new label != old label) is computed inside the
    same plan the checkpoint materializes — the old label is already in
    hand, so this costs no join and no extra shuffle — and the check is
    an ``isEmpty()`` early-exit scan over the just-checkpointed blocks
    (the previous implementation re-joined old and new labels and ran a
    full count: one extra shuffle + full pass per round). Warns if the
    budget is exhausted before convergence (labels are then still a
    valid partition refinement, just possibly split across multiple
    keepers)."""
    edges = (pairs.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
             .union(pairs.select(F.col("id_b").alias("u"),
                                 F.col("id_a").alias("v"))))
    labels = (all_ids.select(F.col("doc_id").alias("u"),
                             F.col("doc_id").alias("keeper_id"))
              .localCheckpoint())
    converged = False
    for _ in range(max_iter):
        neigh = (edges.join(labels.withColumnRenamed("u", "v"), "v")
                 .groupBy("u").agg(F.min("keeper_id").alias("n_min")))
        hop = (labels.join(neigh, "u", "left")
               .select("u", F.col("keeper_id").alias("_old"), F.least(
                   F.col("keeper_id"),
                   F.coalesce("n_min", F.col("keeper_id"))).alias("keeper_id")))
        # pointer jump: follow the keeper's own label one step
        ptr = hop.select(F.col("u").alias("keeper_id"),
                         F.col("keeper_id").alias("_k2"))
        jumped = (hop.join(ptr, "keeper_id", "left")
                  .select("u", "_old", F.least(
                      F.col("keeper_id"),
                      F.coalesce("_k2", F.col("keeper_id"))).alias("keeper_id"))
                  .withColumn("_moved", F.col("keeper_id") != F.col("_old"))
                  .drop("_old")
                  .localCheckpoint())
        labels = jumped
        if jumped.filter(F.col("_moved")).isEmpty():
            converged = True
            break
    if not converged:
        warnings.warn(
            f"cluster_pairs exited at max_iter={max_iter} with labels "
            "still moving; some clusters may be split across keepers",
            RuntimeWarning, stacklevel=2)
    return labels.select(F.col("u").alias("doc_id"), "keeper_id")


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

def simhash_signatures(shingles_df: DataFrame) -> DataFrame:
    """64-bit SimHash from the shingle hash set (weight 1 per shingle)."""
    schema = T.StructType([
        T.StructField("doc_id", shingles_df.schema["doc_id"].dataType, False),
        T.StructField("simhash", T.LongType(), False),
    ])

    def fn(batches):
        for pdf in batches:
            out = np.empty(len(pdf), dtype=np.int64)
            for i, sh in enumerate(pdf["shingles"]):
                x = np.asarray(sh, dtype=np.uint64)
                bits = ((x[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                        & np.uint64(1)).astype(np.int32)
                score = bits.sum(axis=0) * 2 - len(x)  # (+1/-1 votes)
                sig = np.uint64(0)
                for j in np.nonzero(score > 0)[0]:
                    sig |= np.uint64(1) << np.uint64(j)
                out[i] = np.int64(sig.astype(np.int64))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "simhash": out})

    return shingles_df.mapInPandas(fn, schema)


def simhash_near_dups(sim_df: DataFrame, max_hamming: int = 3,
                      max_bucket_size: int | None = 2000) -> DataFrame:
    """Pigeonhole banding: split 64 bits into max_hamming+1 chunks; any
    pair within the distance budget shares at least one exact chunk.
    Bucket self-join + exact hamming verify (bit_count of xor).

    ``max_bucket_size`` is the same hot-bucket guard as
    ``lsh_candidate_pairs``: clique among the cap smallest doc_ids per
    (chunk, chunk_val) bucket, star-to-bucket-min for the overflow
    (exact-duplicate floods share the full simhash, so star pairs
    verify at hamming 0 and connectivity is preserved exactly)."""
    from pyspark.sql import Window

    chunks = max_hamming + 1
    width = 64 // chunks
    banded = sim_df.select(
        "doc_id", "simhash",
        F.posexplode(F.array(*[
            F.shiftrightunsigned(F.col("simhash"), i * width)
             .bitwiseAND(F.lit((1 << width) - 1))
            for i in range(chunks)])).alias("chunk", "chunk_val"))
    if max_bucket_size is not None:
        bucket = Window.partitionBy("chunk", "chunk_val")
        ordered = bucket.orderBy("doc_id")
        banded = (banded
                  .withColumn("_rk", F.row_number().over(ordered))
                  .withColumn("_b0", F.min("doc_id").over(bucket))
                  .withColumn("_b0_sh", F.first("simhash").over(ordered)))
        head = banded.filter(F.col("_rk") <= max_bucket_size)
    else:
        head = banded
    x = head.alias("x")
    y = head.alias("y")
    cand = (x.join(y, (F.col("x.chunk") == F.col("y.chunk"))
                   & (F.col("x.chunk_val") == F.col("y.chunk_val"))
                   & (F.col("x.doc_id") < F.col("y.doc_id")))
            .select(F.col("x.doc_id").alias("id_a"),
                    F.col("y.doc_id").alias("id_b"),
                    F.col("x.simhash").alias("sh_a"),
                    F.col("y.simhash").alias("sh_b")))
    if max_bucket_size is not None:
        star = (banded.filter(F.col("_rk") > max_bucket_size)
                .select(F.col("_b0").alias("id_a"),
                        F.col("doc_id").alias("id_b"),
                        F.col("_b0_sh").alias("sh_a"),
                        F.col("simhash").alias("sh_b")))
        cand = cand.union(star)
    cand = cand.distinct()
    ham = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (cand.withColumn("hamming", ham)
            .filter(F.col("hamming") <= max_hamming)
            .select("id_a", "id_b", "hamming"))


# ---------------------------------------------------------------------------
# embedding near-dup (cosine)
# ---------------------------------------------------------------------------

def norm_col(vec: str) -> F.Column:
    return F.sqrt(F.aggregate(F.transform(vec, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def dot_col(a: str | F.Column, b: str | F.Column) -> F.Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def plane_sigs_udf(planes: np.ndarray):
    """Random-hyperplane signatures as ONE Arrow-batched pandas UDF:
    ``planes`` is (n_tables, n_planes, dim) and ships in the closure
    (per-plane ``F.lit`` arrays would put n_planes * dim literal nodes
    in the plan); returns array<long> — one bucket per hash table (bit
    i = sign of plane i), all tables computed in a single (batch, dim)
    @ (dim, n_tables*n_planes) matmul. Multi-table OR-amplification is
    the standard LSH recall knob: P(candidate) = 1 - (1 - p^r)^L,
    traded against L× bucket rows on the corpus side."""
    n_tables, n_planes, dim = planes.shape
    flat = np.ascontiguousarray(
        planes.astype(np.float64).reshape(n_tables * n_planes, dim).T)
    weights = (np.uint64(1) << np.arange(n_planes, dtype=np.uint64))

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def sigs(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype=object)
        m = np.stack(vec.to_numpy()).astype(np.float64)
        bits = (m @ flat).reshape(len(vec), n_tables, n_planes) > 0
        out = (bits.astype(np.uint64) * weights[None, None, :]).sum(axis=2)
        return pd.Series(list(out.astype(np.int64)))

    return sigs


def embedding_near_dups(emb_df: DataFrame, id_col: str = "vec_id",
                        vec_col: str = "embedding",
                        threshold: float = 0.95,
                        n_planes: int = 8, n_tables: int = 8,
                        seed: int = 7) -> DataFrame:
    """Random-hyperplane LSH near-dup: candidates = pairs sharing a
    bucket in ANY of ``n_tables`` independent tables (OR-amplified —
    at cosine 0.95 a single 16-plane table only catches ~18% of pairs;
    8 tables x 8 planes catch ~99%), then exact-cosine verify. Shuffle
    keys are (table, bucket) — never all-pairs."""
    first = emb_df.select(F.size(vec_col).alias("d")).first()
    dim = first["d"]
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, n_planes, dim))

    sigs = plane_sigs_udf(planes)
    hashed = (emb_df
              .withColumn("_norm", norm_col(vec_col))
              .select(id_col, vec_col, "_norm",
                      F.posexplode(sigs(F.col(vec_col)))
                      .alias("_table", "_bucket")))
    x = hashed.alias("x")
    y = hashed.alias("y")
    cand = (x.join(y, (F.col("x._table") == F.col("y._table"))
                   & (F.col("x._bucket") == F.col("y._bucket"))
                   & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")))
            .select(F.col(f"x.{id_col}").alias("id_a"),
                    F.col(f"y.{id_col}").alias("id_b"),
                    F.col(f"x.{vec_col}").alias("_va"),
                    F.col(f"y.{vec_col}").alias("_vb"),
                    F.col("x._norm").alias("_na"),
                    F.col("y._norm").alias("_nb"))
            .dropDuplicates(["id_a", "id_b"]))
    cos = dot_col("_va", "_vb") / (F.col("_na") * F.col("_nb"))
    return (cand.withColumn("cosine", cos)
            .filter(F.col("cosine") >= threshold)
            .select("id_a", "id_b", "cosine"))


# ---------------------------------------------------------------------------
# exact n-gram Jaccard similarity join (prefix filtering, no LSH)
# ---------------------------------------------------------------------------

def ngram_tokens(df: DataFrame, text_col: str = "text",
                 id_col: str = "doc_id", n: int = 2) -> DataFrame:
    """(doc_id, toks: array<string>, sz) — DISTINCT lowercase word
    n-grams per doc, entirely with JVM built-ins (split / transform /
    slice; no Python in the row path). Docs with fewer than ``n``
    words produce no row (their n-gram set is empty, so they cannot
    clear any positive Jaccard threshold)."""
    words = F.filter(F.split(F.lower(F.col(text_col)), r"[^0-9a-z]+"),
                     lambda w: w != F.lit(""))
    out = df.select(F.col(id_col).alias("doc_id"), words.alias("_w"))
    if n == 1:
        grams = F.col("_w")
    else:
        # sequence(1, 0) would be DESCENDING in Spark, so guard the
        # shorter-than-n case explicitly with an empty array
        grams = F.when(
            F.size("_w") >= n,
            F.expr(f"transform(sequence(1, size(_w) - {n - 1}), "
                   f"i -> concat_ws(' ', slice(_w, i, {n})))")
        ).otherwise(F.array().cast("array<string>"))
    return (out.select("doc_id", F.array_distinct(grams).alias("toks"))
            .withColumn("sz", F.size("toks"))
            .filter(F.col("sz") > 0))


def jaccard_ngram_join(df: DataFrame, text_col: str = "text",
                       id_col: str = "doc_id", threshold: float = 0.8,
                       n: int = 2) -> DataFrame:
    """EXACT all-pairs n-gram Jaccard similarity self-join at a
    threshold, via prefix filtering (the SSJoin / PPJoin family:
    Chaudhuri et al. ICDE'06, Xiao et al. WWW'08 — published work).
    Complements the MinHash path (dedup.py:213): MinHash is
    probabilistic with banding recall; this is exact, with NO
    all-pairs stage — the only quadratic-risk key is a shared PREFIX
    token, and prefixes hold each doc's globally RAREST tokens.

    Plan shape (all JVM built-ins, zero Python row path):
      1. token frequency: explode + groupBy(tok)       [shuffle: tok]
      2. canonical rare-first ordering per doc:
         join(tok freq) + groupBy(doc) + array_sort    [shuffle: doc]
      3. prefix explode: first sz - ceil(t*sz) + 1 ordered tokens;
         pigeonhole: two docs with Jaccard >= t MUST share a prefix
         token under any shared total order
      4. candidate pairs: self-join on prefix token with the
         symmetric length filter least_sz >= ceil(t * greatest_sz)
                                                       [shuffle: tok]
      5. exact verify: array_intersect on full distinct-token arrays
                                                       [shuffle: doc]

    At web scale the inverted index in (4) is bounded by rarity: a
    token lands in a doc's prefix only while it is among that doc's
    least-frequent tokens, so boilerplate floods (hot tokens) are
    excluded from prefixes by construction — the hot-bucket cap the
    LSH path needs (lsh_candidate_pairs) has no analogue here. The
    one true degenerate case, millions of EXACT copies (identical
    rare prefixes), is removed upstream by exact_dedup, same as for
    MinHash (``exact_first``).

    Returns (id_a, id_b, jaccard) with id_a < id_b, jaccard >= t.
    """
    toks = ngram_tokens(df, text_col, id_col, n=n)
    freq = (toks.select(F.explode("toks").alias("tok"))
            .groupBy("tok").agg(F.count("*").alias("cnt")))
    ordered = (toks.select("doc_id", "sz", F.explode("toks").alias("tok"))
               .join(freq, "tok")
               .groupBy("doc_id", "sz")
               .agg(F.array_sort(F.collect_list(F.struct("cnt", "tok")))
                    .alias("_st"))
               .select("doc_id", "sz",
                       F.expr("transform(_st, x -> x.tok)").alias("toks")))
    plen = (F.col("sz") - F.ceil(F.col("sz") * F.lit(threshold)) + 1) \
        .cast("int")
    prefix = ordered.select(
        "doc_id", "sz",
        F.posexplode(F.slice("toks", F.lit(1), plen)).alias("pos", "tok"))
    a, b = prefix.alias("a"), prefix.alias("b")
    t = F.lit(threshold)
    # PPJoin position filter (Xiao et al. WWW'08): with 0-based token
    # positions pa/pb in the rare-first order, the overlap of the two
    # full token sets is at most min(sz_a - pa, sz_b - pb); jaccard >=
    # t needs overlap >= ceil(t/(1+t) * (sz_a + sz_b)). The FIRST
    # common token of any qualifying pair sits in both prefixes and
    # passes this bound, so pruning instances that fail it is exact
    # (1e-9 slack: never over-prune on float rounding of the ceil).
    alpha = F.ceil((F.col("a.sz") + F.col("b.sz"))
                   * F.lit(threshold / (1.0 + threshold)) - F.lit(1e-9))
    cand = (a.join(b, (F.col("a.tok") == F.col("b.tok"))
                   & (F.col("a.doc_id") < F.col("b.doc_id"))
                   & (F.least("a.sz", "b.sz")
                      >= F.ceil(F.greatest("a.sz", "b.sz") * t))
                   & (F.least(F.col("a.sz") - F.col("a.pos"),
                              F.col("b.sz") - F.col("b.pos")) >= alpha))
            .select(F.col("a.doc_id").alias("id_a"),
                    F.col("b.doc_id").alias("id_b"))
            .distinct())
    fa = ordered.select(F.col("doc_id").alias("id_a"),
                        F.col("toks").alias("_ta"), F.col("sz").alias("_sa"))
    fb = ordered.select(F.col("doc_id").alias("id_b"),
                        F.col("toks").alias("_tb"), F.col("sz").alias("_sb"))
    j = (cand.join(fa, "id_a").join(fb, "id_b")
         .withColumn("inter", F.size(F.array_intersect("_ta", "_tb")))
         .withColumn("jaccard",
                     F.col("inter")
                     / (F.col("_sa") + F.col("_sb") - F.col("inter"))))
    return (j.filter(F.col("jaccard") >= t)
            .select("id_a", "id_b", "jaccard"))

"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: the exactness baseline. Query set broadcast;
  dot products are JVM-side higher-order functions (zip_with +
  aggregate) inside whole-stage codegen — the fact table is scanned
  once, nothing but (query_id, vec_id, sim) is shuffled for the top-k.
- LSH-bucketed (random hyperplanes): sign-bit sketch restricts
  candidates to colliding buckets — the scale path when k·|queries|
  over the full corpus is too hot.
- IVF: coarse quantizer (hash-seeded centroids refined by one Lloyd
  step) with nprobe-bucket search.
"""

from __future__ import annotations

import math
import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


# Measured bridge-vs-math threshold (same analysis as ops/dedup.py's
# minhash impl note): an Arrow pandas UDF pays two serialization round
# trips per batch and earns them back only when the per-row linear
# algebra is BLAS-shaped. Below ~4k FMAs/row (e.g. 8 centroids × 64
# dims = 512) the JVM whole-stage-codegen fold wins — round 2 measured
# ann_ivf at 11.2s on Arrow vs ~5s on the Column fold, while ann_lsh
# (8 tables × 8 planes × 64 dims = 4096) got 5× FASTER on Arrow.
ARROW_MIN_OPS = 4096


def use_arrow_impl(n_rows_mat: int, dim: int) -> bool:
    """True when a per-row matmul of n_rows_mat×dim FMAs is big enough
    to amortize the Arrow bridge. Shared by the engine AND the golden
    oracles (jsi_spark.oracles) so the bucketing/assignment arithmetic
    — numpy GEMM vs sequential fold, which differ in final-ulp
    association — can never drift between the two."""
    return n_rows_mat * dim >= ARROW_MIN_OPS


def _resolve_impl(impl: str, n_rows_mat: int, dim: int) -> str:
    if impl == "auto":
        return "arrow" if use_arrow_impl(n_rows_mat, dim) else "column"
    return impl


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(emb: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> DataFrame:
    """(query_id, vec_id, rank, sim): exact top-k cosine neighbors of
    each query vector (self excluded). ``queries`` is (query_id, qvec);
    broadcast — the corpus is never shuffled, only the k winners per
    query leave each partition (window over a re-partition by query_id
    is the final, tiny shuffle)."""
    crossed = emb.crossJoin(F.broadcast(queries))
    sim = cosine(F.col(vec_col), F.col("qvec"))
    scored = (crossed
              .filter(F.col(id_col) != F.col("query_id"))
              .select("query_id", F.col(id_col).alias("vec_id"),
                      F.round(sim, 6).alias("sim")))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"),
                                               F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "rank", "sim"))


def make_queries(emb: DataFrame, query_ids: list[int],
                 id_col: str = "vec_id",
                 vec_col: str = "embedding") -> DataFrame:
    return (emb.filter(F.col(id_col).isin(query_ids))
            .select(F.col(id_col).alias("query_id"),
                    F.col(vec_col).alias("qvec")))


# -- random-hyperplane LSH -------------------------------------------------------

def hyperplanes(dim: int, n_planes: int = 12, seed: int = 99) -> list:
    rng = random.Random(seed)
    return [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]


def lsh_tables(dim: int, n_planes: int = 8, n_tables: int = 8,
               seed: int = 99) -> list:
    """L independent sign-LSH tables. One table of b bits has collision
    probability (1-θ/π)^b — too sparse for decent recall; the union over
    L tables gives 1-(1-p^b)^L, the standard recall knob."""
    rng = random.Random(seed)
    return [[[rng.gauss(0, 1) for _ in range(dim)]
             for _ in range(n_planes)] for _ in range(n_tables)]


def _lit_matrix(rows: list) -> Column:
    """Driver-side constant matrix as a literal array<array<double>>
    column. NOTE: on classic PySpark 4.x ``F.lit(list)`` expands
    recursively to ``array(*[lit(x) ...])`` — i.e. the same unrolled
    expression tree as building it by hand — so this helper is about
    one construction point (and Connect compatibility, where lit of a
    list IS a single Literal message), not a measured RPC saving; the
    round-3 ann_ivf speedup came from the sample-trained quantizer and
    the single JVM-only assignment pass, not from this."""
    return F.lit([[float(x) for x in row] for row in rows])


def lsh_bucket(vec: Column, planes: list) -> Column:
    """Sign-bit bucket id from fixed (driver-side literal) hyperplanes:
    a sequential fold acc*2 + signbit over the plane matrix."""
    mat = _lit_matrix(planes)
    return F.aggregate(
        F.sequence(F.lit(1), F.lit(len(planes))),
        F.lit(0).cast("long"),
        lambda acc, j: acc * 2
        + (dot(vec, F.element_at(mat, j)) >= 0).cast("long"))


def lsh_buckets_arrow(tables: list):
    """Arrow-batched bucketing: ONE numpy matmul per batch computes all
    L×b plane dots (vs 4096 interpreted HOF multiply-adds per row on
    the Column path) — the vectorized-pandas-UDF fast path for the
    dense linear algebra Spark's HOFs evaluate interpretively. Returns
    a pandas_udf: array<double> vec → array<long> of L bucket ids."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    planes = np.asarray(tables, dtype=np.float64)        # (L, b, dim)
    n_tables, n_planes, _ = planes.shape
    flat = planes.reshape(n_tables * n_planes, -1)
    pows = (1 << np.arange(n_planes - 1, -1, -1)).astype(np.int64)

    def _buckets(v):
        mat = np.stack(v.to_numpy())                     # (n, dim)
        bits = (mat @ flat.T >= 0.0).astype(np.int64)
        ids = bits.reshape(len(v), n_tables, n_planes) @ pows
        return pd.Series(list(ids))

    # real class annotations (this module stringifies hints via
    # `from __future__ import annotations`, which pandas_udf rejects)
    _buckets.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return pandas_udf(_buckets, "array<bigint>")


def lsh_topk(emb: DataFrame, queries: DataFrame, planes: list,
             k: int = 10, id_col: str = "vec_id",
             vec_col: str = "embedding",
             impl: str = "auto") -> DataFrame:
    """Approximate top-k: candidates = union of the query's buckets
    over L LSH tables (``planes`` is either one table — list of plane
    vectors — or a list of tables from ``lsh_tables``). Candidate ids
    are deduped *before* vectors are joined back, so the corpus is
    never duplicated ×L through the explode; only (id, table, bucket)
    longs shuffle. Same output shape as brute_force_topk.

    ``impl="auto"`` (default) picks per ``use_arrow_impl``: numpy
    matmul per Arrow batch when the plane matrix is big enough to
    amortize the bridge, else the pure-JVM Column fold (bit-identical
    buckets up to GEMM-vs-sequential float summation — signs flip only
    for |dot| at rounding scale)."""
    tables = [planes] if isinstance(planes[0][0], (int, float)) else planes
    impl = _resolve_impl(impl, len(tables) * len(tables[0]),
                         len(tables[0][0]))
    if impl == "arrow":
        bucket_udf = lsh_buckets_arrow(tables)
        buckets = lambda v: bucket_udf(v)                # noqa: E731
    else:
        buckets = lambda v: F.array(*[lsh_bucket(v, t)   # noqa: E731
                                      for t in tables])
    eb = (emb.select(F.col(id_col).alias("vec_id"),
                     F.posexplode(buckets(F.col(vec_col)))
                     .alias("_tbl", "_bucket")))
    qb = (queries.select("query_id",
                         F.posexplode(buckets(F.col("qvec")))
                         .alias("_tbl", "_bucket")))
    cand = (eb.join(F.broadcast(qb), ["_tbl", "_bucket"])
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id").distinct())
    scored = (cand
              .join(emb.select(F.col(id_col).alias("vec_id"), vec_col),
                    "vec_id")
              .join(F.broadcast(queries), "query_id"))
    sim = cosine(F.col(vec_col), F.col("qvec"))
    scored = scored.select("query_id", "vec_id",
                           F.round(sim, 6).alias("sim"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"),
                                               F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "rank", "sim"))


def cosine_pairs_arrow():
    """Arrow-batched pair cosine: array<double> a, b → double.
    Per-row products reduce with numpy's pairwise summation over the
    fixed vector length, so the result is independent of batch
    composition — the numpy golden mirrors the identical (a*b).sum()
    reduction (vs the JVM HOF fold, which is a sequential sum; the two
    differ in final-ulp association, so engine and oracle must pick the
    SAME one)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _cos(va, vb):
        A = np.stack(va.to_numpy())
        B = np.stack(vb.to_numpy())
        num = (A * B).sum(axis=1)
        den = np.sqrt((A * A).sum(axis=1)) * np.sqrt((B * B).sum(axis=1))
        return pd.Series(num / den)

    _cos.__annotations__ = {"va": pd.Series, "vb": pd.Series,
                            "return": pd.Series}
    return pandas_udf(_cos, "double")


def near_dup_planes(n_vecs: int) -> int:
    """Sign-LSH plane count targeting ~32 vectors per bucket
    (2^planes ≈ n/32): keeps the within-bucket pair space linear-ish as
    the corpus grows; add tables to recover recall. Shared by the Spark
    query surface and the numpy golden oracle so both block identically.
    """
    import math
    return max(4, math.ceil(math.log2(max(n_vecs / 32.0, 2.0))))


def lsh_bucket_assignments(emb: DataFrame, tables: list,
                           id_col: str = "vec_id",
                           vec_col: str = "embedding",
                           impl: str = "auto") -> DataFrame:
    """(_id, _tbl, _bucket) sign-LSH assignments over L tables — the
    longs-only projection the near-dup self-join runs on, persisted via
    ops.dedup's session cache (callers release with
    ``jsi_spark.ops.dedup.release_caches()``). Public so scale tooling
    can census bucket sizes with the exact production bucketing."""
    from jsi_spark.ops.dedup import _persist

    impl = _resolve_impl(impl, len(tables) * len(tables[0]),
                         len(tables[0][0]))
    if impl == "arrow":
        bucket_udf = lsh_buckets_arrow(tables)
        buckets = lambda v: bucket_udf(v)                # noqa: E731
    else:
        buckets = lambda v: F.array(*[lsh_bucket(v, t)   # noqa: E731
                                      for t in tables])
    return _persist(emb.select(
        F.col(id_col).alias("_id"),
        F.posexplode(buckets(F.col(vec_col))).alias("_tbl", "_bucket")))


def embedding_near_duplicates(emb: DataFrame, planes: list,
                              threshold: float = 0.4,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              max_bucket_size: int | None = 1000,
                              impl: str = "auto") -> DataFrame:
    """Embedding-cosine near-duplicate PAIRS (id_a, id_b, sim): sign-LSH
    blocking + exact cosine verify — the all-pairs analog of
    ``lsh_topk`` (reference has no ANN; op required by the training-
    data-pipeline brief: "embedding-cosine near-dup").

    Scale shape mirrors MinHash LSH (ops/dedup.lsh_candidate_pairs):
    only (id, table, bucket) longs shuffle to form candidates — the
    vector column never rides the self-join; candidates are deduped
    across tables BEFORE vectors re-join by id for the exact verify.
    ``max_bucket_size`` drops degenerate buckets (a bucket of B vectors
    contributes B²/2 pairs — one hot bucket, e.g. the all-zeros region,
    otherwise goes quadratic). Choose n_planes so 2^n_planes ≫ expected
    corpus/bucket: more planes = finer buckets = fewer candidates but
    lower recall per table; compensate with more tables.

    The exploded (id, table, bucket) projection is persisted (it feeds
    both the bucket-size census and the self-join) via ops.dedup's
    session cache — callers that run many queries in one session should
    call ``jsi_spark.ops.dedup.release_caches()`` after collecting
    (tests/test_plans.py does; the frame is (long,int,long)
    rows, ~20 B/vector/table, recompute-safe if evicted).
    """
    tables = [planes] if isinstance(planes[0][0], (int, float)) else planes
    impl = _resolve_impl(impl, len(tables) * len(tables[0]),
                         len(tables[0][0]))
    eb = lsh_bucket_assignments(emb, tables, id_col, vec_col, impl)
    if max_bucket_size is not None:
        ok = (eb.groupBy("_tbl", "_bucket")
              .agg(F.count(F.lit(1)).alias("_n"))
              .filter(F.col("_n") <= max_bucket_size)
              .drop("_n"))
        eb = eb.join(ok, ["_tbl", "_bucket"])
    a, b = eb.alias("a"), eb.alias("b")
    cand = (a.join(b, (F.col("a._tbl") == F.col("b._tbl"))
                   & (F.col("a._bucket") == F.col("b._bucket"))
                   & (F.col("a._id") < F.col("b._id")))
            .select(F.col("a._id").alias("id_a"),
                    F.col("b._id").alias("id_b"))
            .distinct())
    if impl == "arrow":
        va = emb.select(F.col(id_col).alias("id_a"),
                        F.col(vec_col).alias("_va"))
        vb = emb.select(F.col(id_col).alias("id_b"),
                        F.col(vec_col).alias("_vb"))
        sim = cosine_pairs_arrow()(F.col("_va"), F.col("_vb"))
    else:
        # hoist the norms into the per-vector (broadcast build side)
        # projections: dot/(na*nb) is bit-identical to cosine() but
        # each norm fold runs once per VECTOR, not once per PAIR — the
        # per-pair work drops from 3 HOF folds to 1
        va = emb.select(F.col(id_col).alias("id_a"),
                        F.col(vec_col).alias("_va"),
                        norm(F.col(vec_col)).alias("_na"))
        vb = emb.select(F.col(id_col).alias("id_b"),
                        F.col(vec_col).alias("_vb"),
                        norm(F.col(vec_col)).alias("_nb"))
        sim = dot(F.col("_va"), F.col("_vb")) / (F.col("_na")
                                                 * F.col("_nb"))
    return (cand.join(va, "id_a").join(vb, "id_b")
            .select("id_a", "id_b", F.round(sim, 6).alias("sim"))
            .filter(F.col("sim") >= threshold))


# -- IVF ----------------------------------------------------------------------------

def _assign(vec_col: str, centroids: list, impl: str) -> Column:
    if impl == "arrow":
        return nearest_centroid_arrow(centroids)(F.col(vec_col))
    return _nearest_centroid(F.col(vec_col), centroids)


def train_quantizer(sample: list, n_centroids: int) -> list:
    """Deterministic coarse-quantizer training over an in-memory sample
    of (id, vector) rows: hash-ordered seeds + one Lloyd refinement
    step, all numpy. Shared VERBATIM by the engine (``ivf_centroids``)
    and the golden oracle (jsi_spark.oracles.ann_ivf_rows) so the float
    association of the trained centroids can never drift between them.

    Rules (order-independent given the same row set):
    - rows are sorted by (xxhash64(id) % 997, id); seeds are the first
      ``n_centroids`` vectors (same rule as rounds 1-2, which sorted
      corpus-side).
    - one Lloyd step: assign every sample vector to its nearest seed by
      cosine (numpy GEMM, argmax keeps the FIRST max), then replace
      each seed with the numpy mean of its members (empty cell keeps
      its seed).
    """
    import numpy as np

    from jsi_spark.functions.xxh64 import xxhash64

    rows = sorted(sample, key=lambda r: (xxhash64(("long", r[0])) % 997,
                                         r[0]))
    cents = [list(v) for _, v in rows[:n_centroids]]
    mat = np.asarray([v for _, v in rows], dtype=np.float64)
    cmat = np.asarray(cents, dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    cell = np.argmax((mat @ cmat.T) / norms, axis=1)
    refined = list(cents)
    for c in range(len(cents)):
        members = mat[cell == c]
        if len(members):
            refined[c] = [float(x) for x in members.mean(axis=0)]
    return refined


def ivf_centroids(emb: DataFrame, n_centroids: int = 16,
                  vec_col: str = "embedding",
                  id_col: str = "vec_id",
                  train_cap: int = 4096, impl: str = "auto") -> list:
    """Coarse quantizer trained on a bounded deterministic sample: the
    ``train_cap`` corpus rows with the smallest (xxhash64(id), id) —
    ONE TakeOrdered pass (map-side per-partition top-K, tiny shuffle,
    partition-layout-independent) — then driver-side numpy seeds + one
    Lloyd step (``train_quantizer``). This is the textbook IVF build:
    at 10^12 rows the quantizer trains on a sample, never the corpus —
    the round-2 design ran TWO full-corpus passes (seed TakeOrdered +
    a 64-wide Lloyd mean aggregate) and its per-query codegen alone
    cost ~4 s. The search pass in ``ivf_topk`` is the only remaining
    full-corpus scan. When the corpus is smaller than ``train_cap``
    (all test/bench scales) the sample IS the corpus, so results are
    independent of the cap."""
    return train_quantizer(train_sample(emb, id_col, vec_col, train_cap),
                           n_centroids)


def train_sample(emb: DataFrame, id_col: str = "vec_id",
                 vec_col: str = "embedding",
                 train_cap: int = 4096) -> list:
    """The bounded deterministic training sample as (id, vector) rows:
    the ``train_cap`` corpus rows with the smallest (xxhash64(id), id),
    ONE TakeOrdered pass. Collect it once and feed BOTH
    ``train_quantizer`` and ``train_pq`` when building a combined
    IVF-PQ index — two trainings, one corpus job."""
    rows = (emb.withColumn("_h", F.xxhash64(id_col))
            .orderBy("_h", id_col).limit(train_cap)
            .select(id_col, vec_col).collect())
    return [(r[0], list(r[1])) for r in rows]


def nearest_centroid_arrow(centroids: list):
    """Arrow-batched cell assignment: one numpy matmul per batch scores
    every centroid (argmax keeps the FIRST max, matching the Column
    fold's strict-> update). Same rationale as lsh_buckets_arrow."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cmat = np.asarray(centroids, dtype=np.float64)       # (k, dim)

    def _nearest(v):
        mat = np.stack(v.to_numpy())
        sims = (mat @ cmat.T) / np.linalg.norm(mat, axis=1,
                                               keepdims=True)
        return pd.Series(np.argmax(sims, axis=1).astype("int32"))

    _nearest.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return pandas_udf(_nearest, "int")


def _nearest_centroid(vec: Column, centroids: list) -> Column:
    """argmax cosine over a literal centroid matrix via one fold with a
    struct(best_idx, best_sim) accumulator (flat codegen size)."""
    mat = _lit_matrix(centroids)
    init = F.struct(F.lit(0).cast("int").alias("i"),
                    F.lit(-1e30).alias("s"))
    folded = F.aggregate(
        F.sequence(F.lit(1), F.lit(len(centroids))),
        init,
        lambda acc, j: F.when(
            dot(vec, F.element_at(mat, j)) / norm(vec) > acc["s"],
            F.struct((j - 1).cast("int").alias("i"),
                     (dot(vec, F.element_at(mat, j)) / norm(vec))
                     .alias("s"))
        ).otherwise(acc))
    return folded["i"]


def ivf_topk(emb: DataFrame, queries: DataFrame, centroids: list,
             k: int = 10, nprobe: int = 4, id_col: str = "vec_id",
             vec_col: str = "embedding", impl: str = "auto") -> DataFrame:
    """IVF search: score only vectors in the nprobe closest centroid
    cells of each query. ``impl="auto"`` picks per ``use_arrow_impl``
    — for small coarse quantizers (n_centroids × dim below ~4k FMAs,
    the common case) cell assignment stays a pure-JVM codegen fold with
    ZERO Python in the plan; the Arrow matmul path engages only when
    the centroid matrix is big enough to amortize the bridge."""
    impl = _resolve_impl(impl, len(centroids), len(centroids[0]))
    cells = emb.withColumn("_c", _assign(vec_col, centroids, impl))
    qrows = queries.collect()
    probe = []
    for q in qrows:
        sims = []
        qv = list(q["qvec"])
        qn = math.sqrt(sum(x * x for x in qv)) or 1.0
        for i, c in enumerate(centroids):
            cn = math.sqrt(sum(x * x for x in c)) or 1.0
            sims.append((sum(a * b for a, b in zip(qv, c)) / (qn * cn), i))
        for _, i in sorted(sims, reverse=True)[:nprobe]:
            probe.append((q["query_id"], i))
    spark = emb.sparkSession
    if not probe:
        # F.inline(F.array()) cannot infer an element type; an empty
        # query set means an empty (typed) result by definition
        return (emb.select(F.lit(0).cast("long").alias("query_id"),
                           F.col(id_col).alias("vec_id"),
                           F.lit(0).alias("rank"),
                           F.lit(0.0).alias("sim"))
                .limit(0))
    # literal inline() frame, not createDataFrame: a Python-list frame
    # scans an ExistingRDD (an extra Python-backed stage per job that
    # costs ~2 s of the broadcast build); a literal array of structs
    # folds to a JVM LocalRelation — the probe list is nprobe×|queries|
    # rows, driver-side by construction
    probe_df = spark.range(1).select(F.inline(F.array(*[
        F.struct(F.lit(int(qid)).cast("long").alias("query_id"),
                 F.lit(int(c)).cast("int").alias("_c"))
        for qid, c in probe])))
    cand = (cells.join(F.broadcast(
        probe_df.join(queries, "query_id")), "_c"))
    sim = cosine(F.col(vec_col), F.col("qvec"))
    scored = (cand.filter(F.col(id_col) != F.col("query_id"))
              .select("query_id", F.col(id_col).alias("vec_id"),
                      F.round(sim, 6).alias("sim")))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"),
                                               F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "rank", "sim"))


# -- SemDeDup -----------------------------------------------------------------------

def semantic_n_centroids(n_vecs: int, target_cell: int = 250) -> int:
    """Corpus-scaled k for semantic_dedup (SemDeDup trains ~corpus/N
    clusters): expected cell size stays ~``target_cell`` as the corpus
    grows, keeping the within-cell pair space LINEAR in the corpus —
    with a fixed k, cells grow with the corpus and the self-join goes
    quadratic (tools/scale_stress.py measured 21x time at 10x corpus
    with k frozen at 8, vs flat pairs/vector under this rule). Same
    role as ``near_dup_planes`` for the sign-LSH blocker."""
    return max(8, n_vecs // target_cell)


def semantic_cell_assignments(emb: DataFrame, centroids: list,
                              id_col: str = "vec_id",
                              vec_col: str = "embedding",
                              impl: str = "auto") -> DataFrame:
    """(_id, cell) k-means cell assignments — the longs-only projection
    semantic_dedup self-joins on, persisted via ops.dedup's session
    cache (callers release with ``jsi_spark.ops.dedup
    .release_caches()``). Public so scale tooling can census cell sizes
    with the exact production assignment (same role as
    ``lsh_bucket_assignments``)."""
    from jsi_spark.ops.dedup import _persist

    impl = _resolve_impl(impl, len(centroids), len(centroids[0]))
    return _persist(emb.select(
        F.col(id_col).alias("_id"),
        _assign(vec_col, centroids, impl).alias("cell")))


def _py_round6(x: float) -> float:
    """Python mirror of Spark ROUND(d, 6): BigDecimal.valueOf →
    Decimal(repr(x)), HALF_UP (np.round is HALF_EVEN — different)."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"),
                                           ROUND_HALF_UP))


def cell_dup_rows(ids_arr, mat, cell: int, threshold: float) -> list:
    """numpy kernel for ONE cell, shared VERBATIM by the grouped
    engine path (``semantic_dedup(strategy="grouped")`` runs it per
    Arrow group) and the golden oracle: rows must be sorted by id;
    one GEMM scores all pairs, exact HALF_UP rounding is applied only
    to pairs passing a 1e-6-slack pre-filter (rounding 250k floats in
    Python would dominate; the slack can only ADD candidates, and the
    exact rounded comparison then decides). Returns
    (vec_id, cell, dup_of, sim) drop rows."""
    import numpy as np

    norms = np.sqrt((mat * mat).sum(axis=1))
    norms[norms == 0.0] = 1.0
    sims = (mat @ mat.T) / np.outer(norms, norms)
    pre = threshold - 1e-6
    rows = []
    for j in range(1, len(ids_arr)):
        for i in np.nonzero(sims[:j, j] >= pre)[0]:
            s6 = _py_round6(float(sims[i, j]))
            if s6 >= threshold:
                rows.append((int(ids_arr[j]), cell, int(ids_arr[i]), s6))
                break
    return rows


def semantic_dedup(emb: DataFrame, centroids: list,
                   threshold: float = 0.35,
                   id_col: str = "vec_id", vec_col: str = "embedding",
                   max_cell_size: int | None = None,
                   impl: str = "auto",
                   strategy: str = "pairs") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public):
    semantic deduplication via k-means cells + within-cell exact
    cosine. Returns the DROP LIST ``(vec_id, cell, dup_of, sim)``: a
    vector is dropped iff some LOWER-id vector in its cell has rounded
    cosine >= threshold; ``dup_of`` is the smallest such partner and
    ``sim`` its similarity. Keep-set = corpus minus these rows. The
    any-lower-id rule is the parallel single-join variant of the
    paper's keep-one-per-duplicate-group — deterministic and
    partition-order-independent (pinned in tests).

    Scale shape: cell assignment is ONE corpus pass sharing IVF's
    kernel dispatch (JVM Column fold below ARROW_MIN_OPS, Arrow GEMM
    above); the within-cell self-join shuffles ONLY (id, cell) longs —
    vectors re-join by id for the exact verify, exactly like
    ``embedding_near_duplicates``. At 10^12 docs n_centroids scales
    with the corpus (SemDeDup uses ~corpus/1e4 clusters) so expected
    cell size is bounded; ``max_cell_size`` defuses degenerate cells
    the same way the LSH bucket cap does (a cell of B vectors is
    B^2/2 candidate pairs). Quantizer training stays sample-bounded
    via ``ivf_centroids``.
    """
    ids = semantic_cell_assignments(emb, centroids, id_col, vec_col,
                                    impl)
    impl = _resolve_impl(impl, len(centroids), len(centroids[0]))
    if max_cell_size is not None:
        ok = (ids.groupBy("cell").agg(F.count(F.lit(1)).alias("_n"))
              .filter(F.col("_n") <= max_cell_size).drop("_n"))
        ids = ids.join(ok, "cell")
    if strategy == "grouped":
        # production SemDeDup shape: ship each cell's vectors to ONE
        # Arrow group and score all its pairs with a single numpy GEMM
        # (cell_dup_rows, shared verbatim with the golden oracle) —
        # per-pair work collapses from an interpreted fold to BLAS.
        # The shuffle carries each vector ONCE (cells are disjoint),
        # bounded per task by max_cell_size; the pre-shuffle cap
        # filter above keeps degenerate cells from ever shipping.
        import numpy as np
        import pandas as pd

        thr = float(threshold)

        def _find(key, pdf):
            pdf = pdf.sort_values("_id")
            mat = np.stack(pdf["_v"].to_numpy()).astype(np.float64)
            rows = cell_dup_rows(pdf["_id"].to_numpy(), mat,
                                 int(key[0]), thr)
            return pd.DataFrame(rows, columns=["vec_id", "cell",
                                               "dup_of", "sim"])

        joined = (emb.select(F.col(id_col).alias("_id"),
                             F.col(vec_col).alias("_v"))
                  .join(ids, "_id"))
        out = (joined.groupBy("cell")
               .applyInPandas(_find, "vec_id long, cell int, "
                                     "dup_of long, sim double"))
        if id_col != "vec_id":
            out = out.withColumnRenamed("vec_id", id_col)
        return out
    a, b = ids.alias("a"), ids.alias("b")
    cand = (a.join(b, (F.col("a.cell") == F.col("b.cell"))
                   & (F.col("a._id") < F.col("b._id")))
            .select(F.col("a._id").alias("id_a"),
                    F.col("b._id").alias("id_b"),
                    F.col("a.cell").alias("cell")))
    if impl == "arrow":
        va = emb.select(F.col(id_col).alias("id_a"),
                        F.col(vec_col).alias("_va"))
        vb = emb.select(F.col(id_col).alias("id_b"),
                        F.col(vec_col).alias("_vb"))
        sim = cosine_pairs_arrow()(F.col("_va"), F.col("_vb"))
    else:
        # norms hoisted to the per-vector projections (bit-identical
        # to cosine(); 1 HOF fold per pair instead of 3 — see the same
        # hoist in embedding_near_duplicates)
        va = emb.select(F.col(id_col).alias("id_a"),
                        F.col(vec_col).alias("_va"),
                        norm(F.col(vec_col)).alias("_na"))
        vb = emb.select(F.col(id_col).alias("id_b"),
                        F.col(vec_col).alias("_vb"),
                        norm(F.col(vec_col)).alias("_nb"))
        sim = dot(F.col("_va"), F.col("_vb")) / (F.col("_na")
                                                 * F.col("_nb"))
    pairs = (cand.join(va, "id_a").join(vb, "id_b")
             .select("id_b", "cell", "id_a", F.round(sim, 6).alias("sim"))
             .filter(F.col("sim") >= threshold))
    return (pairs.groupBy("id_b", "cell")
            .agg(F.min(F.struct("id_a", "sim")).alias("_m"))
            .select(F.col("id_b").alias(id_col), "cell",
                    F.col("_m.id_a").alias("dup_of"),
                    F.col("_m.sim").alias("sim")))


# -- Product quantization (PQ) ------------------------------------------------------

def train_pq(sample: list, m: int = 8, n_codes: int = 16) -> list:
    """Deterministic PQ codebook training (Jegou et al., "Product
    Quantization for Nearest Neighbor Search", TPAMI 2011 — public)
    over an in-memory sample of (id, vector) rows: the vector is split
    into ``m`` contiguous subvectors; per subspace, hash-ordered seeds
    + one Lloyd step under L2 (assign by squared distance, argmin
    keeps the FIRST min; empty cell keeps its seed) — the same
    training recipe as ``train_quantizer`` with L2 in place of cosine.
    Returns codebooks[m][n_codes][dim/m]. Shared VERBATIM by the
    engine (``pq_codebooks``) and the golden oracle
    (jsi_spark.oracles.ann_pq_rows) so codebook float association can
    never drift between them."""
    import numpy as np

    from jsi_spark.functions.xxh64 import xxhash64

    rows = sorted(sample, key=lambda r: (xxhash64(("long", r[0])) % 997,
                                         r[0]))
    dim = len(rows[0][1])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    mat = np.asarray([v for _, v in rows], dtype=np.float64)
    books = []
    for s in range(m):
        sub = mat[:, s * d_sub:(s + 1) * d_sub]
        seeds = sub[:n_codes].copy()
        d2 = ((sub[:, None, :] - seeds[None, :, :]) ** 2).sum(axis=2)
        cell = np.argmin(d2, axis=1)
        book = [list(map(float, seeds[c])) for c in range(len(seeds))]
        for c in range(len(seeds)):
            members = sub[cell == c]
            if len(members):
                book[c] = [float(x) for x in members.mean(axis=0)]
        books.append(book)
    return books


def pq_codebooks(emb: DataFrame, m: int = 8, n_codes: int = 16,
                 vec_col: str = "embedding", id_col: str = "vec_id",
                 train_cap: int = 4096) -> list:
    """PQ codebooks trained on the same bounded deterministic sample
    rule as ``ivf_centroids`` (TakeOrdered by (xxhash64(id), id) —
    at 10^12 rows the trainer sees the sample, never the corpus)."""
    return train_pq(train_sample(emb, id_col, vec_col, train_cap),
                    m, n_codes)


def _l2sq(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
                       F.lit(0.0), lambda acc, x: acc + x)


def _nearest_code(sub: Column, book: list) -> Column:
    """argmin L2^2 over a literal sub-codebook via one fold with a
    struct(best_idx, best_d2) accumulator (same shape as
    ``_nearest_centroid``; strict < update = first min wins)."""
    mat = _lit_matrix(book)
    init = F.struct(F.lit(0).cast("int").alias("i"),
                    F.lit(1e30).alias("d"))
    folded = F.aggregate(
        F.sequence(F.lit(1), F.lit(len(book))),
        init,
        lambda acc, j: F.when(
            _l2sq(sub, F.element_at(mat, j)) < acc["d"],
            F.struct((j - 1).cast("int").alias("i"),
                     _l2sq(sub, F.element_at(mat, j)).alias("d"))
        ).otherwise(acc))
    return folded["i"]


def pq_encode_arrow(codebooks: list):
    """Arrow-batched PQ encoding: per batch, one numpy distance matrix
    per subspace (argmin keeps the FIRST min, matching the Column
    fold's strict < update)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    bmats = [np.asarray(b, dtype=np.float64) for b in codebooks]
    d_sub = bmats[0].shape[1]

    def _enc(v):
        mat = np.stack(v.to_numpy())
        out = np.empty((len(mat), len(bmats)), dtype="int32")
        for s, bm in enumerate(bmats):
            sub = mat[:, s * d_sub:(s + 1) * d_sub]
            d2 = ((sub[:, None, :] - bm[None, :, :]) ** 2).sum(axis=2)
            out[:, s] = np.argmin(d2, axis=1)
        return pd.Series(list(out))

    _enc.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return pandas_udf(_enc, "array<int>")


def pq_encode(emb: DataFrame, codebooks: list, id_col: str = "vec_id",
              vec_col: str = "embedding", impl: str = "auto") -> DataFrame:
    """ONE corpus pass: (vec_id, codes array<int> of length m) — the
    compressed representation ADC search scans. This is the 100 TB
    memory story: 64-dim float32 vectors are 256 B/row; m=8 byte codes
    are 8 B/row — the scan that serves approximate top-k shrinks 32x
    and never touches the raw vector column again. impl dispatch =
    ``use_arrow_impl(m * n_codes, dim/m)`` (total FMAs/row), same
    bridge-amortization rule as IVF assignment."""
    m, n_codes = len(codebooks), len(codebooks[0])
    d_sub = len(codebooks[0][0])
    impl = _resolve_impl(impl, m * n_codes, d_sub)
    if impl == "arrow":
        codes = pq_encode_arrow(codebooks)(F.col(vec_col))
    else:
        codes = F.array(*[
            _nearest_code(F.slice(F.col(vec_col), s * d_sub + 1, d_sub),
                          codebooks[s])
            for s in range(m)])
    return emb.select(F.col(id_col).alias("vec_id"),
                      codes.alias("codes"))


def pq_luts(qvec: list, codebooks: list) -> list:
    """ADC lookup tables for one query: luts[s][c] = L2^2 between the
    query's s-th subvector and code c (driver-side numpy float64).
    Shared VERBATIM by engine (``pq_topk``) and golden oracle so the
    literal LUT floats are identical in both plans."""
    import numpy as np

    d_sub = len(codebooks[0][0])
    q = np.asarray(qvec, dtype=np.float64)
    out = []
    for s, book in enumerate(codebooks):
        sub = q[s * d_sub:(s + 1) * d_sub]
        bm = np.asarray(book, dtype=np.float64)
        out.append([float(x) for x in ((bm - sub) ** 2).sum(axis=1)])
    return out


# above this many LUT doubles, a literal inline() frame costs more in
# Catalyst plan size (every double is an unrolled Literal node) than
# one Python-backed LocalRelation scan; below it, the literal avoids
# the extra stage entirely (see the ivf_topk probe-frame note, where
# the frame is nprobe x |queries| ints). Measured at sf0.1 (warm,
# min-of-3): 2,560 doubles — literal 2.05 s vs createDataFrame 1.13 s;
# 7,680 — 4.46 vs 1.12; 50 queries x 16x256 literals took 96 s of pure
# planning. The unroll cost is superlinear, so the literal only wins
# for probe-sized frames.
LUT_LITERAL_MAX = 512


def _lut_df(spark, rows: list) -> DataFrame:
    """Broadcast LUT frame (query_id, _lut) — literal inline() when the
    total double count stays plan-friendly, else createDataFrame."""
    n_lits = sum(len(lut) * len(lut[0]) for _, lut in rows)
    if n_lits <= LUT_LITERAL_MAX:
        return spark.range(1).select(F.inline(F.array(*[
            F.struct(F.lit(qid).cast("long").alias("query_id"),
                     _lit_matrix(lut).alias("_lut"))
            for qid, lut in rows])))
    return spark.createDataFrame(rows,
                                 "query_id long, _lut array<array<double>>")


def pq_topk(emb: DataFrame, queries: DataFrame, codebooks: list,
            k: int = 10, id_col: str = "vec_id",
            vec_col: str = "embedding", impl: str = "auto") -> DataFrame:
    """PQ/ADC search → (query_id, vec_id, rank, adist): encode the
    corpus once (``pq_encode``), then score every (query, code-row)
    pair as a sum of m LUT lookups — a pure-JVM fold over literal
    arrays, no per-row distance math at all (asymmetric distance
    computation). Queries are collected driver-side (bounded, as in
    ``ivf_topk``) and ship as a broadcast LocalRelation of literal
    LUTs. Ranking is by ROUNDED adist asc then vec_id — deterministic
    and oracle-comparable. At 10^12 rows this is the scan-the-codes
    path (8 B/row); compose with ``ivf_centroids``/cell assignment to
    probe a subset first (IVF-PQ) when even the code scan is too hot."""
    m = len(codebooks)
    enc = pq_encode(emb, codebooks, id_col, vec_col, impl)
    qrows = queries.collect()
    spark = emb.sparkSession
    if not qrows:
        return (enc.select(F.lit(0).cast("long").alias("query_id"),
                           F.col("vec_id"),
                           F.lit(0).alias("rank"),
                           F.lit(0.0).alias("adist"))
                .limit(0))
    lut_df = _lut_df(spark, [
        (int(q["query_id"]), pq_luts(list(q["qvec"]), codebooks))
        for q in qrows])
    crossed = enc.crossJoin(F.broadcast(lut_df))
    adist = F.aggregate(
        F.sequence(F.lit(1), F.lit(m)), F.lit(0.0),
        lambda acc, s: acc + F.element_at(
            F.element_at("_lut", s), F.element_at("codes", s) + 1))
    scored = (crossed.filter(F.col("vec_id") != F.col("query_id"))
              .select("query_id", "vec_id",
                      F.round(adist, 6).alias("adist")))
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"),
                                               F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "rank", "adist"))


def assign_cells_np(mat, centroids):
    """numpy coarse-cell assignment — argmax of dot/norm over the
    centroid matrix, the same float math as nearest_centroid_arrow.
    Shared VERBATIM by the residual trainer (train_pq_residual), the
    IVFADC index kernel (ivf_pq_index_arrow) and the golden oracle."""
    import numpy as np

    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0.0] = 1.0
    cmat = np.asarray(centroids, dtype=np.float64)
    return np.argmax((mat @ cmat.T) / norms, axis=1)


def train_pq_residual(sample: list, centroids: list, m: int = 8,
                      n_codes: int = 64) -> list:
    """IVFADC codebooks (Jegou et al. TPAMI 2011 §V): PQ is trained on
    the RESIDUALS (vector minus its coarse centroid) of the bounded
    sample — residuals have far less energy than raw vectors, so the
    same code budget quantizes them much more finely. Deterministic;
    shared verbatim with the golden oracle."""
    import numpy as np

    mat = np.asarray([v for _, v in sample], dtype=np.float64)
    cmat = np.asarray(centroids, dtype=np.float64)
    resid = mat - cmat[assign_cells_np(mat, centroids)]
    return train_pq([(i, [float(x) for x in r])
                     for (i, _), r in zip(sample, resid)], m, n_codes)


def ivf_pq_index_arrow(centroids: list, codebooks: list):
    """Arrow-batched IVFADC index kernel: vec → (cell, residual PQ
    codes) in ONE pass — cell via assign_cells_np, then per-subspace
    argmin over the residual (argmin keeps the FIRST min). The golden
    oracle runs the same numpy on the same float64 inputs."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    cmat = np.asarray(centroids, dtype=np.float64)
    bmats = [np.asarray(b, dtype=np.float64) for b in codebooks]
    d_sub = bmats[0].shape[1]

    def _enc(v):
        mat = np.stack(v.to_numpy()).astype(np.float64)
        cells = assign_cells_np(mat, cmat)
        resid = mat - cmat[cells]
        codes = np.empty((len(mat), len(bmats)), dtype="int32")
        for s, bm in enumerate(bmats):
            sub = resid[:, s * d_sub:(s + 1) * d_sub]
            d2 = ((sub[:, None, :] - bm[None, :, :]) ** 2).sum(axis=2)
            codes[:, s] = np.argmin(d2, axis=1)
        return pd.DataFrame({"cell": cells.astype("int32"),
                             "codes": list(codes)})

    _enc.__annotations__ = {"v": pd.Series, "return": pd.DataFrame}
    return pandas_udf(_enc, "cell int, codes array<int>")


def ivf_pq_topk(emb: DataFrame, queries: DataFrame, centroids: list,
                codebooks: list, k: int = 10, nprobe: int = 4,
                id_col: str = "vec_id", vec_col: str = "embedding",
                impl: str = "auto", residual: bool = True) -> DataFrame:
    """IVF-PQ / IVFADC (Jegou et al. TPAMI 2011 §V): ONE corpus pass
    builds the index — coarse cell AND m PQ codes per vector — then
    each query ADC-scans only its ``nprobe`` probed cells. This is the
    production 10^12-vector layout: the index is (cell, codes) at
    ~8 B/vector, the raw vector column is never read at search time,
    and the scan fraction is nprobe/n_centroids of an already-32x-
    compressed table. Probe cells and LUTs ship as a broadcast frame
    (literal LocalRelation when plan-friendly, createDataFrame above
    LUT_LITERAL_MAX doubles — no driver-side corpus actions either
    way). Ranking by ROUNDED adist asc then vec_id, self excluded —
    oracle-comparable.

    ``residual=True`` (the paper's IVFADC): codes quantize the
    RESIDUAL vec − centroid[cell] (train the books with
    ``train_pq_residual``), and each query gets a LUT PER PROBED CELL
    from q − centroid[cell] — residuals carry far less energy than
    raw vectors, so the same code budget ranks much more accurately
    (tools/ann_recall.py quantifies it). The index kernel is the
    Arrow numpy pass (cell + residual codes in one batch);
    ``residual=False`` keeps the raw-vector codes shared with
    ``pq_encode`` and its kernel dispatch."""
    m = len(codebooks)
    d_sub = len(codebooks[0][0])
    if residual:
        enc = ivf_pq_index_arrow(centroids, codebooks)(F.col(vec_col))
        index = (emb.select(F.col(id_col).alias("vec_id"),
                            enc.alias("_e"))
                 .select("vec_id", F.col("_e.cell").alias("_c"),
                         F.col("_e.codes").alias("codes")))
    else:
        cell_impl = _resolve_impl(impl, len(centroids),
                                  len(centroids[0]))
        enc_impl = _resolve_impl(impl, m * len(codebooks[0]), d_sub)
        if enc_impl == "arrow":
            codes = pq_encode_arrow(codebooks)(F.col(vec_col))
        else:
            codes = F.array(*[
                _nearest_code(F.slice(F.col(vec_col), s * d_sub + 1,
                                      d_sub), codebooks[s])
                for s in range(m)])
        index = emb.select(
            F.col(id_col).alias("vec_id"),
            _assign(vec_col, centroids, cell_impl).alias("_c"),
            codes.alias("codes"))
    qrows = queries.collect()
    spark = emb.sparkSession
    if not qrows:
        return (index.select(F.lit(0).cast("long").alias("query_id"),
                             F.col("vec_id"), F.lit(0).alias("rank"),
                             F.lit(0.0).alias("adist")).limit(0))
    probe_luts = []
    for q in qrows:
        qv = list(q["qvec"])
        qn = math.sqrt(sum(x * x for x in qv)) or 1.0
        sims = []
        for i, c in enumerate(centroids):
            cn = math.sqrt(sum(x * x for x in c)) or 1.0
            sims.append((sum(a * b for a, b in zip(qv, c)) / (qn * cn), i))
        raw_lut = None if residual else pq_luts(qv, codebooks)
        for _, i in sorted(sims, reverse=True)[:nprobe]:
            lut = (pq_luts([a - b for a, b in zip(qv, centroids[i])],
                           codebooks) if residual else raw_lut)
            probe_luts.append((int(q["query_id"]), int(i), lut))
    n_lits = len(probe_luts) * m * len(codebooks[0])
    if n_lits <= LUT_LITERAL_MAX:
        pl_df = spark.range(1).select(F.inline(F.array(*[
            F.struct(F.lit(qid).cast("long").alias("query_id"),
                     F.lit(c).cast("int").alias("_c"),
                     _lit_matrix(lut).alias("_lut"))
            for qid, c, lut in probe_luts])))
    else:
        pl_df = spark.createDataFrame(
            probe_luts,
            "query_id long, _c int, _lut array<array<double>>")
    cand = index.join(F.broadcast(pl_df), "_c")
    adist = F.aggregate(
        F.sequence(F.lit(1), F.lit(m)), F.lit(0.0),
        lambda acc, s: acc + F.element_at(
            F.element_at("_lut", s), F.element_at("codes", s) + 1))
    scored = (cand.filter(F.col("vec_id") != F.col("query_id"))
              .select("query_id", "vec_id",
                      F.round(adist, 6).alias("adist")))
    w = Window.partitionBy("query_id").orderBy(F.asc("adist"),
                                               F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "rank", "adist"))

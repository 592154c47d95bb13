"""Similarity search over an embedding column (array<float>).

Baseline: brute-force cosine top-k — exact, native column expressions
(zip_with dot product inside whole-stage codegen), query side broadcast.
Scale path: random-hyperplane LSH bucketing (signature is a per-row
projection; probing joins only the query's bucket ring instead of the
full corpus — at 10^12 vectors brute force is a non-starter).

Numeric determinism: similarities are emitted as integer micro-units
(round(sim*1e6)) so driver-side value hashing is exact; ordering ties
break on vec_id.
"""

from __future__ import annotations

import math

import pandas as pd  # module-level: pandas_udf resolves string hints
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame, Window

# ------------------------------------------------------------- cosine


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _as_double(c: Column) -> Column:
    # float32 storage → double math, identical everywhere
    return F.transform(c, lambda x: x.cast("double"))


# brute_force_topk collects its query side: hard-cap it so an
# oversized query set is an explicit error, not a driver OOM.
# 100k queries × 1k dims × 8 B ≈ 0.8 GB — the top of the sane range.
MAX_BRUTE_QUERIES = 100_000


def brute_force_topk(base: DataFrame, queries: DataFrame, k: int = 10,
                     id_col: str = "vec_id", vec_col: str = "embedding"
                     ) -> DataFrame:
    """Exact cosine top-k per query vector.

    The query set is small by contract (ANN queries): it is collected
    once (O(|queries|·dim) driver memory — the same envelope as the
    broadcast it replaces) and shipped in the UDF closure; each Arrow
    batch of the base scan then scores ALL queries with one float64
    ``(batch × dim) @ (dim × nq)`` matmul. This replaces the previous
    ``aggregate(zip_with(...))`` expression chain, which Spark
    evaluates INTERPRETED (no codegen for higher-order-function
    lambdas — the same finding that motivated
    :func:`lsh_signatures_udf`); as the exact-verify building block
    this is the hot inner loop of any large re-rank. Micro-unit
    rounding (HALF_UP, matching Spark's ``F.round``) keeps the output
    hash-identical to the HOF/DuckDB oracle twin.

    The scan stays shuffle-free up to the per-query top-k window
    (posexplode → k·nq rows per partition max after AQE's partial
    window sort). Output: (query_id, vec_id, sim_micro, rank).
    """
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    from tika_spark.analysis.spread import spread_for_decode

    qrows = queries.select(id_col, vec_col) \
        .limit(MAX_BRUTE_QUERIES + 1).collect()
    if len(qrows) > MAX_BRUTE_QUERIES:
        raise ValueError(
            f"brute_force_topk: query side exceeds MAX_BRUTE_QUERIES="
            f"{MAX_BRUTE_QUERIES} rows; it is collected to the driver "
            "and shipped in the UDF closure, so a large query set "
            "means a driver OOM, not a slow job. Shard the queries "
            "(e.g. df.randomSplit) or use an ANN operator "
            "(lsh_topk/ivf_topk/ivfpq_topk) for big query sets.")
    qids = [r[0] for r in qrows]
    qm = np.array([np.asarray(r[1], dtype=np.float64) for r in qrows],
                  dtype=np.float64).T              # dim × nq
    qn = np.sqrt((qm * qm).sum(axis=0))            # nq

    @pandas_udf(ArrayType(LongType()))
    def sims(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype=object)
        m = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        dots = m @ qm                              # batch × nq
        bn = np.sqrt((m * m).sum(axis=1))          # batch
        with np.errstate(divide="ignore", invalid="ignore"):
            x = (dots / np.outer(bn, qn)) * 1e6
        # HALF_UP like Spark's round(): away from zero on ties
        micro = np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5))
        out = []
        for row, xrow in zip(micro, x):
            out.append([int(v) if np.isfinite(xv) else None
                        for v, xv in zip(row, xrow)])
        return pd.Series(out)

    qid_arr = F.array(*[F.lit(q) for q in qids])
    b = spread_for_decode(base).select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(sims(F.col(vec_col))).alias("qidx", "sim_micro"))
    scored = b.select(
        F.element_at(qid_arr, F.col("qidx") + 1).alias("query_id"),
        "vec_id", "sim_micro")
    w = Window.partitionBy("query_id").orderBy(F.desc("sim_micro"),
                                               F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def pair_cosine_micro(a: Column, b: Column) -> Column:
    """Row-wise exact cosine in integer micro-units, Arrow-batched.

    Spark evaluates higher-order-function lambdas INTERPRETED (no
    codegen), so the ``aggregate(zip_with(...))`` form of
    :func:`cosine` is the slow path on every candidate-scoring loop —
    LSH/IVF bucket scans and the retrieve-then-rerank shortlists are
    the hot inner loops at 10^9+ vectors. This UDF scores a whole
    Arrow batch of (vec, vec) rows with vectorized numpy ops and the
    same HALF_UP micro-unit rounding as ``F.round(sim * 1e6)``; the
    HOF form stays as the SQL-expressible oracle twin
    (:func:`cosine_pairs`)."""
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def f(xs: pd.Series, ys: pd.Series) -> pd.Series:
        if not len(xs):
            return pd.Series([], dtype="object")
        mx = np.array([np.asarray(v, dtype=np.float64) for v in xs])
        my = np.array([np.asarray(v, dtype=np.float64) for v in ys])
        dots = (mx * my).sum(axis=1)
        nx = np.sqrt((mx * mx).sum(axis=1))
        ny = np.sqrt((my * my).sum(axis=1))
        with np.errstate(divide="ignore", invalid="ignore"):
            x = dots / (nx * ny) * 1e6
        micro = np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5))
        return pd.Series(
            [int(v) if np.isfinite(xv) else None
             for v, xv in zip(micro, x)], dtype="object")

    return f(a, b)


def cosine_pairs(df: DataFrame, threshold: float = 0.4,
                 id_col: str = "vec_id", vec_col: str = "embedding"
                 ) -> DataFrame:
    """All pairs with cosine >= threshold (embedding near-dup dedup).

    All-pairs form — oracle/small-block use; at scale run it per LSH
    bucket (see :func:`lsh_signature`) exactly like minhash_lsh_pairs.
    """
    v = df.select(F.col(id_col).alias("id"),
                  _as_double(F.col(vec_col)).alias("v"))
    a, b = v.alias("a"), v.alias("b")
    sim = cosine(F.col("a.v"), F.col("b.v"))
    return (a.join(b, F.col("a.id") < F.col("b.id"))
             .select(F.col("a.id").alias("id_a"),
                     F.col("b.id").alias("id_b"),
                     F.round(sim * 1_000_000).cast("long")
                     .alias("sim_micro"))
             .filter(F.col("sim_micro") >= int(threshold * 1_000_000)))


# ------------------------------------------------------ hyperplane LSH


def _hyperplanes(dim: int, n_planes: int, seed: int = 7):
    """Deterministic pseudo-random unit hyperplanes (pure-python LCG —
    no numpy RNG so the plan is reproducible from source alone)."""
    state = seed * 6364136223846793005 % (1 << 63)
    planes = []
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005
                     + 1442695040888963407) % (1 << 63)
            # map to (-1, 1) deterministic uniform
            row.append((state / float(1 << 63)) * 2.0 - 1.0)
        n = math.sqrt(sum(x * x for x in row)) or 1.0
        planes.append([x / n for x in row])
    return planes


def lsh_signature(vec: Column, dim: int, n_planes: int = 16,
                  seed: int = 7) -> Column:
    """n_planes-bit sign signature: bit i = (vec . plane_i) > 0.
    Native fold per plane — per-row projection, no shuffle, no UDF.

    NOTE: at more than a handful of planes the unrolled expression tree
    makes Catalyst analysis/codegen the dominant cost (measured ~5 s of
    plan time for 8 planes regardless of row count); the batch path
    ``lsh_signatures_udf`` below computes all tables' signatures with
    one numpy matmul per Arrow batch and is what :func:`lsh_topk` uses.
    """
    v = _as_double(vec)
    sig = F.lit(0).cast("long")
    for i, plane in enumerate(_hyperplanes(dim, n_planes, seed)):
        p = F.array(*[F.lit(x) for x in plane])
        sig = sig + F.when(dot(v, p) > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return sig


def lsh_signatures_udf(dim: int, n_planes: int, n_tables: int,
                       base_seed: int = 7):
    """Pandas UDF: all ``n_tables`` sign signatures per row via one
    (batch x dim) @ (dim x tables*planes) float64 matmul — identical
    math to :func:`lsh_signature` (same hyperplanes, same > 0 test),
    but constant plan size and Arrow-vectorized execution."""
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import ArrayType, LongType

    planes = np.array(
        [p for t in range(n_tables)
         for p in _hyperplanes(dim, n_planes, base_seed + 13 * t)],
        dtype=np.float64).T  # dim x (tables*planes)
    weights = (1 << np.arange(n_planes, dtype=np.int64))

    @pandas_udf(ArrayType(LongType()))
    def sigs(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype=object)
        m = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        bits = (m @ planes) > 0          # batch x (tables*planes)
        bits = bits.reshape(len(m), n_tables, n_planes)
        out = (bits * weights).sum(axis=2)  # batch x tables
        return pd.Series(list(out))

    return sigs


def lsh_topk(base: DataFrame, queries: DataFrame, dim: int, k: int = 10,
             n_planes: int = 8, probe_bits: int = 1, n_tables: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding"
             ) -> DataFrame:
    """Approximate top-k: exact cosine restricted to vectors that share
    an LSH bucket with the query in at least one of ``n_tables``
    independent hash tables (the classic L-table construction), each
    probed with a ``probe_bits`` multiprobe bit-flip ring. The join is
    an equi-join on (table, bucket) → shuffle bounded by bucket sizes,
    never |base| x |queries|.

    Recall ≈ 1-(1-p^n_planes)^(L·(1+probes)) — raise n_tables for
    recall, n_planes for selectivity. Candidate pool per query is
    ≈ n_tables·(1+n_planes)·|base|/2^n_planes; keep that ≳ 10·k
    (defaults suit 10^3-10^5 vectors; 10^9-scale corpora want 16-20
    planes, more tables, and the same equi-join shape).
    """
    sigs = lsh_signatures_udf(dim, n_planes, n_tables)
    b = (base.select(F.col(id_col).alias("vec_id"),
                     _as_double(F.col(vec_col)).alias("bv"),
                     F.posexplode(sigs(F.col(vec_col)))
                     .alias("table", "bucket")))
    q = (queries.select(F.col(id_col).alias("query_id"),
                        _as_double(F.col(vec_col)).alias("qv"),
                        F.posexplode(sigs(F.col(vec_col)))
                        .alias("table", "qsig")))
    flips = [F.col("qsig").bitwiseXOR(F.lit(1 << i))
             for i in range(n_planes)]
    probes = ([F.col("qsig")] + flips) if probe_bits >= 1 \
        else [F.col("qsig")]
    q = q.select("query_id", "qv", "table",
                 F.explode(F.array(*probes)).alias("bucket"))
    cand = (b.join(F.broadcast(q), ["table", "bucket"])
             .select("query_id", "vec_id", "qv", "bv")
             .dropDuplicates(["query_id", "vec_id"]))
    scored = cand.select("query_id", "vec_id",
                         pair_cosine_micro(F.col("qv"), F.col("bv"))
                         .alias("sim_micro"))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim_micro"),
                                               F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


# ---------------------------------------------------------------- IVF


def ivf_index(base: DataFrame, nlist: int = 16,
              id_col: str = "vec_id", vec_col: str = "embedding"):
    """Coarse quantizer: KMeans centroids + per-vector cluster
    assignment (the FAISS-IVF structure in DataFrame form).

    Returns (assigned_df with a ``cluster`` column, centers list).
    Train once, persist ``assigned`` partitioned by cluster — then each
    query touches nprobe/nlist of the corpus. Centroids are tiny and
    ride the closure/broadcast.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feat = base.withColumn(
        "__v", array_to_vector(_as_double(F.col(vec_col))))
    model = KMeans(k=nlist, seed=7, featuresCol="__v",
                   predictionCol="cluster").fit(feat)
    assigned = model.transform(feat).drop("__v")
    return assigned, [list(map(float, c)) for c in model.clusterCenters()]


def _coarse_probes(queries: DataFrame, centers: list, nprobe: int,
                   id_col: str = "vec_id", vec_col: str = "embedding"
                   ) -> DataFrame:
    """(query_id, cluster) rows: each query's ``nprobe`` nearest
    centroids by squared L2 (the KMeans metric), ties on cluster id.

    One Arrow-batched matmul per query batch —
    ``d2 = |q|^2 + |c|^2 - 2 q@C^T`` over the whole centroid matrix —
    instead of the interpreted ``aggregate(zip_with(...))`` HOF over a
    query×nlist cross join. At FAISS-scale nlist (65k) the HOF form
    is the known interpreted hotspot; this form is O(batch×nlist)
    flops in BLAS and stays flat. Centroids ride the UDF closure
    (nlist×dim floats — tiny next to any executor heap)."""
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import ArrayType, IntegerType

    cm = np.asarray(centers, dtype=np.float64)        # nlist × dim
    cn2 = (cm * cm).sum(axis=1)                       # nlist

    @pandas_udf(ArrayType(IntegerType()))
    def probe(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype=object)
        q = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
        d2 = (q * q).sum(axis=1)[:, None] + cn2[None, :] \
            - 2.0 * (q @ cm.T)                        # batch × nlist
        # stable sort over d2 with clusters in index order ==
        # (d2 asc, cluster asc) tie-break
        idx = np.argsort(d2, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([row.astype(int).tolist() for row in idx])

    return (queries
            .select(F.col(id_col).alias("query_id"),
                    F.explode(probe(_as_double(F.col(vec_col))))
                    .alias("cluster")))


def ivf_topk(base: DataFrame, queries: DataFrame, k: int = 10,
             nlist: int = 16, nprobe: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding"
             ) -> DataFrame:
    """IVF approximate top-k: exact cosine restricted to the nprobe
    clusters nearest each query vector.

    Scan fraction ≈ nprobe/nlist; unlike hyperplane LSH this exploits
    the corpus geometry (learned centroids), so recall stays high even
    when neighbor cosines are weak. All joins are equi-joins on the
    cluster id (broadcast query side).
    """
    assigned, centers = ivf_index(base, nlist, id_col, vec_col)

    q = queries.select(F.col(id_col).alias("query_id"),
                       _as_double(F.col(vec_col)).alias("qv"))
    # nprobe nearest centroids per query, Arrow-matmul (see helper);
    # re-attach qv for the bucket-scan scoring below
    probes = (_coarse_probes(queries, centers, nprobe, id_col, vec_col)
              .join(q, "query_id"))

    b = assigned.select(F.col(id_col).alias("vec_id"), "cluster",
                        _as_double(F.col(vec_col)).alias("bv"))
    scored = (b.join(F.broadcast(probes), "cluster")
              .select("query_id", "vec_id",
                      pair_cosine_micro(F.col("qv"), F.col("bv"))
                      .alias("sim_micro")))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim_micro"),
                                               F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


# ------------------------------------------------- product quantization --


def pq_index(base: DataFrame, m: int = 4, ks: int = 16,
             id_col: str = "vec_id", vec_col: str = "embedding"):
    """Product quantizer (FAISS-PQ structure in DataFrame form):
    L2-normalize, split each d-dim vector into ``m`` contiguous
    subvectors, run KMeans(``ks``) per subspace, and encode every
    vector as ``m`` small codes.

    Returns ``(codes_df, codebooks)`` where ``codes_df`` carries
    ``(id, codes array<int>)`` — m bytes of index per vector instead
    of 4·d — and ``codebooks[j][c]`` is the c-th centroid of subspace
    j. At 10^9 vectors the codes table is ~m GB and the codebooks a
    few hundred KB (broadcast); the full embeddings are only touched
    by the final re-rank shortlist.

    Training is m sequential MLlib fits over column slices — index
    build is a one-off, amortized like any index. seed is fixed so
    rebuilds are reproducible.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    dim = len(base.select(vec_col).first()[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m

    norm = F.sqrt(F.aggregate(
        _as_double(F.col(vec_col)),
        F.lit(0.0), lambda acc, x: acc + x * x))
    feat = base.withColumn(
        "__n", F.transform(_as_double(F.col(vec_col)),
                           lambda x: x / norm))
    for j in range(m):
        feat = feat.withColumn(
            f"__s{j}", array_to_vector(F.slice("__n", j * sub + 1, sub)))
    models = []
    for j in range(m):
        models.append(KMeans(k=ks, seed=7 + j, featuresCol=f"__s{j}",
                             predictionCol=f"__c{j}").fit(feat))
        feat = models[j].transform(feat)
    codes = feat.select(
        F.col(id_col),
        F.array(*[F.col(f"__c{j}") for j in range(m)]).alias("codes"))
    books = [[list(map(float, c)) for c in mod.clusterCenters()]
             for mod in models]
    return codes, books


def _pq_query_tables(queries: DataFrame, books, m: int,
                     id_col: str, vec_col: str) -> DataFrame:
    """(query_id, tab) — per-query (m × ks) inner-product lookup
    table against the PQ codebooks (tiny; one broadcast join)."""
    spark = queries.sparkSession
    book_rows = [(j, c, books[j][c]) for j in range(m)
                 for c in range(len(books[j]))]
    books_df = spark.createDataFrame(
        book_rows, "j int, c int, centroid array<double>")
    qnorm = F.sqrt(F.aggregate(
        _as_double(F.col(vec_col)), F.lit(0.0),
        lambda acc, x: acc + x * x))
    q = queries.select(F.col(id_col).alias("query_id"),
                       F.transform(_as_double(F.col(vec_col)),
                                   lambda x: x / qnorm).alias("qn"))
    sub = F.slice("qn", F.col("j") * (F.size("qn") / m).cast("int")
                  + 1, (F.size("qn") / m).cast("int"))
    dot = F.aggregate(
        F.zip_with(sub, F.col("centroid"), lambda x, y: x * y),
        F.lit(0.0), lambda acc, v: acc + v)
    return (q.crossJoin(F.broadcast(books_df))
            .withColumn("d", dot)
            .groupBy("query_id", "j")
            .agg(F.array_sort(F.collect_list(F.struct("c", "d")))
                 .alias("row"))
            .groupBy("query_id")
            .agg(F.transform(
                F.array_sort(F.collect_list(F.struct("j", "row"))),
                lambda s: F.transform(s["row"], lambda e: e["d"]))
                .alias("tab")))


def _adc() -> Column:
    """Asymmetric-distance score: sum over subspaces of the query
    table entry at each code (built lazily — F.expr needs an active
    SparkContext, so this cannot be a module-level constant)."""
    return F.expr(
        "aggregate(sequence(0, size(codes) - 1), cast(0.0 as double), "
        "(acc, j) -> acc + tab[j][codes[j]])")  # [] is 0-based in SQL


def _exact_rerank(shortlist: DataFrame, base: DataFrame,
                  queries: DataFrame, k: int, id_col: str,
                  vec_col: str) -> DataFrame:
    """Exact cosine over (query_id, id) shortlist rows only — the
    wide embedding column is joined for the shortlist alone."""
    b = base.select(F.col(id_col),
                    _as_double(F.col(vec_col)).alias("bv"))
    qv = queries.select(F.col(id_col).alias("query_id"),
                        _as_double(F.col(vec_col)).alias("qv"))
    scored = (shortlist.join(b, id_col).join(F.broadcast(qv),
                                             "query_id")
              .select("query_id", F.col(id_col).alias("vec_id"),
                      pair_cosine_micro(F.col("qv"), F.col("bv"))
                      .alias("sim_micro")))
    w = Window.partitionBy("query_id").orderBy(F.desc("sim_micro"),
                                               F.asc("vec_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
                  .filter(F.col("rank") <= k))


def pq_topk(base: DataFrame, queries: DataFrame, k: int = 10,
            m: int = 4, ks: int = 16, refine: int = 4,
            id_col: str = "vec_id", vec_col: str = "embedding",
            index=None) -> DataFrame:
    """PQ approximate top-k with asymmetric distance + exact re-rank.

    Pass ``index`` = a prebuilt ``pq_index(...)`` result to amortize
    the KMeans training across query batches — without it every call
    retrains the quantizer, which dominates the query cost the ADC
    shortlist exists to avoid. The no-index default is a convenience
    for one-shot use.

    1. Per query, a (m × ks) inner-product lookup table against the
       codebooks (tiny; built with one broadcast join, collected into
       a nested array column).
    2. ADC score per base vector = sum over subspaces of
       ``tab[j][code_j]`` — an array-expression over the m-byte codes,
       never the full embedding.
    3. Shortlist of ``k·refine`` by ADC, then exact cosine re-rank on
       the shortlist only (the retrieve-then-rerank shape; the wide
       embedding column is joined for shortlist rows alone).
    """
    codes, books = index if index is not None \
        else pq_index(base, m, ks, id_col, vec_col)
    qtab = _pq_query_tables(queries, books, m, id_col, vec_col)
    shortlist = (codes.crossJoin(F.broadcast(qtab))
                 .withColumn("adc", _adc()))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc"), F.asc(id_col))
    shortlist = (shortlist.withColumn("rr", F.row_number().over(w))
                 .filter(F.col("rr") <= k * refine)
                 .select("query_id", id_col))
    return _exact_rerank(shortlist, base, queries, k, id_col, vec_col)


def ivfpq_topk(base: DataFrame, queries: DataFrame, k: int = 10,
               nlist: int = 16, nprobe: int = 4, m: int = 4,
               ks: int = 16, refine: int = 4,
               id_col: str = "vec_id", vec_col: str = "embedding",
               index=None) -> DataFrame:
    """IVF-PQ composite — the FAISS IVF+PQ retrieve-then-rerank
    architecture in DataFrame form (non-residual variant: the codes
    quantize the normalized vectors themselves, not the centroid
    residuals):

    1. coarse probe: each query scans only its ``nprobe`` nearest of
       ``nlist`` learned clusters (scan fraction ≈ nprobe/nlist),
    2. ADC: asymmetric-distance scores over the m-byte PQ codes of
       the probed clusters pick a ``k·refine`` shortlist,
    3. exact cosine re-rank touches the wide embedding column for
       shortlist rows only.

    Pass ``index`` = (ivf_index(...) result, pq_index(...) result) to
    amortize training. Scale: at 10^9+ vectors the codes table is
    ~m bytes/vector partitioned by cluster, queries/codebooks
    broadcast, and every join is an equi-join on the cluster id — the
    full embeddings shuffle only for shortlist rows.
    """
    if index is not None:
        (assigned, centers), (codes, books) = index
    else:
        assigned, centers = ivf_index(base, nlist, id_col, vec_col)
        codes, books = pq_index(base, m, ks, id_col, vec_col)

    # nprobe nearest centroids per query, Arrow-matmul (see helper)
    probes = _coarse_probes(queries, centers, nprobe, id_col, vec_col)

    coded = codes.join(
        assigned.select(F.col(id_col), "cluster"), id_col)
    qtab = _pq_query_tables(queries, books, m, id_col, vec_col)
    cand = (coded.join(F.broadcast(probes), "cluster")
            .join(F.broadcast(qtab), "query_id")
            .withColumn("adc", _adc()))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc"), F.asc(id_col))
    shortlist = (cand.withColumn("rr", F.row_number().over(w))
                 .filter(F.col("rr") <= k * refine)
                 .select("query_id", id_col))
    return _exact_rerank(shortlist, base, queries, k, id_col, vec_col)


# --------------------------------------- hard-negative mining ------


def hard_negatives(emb: DataFrame, clusters: DataFrame, k: int = 5,
                   overfetch: int | None = None,
                   id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   cluster_col: str = "cluster") -> DataFrame:
    """Mine hard negatives for contrastive embedding training: for
    each anchor, the top-``k`` most-similar vectors that are NOT in
    the anchor's duplicate/semantic cluster (``clusters`` = (id,
    cluster), e.g. from dedup_clusters or semdedup). High-similarity
    non-duplicates are exactly the negatives a contrastive loss
    learns most from (e.g. Karpukhin et al. 2020, DPR).

    Candidates come from an ``overfetch``-deep top list (default 3k
    + 1; the +1 absorbs self) so same-cluster hits can be discarded
    without emptying the pool; survivors re-rank per anchor. This
    exact form (brute-force candidates) is the oracle twin — at
    corpus scale swap the candidate stage for lsh_topk/ivfpq_topk
    with the same overfetch, the exclusion join is unchanged.

    Emits (query_id, neg_id, sim_micro, neg_rank).
    """
    nf = (overfetch if overfetch is not None else 3 * k) + 1
    cand = brute_force_topk(emb, emb, k=nf, id_col=id_col,
                            vec_col=vec_col)
    a = clusters.select(F.col(id_col).alias("query_id"),
                        F.col(cluster_col).alias("__ca"))
    b = clusters.select(F.col(id_col),
                        F.col(cluster_col).alias("__cb"))
    out = (cand.join(a, "query_id").join(b, id_col)
           .filter((F.col("query_id") != F.col(id_col))
                   & (F.col("__ca") != F.col("__cb"))))
    w = Window.partitionBy("query_id").orderBy(
        F.desc("sim_micro"), F.asc(id_col))
    return (out.withColumn("neg_rank",
                           F.row_number().over(w).cast("long"))
            .filter(F.col("neg_rank") <= k)
            .select("query_id", F.col(id_col).alias("neg_id"),
                    "sim_micro", "neg_rank"))


# ------------------------------------- random projection (JL) ------


def rp_signs(d_in: int, d_out: int, tag: str = "rp"):
    """Deterministic ±1 Rademacher matrix: sign(i,j) = parity of the
    first hex digit of md5(f"{i}:{j}:{tag}") — the same md5-parity
    idiom the fingerprint operators use, so a SQL oracle can rebuild
    every entry."""
    import hashlib

    import numpy as np
    s = np.empty((d_in, d_out), dtype=np.float64)
    for i in range(d_in):
        for j in range(d_out):
            h = hashlib.md5(f"{i}:{j}:{tag}".encode()).hexdigest()
            s[i, j] = -1.0 if int(h[0], 16) % 2 else 1.0
    return s


def random_projection(base: DataFrame, dim: int, d_out: int = 16,
                      id_col: str = "vec_id",
                      vec_col: str = "embedding",
                      tag: str = "rp") -> DataFrame:
    """Johnson-Lindenstrauss dimensionality reduction by a seeded
    Rademacher projection (Achlioptas 2003, "Database-friendly random
    projections"): ``proj = v @ S`` with S the ±1 matrix of
    :func:`rp_signs`. Distances are preserved to (1±eps) with
    d_out = O(log n / eps²) — the standard pre-shrink before ANN
    indexing when the raw dim is large.

    Emits (id, proj: array<double>), unnormalized (a constant
    1/sqrt(d_out) scale does not change neighbor order or cosine).
    Map-only: the sign matrix ships in the closure (d_in × d_out
    doubles), each Arrow batch is one matmul; no shuffle.
    """
    import numpy as np
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import ArrayType, DoubleType

    s = rp_signs(dim, d_out, tag)

    @pandas_udf(ArrayType(DoubleType()))
    def proj(vecs: pd.Series) -> pd.Series:
        if not len(vecs):
            return pd.Series([], dtype=object)
        m = np.array([np.asarray(v, dtype=np.float64)
                      for v in vecs])
        out = m @ s
        return pd.Series(list(out))

    return base.select(F.col(id_col).alias("id"),
                       proj(F.col(vec_col)).alias("proj"))


# ------------------------------------------------------------ SemDeDup


def semdedup(base: DataFrame, threshold: float = 0.6, nlist: int = 16,
             max_cluster: int = 10_000, id_col: str = "vec_id",
             vec_col: str = "embedding",
             quantizer: str = "kmeans") -> DataFrame:
    """SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning
    at web-scale through semantic deduplication"): embedding-space
    dedup that catches *semantic* duplicates exact/MinHash text dedup
    misses. Coarse-cluster the embeddings, compare pairs only within
    a cluster, and drop every vector that has an above-threshold
    cosine neighbor with a smaller id (the paper keeps one
    representative per semantic-dup group; we pick min-id for
    determinism where it uses distance-to-centroid).

    Emits (id, cluster, keep) for every vector.

    ``quantizer``: "kmeans" reuses the IVF coarse quantizer (the
    paper's choice — learned geometry, best recall); "argmax" buckets
    on the dominant embedding component — a training-free spherical
    quantizer that is fully deterministic and SQL-expressible, so the
    whole prune path is cross-engine checkable (the driver oracle
    uses it). Recall is quantizer-bounded either way: only same-
    cluster pairs are compared.

    Scale: the quadratic step is confined to clusters — cost
    sum(c_i^2) with c_i ~= n/nlist; the paper's design point is
    ~100k clusters over 10^8 docs (c ~= 1k). ``max_cluster``
    sub-shards any skewed cluster deterministically (hash(id) mod
    ceil(size/cap)) so one mega-cluster can never go quadratic —
    same trade as LSH banding: pairs across sub-shards are missed,
    boundedly, instead of the job dying. Cluster sizes are a tiny
    aggregate; the pair join is an equi-join on (cluster, shard).
    """
    if quantizer == "argmax":
        vd = _as_double(F.col(vec_col))
        v = base.select(
            F.col(id_col).alias("id"),
            F.array_position(vd, F.array_max(vd)).cast("int")
            .alias("cluster"),
            vd.alias("v"))
    else:
        assigned, _ = ivf_index(base, nlist, id_col, vec_col)
        v = assigned.select(F.col(id_col).alias("id"), "cluster",
                            _as_double(F.col(vec_col)).alias("v"))

    sizes = v.groupBy("cluster").agg(F.count("*").alias("c_size"))
    n_shards = F.greatest(
        F.lit(1), F.ceil(F.col("c_size") / max_cluster)).cast("int")
    v = (v.join(F.broadcast(sizes), "cluster")
         .withColumn("shard",
                     F.pmod(F.xxhash64("id"), n_shards).cast("int"))
         .drop("c_size"))

    a = v.select("cluster", "shard", F.col("id").alias("id_a"),
                 F.col("v").alias("va"))
    b = v.select("cluster", "shard", F.col("id").alias("id_b"),
                 F.col("v").alias("vb"))
    # Arrow-batched pair cosine: the intra-cluster pair scan IS the
    # hot quadratic loop — interpreted HOF lambdas here would cost
    # ~10x at the paper's 100k-cluster design point
    drops = (a.join(b, ["cluster", "shard"])
             .filter(F.col("id_a") < F.col("id_b"))
             .filter(pair_cosine_micro(F.col("va"), F.col("vb"))
                     >= int(threshold * 1_000_000))
             .select(F.col("id_b").alias("id")).distinct())

    return (v.select("id", "cluster")
            .join(drops.withColumn("_drop", F.lit(True)), "id", "left")
            .select("id", "cluster",
                    F.col("_drop").isNull().alias("keep")))

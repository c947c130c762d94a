"""Similarity search over an embedding column (array<float>).

- ``cosine_topk`` — brute-force exact top-k: query set × corpus with
  JVM-side ``zip_with``/``aggregate`` dot products (no Python in the
  row path).  The baseline/verification path; at scale the query side
  is small and broadcast.
- ``ivf_topk`` — IVF-style pruned search: candidates restricted to the
  query's coarse cell (here the precomputed ``label`` partition of the
  corpus; at 100 TB the cells come from a k-means pass and the probe
  visits n_probe cells).  Same scoring, ~C× less work for C cells.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def _as_double(col):
    return F.transform(col, lambda x: x.cast("double"))


def cosine(a, b) -> F.Column:
    a, b = _as_double(a), _as_double(b)
    return _dot(a, b) / F.sqrt(_dot(a, a) * _dot(b, b))


def self_dot(col) -> F.Column:
    """Σ x².  Hoist this to a per-vector column BEFORE a pairwise join:
    Spark's array higher-order functions evaluate interpreted (outside
    whole-stage codegen), so computing each row's norm once instead of
    once per PAIR removes two of the three array folds from the O(pairs)
    hot loop — same fold order, bit-identical results."""
    v = _as_double(col)
    return _dot(v, v)


def cosine_from(dot_ab: F.Column, sq_a: F.Column, sq_b: F.Column) -> F.Column:
    """cosine given the pair dot product and both hoisted self-dots —
    the same ``dot / sqrt(sq_a * sq_b)`` expression ``cosine`` builds,
    so values are bit-identical to the unhoisted form."""
    return dot_ab / F.sqrt(sq_a * sq_b)


def pair_dot(a, b) -> F.Column:
    return _dot(_as_double(a), _as_double(b))


def _scored(queries: DataFrame, corpus: DataFrame,
            on: str | None = None) -> DataFrame:
    """(query_id, q, sq, neighbor_id, e, se, sim): every pair of a query
    and a corpus vector (both ``vec_id``/``embedding`` rows), self-pairs
    dropped, scored by cosine.  The query side is broadcast and
    crossed with the corpus, or joined to it on column ``on``; each
    vector's self-dot is computed once, before the join."""
    def side(df: DataFrame, id_col: str, vec: str, sq: str) -> DataFrame:
        return df.select(F.col("vec_id").alias(id_col),
                         F.col("embedding").alias(vec),
                         *([on] if on else []),
                         self_dot(F.col("embedding")).alias(sq))
    q = F.broadcast(side(queries, "query_id", "q", "sq"))
    c = side(corpus, "neighbor_id", "e", "se")
    pairs = (q.crossJoin(c) if on is None else q.join(c, on)).where(
        F.col("query_id") != F.col("neighbor_id"))
    return pairs.withColumn("sim", cosine_from(
        pair_dot(F.col("q"), F.col("e")), F.col("sq"), F.col("se")))


def _top(scored: DataFrame, k: int) -> DataFrame:
    """``scored`` with each query's ``k`` best pairs ranked 1..k by
    descending ``sim``, ties by ``neighbor_id``."""
    w = Window.partitionBy("query_id").orderBy(F.desc("sim"), "neighbor_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k))


def _only(emb: DataFrame, query_ids: list[int] | None) -> DataFrame:
    return emb if query_ids is None else \
        emb.where(F.col("vec_id").isin(query_ids))


def cosine_topk(emb: DataFrame, k: int = 5,
                query_ids: list[int] | None = None,
                round_to: int = 3) -> DataFrame:
    """(query_id, neighbor_id, rank, sim): exact top-k cosine neighbors
    for each query vector (default: all vectors as queries)."""
    return _top(_scored(_only(emb, query_ids), emb), k).select(
        "query_id", "neighbor_id", "rank",
        F.round("sim", round_to).alias("sim"))


def ivf_topk(emb: DataFrame, k: int = 3,
             query_ids: list[int] | None = None,
             round_to: int = 3) -> DataFrame:
    """IVF-pruned top-k: only corpus vectors in the query's coarse cell
    (the ``label`` column) are scored."""
    scored = _scored(_only(emb, query_ids), emb, on="label")
    return _top(scored, k).select(
        "query_id", "neighbor_id", "rank",
        F.round("sim", round_to).alias("sim"))


# --- k-means IVF (the 100 TB scale path) ---------------------------------

def kmeans_centroids(emb: DataFrame, n_cells: int = 16,
                     max_iter: int = 5) -> list[tuple[int, list[float]]]:
    """Lloyd's k-means over the embedding column → [(cell, centroid)].

    Deterministic: initial centroids are the ``n_cells`` vectors with
    the smallest vec_id.  Each iteration is two shuffles (argmax
    assignment via broadcast centroid join + per-dimension mean via
    posexplode) — the same job shape MLlib's distributed k-means uses;
    only k×dim floats ever reach the driver."""
    spark = emb.sparkSession
    init = (emb.orderBy("vec_id").limit(n_cells)
            .select("embedding").collect())
    centroids = [(i, [float(x) for x in r.embedding])
                 for i, r in enumerate(init)]
    for _ in range(max_iter):
        cdf = spark.createDataFrame(
            centroids, "cell int, centroid array<double>")
        assigned = _assign(emb, cdf)
        new_rows = (assigned
                    .select("cell", F.posexplode(_as_double("embedding"))
                            .alias("pos", "val"))
                    .groupBy("cell", "pos").agg(F.avg("val").alias("m"))
                    .groupBy("cell")
                    .agg(F.array_sort(F.collect_list(F.struct("pos", "m")))
                         .alias("pm"))
                    .select("cell", F.col("pm.m").alias("centroid"))
                    .collect())
        new_centroids = {r.cell: [float(x) for x in r.centroid]
                         for r in new_rows}
        # empty cells keep their previous centroid
        centroids = [(c, new_centroids.get(c, v)) for c, v in centroids]
    return centroids


def _assign(emb: DataFrame, cdf: DataFrame, n_probe: int = 1,
            id_col: str = "vec_id") -> DataFrame:
    """Attach the ``n_probe`` nearest cells (by cosine to centroid) to
    each embedding row; broadcast the (tiny) centroid table."""
    scored = (emb.crossJoin(F.broadcast(cdf))
              .withColumn("__csim", cosine(F.col("embedding"),
                                           F.col("centroid"))))
    w = Window.partitionBy(id_col).orderBy(F.desc("__csim"), "cell")
    return (scored.withColumn("__r", F.row_number().over(w))
            .where(F.col("__r") <= n_probe)
            .drop("__csim", "__r", "centroid"))


def ivf_topk_kmeans(emb: DataFrame, k: int = 3, n_cells: int = 8,
                    n_probe: int = 2, max_iter: int = 3,
                    query_ids: list[int] | None = None,
                    round_to: int = 3) -> DataFrame:
    """IVF top-k with REAL k-means cells (vs ``ivf_topk``'s precomputed
    ``label`` partition): corpus vectors index into their nearest cell,
    queries probe their ``n_probe`` nearest cells, scoring joins on the
    cell key — candidates shrink ~(n_cells/n_probe)× vs brute force.
    ``n_probe >= n_cells`` degenerates to exact brute-force (every cell
    probed), which the tests use as an equivalence oracle."""
    spark = emb.sparkSession
    cdf = spark.createDataFrame(
        kmeans_centroids(emb, n_cells, max_iter),
        "cell int, centroid array<double>")
    queries = _assign(_only(emb, query_ids), cdf, n_probe=n_probe)
    # a (query, neighbor) pair can match in several probed cells —
    # dedup on the narrow id pair before ranking
    scored = _scored(queries, _assign(emb, cdf), on="cell").dropDuplicates(
        ["query_id", "neighbor_id"])
    return _top(scored, k).select(
        "query_id", "neighbor_id", "rank",
        F.round("sim", round_to).alias("sim"))


# --- int8 scalar quantization (the 100 TB storage/IO path) ----------------

def quantize_embeddings(emb: DataFrame, col: str = "embedding",
                        out: str = "qembedding",
                        keep_scale: bool = False) -> DataFrame:
    """Symmetric global-scale int8 quantization of an ``array<float>``
    column: ``q[i] = round(x[i] * 127 / max_abs)`` stored as
    ``array<tinyint>`` — a 4× cut in embedding bytes scanned, shuffled
    and cached, which at 100 TB is the difference between an ANN pass
    that fits in cluster memory and one that spills.

    ``max_abs`` is ONE global aggregate (exact double max of the
    float32 inputs), broadcast back as a 1-row DataFrame cross-join —
    nothing is collected to the driver and the quantization expression
    stays in Catalyst.  Symmetric + global means quantization is a
    single linear map, so integer dot products preserve cosine
    geometry up to the per-element rounding (|dequant err| ≤
    max_abs/254 per element).  ``keep_scale`` retains the ``__scale``
    column (quants-per-unit) for dequantization.
    """
    scale_df = emb.agg(
        (F.lit(127.0)
         / F.max(F.array_max(F.transform(
             F.col(col), lambda x: F.abs(x.cast("double"))))))
        .alias("__scale"))
    q = (emb.crossJoin(F.broadcast(scale_df))
         .withColumn(out, F.transform(
             F.col(col),
             lambda x: F.round(x.cast("double") * F.col("__scale"))
             .cast("tinyint"))))
    return q if keep_scale else q.drop("__scale")


def quantized_dot(a, b) -> F.Column:
    """Exact integer dot product of two int8 vectors (long math — no
    float drift, so results are stable across engines and runs)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("long") * y.cast("long")),
        F.lit(0).cast("long"), lambda acc, x: acc + x)


def quantized_topk(emb: DataFrame, k: int = 5,
                   query_ids: list[int] | None = None) -> DataFrame:
    """(query_id, neighbor_id, rank, qdot): top-k neighbors scored on
    the int8-quantized vectors — the cheap first pass of a
    quantize-then-rerank pipeline (rerank the top-k with float cosine
    when exactness matters).  Ranking uses quantized cosine
    (qdot/√(‖qa‖²‖qb‖²), identical doubles from identical integers on
    any engine), ties broken by neighbor_id; the returned ``qdot`` is
    the exact integer dot product."""
    q = quantize_embeddings(emb)
    queries = q.select(F.col("vec_id").alias("query_id"),
                       F.col("qembedding").alias("qa"),
                       quantized_dot(F.col("qembedding"),
                                     F.col("qembedding")).alias("sa"))
    if query_ids is not None:
        queries = queries.where(F.col("query_id").isin(query_ids))
    corpus = q.select(F.col("vec_id").alias("neighbor_id"),
                      F.col("qembedding").alias("qb"),
                      quantized_dot(F.col("qembedding"),
                                    F.col("qembedding")).alias("sb"))
    scored = (F.broadcast(queries).crossJoin(corpus)
              .where(F.col("query_id") != F.col("neighbor_id"))
              .withColumn("qdot", quantized_dot(F.col("qa"),
                                                F.col("qb")))
              .withColumn("qsim",
                          F.col("qdot").cast("double")
                          / F.sqrt(F.col("sa").cast("double")
                                   * F.col("sb").cast("double"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("qsim"),
                                               "neighbor_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "rank", "qdot"))


def hard_negative_pairs(emb: DataFrame, lo: float = 0.25,
                        hi: float = 0.95, k: int = 5,
                        query_ids: list[int] | None = None) -> DataFrame:
    """(query_id, neighbor_id, rank): per query, the top-``k`` most
    similar corpus vectors whose cosine falls in ``[lo, hi)`` — the
    hard-negative band for contrastive training (similar enough to be
    informative, below the near-duplicate ceiling that would make the
    "negative" a false one).

    Same scored-scan shape as :func:`cosine_topk` (hoisted self-dots,
    broadcast query side), with the band filter applied BEFORE the
    per-query window so out-of-band pairs never reach the shuffle.
    Composes with IVF cell pruning at scale exactly like the top-k
    path; this brute variant is the verification baseline."""
    scored = _scored(_only(emb, query_ids), emb).where(
        (F.col("sim") >= lo) & (F.col("sim") < hi))
    return _top(scored, k).select("query_id", "neighbor_id", "rank")


def rademacher_signs(out_dim: int, in_dim: int,
                     salt: str = "rp") -> list[list[int]]:
    """The deterministic ±1 (Rademacher) projection matrix shared by
    :func:`rp_sketch` and its SQL oracle twin: ``sign[j][i] = +1`` if
    the first hex digit of ``md5(f"{salt}|{j}|{i}")`` is even, else
    ``-1``.  Generated driver-side ONCE (out_dim × in_dim literals,
    e.g. 16×64) and inlined into both plans — no per-row hashing."""
    import hashlib
    return [[1 if int(hashlib.md5(
                f"{salt}|{j}|{i}".encode()).hexdigest()[0], 16) % 2 == 0
             else -1
             for i in range(in_dim)]
            for j in range(out_dim)]


def rp_sketch(emb: DataFrame, out_dim: int = 16, in_dim: int = 64,
              salt: str = "rp") -> DataFrame:
    """(vec_id, sketch): ±1 random-projection sketch of int8-QUANTIZED
    embeddings — ``sketch[j] = Σ_i sign[j][i] · q[i]`` as exact BIGINT
    sums (Achlioptas' database-friendly Johnson–Lindenstrauss
    projection; the dimensionality-reduction front of an LSH / ANN
    prefilter: hamming-of-signs or L2 over 16 ints instead of 64
    floats).

    Quantize-then-project keeps EVERYTHING integer: the sums are exact
    in any order on any engine — no ordered-fold machinery needed
    (contrast the float paths in adamic_adar / the bigram LM).  Per
    row it is ``out_dim`` zip_with+aggregate folds inside one narrow
    Catalyst projection — no shuffle, no Python, pipelines inside the
    scan at 100 TB.  Rows whose vector length differs from ``in_dim``
    yield NULL sketch entries rather than silently wrong sums."""
    if out_dim < 1 or in_dim < 1:
        raise ValueError("out_dim and in_dim must be >= 1")
    signs = rademacher_signs(out_dim, in_dim, salt)
    q = quantize_embeddings(emb)
    def _component(j: int) -> F.Column:
        sj = F.array(*[F.lit(s) for s in signs[j]])
        return F.aggregate(
            F.zip_with(F.col("qembedding"), sj,
                       lambda x, s: x.cast("long") * s.cast("long")),
            F.lit(0).cast("long"), lambda acc, x: acc + x)
    return q.select(
        "vec_id",
        F.array(*[_component(j) for j in range(out_dim)]).alias("sketch"))

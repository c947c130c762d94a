"""Deduplication operators over a document table (doc_id, text, ...).

Scale design:

- ``exact_dedup`` — one hash-aggregate on text (map-side partial
  aggregation; the shuffle key is the text hash, never the text).
- ``ngram_jaccard_pairs`` — exact n-gram Jaccard via an *inverted-index
  self-join* on shingles: |candidate pairs| is bounded by co-occurring
  shingles, never the O(n²) document cross product.  A
  document-frequency cap on shingles (``max_shingle_df``, default
  1000) drops ubiquitous shingles — without it one stop-word shingle
  appearing in every doc creates a |docs|² candidate bucket, the
  classic inverted-index scale-killer at 100 TB.  Pass ``None`` to
  disable explicitly.
- ``minhash_lsh_pairs`` — MinHash signatures (k hash functions via
  md5(j || shingle)) + banding: candidates are pairs sharing ≥1 band
  bucket; the band join is an equi-join on (band_idx, band_key).
  Everything is built-in Spark SQL (md5/substring/min/groupBy) so the
  whole signature computation is whole-stage-codegen'd — and exactly
  reproducible in any engine with md5 (the DuckDB oracle runs the same
  formula).
- ``simhash64`` — 64-bit SimHash over token md5s; near-dups = pairs
  within Hamming distance d, found by banding the 64 bits into
  (d+1) blocks (pigeonhole: any pair within distance d agrees on ≥1
  block).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import tracked_persist


def tokens(col="text"):
    return F.split(F.lower(F.col(col)), " ")


def word_shingles(col="text", n: int = 3):
    """Array of n-gram word shingles of the text (JVM-side transform);
    texts shorter than n tokens yield an empty array (guarded — Spark's
    sequence(0, -1) would count DOWN, not produce empty)."""
    t = tokens(col)
    windows = F.transform(
        F.sequence(F.lit(0), F.size(t) - n),
        lambda i: F.array_join(F.slice(t, i + 1, n), " "))
    return F.when(F.size(t) >= n, windows) \
            .otherwise(F.array().cast("array<string>"))


def exact_dedup(docs: DataFrame) -> DataFrame:
    """One row per distinct text: md5 key, duplicate count, minimal
    doc_id as the kept representative."""
    return (docs.groupBy(F.md5(F.col("text")).alias("text_md5"))
            .agg(F.count("*").alias("n_dups"),
                 F.min("doc_id").alias("rep_doc_id")))


def doc_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    return (docs.select("doc_id",
                        F.explode(word_shingles("text", n)).alias("shingle"))
            .distinct())


def ngram_jaccard_pairs(docs: DataFrame, n: int = 3,
                        threshold: float = 0.5,
                        max_shingle_df: int | None = 1000) -> DataFrame:
    """(doc_a, doc_b, jaccard) for pairs with n-gram Jaccard ≥ threshold,
    via inverted-index join — no document cross product.

    The threshold is applied to the *unrounded* jaccard (integer
    division in double is bit-identical across engines, so an oracle
    applying the same predicate agrees exactly); ``jaccard`` in the
    output is rounded to 4 decimals for display."""
    sh = doc_shingles(docs, n)
    if max_shingle_df is not None:
        df_ok = (sh.groupBy("shingle").count()
                 .where(F.col("count") <= max_shingle_df)
                 .select("shingle"))
        sh = sh.join(df_ok, "shingle")
    # the (capped) inverted index feeds THREE subtrees (both self-join
    # sides + the per-doc sizes); persist so the shingle explode +
    # distinct + DF-cap join run once, not three times (MEMORY_AND_DISK
    # default — at 100 TB this is the spill-safe choice, and exactly
    # what you'd persist on a cluster anyway).  Tracked: long-lived
    # sessions release it via kgloom.ops.cache.unpersist_tracked().
    sh = tracked_persist(sh)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    inter = (sh.alias("a")
             .join(sh.alias("b"), "shingle")
             .where(F.col("a.doc_id") < F.col("b.doc_id"))
             .groupBy(F.col("a.doc_id").alias("doc_a"),
                      F.col("b.doc_id").alias("doc_b"))
             .agg(F.count("*").alias("n_inter")))
    out = (inter
           .join(sizes.withColumnsRenamed({"doc_id": "doc_a", "n_sh": "sa"}),
                 "doc_a")
           .join(sizes.withColumnsRenamed({"doc_id": "doc_b", "n_sh": "sb"}),
                 "doc_b")
           .withColumn("jaccard_raw",
                       F.col("n_inter")
                       / (F.col("sa") + F.col("sb") - F.col("n_inter")))
           .where(F.col("jaccard_raw") >= threshold)
           .select("doc_a", "doc_b",
                   F.round("jaccard_raw", 4).alias("jaccard")))
    return out


def minhash_signatures(docs: DataFrame, num_hashes: int = 8,
                       n: int = 3) -> DataFrame:
    """(doc_id, h0..h{k-1}): MinHash signature, h_j = min over shingles
    of the first 16 hex chars of md5('{j}|' || shingle)."""
    sh = doc_shingles(docs, n)
    aggs = [
        F.min(F.substring(
            F.md5(F.concat(F.lit(f"{j}|"), F.col("shingle"))), 1, 16))
        .alias(f"h{j}")
        for j in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def lsh_bands(docs: DataFrame, num_hashes: int = 8, band_size: int = 2,
              n: int = 3) -> DataFrame:
    """(doc_id, band, band_key): every LSH band cell of every document,
    the band key being the band's hashes joined by ``|``.  ONE pass over
    the signature aggregate: explode an array of (band, band_key)
    structs per doc (a union of per-band selects would re-run the
    signature aggregation once per band)."""
    sig = minhash_signatures(docs, num_hashes, n)
    entries = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws("|", *[F.col(f"h{b * band_size + i}")
                               for i in range(band_size)]).alias("band_key"))
        for b in range(num_hashes // band_size)]
    return (sig.select("doc_id", F.explode(F.array(*entries)).alias("e"))
            .select("doc_id", "e.band", "e.band_key"))


def minhash_lsh_pairs(docs: DataFrame, num_hashes: int = 8,
                      band_size: int = 2, n: int = 3,
                      max_band_bucket: int | None = 1000) -> DataFrame:
    """Candidate near-duplicate pairs: docs sharing at least one LSH
    band bucket (band key = concatenated hashes of the band).

    Scale note: band buckets are quadratic in the size of
    *identical-signature groups* — a corpus with a 1M-copy boilerplate
    document puts 1M rows in one bucket and 5·10^11 pairs in its
    self-join.  The production pattern is ``exact_dedup`` FIRST (one
    representative per exact text), then LSH over representatives —
    ``near_duplicate_clusters`` wires that in.  ``max_band_bucket``
    guards corpora that skip that step: buckets larger than the cap
    are dropped before the self-join (their members are overwhelmingly
    exact/near-exact duplicates an exact pass should have collapsed).
    The default is 1000 — same rationale as ``max_shingle_df`` in
    ``ngram_jaccard_pairs``; pass ``None`` to opt into exact-recall
    (quadratic-bucket) semantics explicitly.  The driver oracle
    reproduces the SAME cap, so capped results stay hash-matched.
    """
    bands = tracked_persist(  # both self-join sides read the banded table
        lsh_bands(docs, num_hashes, band_size, n))
    if max_band_bucket is not None:
        ok = (bands.groupBy("band", "band_key").count()
              .where(F.col("count") <= max_band_bucket)
              .select("band", "band_key"))
        bands = bands.join(ok, ["band", "band_key"])
    pairs = (bands.alias("a")
             .join(bands.alias("b"), ["band", "band_key"])
             .where(F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
             .distinct())
    return pairs


def simhash64(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 60-bit SimHash of the token stream (60 bits =
    15 hex chars of md5, the widest slice that parses losslessly into a
    signed 64-bit long; the name keeps the conventional "simhash64").

    Bit i of the hash is the majority vote over tokens of bit i of
    md5(token) — computed as one hash-aggregate, all built-ins.
    """
    tok = (docs.select("doc_id", F.explode(tokens()).alias("token"))
           .withColumn("th", F.conv(F.substring(F.md5("token"), 1, 15),
                                    16, 10).cast("decimal(20,0)")
                       .cast("long")))
    # one hash-aggregate with 60 ones-counters + total — no bit explode
    # (map-side partial agg keeps the shuffle at one row per doc)
    aggs = [F.count("*").alias("n")] + [
        F.sum(F.expr(f"(th >> {i}) & 1")).alias(f"b{i}") for i in range(60)]
    per_doc = tok.groupBy("doc_id").agg(*aggs)
    simhash = None
    for i in range(60):
        bit = F.when(F.col(f"b{i}") * 2 > F.col("n"),
                     F.lit(1 << i).cast("long")).otherwise(F.lit(0))
        simhash = bit if simhash is None else simhash + bit
    return per_doc.select("doc_id", simhash.alias("simhash"))


def simhash_near_pairs(docs: DataFrame, max_hamming: int = 3) -> DataFrame:
    """Near-dup candidate pairs within Hamming distance ``max_hamming``
    via bit-block banding (pigeonhole over max_hamming+1 blocks),
    verified with an exact popcount filter."""
    sig = simhash64(docs)
    blocks = max_hamming + 1
    width = 60 // blocks
    # single-pass banding via explode (see minhash_lsh_pairs: a union of
    # per-block selects re-runs the 60-counter simhash aggregation once
    # per block — the dominant cost at scale)
    entries = [
        F.struct(F.lit(b).alias("block"),
                 F.shiftright(F.col("simhash"), b * width)
                 .bitwiseAND(F.lit((1 << width) - 1)).alias("key"))
        for b in range(blocks)]
    parts = tracked_persist(  # both self-join sides read the banded table
        sig.select("doc_id", "simhash",
                   F.explode(F.array(*entries)).alias("e"))
           .select("doc_id", "simhash", "e.block", "e.key"))
    cand = (parts.alias("a").join(parts.alias("b"), ["block", "key"])
            .where(F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.col("a.simhash").alias("sa"),
                    F.col("b.simhash").alias("sb"))
            .distinct())
    return (cand.withColumn("hamming",
                            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
            .where(F.col("hamming") <= max_hamming)
            .select("doc_a", "doc_b", "hamming"))


def contamination_flags(docs: DataFrame, benchmark: DataFrame,
                        n: int = 8) -> DataFrame:
    """(doc_id, n_contaminated_shingles): training-set decontamination —
    for every doc, how many of its distinct word n-grams appear
    anywhere in the benchmark corpus (0 = clean).

    Shape: the benchmark's distinct shingle set is usually tiny
    relative to the training corpus, so the join broadcasts under AQE;
    the training side streams through one shingle explode + semi-join +
    count — no cross product, no full-corpus shuffle of text.
    """
    d_sh = doc_shingles(docs, n)
    b_sh = doc_shingles(benchmark, n).select("shingle").distinct()
    hits = (d_sh.join(b_sh, "shingle")
            .groupBy("doc_id")
            .agg(F.count("*").alias("n_hits")))
    return (docs.select("doc_id").join(hits, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_hits", F.lit(0))
                    .alias("n_contaminated_shingles")))


def near_duplicate_clusters(docs: DataFrame, num_hashes: int = 8,
                            band_size: int = 2, n: int = 3,
                            max_band_bucket: int | None = 1000) -> DataFrame:
    """(doc_id, cluster_id): group documents into near-duplicate
    clusters — exact dedup FIRST, then MinHash-LSH candidate pairs over
    the representatives, closed under connectivity (the
    :func:`kgloom.ops.graph.connected_components` operator: the same
    size-gated driver/distributed machinery the north-rule ER uses).

    Collapsing exact-duplicate texts to one representative BEFORE
    banding is the scale-critical step: identical texts share every
    band, so a 1M-copy boilerplate group would otherwise put 1M rows in
    one bucket and 5·10^11 pairs in its self-join.  After collapsing,
    band-bucket sizes are bounded by *near*-duplicate group sizes and
    the candidate count stays linear in the corpus; ``max_band_bucket``
    (default 1000) still backstops adversarial near-dup groups.

    cluster_id is the lexicographically minimal representative doc_id
    string of the component (ids compared AS STRINGS,
    deterministically — a relational oracle replays it with a
    recursive CTE over representatives); exact duplicates inherit
    their representative's cluster, and documents in no pair are
    singleton clusters of their representative.
    """
    from .graph import connected_components
    reps = exact_dedup(docs)  # (text_md5, n_dups, rep_doc_id)
    rep_docs = docs.join(
        reps.select(F.col("rep_doc_id").alias("doc_id")), "doc_id")
    pairs = minhash_lsh_pairs(rep_docs, num_hashes, band_size, n,
                              max_band_bucket=max_band_bucket)
    # the CC operator probes the edge count before choosing its
    # driver/distributed strategy and then reads the edges again —
    # persist so the LSH chain computes once
    edges = tracked_persist(
        pairs.select(F.col("doc_a").cast("string").alias("src"),
                     F.col("doc_b").cast("string").alias("dst")))
    comp = connected_components(edges).withColumnRenamed("node", "rep_s")
    rep_cluster = (reps.select(
        F.col("text_md5"),
        F.col("rep_doc_id").cast("string").alias("rep_s"))
        .join(comp, "rep_s", "left")
        .select("text_md5",
                F.coalesce("component", F.col("rep_s")).alias("cluster_id")))
    # every doc joins its representative's component through the text
    # hash — the only per-document work is one md5 + one hash join
    return (docs.select(F.col("doc_id").cast("string").alias("doc_id"),
                        F.md5(F.col("text")).alias("text_md5"))
            .join(rep_cluster, "text_md5")
            .select("doc_id", "cluster_id"))


def embedding_cosine_pairs(emb: DataFrame,
                           threshold: float = 0.35,
                           threshold_eps: float = 1e-12) -> DataFrame:
    """Embedding-cosine near-duplicate pairs over an
    (vec_id, embedding: array<float>, label) table.

    Candidate generation is IVF-style cell blocking: the ``label``
    column is the coarse cell (at 100 TB the cells come from a k-means
    pass, or from signed-random-projection LSH band buckets — the
    band-join shape of ``minhash_lsh_pairs``); the equi-join on the
    cell key bounds candidates far below the O(n²) cross product.
    Verification is the exact JVM-side cosine (``similarity.cosine``:
    zip_with/aggregate dot products, no Python in the row path).

    The effective predicate is ``sim > threshold - threshold_eps``:
    engines may differ in fold order by ~1 ulp, and an oracle applying
    the SAME predicate can't flake on a marginal pair.  The guard band
    sits strictly BELOW the threshold so pairs at exactly the
    threshold are kept — with ``threshold=1.0``, identical vectors
    (sim computed as exactly 1.0 or 1.0−1ulp) are detected; the old
    symmetric band ``sim ≥ t ∧ |sim−t| ≥ eps`` silently dropped them.
    Pairs in the open band ``(t−eps, t)`` are included — a 1e-12
    relaxation, harmless for dedup semantics and applied identically
    by the oracle.
    """
    from .similarity import cosine_from, pair_dot, self_dot
    a = emb.select(F.col("vec_id").alias("vec_a"), "label",
                   F.col("embedding").alias("ea"),
                   self_dot(F.col("embedding")).alias("sqa"))
    b = emb.select(F.col("vec_id").alias("vec_b"), "label",
                   F.col("embedding").alias("eb"),
                   self_dot(F.col("embedding")).alias("sqb"))
    return (a.join(b, "label")
            .where(F.col("vec_a") < F.col("vec_b"))
            # norms hoisted per vector (see similarity.self_dot): one
            # array fold per pair instead of three, bit-identical values
            .withColumn("sim", cosine_from(
                pair_dot(F.col("ea"), F.col("eb")),
                F.col("sqa"), F.col("sqb")))
            .where(F.col("sim") > threshold - threshold_eps)
            .select("vec_a", "vec_b", F.round("sim", 4).alias("sim")))


def duplicate_spans(docs: DataFrame, span_len: int = 5,
                    min_docs: int = 2) -> DataFrame:
    """Cross-document repeated-span detection — the signal behind
    exact-substring training-data dedup (Lee et al., "Deduplicating
    Training Data Makes Language Models Better", ACL 2022 — public
    literature): a rolling window of ``span_len`` tokens is hashed per
    position, and a window is *duplicated* when its hash occurs in at
    least ``min_docs`` distinct documents.

    Returns one row per document that has at least one full window:
    (doc_id, n_windows, n_dup_windows, max_span_docs) where
    ``n_dup_windows`` counts positions covered by a cross-document
    span and ``max_span_docs`` is the widest sharing (1 = unique).
    Consumers threshold ``n_dup_windows / n_windows`` (the fraction of
    the document that is boilerplate) or cut the spans themselves.

    Scale shape: explode to (doc, pos, h) — map-side, no Python —
    then one groupBy(h) with partial aggregation (exact distinct-doc
    counts), one shuffle join back on h, one groupBy(doc).  A
    boilerplate span shared by millions of docs is ONE row in the
    stats table fanning back out through the join — no all-pairs
    blow-up; AQE handles the hash-key skew.
    """
    t = tokens()
    windows = F.when(
        F.size(t) < span_len, F.array().cast("array<string>")
    ).otherwise(
        F.transform(F.sequence(F.lit(1), F.size(t) - (span_len - 1)),
                    lambda i: F.concat_ws(" ", F.slice(t, i, span_len))))
    w = (docs.select("doc_id", F.explode(windows).alias("__w"))
         .select("doc_id", F.md5(F.col("__w")).alias("h")))
    stats = w.groupBy("h").agg(
        F.countDistinct("doc_id").alias("span_docs"))
    return (w.join(stats, "h")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_windows"),
                 F.sum(F.when(F.col("span_docs") >= min_docs, 1)
                        .otherwise(0)).alias("n_dup_windows"),
                 F.max("span_docs").alias("max_span_docs")))


def keep_best_in_clusters(clusters: DataFrame, scores: DataFrame,
                          score_col: str = "score") -> DataFrame:
    """The production near-dedup RESOLUTION policy: from each
    near-duplicate cluster keep the highest-``score_col`` document
    (quality-aware — Penedo et al.'s RefinedWeb and similar corpus
    pipelines keep the best member, not the smallest id), ties broken
    by the lexicographically smallest doc_id.

    ``clusters`` is (doc_id, cluster_id) — the
    :func:`near_duplicate_clusters` output — and ``scores`` is
    (doc_id, score_col); documents missing a score sort last (null).
    Returns (doc_id, cluster_id, score_col, n_members).  One join +
    one window over cluster_id — both shuffles on the cluster key;
    a boilerplate mega-cluster is one partition's window, bounded by
    the same exact-dedup-first collapse that bounds the clustering.
    """
    from pyspark.sql.window import Window
    joined = clusters.join(scores, "doc_id", "left")
    w = Window.partitionBy("cluster_id") \
        .orderBy(F.col(score_col).desc_nulls_last(), F.col("doc_id"))
    return (joined
            .withColumn("__rn", F.row_number().over(w))
            .withColumn("n_members", F.count(F.lit(1)).over(
                Window.partitionBy("cluster_id")))
            .where(F.col("__rn") == 1)
            .select("doc_id", "cluster_id", score_col, "n_members"))

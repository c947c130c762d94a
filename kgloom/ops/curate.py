"""Composed training-data curation pipeline over a document table.

The individual operators (exact dedup, n-gram near-dup, token/quality
stats, language ID) compose into the standard corpus-curation chain:

    exact dedup → near dedup → quality filter → language filter

Everything stays one lazy DataFrame plan (Catalyst fuses the stat
filters into the scan; the dedup joins are the only shuffles), and the
whole chain is deterministic, so a relational oracle can replay it
step for step.

Dedup-pair resolution is the standard greedy "keep the smaller doc_id
of every near-dup pair": not a transitive-closure clustering (a→b,
b→c keeps a and may keep c), but deterministic, one-pass, and the
common production choice; the connected-components machinery in
``kgloom.ops.graph`` is available when closure semantics matter.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import tracked_persist
from .dedup import exact_dedup, ngram_jaccard_pairs
from .textstats import language_id, token_stats


def curate(docs: DataFrame, jaccard_threshold: float = 0.4, n: int = 3,
           min_tokens: int = 3, langs: tuple[str, ...] = ("en",),
           max_shingle_df: int | None = 1000) -> DataFrame:
    """(doc_id, n_tokens, pred_lang) for documents surviving the chain:

    1. exact dedup — keep each distinct text's min-doc_id representative
    2. near dedup — drop the larger doc_id of every n-gram-Jaccard pair
       at/above ``jaccard_threshold`` (computed over survivors of 1)
    3. quality — keep docs with ≥ ``min_tokens`` tokens
    4. language — keep docs whose stopword-vote language is in ``langs``
    """
    reps = exact_dedup(docs).select(
        F.col("rep_doc_id").alias("doc_id"))
    # the exact-dedup survivor set fans out to the shingle index (via
    # ngram_jaccard_pairs), the loser anti-join, and — through kept2 —
    # the stat/language branches; persist so the scan + dedup join run
    # once instead of once per branch (tracked: release via
    # kgloom.ops.cache.unpersist_tracked())
    kept = tracked_persist(docs.join(reps, "doc_id"))

    near = ngram_jaccard_pairs(kept, n=n, threshold=jaccard_threshold,
                               max_shingle_df=max_shingle_df)
    losers = near.select(F.col("doc_b").alias("doc_id")).distinct()
    # near-dedup survivors feed THREE branches (token stats, language
    # id, the id spine) — same reasoning
    kept = tracked_persist(kept.join(losers, "doc_id", "left_anti"))

    stats = token_stats(kept).select("doc_id", "n_tokens")
    lang = language_id(kept)
    return (kept.select("doc_id")
            .join(stats, "doc_id")
            .where(F.col("n_tokens") >= min_tokens)
            .join(lang, "doc_id")
            .where(F.col("pred_lang").isin(list(langs)))
            .select("doc_id", "n_tokens", "pred_lang"))


# ---------------------------------------------------------------------------
# Deterministic sampling / splitting (training-data mixing)
# ---------------------------------------------------------------------------
#
# Both operators key every decision on the first 8 hex digits of
# md5(key || salt): a uniform, engine-portable, reproducible rank in
# [0, 16^8).  A rate r keeps rows whose rank-prefix sorts below the
# 8-digit hex threshold floor(r·16^8) (lowercase hex of equal width
# compares lexicographically = numerically, so the predicate is a plain
# string comparison any engine evaluates identically).  The plan is a
# narrow per-row filter — no shuffle, no sort, no sampling state — which
# is the only shape that survives 100 TB: rerunning any subset of
# partitions reproduces the same decisions, and adding executors never
# changes the sample.

def _hex_threshold(rate: float) -> str:
    """rate ∈ [0,1] → 8-hex-digit cutoff; ≥1 keeps all (see above)."""
    if rate >= 1.0:
        return "g"  # sorts after every hex digit → always true
    return format(max(int(rate * 16**8), 0), "08x")


def _hash_rank(key_col, salt: str):
    return F.substring(F.md5(F.concat(key_col.cast("string"),
                                      F.lit(salt))), 1, 8)


def stratified_sample(df: DataFrame, key: str, strata: str,
                      rates: dict[str, float], default_rate: float = 0.0,
                      salt: str = "") -> DataFrame:
    """Deterministic per-stratum downsampling (training-data mixing).

    Keeps each row iff its md5 rank falls under its stratum's rate:
    ``rates`` maps stratum values (e.g. languages or sources) to keep
    fractions, ``default_rate`` covers unlisted strata, and ``salt``
    decorrelates independent sampling passes over the same keys.
    Expected kept fraction per stratum is exact up to md5 uniformity
    (±2^-32); membership is a pure function of (key, salt), so resumed
    or partially re-run jobs agree row for row.
    """
    pairs = []
    for value, rate in sorted(rates.items()):
        pairs += [F.lit(value), F.lit(_hex_threshold(rate))]
    thr = F.coalesce(
        F.create_map(*pairs)[F.col(strata)] if pairs else F.lit(None),
        F.lit(_hex_threshold(default_rate)))
    return df.where(_hash_rank(F.col(key), salt) < thr)


def hash_split(df: DataFrame, key: str,
               fractions: dict[str, float] | None = None,
               salt: str = "") -> DataFrame:
    """Deterministic dataset split: adds a ``split`` column assigning
    each row to one named range of the md5 rank space (default
    train/val/test = 0.98/0.01/0.01).  Ranges are half-open and
    consecutive in the listed order; fractions must sum to ≤ 1 and any
    remainder falls in the last split.  Same scale properties as
    ``stratified_sample`` — a narrow, shuffle-free, rerun-stable map.
    """
    fractions = fractions or {"train": 0.98, "val": 0.01, "test": 0.01}
    rank = _hash_rank(F.col(key), salt)
    expr = None
    cum = 0.0
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        clause = rank < F.lit(_hex_threshold(cum))
        expr = F.when(clause, name) if expr is None else \
            expr.when(clause, name)
    last = F.lit(names[-1])
    return df.withColumn("split",
                         last if expr is None else expr.otherwise(last))


def temperature_mixture(df: DataFrame, key: str, strata: str,
                        alpha: float = 0.5, salt: str = "") -> DataFrame:
    """α-temperature mixture sampling — the multilingual/multi-source
    smoothing of LLM corpus mixing (sampled stratum mass ∝ p_s^α;
    Conneau et al., "Unsupervised Cross-lingual Representation
    Learning at Scale", ACL 2020 — public literature), realized as
    deterministic per-stratum downsampling with keep rate
    ``r_s = (n_min / n_s)^(1-α)``: the smallest stratum keeps
    everything, dominant strata shrink toward the tempered share
    (α=1 keeps all rows, α=0 equalizes stratum sizes in expectation).

    Unlike :func:`stratified_sample` the rates come FROM the data: one
    stratum-cardinality-sized aggregate rides the row filter as a
    broadcast (plus a broadcast 1-row minimum) — still a narrow,
    shuffle-free, rerun-stable map over the corpus.

    The keep decision is the same md5 rank gate as
    ``stratified_sample`` compared NUMERICALLY with the rate inlined
    as exact integers through exact-rounded IEEE ops::

        rank · (n_s)^(1-α)  <  2^32 · (n_min)^(1-α)

    For the default α=0.5 the only irrational op is sqrt, which IEEE
    754 rounds exactly — the gate replays bit-identically on any
    engine.  Other α go through pow, correctly rounded on common
    libm implementations but not guaranteed by the standard; a rank
    landing exactly on the threshold could then differ cross-engine
    with probability ~n/2^32.
    """
    if not 0.0 <= alpha <= 1.0:
        raise ValueError("alpha must be in [0, 1]")
    counts = df.groupBy(strata).agg(F.count(F.lit(1)).alias("__n"))
    nmin = counts.agg(F.min("__n").alias("__nmin"))
    if alpha == 0.5:
        def w(c):
            return F.sqrt(c.cast("double"))
    else:
        def w(c):
            return F.pow(c.cast("double"), F.lit(1.0 - alpha))
    rank = F.conv(_hash_rank(F.col(key), salt), 16, 10).cast("long")
    return (df.join(F.broadcast(counts), strata)
            .crossJoin(F.broadcast(nmin))
            .where(rank.cast("double") * w(F.col("__n"))
                   < F.lit(float(16 ** 8)) * w(F.col("__nmin")))
            .drop("__n", "__nmin"))


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling
# ---------------------------------------------------------------------------
#
# Xie et al., "Data Selection for Language Models via Importance
# Resampling" (NeurIPS 2023) — public literature.  Importance weights
# come from two bag-of-hashed-n-grams unigram models: the target
# corpus (what we want more of) and the raw corpus (what we have).
# Every document's log weight is the log likelihood ratio of its
# hashed features under the two models; selection is Gumbel-top-k,
# which samples WITHOUT replacement with probability proportional to
# exp(weight) — here with a deterministic md5-derived Gumbel so the
# draw replays identically on any engine and on any rerun.
#
# Scale shape (the reason this maps well onto Spark):
#   * the feature space is HASHED into ``n_buckets`` (default 1024)
#     buckets, so both "models" are bounded-size count tables — two
#     corpus aggregates whose outputs are ≤ n_buckets rows each;
#   * the per-document weight pass is one explode + one BROADCAST
#     join against the λ (log-ratio) table + a map-side-combining
#     groupBy(doc) sum — no all-to-all shuffle of text;
#   * Gumbel-top-k is orderBy+limit, which Spark executes as
#     TakeOrderedAndProject (per-partition top-k, then a k-row merge
#     on the driver) — no global sort at 100 TB.

def _md5_bucket(col, n_buckets: int):
    """Deterministic engine-portable hash bucket in [0, n_buckets):
    integer value of md5's first 15 hex chars (< 2^60, nonnegative)
    mod n_buckets.  DuckDB twin:
    ``CAST('0x' || substr(md5(x), 1, 15) AS BIGINT) % n``."""
    return F.pmod(
        F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long"),
        F.lit(n_buckets))


def _grams(text_col: str):
    """Unigrams + word bigrams over the package's standard space
    tokenization (kgloom.ops.dedup.tokens)."""
    t = F.split(F.lower(F.col(text_col)), " ")
    bigrams = F.when(
        F.size(t) < 2, F.array().cast("array<string>")
    ).otherwise(
        F.transform(F.sequence(F.lit(1), F.size(t) - 1),
                    lambda i: F.concat_ws(" ", F.slice(t, i, 2))))
    return F.concat(t, bigrams)


def _bucket_counts(docs: DataFrame, text_col: str,
                   n_buckets: int) -> DataFrame:
    return (docs.select(F.explode(_grams(text_col)).alias("__g"))
            .select(_md5_bucket(F.col("__g"), n_buckets).alias("bucket"))
            .groupBy("bucket").agg(F.count(F.lit(1)).alias("__c")))


def dsir_weights(raw: DataFrame, target: DataFrame, *,
                 id_col: str = "doc_id", text_col: str = "text",
                 n_buckets: int = 1024,
                 smoothing: float = 1.0) -> DataFrame:
    """(id_col, dsir_logw): per-document log importance weight
    log p_target(x) − log p_raw(x) under add-``smoothing`` hashed
    unigram+bigram models estimated from ``target`` and ``raw``.

    The λ table (per-bucket log ratio) is ≤ ``n_buckets`` rows and
    rides the weight pass as a broadcast; the two model estimates are
    bounded aggregates.  Documents always have ≥ 1 gram under the
    space tokenization (the empty string is its own token), so the
    weight pass is a plain inner join on bucket.
    """
    from .cache import tracked_persist

    # ONE pass over the raw corpus: per-(doc, bucket) gram counts —
    # bounded at |docs| x min(doc grams, n_buckets) rows, far smaller
    # than the gram explosion itself — feeds BOTH the raw model
    # estimate and the per-document weight sum (tracked persist, so
    # the explode runs once; release via
    # kgloom.ops.cache.unpersist_tracked())
    db = tracked_persist(
        raw.select(id_col, F.explode(_grams(text_col)).alias("__g"))
           .select(id_col, _md5_bucket(F.col("__g"),
                                       n_buckets).alias("bucket"))
           .groupBy(id_col, "bucket")
           .agg(F.count(F.lit(1)).alias("__n")))
    tgt = _bucket_counts(target, text_col, n_buckets)
    rawc = db.groupBy("bucket").agg(F.sum("__n").alias("__c"))
    tt = tgt.agg(F.sum("__c").alias("__tt"))
    tr = rawc.agg(F.sum("__c").alias("__tr"))
    a = F.lit(float(smoothing))
    ab = F.lit(float(smoothing) * n_buckets)
    lam = (rawc.withColumnRenamed("__c", "__cr")
           .join(tgt.withColumnRenamed("__c", "__ct"), "bucket", "full_outer")
           .crossJoin(F.broadcast(tt)).crossJoin(F.broadcast(tr))
           .select(
               "bucket",
               (F.log((F.coalesce(F.col("__ct"), F.lit(0)) + a)
                      / (F.col("__tt") + ab))
                - F.log((F.coalesce(F.col("__cr"), F.lit(0)) + a)
                        / (F.col("__tr") + ab))).alias("__lam")))
    per_doc = (db.join(F.broadcast(lam), "bucket")
               .groupBy(id_col)
               .agg(F.sum(F.col("__n") * F.col("__lam"))
                    .alias("dsir_logw")))
    return per_doc


def dsir_sample(raw: DataFrame, target: DataFrame, k: int, *,
                id_col: str = "doc_id", text_col: str = "text",
                n_buckets: int = 1024, smoothing: float = 1.0,
                salt: str = "dsir") -> DataFrame:
    """Gumbel-top-``k`` importance resampling: keeps the ``k``
    documents maximizing ``dsir_logw + G_id`` where ``G_id =
    −ln(−ln(u_id))`` and ``u_id ∈ (0,1)`` is the deterministic md5
    fraction of (id ‖ salt) — a without-replacement draw with
    P(doc) ∝ exp(dsir_logw), replayable on any engine.

    Returns (id_col, dsir_logw, dsir_score) with both doubles rounded
    to 6 decimals; the cut ranks by (rounded score, id) so the
    selected SET is stable under sub-ulp cross-engine log/sum
    differences.  orderBy+limit lowers to TakeOrderedAndProject —
    per-partition top-k, no global sort.
    """
    w = dsir_weights(raw, target, id_col=id_col, text_col=text_col,
                     n_buckets=n_buckets, smoothing=smoothing)
    u = (F.conv(F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(salt))),
            1, 15), 16, 10).cast("long")
         / F.lit(float(16 ** 15)))
    gumbel = -F.log(-F.log(u))
    scored = w.select(
        id_col,
        F.round(F.col("dsir_logw"), 6).alias("dsir_logw"),
        F.round(F.col("dsir_logw") + gumbel, 6).alias("dsir_score"))
    return (scored.orderBy(F.desc("dsir_score"), F.col(id_col))
            .limit(k))


def per_group_sample(df: DataFrame, key: str, group: str, k: int,
                     salt: str = "") -> DataFrame:
    """Keep a deterministic sample of exactly min(k, |group|) rows per
    group: the k smallest md5(key ‖ salt) ranks — "give me 10k docs
    per language", rerun-stable and engine-portable like
    :func:`stratified_sample`, but with an exact per-group COUNT
    rather than an expected rate.

    One window shuffle partitioned by the group; the in-group sort is
    by the 8-hex rank with the key as tiebreak, so ranks are total.
    For huge groups with tiny k, pre-thin with ``stratified_sample``
    at a safe rate (e.g. 4k/|group|) before the exact cut — the
    standard two-phase top-k; the exact window stays the same.
    """
    from pyspark.sql.window import Window
    w = Window.partitionBy(group).orderBy(
        _hash_rank(F.col(key), salt), F.col(key))
    return (df.withColumn("__rn", F.row_number().over(w))
            .where(F.col("__rn") <= k)
            .drop("__rn"))

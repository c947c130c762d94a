"""Count-based n-gram language-model scoring: the perplexity-proxy
quality signal a training-data pipeline thresholds on (KenLM-style
filtering, "remove documents the corpus LM finds surprising"), with
the LM trained ON the corpus itself — one pass for counts, one join
back for scoring, no external model artifact.

Determinism is engineered end-to-end so a SQL oracle replays the
double bit-for-bit:

- add-k smoothing uses only count arithmetic and one ``ln`` per gram
  (``ln((c2 + k) / (c1 + k·V))``) — no divergent math functions;
- the per-document sum is an ORDERED fold (sort by gram position,
  then a sequential ``F.aggregate``), never a ``SUM`` aggregate whose
  partition-dependent addition order can drift in the last ulp.

100-TB shape: bigram/unigram counts are hash aggregates with map-side
partial combine; scoring is two shuffle joins on the gram keys (the
count tables are corpus-vocabulary-sized, far smaller than the
corpus); the per-document fold happens inside one groupBy whose state
is bounded by document length.  Nothing is collected, no Python row
path.

Tokenization matches the dedup/textstats family
(:func:`kgloom.ops.dedup.tokens`) so oracles replay it with
``string_split(lower(text), ' ')``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import tokens


def _doc_bigrams(docs: DataFrame) -> DataFrame:
    """(doc_id, pos, w1, w2): every adjacent token pair with its
    0-based position.  The sequence is guarded for short docs —
    Spark's ``sequence(1, 0)`` counts DOWN instead of yielding an
    empty array.

    The token array is MATERIALIZED as a column before the pair
    transform: referencing ``tokens()`` (a split expression) directly
    inside the lambda inlines one split per ``element_at`` call —
    O(doc_len²) re-tokenization per document (measured 7.4s → 0.6s
    for 5k docs at sf0.1); Spark does not common-subexpression-
    eliminate across higher-order-function lambdas (same pathology as
    the winnow hash array, kgloom/ops/textstats.py)."""
    t = F.col("__toks")
    pairs = F.when(
        F.size(t) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(t) - 1),
                    lambda i: F.struct(
                        F.element_at(t, i).alias("w1"),
                        F.element_at(t, i + 1).alias("w2")))
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    return (docs.select("doc_id", tokens().alias("__toks"))
            .select("doc_id", F.posexplode(pairs))
            .select("doc_id", "pos",
                    F.col("col.w1").alias("w1"),
                    F.col("col.w2").alias("w2")))


def bigram_lm_scores(docs: DataFrame, k_smooth: float = 0.5) -> DataFrame:
    """(doc_id, n_grams, logprob, avg_logprob): add-k smoothed bigram
    log-likelihood of each document under the corpus's own bigram LM.

    Per gram: ``ln((c(w1,w2) + k) / (c(w1·) + k·V))`` where ``c(w1·)``
    is the unigram CONTEXT count (bigrams starting with w1) and ``V``
    the unigram vocabulary size.  Documents with fewer than 2 tokens
    have no grams and are absent from the result."""
    if k_smooth <= 0:
        raise ValueError("k_smooth must be > 0")
    bg = _doc_bigrams(docs)
    c2 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (docs.select(F.explode(tokens()).alias("w"))
             .agg(F.count_distinct("w").alias("v")))
    lp = F.log((F.col("c2") + F.lit(float(k_smooth)))
               / (F.col("c1") + F.lit(float(k_smooth)) * F.col("v")))
    scored = (bg.join(c2, ["w1", "w2"])
              .join(c1, "w1")
              .crossJoin(F.broadcast(vocab))
              .select("doc_id", "pos", lp.alias("lp")))
    # ORDERED fold: sort the per-doc gram log-probs by position and
    # add sequentially from 0.0 — reproducible in any engine with a
    # sequential list reduce, unlike a partition-order-dependent SUM
    arr = F.sort_array(F.collect_list(F.struct("pos", "lp")))
    folded = F.aggregate(arr, F.lit(0.0),
                         lambda acc, x: acc + x["lp"])
    return (scored.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 folded.alias("logprob"))
            .select("doc_id", "n_grams", "logprob",
                    (F.col("logprob") / F.col("n_grams"))
                    .alias("avg_logprob")))


#: unit-separator control char — cannot occur in the corpus tokenizer's
#: output alphabet; words containing it are filtered (both engines)
_BPE_SEP = "\x1f"


def _accept_batch(cand: list, floor: int, batch_size: int) -> list:
    """Driver-side selection of a SOUND merge batch from the sorted
    pair-count candidates (c desc, l, r): the accepted prefix is
    guaranteed to equal what strictly-sequential BPE would pick.

    Why this is exact (induction over accepted merges): applying a
    merge only changes counts of pairs SHARING one of its tokens
    (old sharing pairs can only decrease; pairs containing the new
    merged token are bounded by some sharing pair's count, since every
    occurrence of ``x·lr`` was an occurrence of ``x·l``).  So the
    sequential next-best after applying accepted merges is the next
    candidate, provided the candidate (a) shares no token with any
    accepted pair and (b) has count STRICTLY above every other pair
    that shares a token with the accepted set or with itself —
    including pairs below the collected horizon, bounded by ``floor``
    (0 when the candidate list is the whole table).  Strictness
    handles count ties, where a merged-token pair of equal count could
    lexicographically precede the candidate."""
    accepted = [cand[0]]
    used = {cand[0]["l"], cand[0]["r"]}
    for row in cand[1:]:
        if len(accepted) >= batch_size:
            break
        if row["l"] in used or row["r"] in used:
            continue
        cur = used | {row["l"], row["r"]}
        sharing_max = max(
            (o["c"] for o in cand
             if o is not row and (o["l"], o["r"]) not in
             {(a["l"], a["r"]) for a in accepted}
             and (o["l"] in cur or o["r"] in cur)),
            default=0)
        if row["c"] > max(floor, sharing_max):
            accepted.append(row)
            used |= {row["l"], row["r"]}
        else:
            break    # later candidates have c <= this one: stop
    return accepted


def learn_bpe_merges(docs: DataFrame, n_merges: int = 5,
                     min_word_len: int = 1,
                     sample_fraction: float | None = None,
                     max_words: int | None = None,
                     batch_size: int = 1) -> DataFrame:
    """(rank, left, right, pair_count): the first ``n_merges``
    byte-pair-encoding merges learned from the corpus — the
    distributed replacement for the driver-bound vocabulary-learning
    loop of an LLM tokenizer trainer.  Round r counts every adjacent
    token pair across the (distinct-word, frequency) table, picks the
    most frequent pair (ties: lexicographic on left, then right), and
    merges it greedily leftmost-non-overlapping everywhere.

    Engine-exact by construction: integer pair counts, binary-string
    tie-breaks, and merge application via literal ``replace`` over a
    separator-delimited token string — each token is stored as
    ``token + US`` (0x1f unit separator), so the pair ``(a, b)`` is
    the literal substring ``a+US+b+US`` and replacing it with
    ``a+b+US`` is EXACTLY the greedy leftmost-non-overlapping merge
    in any engine (matches cannot share boundary characters).

    Realistic-vocabulary gates (both deterministic and replayable —
    pure functions of the word multiset, not of placement):

    * ``max_words`` — keep only the top-N distinct words by
      (freq desc, word), the standard tokenizer-trainer cap; found
      with the same two-stage bounded top-k as the KMV sketch so no
      task sorts more than a bucket.
    * ``sample_fraction`` — md5 content gate on the word (keep when
      hash-fraction < f), for corpus-sample training runs.

    ``batch_size`` > 1 accepts up to that many merges per round when
    a driver-side soundness check (:func:`_accept_batch`) PROVES the
    batch equals the sequential result — same output, ~batch_size×
    fewer Spark rounds (tokenizers' clause batching; a real 32k-vocab
    run needs this or each merge is a driver round-trip).

    100-TB shape: the iterated state is the DISTINCT-WORD table
    (vocabulary-sized, capped by ``max_words``, not corpus-sized —
    the one aggregate over the corpus happens once up front); each
    round is one explode + one hash aggregate + a bounded candidate
    collect (≤ max(8·batch_size, 32) rows, like the k-means centroid
    fetch) + one narrow per-row ``replace`` chain,
    ``localCheckpoint`` truncating the loop lineage."""
    if n_merges < 1:
        raise ValueError("n_merges must be >= 1")
    if batch_size < 1:
        raise ValueError("batch_size must be >= 1")
    sep = _BPE_SEP
    words = (docs.select(F.explode(tokens()).alias("w"))
             .where((F.length("w") >= min_word_len)
                    & ~F.col("w").contains(sep)))
    if sample_fraction is not None:
        from .sketch import _hash_fraction
        words = words.where(
            _hash_fraction(F.col("w")) < float(sample_fraction))
    wf = words.groupBy("w").agg(F.count(F.lit(1)).alias("freq"))
    if max_words is not None:
        from pyspark.sql.window import Window
        bucket = F.pmod(F.hash("w"), F.lit(32))
        w1 = Window.partitionBy("__b").orderBy(F.desc("freq"), "w")
        w2 = Window.partitionBy().orderBy(F.desc("freq"), "w")
        wf = (wf.withColumn("__b", bucket)
              .withColumn("__rn", F.row_number().over(w1))
              .where(F.col("__rn") <= max_words)
              .withColumn("__rn", F.row_number().over(w2))
              .where(F.col("__rn") <= max_words)
              .drop("__b", "__rn"))
    tok = (wf.select(
        F.regexp_replace("w", "(.)", "$1" + sep).alias("ts"), "freq")
        .localCheckpoint())
    spark = docs.sparkSession
    cand_k = max(8 * batch_size, 32)
    merges = []
    while len(merges) < n_merges:
        arr = F.filter(F.split("ts", sep), lambda x: x != "")
        pairs = (tok.select(
            F.explode(F.arrays_zip(
                F.slice(arr, 1, F.greatest(F.size(arr) - 1, F.lit(0)))
                .alias("l"),
                F.slice(arr, 2, F.greatest(F.size(arr) - 1, F.lit(0)))
                .alias("r"))).alias("p"), "freq"))
        cand = (pairs.groupBy(F.col("p.l").alias("l"),
                              F.col("p.r").alias("r"))
                .agg(F.sum("freq").alias("c"))
                .orderBy(F.desc("c"), "l", "r")
                .limit(cand_k).collect())
        if not cand:
            break                      # no adjacent pairs left anywhere
        # pairs below the collected horizon are bounded by the last
        # collected count; when the table fits entirely, there are none
        floor = int(cand[-1]["c"]) if len(cand) == cand_k else 0
        batch = _accept_batch(cand, floor,
                              min(batch_size, n_merges - len(merges)))
        col = F.col("ts")
        for row in batch:
            l, r = row["l"], row["r"]
            merges.append((len(merges) + 1, l, r, int(row["c"])))
            col = F.replace(col, F.lit(l + sep + r + sep),
                            F.lit(l + r + sep))
        tok = tok.select(col.alias("ts"), "freq").localCheckpoint()
    return spark.createDataFrame(
        merges, "rank int, left string, right string, pair_count long")


def apply_bpe(docs: DataFrame, merges: list[tuple[str, str]],
              text_col: str = "text") -> DataFrame:
    """(doc_id, n_words, n_subwords): segment every document with an
    ordered BPE merge list (as learned by :func:`learn_bpe_merges`)
    and report the resulting subword counts — the
    vocabulary-compression statistic (n_subwords shrinks toward
    n_words as merges cover the corpus; the ratio is the tokenizer
    fertility a data pipeline tracks per source).

    Same unit-separator representation as the learner: each word is
    rendered char+US…, words joined by a space (which no merge
    pattern can cross), and the merges applied as a FIXED chain of
    literal replaces in learned order — per-row narrow projection,
    no shuffle beyond the final count, exact in any engine."""
    sep = _BPE_SEP
    t = tokens(text_col)
    words = F.filter(t, lambda x: (F.length(x) >= 1)
                     & ~x.contains(sep))
    body = F.array_join(
        F.transform(words,
                    lambda w: F.regexp_replace(w, "(.)", "$1" + sep)),
        " ")
    col = body
    for left, right in merges:
        col = F.replace(col, F.lit(left + sep + right + sep),
                        F.lit(left + right + sep))
    n_sub = (F.length(col)
             - F.length(F.replace(col, F.lit(sep), F.lit(""))))
    return docs.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        n_sub.cast("long").alias("n_subwords"))

"""Composed curation chain + multimodal resize plumbing."""

import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F

from kgloom.ops.curate import curate
from kgloom.ops.multimodal import resize_images, synth_assets


def test_curate_chain_semantics(spark):
    rows = [
        (1, "the cat sat on the mat in the sun"),       # en, kept
        (2, "the cat sat on the mat in the sun"),       # exact dup of 1
        (3, "the cat sat on the mat in the rain"),      # near dup of 1
        (4, "el gato y la casa de los que hablan"),     # es → dropped
        (5, "tiny"),                                    # < min_tokens
        (6, "the quick brown fox jumps over the lazy dog of norway"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: (r.n_tokens, r.pred_lang)
           for r in curate(docs, jaccard_threshold=0.4, min_tokens=3,
                           langs=("en",)).collect()}
    assert set(out) == {1, 6}
    assert out[1][1] == "en" and out[6][0] == 11


def test_resize_images_schema_and_passthrough(spark):
    assets = synth_assets(spark, 12)
    out = resize_images(assets, width=4, height=4).collect()
    assert len(out) == 12
    by_id = {r.asset_id: r for r in out}
    for r in out:
        if r.modality == "image":
            assert r.width == 4 and r.height == 4
            assert len(r.payload) == 16  # width*height byte budget
        else:  # audio/video rows pass through untouched
            assert r.width == 64 and len(r.payload) > 16
    # deterministic fake: same input → same bytes
    again = {r.asset_id: bytes(r.payload)
             for r in resize_images(assets, 4, 4).collect()}
    assert all(bytes(by_id[a].payload) == again[a] for a in again)


def test_redact_pii_semantics(spark):
    from kgloom.ops.textstats import redact_pii
    rows = [
        (1, "mail me at jo.doe+x@ex-ample.org or call +1 (555) 123-4567"),
        (2, "server at 192.168.0.1 responded"),
        (3, "no pii here at all"),
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    out = {r.doc_id: (r.text, r.n_redactions)
           for r in redact_pii(docs).collect()}
    assert out[1] == ("mail me at [EMAIL] or call [PHONE]", 2)
    assert out[2] == ("server at [IPV4] responded", 1)
    assert out[3] == ("no pii here at all", 0)


def test_multimodal_real_mode_gates_on_pil(spark):
    """Without Pillow, real mode fails fast on the DRIVER (clear
    NotImplementedError before any Spark job); with Pillow present the
    real kernels run (covered by the skipif test below)."""
    import pytest

    from kgloom.ops import multimodal as M
    assets = M.synth_assets(spark, 6)
    if not M._HAS_PIL:
        with pytest.raises(NotImplementedError):
            M.extract_features(assets, batch_fake=False)
        with pytest.raises(NotImplementedError):
            M.resize_images(assets, batch_fake=False)
    else:
        assert M.extract_features(assets, batch_fake=False) is not None


def test_multimodal_features_run_outside_the_checkout(tmp_path):
    """A driver that imports kgloom from a ``sys.path`` entry and runs
    from another directory, with no ``PYTHONPATH``, still gets its
    features: the feature kernel reaches the Python workers, which
    cannot import kgloom, by value."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "drive.py"
    script.write_text(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {root!r})
        from pyspark.sql import SparkSession
        from kgloom.ops.multimodal import extract_features, synth_assets
        spark = (SparkSession.builder.master("local[1]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        rows = extract_features(synth_assets(spark, 6)).collect()
        print(len(rows), sum(len(r.feature) for r in rows))
        spark.stop()
    """))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run([sys.executable, str(script)], cwd=tmp_path,
                         env=env, capture_output=True, text=True,
                         timeout=600)
    assert run.returncode == 0, run.stderr[-3000:]
    assert run.stdout.split()[-2:] == ["6", "48"]


def test_multimodal_real_decoder_with_pil(spark):
    """Real PIL decode path end-to-end: a genuine PNG payload through
    the same mapInPandas kernels (runs only where Pillow exists)."""
    import pytest

    from kgloom.ops import multimodal as M
    if not M._HAS_PIL:
        pytest.skip("Pillow not installed in this environment")
    import io

    from PIL import Image
    buf = io.BytesIO()
    Image.new("RGB", (16, 16), (255, 0, 0)).save(buf, format="PNG")
    assets = spark.createDataFrame(
        [("a0", "image", "image/png", bytearray(buf.getvalue()),
          16, 16, None)], schema=M.ASSET_SCHEMA)
    feats = M.extract_features(assets, batch_fake=False).collect()
    assert len(feats) == 1 and len(feats[0].feature) == 8
    assert abs(sum(feats[0].feature) - 1.0) < 1e-3  # histogram sums to 1
    resized = M.resize_images(assets, width=4, height=4,
                              batch_fake=False).collect()[0]
    with Image.open(io.BytesIO(bytes(resized.payload))) as im:
        assert im.size == (4, 4)


def test_stratified_sample_deterministic_and_rated(spark):
    """Membership is a pure function of (key, salt); per-stratum kept
    fractions track the requested rates; plan is a narrow filter (no
    shuffle, no Python)."""
    from kgloom.ops.curate import stratified_sample
    df = spark.range(4000).select(
        F.col("id").alias("doc_id"),
        F.when(F.col("id") % 2 == 0, "en").otherwise("de").alias("lang"))
    s = stratified_sample(df, key="doc_id", strata="lang",
                          rates={"en": 0.5}, default_rate=0.1, salt="s")
    rows = {r["doc_id"] for r in s.collect()}
    assert rows == {r["doc_id"] for r in s.collect()}  # rerun-stable
    n_en = sum(1 for r in rows if r % 2 == 0)
    n_de = len(rows) - n_en
    assert abs(n_en / 2000 - 0.5) < 0.05
    assert abs(n_de / 2000 - 0.1) < 0.05
    # a different salt decorrelates membership
    s2 = {r["doc_id"] for r in stratified_sample(
        df, key="doc_id", strata="lang", rates={"en": 0.5},
        default_rate=0.1, salt="t").collect()}
    assert s2 != rows
    plan = s._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan
    # rate >= 1 keeps everything; rate 0 keeps nothing
    assert stratified_sample(df, "doc_id", "lang", {"en": 1.0, "de": 1.0},
                             salt="s").count() == 4000
    assert stratified_sample(df, "doc_id", "lang", {}, default_rate=0.0,
                             salt="s").count() == 0


def test_hash_split_exhaustive_exclusive(spark):
    """Every row lands in exactly one split; fractions are respected;
    assignment is independent of partitioning (pure key function)."""
    from kgloom.ops.curate import hash_split
    df = spark.range(5000).select(F.col("id").alias("doc_id"))
    out = hash_split(df, key="doc_id",
                     fractions={"train": 0.8, "val": 0.1, "test": 0.1},
                     salt="x")
    counts = {r["split"]: r["n"] for r in
              out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 5000
    assert abs(counts["train"] / 5000 - 0.8) < 0.03
    assert abs(counts["val"] / 5000 - 0.1) < 0.02
    assert abs(counts["test"] / 5000 - 0.1) < 0.02
    # repartitioning must not change any assignment
    again = dict(hash_split(df.repartition(13), "doc_id",
                            {"train": 0.8, "val": 0.1, "test": 0.1},
                            salt="x").select("doc_id", "split").collect())
    first = dict(out.select("doc_id", "split").collect())
    assert first == again


def test_pack_concat_chunk_stream_semantics(spark):
    """Concat-and-chunk: offsets advance by token counts within a
    bucket, packs are contiguous chunks of the stream, the straddle
    flag marks exactly the boundary-crossing documents, and the
    assignment is independent of input partitioning."""
    from kgloom.ops.packing import pack_concat_chunk
    df = spark.createDataFrame(
        [(f"d{i:02d}", t) for i, t in enumerate(
            [30, 80, 100, 5, 95, 50, 200, 1, 64, 40])],
        "doc_id string, n_tokens int")
    out = pack_concat_chunk(df, "doc_id", "n_tokens",
                            budget=100, n_buckets=1).collect()
    rows = sorted(out, key=lambda r: r.doc_id)
    cum = 0
    for r in rows:  # single bucket, doc_id order = stream order
        assert r.pack == cum // 100
        assert r.offset == cum % 100
        assert r.straddles == int(r.offset + r.n_tokens > 100)
        cum += r.n_tokens
    # partitioning must not change the packing (pure key function)
    again = sorted(pack_concat_chunk(df.repartition(7), "doc_id",
                                     "n_tokens", budget=100,
                                     n_buckets=1).collect(),
                   key=lambda r: r.doc_id)
    assert [tuple(r) for r in again] == [tuple(r) for r in rows]


def test_pack_greedy_first_fit(spark):
    """Greedy: documents never split, a pack closes when the next doc
    would overflow, an exact fit stays in the pack, and an oversize
    doc gets its own pack."""
    from kgloom.ops.packing import pack_greedy
    df = spark.createDataFrame(
        [("a", 60), ("b", 40), ("c", 10), ("d", 150), ("e", 90),
         ("f", 10)],
        "doc_id string, n_tokens int")
    out = {r.doc_id: (r.pack, r.fill) for r in
           pack_greedy(df, "doc_id", "n_tokens",
                       budget=100, n_buckets=1).collect()}
    # a(60)+b(40) exactly fill pack 0; c(10) opens pack 1; d(150) is
    # oversize -> its own pack 2; e(90) pack 3; f(10) joins e exactly
    assert out == {"a": (0, 60), "b": (0, 100), "c": (1, 10),
                   "d": (2, 150), "e": (3, 90), "f": (3, 100)}


def test_pack_greedy_matches_across_buckets(spark):
    """Bucketed greedy packing is deterministic and every document
    appears exactly once; per-bucket fills never exceed the budget
    except for single oversize documents."""
    from kgloom.ops.packing import pack_greedy
    df = spark.range(500).select(
        F.concat(F.lit("doc-"), F.col("id")).alias("doc_id"),
        (F.col("id") % 70 + 1).cast("int").alias("n_tokens"))
    out = pack_greedy(df, "doc_id", "n_tokens", budget=128,
                      n_buckets=8)
    rows = out.collect()
    assert len(rows) == 500
    assert len({r.doc_id for r in rows}) == 500
    assert all(r.fill <= 128 for r in rows)  # no doc exceeds 128 here
    again = pack_greedy(df.repartition(11), "doc_id", "n_tokens",
                        budget=128, n_buckets=8).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_repetition_stats_known_values(spark):
    """Bigram totals/distincts/top-count on hand-checked documents,
    including the short-doc empty guard and an n=3 variant."""
    from kgloom.ops.textstats import repetition_stats
    df = spark.createDataFrame(
        [("loop", "buy now buy now buy now"),   # bigrams: 5, top 'buy now' x3
         ("flat", "a b c d"),                   # 3 distinct bigrams
         ("one", "word"),                       # too short for bigrams
         ("pair", "x y")],                      # exactly one bigram
        "doc_id string, text string")
    out = {r.doc_id: (r.n_tokens, r.n_ngrams, r.n_distinct_ngrams,
                      r.top_ngram_count)
           for r in repetition_stats(df, n=2).collect()}
    assert out["loop"] == (6, 5, 2, 3)   # 'buy now' 3x, 'now buy' 2x
    assert out["flat"] == (4, 3, 3, 1)
    assert out["one"] == (1, 0, 0, 0)
    assert out["pair"] == (2, 1, 1, 1)
    tri = {r.doc_id: (r.n_ngrams, r.top_ngram_count)
           for r in repetition_stats(df, n=3).collect()}
    assert tri["loop"] == (4, 2)         # 'buy now buy' 2x
    assert tri["pair"] == (0, 0)
    # map-side only: no shuffle, no Python in the plan
    plan = repetition_stats(df, n=2) \
        ._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_ngram_commonness_known_values(spark):
    """Common = document frequency >= min_df over DISTINCT per-doc
    grams (within-doc repetition doesn't inflate df); docs too short
    for bigrams report zeros."""
    from kgloom.ops.textstats import ngram_commonness
    df = spark.createDataFrame(
        [("a", "buy now buy now"),     # grams {buy now, now buy}
         ("b", "buy now please"),      # {buy now, now please}
         ("c", "buy now thanks"),      # {buy now, now thanks}
         ("d", "word")],               # no bigrams
        "doc_id string, text string")
    out = {r.doc_id: (r.n_distinct_ngrams, r.n_common_ngrams)
           for r in ngram_commonness(df, n=2, min_df=3).collect()}
    # 'buy now' df=3 (a counts once despite repeating it); others df=1
    assert out == {"a": (2, 1), "b": (2, 1), "c": (2, 1), "d": (0, 0)}
    strict = {r.doc_id: r.n_common_ngrams
              for r in ngram_commonness(df, n=2, min_df=4).collect()}
    assert strict == {"a": 0, "b": 0, "c": 0, "d": 0}


# --- sliding-window chunking -------------------------------------------------

def test_chunk_text_windows_and_overlap(spark):
    from kgloom.ops.textstats import chunk_text
    words = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, words), (2, "a b c"), (3, "solo")],
        "doc_id int, text string")
    got = {(r.doc_id, r.chunk_idx): (r.chunk, r.n_tokens)
           for r in chunk_text(docs, chunk_tokens=4,
                               overlap_tokens=2).collect()}
    # doc 1: starts 0,2,4,6 (stride 2) — 1 + ceil((10-4)/2) = 4 chunks,
    # no start past full coverage
    assert got[(1, 0)] == ("w0 w1 w2 w3", 4)
    assert got[(1, 1)] == ("w2 w3 w4 w5", 4)
    assert got[(1, 3)] == ("w6 w7 w8 w9", 4)
    assert len([k for k in got if k[0] == 1]) == 4
    # docs no longer than one chunk yield exactly one
    assert got[(2, 0)] == ("a b c", 3)
    assert got[(3, 0)] == ("solo", 1)
    assert len([k for k in got if k[0] == 2]) == 1
    # every adjacent pair overlaps by exactly overlap_tokens
    assert got[(1, 1)][0].split()[:2] == got[(1, 0)][0].split()[-2:]


def test_chunk_text_reconstructs_document(spark):
    """Dropping each chunk's leading overlap (except chunk 0)
    reconstructs the original token stream exactly."""
    from kgloom.ops.textstats import chunk_text
    words = " ".join(f"t{i}" for i in range(53))
    docs = spark.createDataFrame([(1, words)], "doc_id int, text string")
    rows = sorted(chunk_text(docs, chunk_tokens=16, overlap_tokens=5)
                  .collect(), key=lambda r: r.chunk_idx)
    rebuilt = rows[0].chunk.split()
    for r in rows[1:]:
        rebuilt += r.chunk.split()[5:]
    assert rebuilt == words.split()


def test_chunk_text_validates_params(spark):
    from kgloom.ops.textstats import chunk_text
    docs = spark.createDataFrame([(1, "x")], "doc_id int, text string")
    import pytest as _pt
    with _pt.raises(ValueError):
        chunk_text(docs, chunk_tokens=8, overlap_tokens=8)
    with _pt.raises(ValueError):
        chunk_text(docs, chunk_tokens=8, overlap_tokens=-1)


# --- quality logit + negative sampling ---------------------------------------

def test_quality_logit_default_weights(spark):
    from kgloom.ops.textstats import quality_logit
    docs = spark.createDataFrame(
        [(1, "the quick brown fox and the lazy dog of the day"),
         (2, "1234 5678 9012 3456 7890 1234 5678 9012,,,;;;!!!")],
        "doc_id int, text string")
    got = {r.doc_id: (round(r.logit, 10), r.keep)
           for r in quality_logit(docs).collect()}
    # doc 1: 11 tokens, 5 stopwords (the x2, and, of, the) + length;
    # recompute the fold exactly
    assert got[1][1] is True and got[2][1] is False
    import pytest as _pt
    with _pt.raises(ValueError):
        quality_logit(docs, weights={"nope": 1.0})


def test_negative_samples_deterministic_and_flagged(spark):
    from kgloom.ops.negatives import entity_index, negative_samples
    T = "subj string, pred string, obj string"
    triples = spark.createDataFrame(
        [("<a>", "<p>", "<b>"), ("<b>", "<p>", "<c>"),
         ("<a>", "<q>", '"lit"')], T)
    ents = {r.entity: r.idx for r in entity_index(triples).collect()}
    # literals never enter the vocabulary; indexing is dense 0..n-1
    assert set(ents) == {"<a>", "<b>", "<c>"}
    assert sorted(ents.values()) == [0, 1, 2]
    # (md5-bucket, entity) order — recompute the two-phase rank
    import hashlib as _hl
    order = sorted(ents, key=lambda e: (
        int(_hl.md5(e.encode()).hexdigest()[:4], 16) % 256, e))
    assert ents == {e: i for i, e in enumerate(order)}
    out1 = sorted(map(tuple, negative_samples(triples, 2).collect()))
    out2 = sorted(map(tuple, negative_samples(triples, 2).collect()))
    assert out1 == out2                      # rerun-stable
    assert len(out1) == 3 * 2                # n_neg per positive
    # replacement entity matches the md5 draw
    import hashlib
    inv = {v: k for k, v in ents.items()}
    for (subj, pred, obj, neg_idx, neg_obj, is_pos) in out1:
        slot = int(hashlib.md5(
            f"{subj}{pred}{obj}{neg_idx}".encode()).hexdigest()[:8],
            16) % 3
        assert neg_obj == inv[slot]
        truth = {("<a>", "<p>", "<b>"), ("<b>", "<p>", "<c>"),
                 ("<a>", "<q>", '"lit"')}
        assert is_pos == ((subj, pred, neg_obj) in truth)


def test_rrf_fuse_math_and_validation(spark):
    from kgloom.ops.retrieval import rrf_fuse
    a = spark.createDataFrame([(1, 1), (2, 2)], "doc_id int, rank int")
    b = spark.createDataFrame([(2, 1), (3, 2)], "doc_id int, rank int")
    got = {r.doc_id: (r.rrf_score, r.rank)
           for r in rrf_fuse([a, b], rrf_k=60).collect()}
    # doc 2 appears in both lists: 1/62 + 1/61; docs 1/3 in one each
    assert got[2][0] == 1.0 / 62 + 1.0 / 61 and got[2][1] == 1
    assert got[1][0] == 1.0 / 61 and got[3][0] == 1.0 / 62
    assert got[1][1] == 2 and got[3][1] == 3   # tie-broken by score
    import pytest as _pt
    with _pt.raises(ValueError):
        rrf_fuse([])


def test_hard_negative_pairs_band(spark):
    from kgloom.ops.similarity import hard_negative_pairs
    # axis-aligned vectors: cos(v0,v1)=0.8, cos(v0,v2)=1.0 (dup),
    # cos(v0,v3)=0.0 — only v1 sits in the [0.25, 0.95) band
    emb = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.8, 0.6]), (2, [2.0, 0.0]),
         (3, [0.0, 1.0])],
        "vec_id long, embedding array<float>")
    got = [(r.query_id, r.neighbor_id, r.rank)
           for r in hard_negative_pairs(emb, lo=0.25, hi=0.95, k=5,
                                        query_ids=[0]).collect()]
    assert got == [(0, 1, 1)]


def test_learn_bpe_merges_textbook(spark):
    # the classic low/lower/lowest corpus, hand-traced:
    # (l,o)=6 ties (o,w)=6 → lex; then (lo,w)=6; (e,w)=3 ties (n,e)=3
    # → lex; then (n,ew)=3
    from kgloom.ops.lm import learn_bpe_merges
    docs = spark.createDataFrame(
        [(1, "low low low lower lowest"), (2, "new newer newest low")],
        "doc_id long, text string")
    got = [tuple(r) for r in learn_bpe_merges(docs, n_merges=4).collect()]
    assert got == [(1, "l", "o", 6), (2, "lo", "w", 6),
                   (3, "e", "w", 3), (4, "n", "ew", 3)]
    # merge exhaustion stops early instead of emitting junk
    tiny = spark.createDataFrame([(1, "ab")], "doc_id long, text string")
    assert [tuple(r) for r in learn_bpe_merges(tiny, n_merges=5).collect()] \
        == [(1, "a", "b", 1)]
    with pytest.raises(ValueError):
        learn_bpe_merges(docs, n_merges=0)


def test_apply_bpe_counts(spark):
    from kgloom.ops.lm import apply_bpe
    docs = spark.createDataFrame([(1, "low lower"), (2, "ow")],
                                 "doc_id long, text string")
    got = {r["doc_id"]: (r["n_words"], r["n_subwords"])
           for r in apply_bpe(docs, [("l", "o"), ("lo", "w")]).collect()}
    # low -> [low]; lower -> [low, e, r]; ow -> [o, w] (no 'lo' start)
    assert got == {1: (2, 4), 2: (1, 2)}
    # empty merge list = character tokenization
    base = {r["doc_id"]: r["n_subwords"]
            for r in apply_bpe(docs, []).collect()}
    assert base == {1: 8, 2: 2}


def test_bigram_lm_scores_exact(spark):
    from kgloom.ops.lm import bigram_lm_scores
    import math
    docs = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c"), (3, "x")],
        "doc_id int, text string")
    # corpus bigrams: d1: (a,b),(b,a),(a,b); d2: (a,b),(b,c)
    # c2: (a,b)=3, (b,a)=1, (b,c)=1 ; c1: a·=3, b·=2 ; V=4 (a,b,c,x)
    k, V = 0.5, 4
    lp_ab = math.log((3 + k) / (3 + k * V))
    lp_ba = math.log((1 + k) / (2 + k * V))
    lp_bc = math.log((1 + k) / (2 + k * V))
    got = {r.doc_id: (r.n_grams, r.logprob, r.avg_logprob)
           for r in bigram_lm_scores(docs, k_smooth=k).collect()}
    assert set(got) == {1, 2}            # doc 3 has no bigrams
    exp1 = ((0.0 + lp_ab) + lp_ba) + lp_ab
    assert got[1] == (3, exp1, exp1 / 3)
    exp2 = (0.0 + lp_ab) + lp_bc
    assert got[2] == (2, exp2, exp2 / 2)
    import pytest as _pt
    with _pt.raises(ValueError):
        bigram_lm_scores(docs, k_smooth=0)


def test_k_core_peeling(spark):
    from kgloom.ops.graph import k_core
    import pytest as _pt
    # triangle a-b-c plus a tail c-d-e: 2-core = the triangle only,
    # and peeling needs TWO rounds (e drops first, then d)
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"), ("c", "d"), ("d", "e")],
        "src string, dst string")
    got = {r.node: r.degree for r in k_core(edges, k=2).collect()}
    assert got == {"a": 2, "b": 2, "c": 2}
    # k=3 peels everything: empty core, still converges
    assert k_core(edges, k=3).count() == 0
    with _pt.raises(ValueError):
        k_core(edges, k=0)
    with _pt.raises(RuntimeError):
        k_core(edges, k=2, max_rounds=1)


def test_personalized_pagerank_restart_semantics(spark):
    from kgloom.ops.graph import personalized_pagerank
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"), ("c", "d"),
         ("d", "c")],
        "src string, dst string")
    seeds = spark.createDataFrame([("a",), ("zzz-not-in-graph",)],
                                  "node string")
    # the bidirected chain is BIPARTITE, so power iteration
    # oscillates with residual damping^k — damping 0.6 over 16
    # rounds leaves ~3e-4 against converged gaps of ~0.16
    # (solved by hand: a≈0.501, b≈0.338, c≈0.124, d≈0.037)
    pr = {r["node"]: r["rank"]
          for r in personalized_pagerank(
              edges, seeds, damping=0.6, iterations=16).collect()}
    assert set(pr) == {"a", "b", "c", "d"}
    assert abs(sum(pr.values()) - 1.0) < 1e-9     # mass conserved
    assert pr["a"] > pr["b"] > pr["c"] > pr["d"]
    assert abs(pr["a"] - 0.5014) < 0.01
    # damping 0 → the restart vector itself (all mass on the seed)
    pr0 = {r["node"]: r["rank"]
           for r in personalized_pagerank(
               edges, seeds, damping=0.0, iterations=2).collect()}
    assert pr0 == {"a": 1.0, "b": 0.0, "c": 0.0, "d": 0.0}


def test_rp_sketch_python_replay(spark):
    from kgloom.ops.similarity import rademacher_signs, rp_sketch
    rows = [(0, [1.0, -2.0, 0.5, 4.0]), (1, [-4.0, 0.0, 2.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: list(r["sketch"])
           for r in rp_sketch(emb, out_dim=3, in_dim=4).collect()}
    # replay: global scale 127/4, round-half-up like Spark F.round
    from decimal import Decimal, ROUND_HALF_UP
    scale = 127.0 / 4.0
    signs = rademacher_signs(3, 4)
    for vid, vec in rows:
        q = [int(Decimal(x * scale).quantize(0, ROUND_HALF_UP))
             for x in vec]
        want = [sum(s * v for s, v in zip(signs[j], q)) for j in range(3)]
        assert out[vid] == want, (vid, out[vid], want)
    with pytest.raises(ValueError):
        rp_sketch(emb, out_dim=0)


def test_bfs_levels_frontier(spark):
    from kgloom.ops.graph import bfs_levels
    edges = spark.createDataFrame(
        [("s", "a"), ("a", "b"), ("b", "c"), ("d", "e")],
        "src string, dst string")
    seeds = spark.createDataFrame([("s",)], "node string")
    got = {r["node"]: r["level"]
           for r in bfs_levels(edges, seeds).collect()}
    assert got == {"s": 0, "a": 1, "b": 2, "c": 3}   # d,e unreachable
    # max_depth truncates; directed mode follows arcs only
    shallow = {r["node"]: r["level"]
               for r in bfs_levels(edges, seeds, max_depth=1).collect()}
    assert shallow == {"s": 0, "a": 1}
    darr = spark.createDataFrame([("s", "a"), ("b", "s")],
                                 "src string, dst string")
    directed = {r["node"]: r["level"]
                for r in bfs_levels(darr, seeds, directed=True).collect()}
    assert directed == {"s": 0, "a": 1}


def test_jaccard_pairs_exact(spark):
    # square a-b-c-d-a: non-adjacent diagonals (a,c) and (b,d) share
    # exactly their 2 common neighbors; all degrees 2 → jaccard = 1.0
    from kgloom.ops.graph import jaccard_pairs
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a")],
        "src string, dst string")
    got = {(r["u"], r["v"]): (r["n_common"], r["deg_u"], r["deg_v"],
                              r["jaccard"])
           for r in jaccard_pairs(edges).collect()}
    assert got == {("a", "c"): (2, 2, 2, 1.0),
                   ("b", "d"): (2, 2, 2, 1.0)}
    # star center e with leaves: leaves pairwise share only e
    star = spark.createDataFrame(
        [("e", "p"), ("e", "q"), ("e", "r")], "src string, dst string")
    got2 = {(r["u"], r["v"]): (r["n_common"], r["jaccard"])
            for r in jaccard_pairs(star).collect()}
    assert got2 == {("p", "q"): (1, 1.0), ("p", "r"): (1, 1.0),
                    ("q", "r"): (1, 1.0)}
    assert jaccard_pairs(star, max_center_degree=2).count() == 0


def test_label_propagation_two_triangles(spark):
    # two triangles bridged by c—x; hand-traced 3 synchronous rounds
    # (integer votes, min-label ties) settle on one label per triangle
    from kgloom.ops.graph import label_propagation
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("a", "c"),
         ("x", "y"), ("y", "z"), ("x", "z"), ("c", "x")],
        "src string, dst string")
    got = {r["node"]: r["community"]
           for r in label_propagation(edges, rounds=3).collect()}
    assert got == {"a": "a", "b": "a", "c": "a",
                   "x": "c", "y": "c", "z": "c"}
    with pytest.raises(ValueError):
        label_propagation(edges, rounds=0)


def test_hits_integer_path_counts(spark):
    # a→b, a→c, b→c, d→c; hand-unrolled two unnormalized rounds:
    # auth₁ = in-degree (b:1, c:3); hub₁(a)=1+3, hub₁(b)=hub₁(d)=3;
    # auth₂(b)=hub₁(a)=4, auth₂(c)=4+3+3=10; hub₂(a)=4+10, …
    from kgloom.ops.graph import hits
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("d", "c")],
        "src string, dst string")
    got = {r["node"]: (r["hub"], r["auth"])
           for r in hits(edges, iterations=2).collect()}
    assert got == {"a": (14, 0), "b": (10, 4),
                   "c": (0, 10), "d": (10, 0)}
    with pytest.raises(ValueError):
        hits(edges, iterations=0)


def test_adamic_adar_exact(spark):
    from kgloom.ops.graph import adamic_adar
    import math
    # 4-cycle a-b-c-d: non-adjacent pairs (a,c) and (b,d), each with
    # two common neighbors of degree 2
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("a", "d")],
        "src string, dst string")
    x = 1.0 / math.log(2.0)
    exp = (0.0 + x) + x
    got = {(r.u, r.v): (r.n_common, r.aa_score)
           for r in adamic_adar(edges).collect()}
    assert got == {("a", "c"): (2, exp), ("b", "d"): (2, exp)}
    assert adamic_adar(edges, min_common=3).count() == 0
    assert adamic_adar(edges, max_center_degree=1).count() == 0


def test_predicate_profile_flags(spark):
    from kgloom.ops.graph import predicate_profile
    tri = spark.createDataFrame(
        [("<s1>", "<p>", "<o1>"), ("<s1>", "<p>", "<o2>"),
         ("<s2>", "<p>", "<o2>"), ("<s1>", "<q>", "<o9>")],
        "subj string, pred string, obj string")
    got = {r.pred: r for r in predicate_profile(tri).collect()}
    p, q = got["<p>"], got["<q>"]
    assert (p.n_triples, p.n_subj, p.n_obj, p.max_out, p.max_in) \
        == (3, 2, 2, 2, 2)
    assert not p.functional and not p.inverse_functional
    assert (q.n_triples, q.max_out, q.max_in) == (1, 1, 1)
    assert q.functional and q.inverse_functional


def test_pmi_pairs_exact(spark):
    from kgloom.ops.graph import pmi_pairs
    import math
    inc = spark.createDataFrame(
        [(1, "x"), (1, "y"), (2, "x"), (2, "y"), (3, "x"), (3, "z"),
         (3, "z")],  # duplicate incidence rows are deduped
        "bag int, item string")
    got = {(r.a, r.b): (r.n_ab, r.n_a, r.n_b, r.n_bags, r.pmi)
           for r in pmi_pairs(inc, "bag", "item").collect()}
    # x in 3 bags, y in 2, z in 1; (x,y) together twice of N=3
    assert got[("x", "y")][:4] == (2, 3, 2, 3)
    assert got[("x", "y")][4] == math.log((2.0 * 3) / (3.0 * 2))
    assert got[("x", "z")][:4] == (1, 3, 1, 3)
    assert got[("x", "z")][4] == math.log((1.0 * 3) / (3.0 * 1))
    assert ("y", "z") not in got
    assert {(r.a, r.b) for r in
            pmi_pairs(inc, "bag", "item", min_count=2).collect()} \
        == {("x", "y")}


def test_random_walks_deterministic_md5_paths(spark):
    from kgloom.ops.graph import random_walks
    import hashlib
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d")],
        "src string, dst string")
    out = random_walks(edges, n_walks=2, walk_len=3)
    rows = sorted(map(tuple, out.collect()))
    assert rows == sorted(map(tuple, random_walks(
        edges, n_walks=2, walk_len=3).collect()))   # rerun-stable
    # replay every step in python over the symmetrized adjacency
    adj = {"a": ["b", "c"], "b": ["a", "c"], "c": ["a", "b", "d"],
           "d": ["c"]}
    expected = []
    for start in adj:
        for w in range(2):
            node = start
            expected.append((start, w, 0, node))
            for i in range(3):
                d = int(hashlib.md5(
                    f"{start}|{w}|{i}|{node}".encode()).hexdigest()[:8],
                    16) % len(adj[node])
                node = adj[node][d]
                expected.append((start, w, i + 1, node))
    assert rows == sorted(expected)
    # directed mode: walks stop at sinks instead of emitting rows
    directed = random_walks(spark.createDataFrame(
        [("a", "b")], "src string, dst string"),
        n_walks=1, walk_len=2, directed=True)
    assert sorted(map(tuple, directed.collect())) == [
        ("a", 0, 0, "a"), ("a", 0, 1, "b"), ("b", 0, 0, "b")]


def test_walk_adjacency_persistence_is_transparent(spark):
    # walks of 8+ steps persist the per-step adjacency tables, shorter
    # walks recompute them — an execution strategy only, never the
    # walked paths: the first 7 steps of a (persisted) 8-step walk are
    # the (recomputed) 7-step walk
    from kgloom.ops.graph import biased_walks, random_walks
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("d", "e")],
        "src string, dst string")
    for fn, kw in ((random_walks, {}), (biased_walks, {"p": 2.0, "q": 0.5})):
        cached = sorted(map(tuple, fn(
            edges, n_walks=2, walk_len=8, **kw)
            .where("step <= 7").collect()))
        plain = sorted(map(tuple, fn(
            edges, n_walks=2, walk_len=7, **kw).collect()))
        assert cached == plain
    from kgloom.ops.cache import unpersist_tracked
    assert unpersist_tracked() >= 5   # 8-step runs registered caches


def test_skipgram_pairs_window(spark):
    from kgloom.ops.graph import skipgram_pairs
    import pytest as _pt
    walks = spark.createDataFrame(
        [("a", 0, 0, "a"), ("a", 0, 1, "b"), ("a", 0, 2, "c"),
         ("a", 0, 3, "d"), ("z", 1, 0, "z")],
        "start string, walk_id int, step int, node string")
    got = sorted((r.center, r.context, r.offset)
                 for r in skipgram_pairs(walks, window=1).collect())
    assert got == sorted([
        ("a", "b", 1), ("b", "a", -1), ("b", "c", 1), ("c", "b", -1),
        ("c", "d", 1), ("d", "c", -1)])
    # window=2 adds the distance-2 pairs; the singleton walk adds none
    assert skipgram_pairs(walks, window=2).count() == 10
    with _pt.raises(ValueError):
        skipgram_pairs(walks, window=0)


def test_biased_walks_node2vec_replay(spark):
    from kgloom.ops.graph import biased_walks
    import hashlib
    import pytest as _pt
    edges = spark.createDataFrame(
        [("a", "b"), ("a", "c"), ("b", "c"), ("c", "d"), ("d", "e")],
        "src string, dst string")
    adj = {"a": ["b", "c"], "b": ["a", "c"], "c": ["a", "b", "d"],
           "d": ["c", "e"], "e": ["d"]}
    p, q = 4.0, 0.25
    got = sorted(map(tuple, biased_walks(
        edges, p=p, q=q, n_walks=2, walk_len=3).collect()))
    assert got == sorted(map(tuple, biased_walks(
        edges, p=p, q=q, n_walks=2, walk_len=3).collect()))
    exp = []
    for start in adj:
        for w in range(2):
            node = start
            exp.append((start, w, 0, node))
            d = int(hashlib.md5(f"{start}|{w}|0|{node}".encode())
                    .hexdigest()[:8], 16) % len(adj[node])
            prev, node = node, adj[node][d]
            exp.append((start, w, 1, node))
            for i in (1, 2):
                alphas = []
                for x in adj[node]:
                    if x == prev:
                        alphas.append(1.0 / p)
                    elif x in adj[prev]:
                        alphas.append(1.0)
                    else:
                        alphas.append(1.0 / q)
                draw = int(hashlib.md5(
                    f"{start}|{w}|{i}|{prev}|{node}".encode())
                    .hexdigest()[:8], 16)
                t = draw / 4294967296.0 * sum(alphas)
                cum = 0.0
                for x, a in zip(adj[node], alphas):
                    cum += a
                    if cum > t:
                        prev, node = node, x
                        break
                exp.append((start, w, i + 1, node))
    assert got == sorted(exp)
    with _pt.raises(ValueError):
        biased_walks(edges, p=3.0)          # not a power of two


def test_negative_samples_subject_side(spark):
    from kgloom.ops.negatives import entity_index, negative_samples
    import hashlib
    import pytest as _pt
    T = "subj string, pred string, obj string"
    triples = spark.createDataFrame(
        [("<a>", "<p>", "<b>"), ("<b>", "<p>", "<c>"),
         ("<a>", "<q>", '"lit"')], T)
    ents = {r.entity: r.idx for r in entity_index(triples).collect()}
    inv = {v: k for k, v in ents.items()}
    out = sorted(map(tuple, negative_samples(
        triples, 2, corrupt="subj").collect()))
    assert len(out) == 6
    truth = {("<a>", "<p>", "<b>"), ("<b>", "<p>", "<c>"),
             ("<a>", "<q>", '"lit"')}
    for (subj, pred, obj, neg_idx, neg_subj, is_pos) in out:
        slot = int(hashlib.md5(
            f"{subj}{pred}{obj}{neg_idx}".encode()).hexdigest()[:8],
            16) % 3
        assert neg_subj == inv[slot]
        assert is_pos == ((neg_subj, pred, obj) in truth)
    with _pt.raises(ValueError):
        negative_samples(triples, 2, corrupt="pred")


def test_link_prediction_ranks(spark):
    from kgloom.ops.graph import link_prediction_ranks
    # dense-ish graph so held-out edges stay predictable at distance 2
    edges = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "c"),
         ("b", "d"), ("d", "e"), ("e", "a")],
        "src string, dst string")
    out = link_prediction_ranks(edges, test_fraction=0.3, salt="t")
    rows = sorted(map(tuple, out.collect()))
    assert rows == sorted(map(tuple, link_prediction_ranks(
        edges, test_fraction=0.3, salt="t").collect()))  # rerun-stable
    assert 0 < len(rows) < 8            # the split held something out
    for (u, v, rank, found) in rows:
        assert found == (rank is not None)
        if found:
            assert rank >= 1


def test_learn_bpe_batched_equals_sequential(spark):
    """batch_size > 1 must be provably invisible: identical merge
    lists on a tie-heavy corpus (where an unsound batch would diverge)
    and on realistic text."""
    from kgloom.ops.lm import learn_bpe_merges
    # tie-heavy: many equal pair counts, shared tokens across the top
    docs = spark.createDataFrame(
        [(1, "abab abab cdcd cdcd efef"), (2, "abcd cdef efab abef"),
         (3, "aabb ccdd eeff aabb"), (4, "xyz xyz zyx yzx xzy")],
        "doc_id long, text string")
    seq = [tuple(r) for r in
           learn_bpe_merges(docs, n_merges=12, batch_size=1).collect()]
    for bs in (4, 8):
        bat = [tuple(r) for r in
               learn_bpe_merges(docs, n_merges=12,
                                batch_size=bs).collect()]
        assert bat == seq, f"batch_size={bs}"
    docs2 = spark.createDataFrame(
        [(i, t) for i, t in enumerate(
            ["the quick brown fox jumps over the lazy dog",
             "pack my box with five dozen liquor jugs",
             "the five boxing wizards jump quickly",
             "sphinx of black quartz judge my vow",
             "how vexingly quick daft zebras jump"] * 3)],
        "doc_id long, text string")
    seq2 = [tuple(r) for r in
            learn_bpe_merges(docs2, n_merges=16, batch_size=1).collect()]
    bat2 = [tuple(r) for r in
            learn_bpe_merges(docs2, n_merges=16, batch_size=8).collect()]
    assert bat2 == seq2


def test_learn_bpe_vocabulary_gates(spark):
    """max_words / sample_fraction bound the iterated word table
    deterministically: max_words=N trains on exactly the top-N words
    by (freq desc, word)."""
    from kgloom.ops.lm import learn_bpe_merges
    docs = spark.createDataFrame(
        [(1, "aa aa aa aa bb bb bb cc cc zz")],
        "doc_id long, text string")
    # top-2 words by freq are aa (4), bb (3) — cc/zz excluded, so the
    # learned merges can only involve a and b
    got = [tuple(r) for r in
           learn_bpe_merges(docs, n_merges=2, max_words=2).collect()]
    assert got == [(1, "a", "a", 4), (2, "b", "b", 3)]
    # sample_fraction=1.0 keeps everything (pure function gate)
    full = [tuple(r) for r in
            learn_bpe_merges(docs, n_merges=2,
                             sample_fraction=1.0).collect()]
    nogate = [tuple(r) for r in
              learn_bpe_merges(docs, n_merges=2).collect()]
    assert full == nogate
    # a small fraction drops words; the result is still deterministic
    a = [tuple(r) for r in learn_bpe_merges(
        docs, n_merges=2, sample_fraction=0.5).collect()]
    b = [tuple(r) for r in learn_bpe_merges(
        docs, n_merges=2, sample_fraction=0.5).collect()]
    assert a == b


def test_temperature_mixture(spark):
    """α-temperature mixing (kgloom/ops/curate.py): the smallest
    stratum keeps everything, α=1 keeps all rows, kept sizes approach
    the tempered share sqrt(n_s * n_min) at α=0.5, and the gate
    replays exactly in plain Python (md5 + IEEE sqrt/multiply)."""
    import hashlib
    import math

    from pyspark.sql import functions as F

    from kgloom.ops.curate import temperature_mixture
    import pytest as _pytest
    rows = ([(i, "big") for i in range(1600)]
            + [(i + 10_000, "mid") for i in range(400)]
            + [(i + 20_000, "small") for i in range(100)])
    df = spark.createDataFrame(rows, "doc_id long, src string")

    kept = temperature_mixture(df, key="doc_id", strata="src",
                               alpha=0.5).collect()
    by = {}
    for r in kept:
        by.setdefault(r.src, set()).add(r.doc_id)
    # smallest stratum fully kept
    assert len(by["small"]) == 100
    # tempered expectation: sqrt(n_s * n_min) ± sampling noise
    assert abs(len(by["big"]) - math.sqrt(1600 * 100)) < 60
    assert abs(len(by["mid"]) - math.sqrt(400 * 100)) < 40
    # α=1 keeps everything; deterministic across invocations
    assert temperature_mixture(df, "doc_id", "src", alpha=1.0).count() \
        == len(rows)
    again = {(r.doc_id, r.src) for r in temperature_mixture(
        df, "doc_id", "src", alpha=0.5).collect()}
    assert again == {(r.doc_id, r.src) for r in kept}
    with _pytest.raises(ValueError):
        temperature_mixture(df, "doc_id", "src", alpha=1.5)

    # exact Python replay of the documented gate
    n = {"big": 1600, "mid": 400, "small": 100}
    nmin = 100
    want = set()
    for i, src in rows:
        rank = int(hashlib.md5(str(i).encode()).hexdigest()[:8], 16)
        if float(rank) * math.sqrt(float(n[src])) \
                < 4294967296.0 * math.sqrt(float(nmin)):
            want.add((i, src))
    assert again == want

"""Structured Streaming tests: streaming triple construction with
watermarked dedup, windowed mention aggregation, stateful sessions."""

import glob

import pytest
from pyspark.sql import functions as F

from kgloom.streaming import (
    read_transcript_stream,
    stream_mention_window_counts,
    stream_session_state,
    stream_turn_triples,
)
from kgloom.transcripts.generate import generate_transcripts

from conftest import spark_jobs


@pytest.fixture()
def turn_files(spark, tmp_path):
    inp = str(tmp_path / "input")
    turns = generate_transcripts(spark, 2000, n_convs=20, n_entities=15)
    turns.repartition(4).write.mode("overwrite").parquet(inp)
    return inp, turns


def test_stream_turn_triples(spark, tmp_path, turn_files):
    inp, turns = turn_files
    out = str(tmp_path / "out")
    q = stream_turn_triples(spark, inp, out, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    # streamed triples == batch triples from the same expressions
    from kgloom.streaming.pipeline import _turn_triple_columns
    want = _turn_triple_columns(turns)
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    assert got.columns == ["subj", "pred", "obj", "graph"]


def test_stream_mention_window_counts(spark, tmp_path, turn_files):
    inp, turns = turn_files
    stream = read_transcript_stream(spark, inp)
    counts = stream_mention_window_counts(stream, window="10 minutes")
    q = (counts.writeStream.format("memory").queryName("mention_counts")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM mention_counts")
    # compare against a batch computation of the same windows
    want = stream_mention_window_counts(turns, window="10 minutes")
    g = {(r.window_start, r.entity): r.n_mentions for r in got.collect()}
    w = {(r.window_start, r.entity): r.n_mentions for r in want.collect()}
    # append mode only emits windows the watermark closed; every emitted
    # window must match the batch truth, and most windows should emit
    assert g and all(w.get(k) == v for k, v in g.items())


def test_stream_session_state(spark, tmp_path, turn_files):
    inp, _ = turn_files
    stream = read_transcript_stream(spark, inp)
    sessions = stream_session_state(stream)
    q = (sessions.writeStream.format("memory").queryName("sessions")
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql(
        "SELECT conv_id, max(n_turns) AS n FROM sessions GROUP BY conv_id")
    truth = spark.read.parquet(inp).groupBy("conv_id").count()
    g = {r.conv_id: r.n for r in got.collect()}
    t = {r.conv_id: r["count"] for r in truth.collect()}
    assert g == t


def test_stream_closed_triples_equals_batch_closure(spark, tmp_path,
                                                    turn_files):
    """Incremental per-micro-batch closure == one-shot batch closure
    (set equality) — the rho-df distributivity the docstring claims."""
    from kgloom.ops.reasoning import RDFS_DOMAIN, RDFS_SUBCLASS, rdfs_closure
    from kgloom.streaming.pipeline import (_turn_triple_columns,
                                           stream_closed_triples)
    inp, turns = turn_files
    KGO = "http://kg.example/ontology/"
    ont = spark.createDataFrame(
        [(f"<{KGO}usedTool>", RDFS_DOMAIN, f"<{KGO}ToolTurn>"),
         (f"<{KGO}ToolTurn>", RDFS_SUBCLASS, f"<{KGO}Turn>")],
        "subj string, pred string, obj string")
    out = str(tmp_path / "closed")
    q = stream_closed_triples(spark, inp, out, str(tmp_path / "ckpt2"), ont)
    q.awaitTermination(120)
    # the sink lays out one batch=<id> partition dir per micro-batch
    # (retry-idempotent overwrite + lineage); project it away for the
    # set compare
    got = set(map(tuple, spark.read.parquet(out)
                  .select("subj", "pred", "obj").distinct().collect()))
    batch = _turn_triple_columns(turns).select("subj", "pred", "obj")
    want = set(map(tuple, rdfs_closure(
        batch, schema=ont, include_schema=False).collect()))
    assert got == want
    assert any(p.endswith("#type>") for _, p, _ in got)


def test_session_windows_batch_equals_lag_sessionize(spark, turn_files):
    """Native session_window sessionization == the batch LAG
    formulation (kgloom/transcripts/training.py) on gap-unambiguous
    data: same per-conversation multiset of session sizes."""
    from kgloom.streaming import stream_session_windows
    from kgloom.transcripts.training import session_summary
    _, turns = turn_files
    # inject hour jumps every 5 turns so conversations really split
    bumped = turns.withColumn(
        "ts", F.expr("timestampadd(HOUR, CAST(floor(turn_idx / 5) "
                     "AS INT), ts)"))
    win = stream_session_windows(bumped, gap="30 minutes")
    lag = session_summary(bumped, gap_seconds=1800)
    g = sorted((r.conv_id, r.n_turns, r.n_tool_turns)
               for r in win.collect())
    w = sorted((r.conv_id, r.n_turns, r.n_tool_turns)
               for r in lag.collect())
    assert g == w
    assert len(g) > turns.select("conv_id").distinct().count()


def test_stream_session_windows_appends_closed_sessions(spark, tmp_path,
                                                        turn_files):
    from kgloom.streaming import read_transcript_stream, \
        stream_session_windows
    _, turns = turn_files
    bumped = turns.withColumn(
        "ts", F.expr("timestampadd(HOUR, CAST(floor(turn_idx / 5) "
                     "AS INT), ts)"))
    inp2 = str(tmp_path / "bumped")
    bumped.repartition(4).write.mode("overwrite").parquet(inp2)
    stream = read_transcript_stream(spark, inp2)
    q = (stream_session_windows(stream, gap="30 minutes",
                                watermark="10 minutes")
         .writeStream.format("memory").queryName("sess_win")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM sess_win").collect()
    truth = {(r.conv_id, r.session_start): (r.n_turns, r.n_tool_turns)
             for r in stream_session_windows(bumped,
                                             gap="30 minutes").collect()}
    # append mode emits only watermark-closed sessions; every emitted
    # session must match the batch truth
    assert all(truth.get((r.conv_id, r.session_start))
               == (r.n_turns, r.n_tool_turns) for r in got)


def test_stream_tool_attribution_equals_batch(spark, tmp_path, turn_files):
    # stream-stream interval join == the same join run in batch
    from kgloom.streaming import read_transcript_stream, stream_tool_attribution
    inp, turns = turn_files
    stream = read_transcript_stream(spark, inp)
    joined = stream_tool_attribution(stream, max_gap="30 seconds")
    q = (joined.writeStream.format("memory").queryName("tool_attr")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = sorted(map(tuple, spark.sql("SELECT * FROM tool_attr").collect()))
    want = sorted(map(tuple, stream_tool_attribution(
        turns, max_gap="30 seconds").collect()))
    assert got == want and len(got) > 0
    # every pair obeys the interval contract
    bad = spark.sql("""
        SELECT * FROM tool_attr
        WHERE tool_ts <= assistant_ts
           OR tool_ts > assistant_ts + INTERVAL 30 seconds""").count()
    assert bad == 0


def test_stream_kll_incremental_quantiles(spark, tmp_path):
    """Incremental KLL fold (kgloom/streaming/quantiles.py): per-batch
    sketches merged into bounded centroid state —
    cent_k = Merge(cent_{k-1} ∪ Sketch(batch_k)).  The final quantiles
    must meet the (looser, fold-count-aware) rank bound vs the exact
    quantiles of everything streamed, the state must stay ≤ k
    centroids per group at every version, and replaying the stream
    from scratch must reproduce the state bit-for-bit."""
    import bisect
    import random

    from kgloom.streaming.quantiles import (read_centroids,
                                            read_quantiles, stream_kll)
    rng = random.Random(20260820)
    K = 32
    vals = {"a": [rng.randrange(0, 100_000) for _ in range(6000)],
            "b": [int(1000 / (rng.random() + 0.01)) for _ in range(6000)]}
    rows = [(g, v) for g, vs in vals.items() for v in vs]
    rng.shuffle(rows)
    inp = str(tmp_path / "vin")
    # 4 files -> 4 micro-batches with maxFilesPerTrigger=1
    df = spark.createDataFrame(rows, "g string, v long")
    df.repartition(4).write.mode("overwrite").parquet(inp)

    def run(state, ckpt):
        stream = (spark.readStream.schema("g string, v long")
                  .option("maxFilesPerTrigger", "1").parquet(inp))
        q = stream_kll(spark, stream, str(tmp_path / state),
                       str(tmp_path / ckpt), ["g"], "v", k=K, n_salts=4)
        q.awaitTermination(180)
        return str(tmp_path / state)

    state = run("st1", "ck1")
    cent = read_centroids(spark, state, ["g"])
    per_g = {r.g: r.c for r in
             cent.groupBy("g").agg(F.count(F.lit(1)).alias("c")).collect()}
    assert all(c <= K for c in per_g.values())
    # weight conservation through every fold
    tot = {r.g: r.s for r in
           cent.groupBy("g").agg(F.sum("cnt").alias("s")).collect()}
    assert tot == {"a": 6000, "b": 6000}

    got = read_quantiles(spark, state, ["g"], [0.1, 0.5, 0.9]).collect()
    assert len(got) == 6
    # each fold adds one compaction: allow n_folds * 3n/K
    bound = 4 * 3 * 6000 / K
    for r in got:
        s = sorted(vals[r.g])
        target = -(-r.q * len(s) // 1)
        lo = bisect.bisect_left(s, r.est)
        hi = bisect.bisect_right(s, r.est)
        err = 0 if lo <= target <= hi else min(abs(lo - target),
                                               abs(hi - target))
        assert err <= bound, (r.g, r.q, r.est, err)

    # determinism: full replay reproduces the centroid state exactly
    state2 = run("st2", "ck2")
    a = sorted(tuple(r) for r in read_centroids(
        spark, state, ["g"]).collect())
    b = sorted(tuple(r) for r in read_centroids(
        spark, state2, ["g"]).collect())
    assert a == b


def test_stream_shacl_incremental_validation(spark, tmp_path):
    """Streaming SHACL (kgloom/streaming/validation.py): the state is
    the distinct shape-relevant slice, the report is derived at read
    time — stream == batch at EVERY version, including violations
    RETRACTED by later batches (minCount satisfied late, sh:class
    type arriving late), duplicate triples across batches, and a
    maxCount violation appearing mid-stream."""
    from kgloom.ops.reasoning import (RDF_TYPE, NodeShape, PropertyShape,
                                      shacl_validate)
    from kgloom.streaming.validation import (read_report, read_state,
                                             relevant_slice, stream_shacl,
                                             validate_batch)
    P = "<http://ex/Person>"
    email, boss = "<http://ex/email>", "<http://ex/boss>"
    shapes = (NodeShape(
        name="PersonShape", target_class=P,
        properties=(
            PropertyShape(path=email, min_count=1, max_count=2),
            PropertyShape(path=boss, class_iri=P),
        )),)
    batches = [
        [("<a>", RDF_TYPE, P),                       # a: no email yet
         ("<b>", RDF_TYPE, P), ("<b>", email, '"b@x"'),
         ("<b>", boss, "<acme>"),                    # acme untyped yet
         ("<noise>", "<http://ex/other>", '"zzz"')],
        [("<a>", email, '"a@x"'),                    # retracts a minCount
         ("<acme>", RDF_TYPE, P),                    # retracts b class
         ("<b>", email, '"b@x"'),                    # duplicate triple
         ("<c>", RDF_TYPE, P), ("<c>", email, '"c1"'),
         ("<c>", email, '"c2"')],
        [("<c>", email, '"c3"')],                    # c: maxCount fires
    ]
    ddl = "subj string, pred string, obj string"
    state = str(tmp_path / "vstate")

    def report_set(df):
        return {(r.focus, r.shape, r.path, r.constraint, r.value)
                for r in df.collect()}

    seen = []
    for i, rows in enumerate(batches):
        b = spark.createDataFrame(rows, ddl)
        validate_batch(spark, state, b, i, shapes)
        seen.extend(rows)
        want = shacl_validate(
            spark.createDataFrame(seen, ddl).distinct(), shapes)
        assert report_set(read_report(spark, state, shapes)) \
            == report_set(want), f"batch {i}"
    # the retraction actually happened
    final = report_set(read_report(spark, state, shapes))
    assert ("<a>", "PersonShape", email, "minCount", "0") not in final
    assert ("<c>", "PersonShape", email, "maxCount", "3") in final
    assert not any(c == "class" for _, _, _, c, _ in final)
    # state is the DISTINCT relevant slice, noise excluded
    st_rows = sorted(map(tuple, read_state(spark, state).collect()))
    want_state = relevant_slice(
        spark.createDataFrame(seen, ddl), shapes).distinct()
    assert st_rows == sorted(map(tuple, want_state.collect()))
    # replay idempotence: re-folding batch 2 over the same prior
    # state reproduces the state bit-for-bit
    validate_batch(spark, state,
                   spark.createDataFrame(batches[2], ddl), 2, shapes)
    st2 = read_state(spark, state)
    assert sorted(map(tuple, st2.collect())) == st_rows

    # the writeStream path (availableNow over a file source) lands in
    # the same state/report as the folds
    inp = str(tmp_path / "vin")
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, ddl).coalesce(1) \
            .write.mode("overwrite").parquet(f"{inp}/b{i}")
    stream = (spark.readStream.schema(ddl)
              .option("maxFilesPerTrigger", "1").parquet(f"{inp}/b*"))
    q = stream_shacl(spark, stream, str(tmp_path / "vstate2"),
                     str(tmp_path / "vckpt"), shapes)
    q.awaitTermination(180)
    got2 = report_set(read_report(spark, str(tmp_path / "vstate2"), shapes))
    assert got2 == final


def test_stream_kmv_distinct_equals_batch(spark, tmp_path):
    """Incremental KMV fold (kgloom/streaming/distinct.py): because the
    k smallest of a union are among the union of each side's k
    smallest, the folded minima state — and therefore the distinct
    estimate — must be BIT-IDENTICAL to batch kmv_distinct over
    everything streamed, regardless of batch boundaries.  State stays
    ≤ k rows per group at every version; replay reproduces it."""
    import random

    from kgloom.ops.sketch import kmv_distinct
    from kgloom.streaming.distinct import (read_distinct, read_minima,
                                           stream_kmv_distinct)
    rng = random.Random(20260820)
    K = 32
    # duplicates across batch boundaries are the point: value space
    # much smaller than row count for group "a", unique-ish for "b"
    rows = [("a", f"v{rng.randrange(0, 500)}") for _ in range(4000)] + \
           [("b", f"u{rng.randrange(0, 100_000)}") for _ in range(4000)]
    rng.shuffle(rows)
    inp = str(tmp_path / "kin")
    df = spark.createDataFrame(rows, "g string, v string")
    df.repartition(4).write.mode("overwrite").parquet(inp)

    def run(state, ckpt):
        stream = (spark.readStream.schema("g string, v string")
                  .option("maxFilesPerTrigger", "1").parquet(inp))
        q = stream_kmv_distinct(spark, stream, str(tmp_path / state),
                                str(tmp_path / ckpt), ["g"], "v", k=K)
        q.awaitTermination(180)
        return str(tmp_path / state)

    state = run("st1", "ck1")
    minima = read_minima(spark, state, ["g"])
    per_g = {r.g: r.c for r in minima.groupBy("g").agg(
        F.count(F.lit(1)).alias("c")).collect()}
    assert all(c <= K for c in per_g.values())

    got = sorted(tuple(r) for r in
                 read_distinct(spark, state, ["g"], k=K).collect())
    want = sorted(tuple(r) for r in
                  kmv_distinct(df, ["g"], "v", k=K).collect())
    assert got == want  # bit-identical, not merely close

    # exact branch is preserved through the fold: "a" has < 500 < ?
    # no — 500 distinct > K=32, so both groups take the estimator
    # branch; sanity-check the estimates are in range anyway
    est = {r.g: r.estimate for r in
           read_distinct(spark, state, ["g"], k=K).collect()}
    assert abs(est["a"] - 500) / 500 < 0.5
    assert est["b"] > 1000

    # determinism: full replay reproduces the minima state exactly
    state2 = run("st2", "ck2")
    a = sorted(tuple(r) for r in read_minima(spark, state, ["g"]).collect())
    b = sorted(tuple(r) for r in read_minima(spark, state2, ["g"]).collect())
    assert a == b


def test_stream_mg_heavy_hitters_guarantees(spark, tmp_path):
    """Incremental Misra-Gries fold (kgloom/streaming/heavyhitters.py):
    bounded state, and at the end of the stream every reported counter
    obeys cnt ≤ true ≤ cnt + err while every true heavy hitter
    (count > N/(m+1)) is present; replay reproduces the state."""
    import random
    from collections import Counter

    from kgloom.streaming.heavyhitters import (read_heavy, read_summary,
                                               stream_mg_heavy)
    rng = random.Random(20260820)
    M = 8
    rows = [("a", v) for v in
            ["h1"] * 900 + ["h2"] * 500 + ["h3"] * 260 +
            [f"t{rng.randrange(0, 3000)}" for _ in range(1500)]] + \
           [("b", v) for v in
            ["x"] * 1200 + [f"y{rng.randrange(0, 800)}" for _ in range(800)]]
    rng.shuffle(rows)
    true = {g: Counter(v for gg, v in rows if gg == g) for g in ("a", "b")}
    n = {g: sum(c.values()) for g, c in true.items()}
    inp = str(tmp_path / "hin")
    df = spark.createDataFrame(rows, "g string, v string")
    df.repartition(4).write.mode("overwrite").parquet(inp)

    def run(state, ckpt):
        stream = (spark.readStream.schema("g string, v string")
                  .option("maxFilesPerTrigger", "1").parquet(inp))
        q = stream_mg_heavy(spark, stream, str(tmp_path / state),
                            str(tmp_path / ckpt), ["g"], "v", m=M)
        q.awaitTermination(180)
        return str(tmp_path / state)

    state = run("hh1", "hk1")
    got = read_heavy(spark, state, ["g"], "v", m=M).collect()
    per_g = Counter(r.g for r in got)
    assert all(c <= M for c in per_g.values())
    reported = {(r.g, r.v) for r in got}
    for r in got:
        t = true[r.g][r.v]
        assert r.cnt <= t <= r.cnt + r.err, (r, t)
        assert r.n_total == n[r.g]
    for g, c in true.items():
        for v, t in c.items():
            if t * (M + 1) > n[g]:
                assert (g, v) in reported, (g, v, t)

    # determinism: full replay reproduces the summary state exactly
    state2 = run("hh2", "hk2")
    a = sorted(tuple(r) for r in
               read_summary(spark, state, ["g"], "v").collect())
    b = sorted(tuple(r) for r in
               read_summary(spark, state2, ["g"], "v").collect())
    assert a == b


def test_stream_profile_stats(spark, tmp_path):
    """Streaming catalog statistics (kgloom/streaming/profile.py):
    counts exact, distinct_est BIT-identical to batch table_profile,
    MG top within its error contract; replay reproduces the state."""
    import random
    from collections import Counter

    from kgloom.ops.sketch import table_profile
    from kgloom.streaming.profile import read_profile, stream_profile
    rng = random.Random(20260820)
    K = 32
    rows = [(i, "en" if rng.random() < 0.7 else
             ("de" if rng.random() < 0.5 else None),
             f"u{rng.randrange(0, 300)}") for i in range(4000)]
    df = spark.createDataFrame(rows, "id long, lang string, uid string")
    inp = str(tmp_path / "pin")
    df.repartition(4).write.mode("overwrite").parquet(inp)

    def run(state, ckpt):
        stream = (spark.readStream
                  .schema("id long, lang string, uid string")
                  .option("maxFilesPerTrigger", "1").parquet(inp))
        q = stream_profile(spark, stream, str(tmp_path / state),
                           str(tmp_path / ckpt),
                           ["id", "lang", "uid"], k=K, m=8)
        q.awaitTermination(180)
        return str(tmp_path / state)

    state = run("ps1", "pc1")
    got = {r.column: r for r in
           read_profile(spark, state, k=K, m=8).collect()}
    want = {r.column: r for r in
            table_profile(df, ["id", "lang", "uid"], k=K, m=8).collect()}
    langs = Counter(r[1] for r in rows)
    for c in ("id", "lang", "uid"):
        assert got[c].n_rows == want[c].n_rows == 4000
        assert got[c].n_nulls == want[c].n_nulls
        # KMV fold is bit-identical to batch
        assert got[c].distinct_est == want[c].distinct_est, c
    # MG top contract on the skewed column: winner is 'en', counted
    # within [top_cnt, top_cnt + top_err]
    r = got["lang"]
    assert r.top_value == "en"
    assert r.top_cnt <= langs["en"] <= r.top_cnt + r.top_err
    # replay determinism across all four state tables
    state2 = run("ps2", "pc2")
    a = sorted(map(tuple, read_profile(spark, state, k=K, m=8).collect()))
    b = sorted(map(tuple, read_profile(spark, state2, k=K, m=8).collect()))
    assert a == b


def test_fold_metrics_rows_equal_independent_counts(spark, tmp_path):
    """Each fold's metrics row — counted inside its state write and from
    the written parquet footers, with no job of its own — equals what
    Spark counts directly: batch rows, state rows and, for the KLL fold,
    the total weight.  The empty last batch is the case where Spark
    optimizes the observed batch away.  A replayed batch id replaces its
    row instead of adding a second one."""
    import random

    from kgloom.ops.reasoning import (OWL_SAMEAS, RDF_TYPE, NodeShape,
                                      PropertyShape)
    from kgloom.streaming.distinct import distinct_batch
    from kgloom.streaming.fusion import fuse_batch
    from kgloom.streaming.quantiles import sketch_batch
    from kgloom.streaming.state import read_metrics
    from kgloom.streaming.validation import validate_batch
    rng = random.Random(20261017)
    preds = ["<p:email>", "<p:knows>", RDF_TYPE, OWL_SAMEAS]

    def triples(n):
        return [(f"<e:{rng.randrange(40)}>", rng.choice(preds),
                 f"<e:{rng.randrange(40)}>") for _ in range(n)]
    tri = [spark.createDataFrame(rows, "subj string, pred string, obj string")
           for rows in (triples(300), triples(300), [])]
    num = [spark.createDataFrame(rows, "g string, v long") for rows in (
        [(rng.choice("ab"), rng.randrange(1000)) for _ in range(500)],
        [(rng.choice("ab"), rng.randrange(1000)) for _ in range(500)], [])]
    shapes = (NodeShape(name="S", target_class="<e:1>", properties=(
        PropertyShape(path="<p:email>", min_count=1),
        PropertyShape(path="<p:knows>", class_iri="<e:2>"))),)

    def fold_all(fold, state, batches):
        for i, b in enumerate(batches):
            fold(spark, state, b, i)
        rows = read_metrics(spark, state).collect()
        assert sorted(r.batch_id for r in rows) == [0, 1, 2]
        return {r.batch_id: r for r in rows}

    def version(state, table, i):
        return spark.read.parquet(f"{state}/{table}/v={i}")

    st = str(tmp_path / "shacl")
    got = fold_all(lambda *a: validate_batch(*a, shapes), st, tri)
    for i, b in enumerate(tri):
        assert (got[i].n_batch_rows, got[i].n_state_rows) == (
            b.count(), version(st, "slice", i).count()), i

    st = str(tmp_path / "kmv")
    got = fold_all(lambda *a: distinct_batch(*a, ["pred"], "subj", k=8),
                   st, tri)
    for i, b in enumerate(tri):
        assert (got[i].n_batch_rows, got[i].n_state_rows) == (
            b.count(), version(st, "minima", i).count()), i
    # every fold writes its row through the same writer: a replayed
    # batch id replaces that row
    distinct_batch(spark, st, tri[1], 1, ["pred"], "subj", k=8)
    assert sorted(tuple(r) for r in read_metrics(spark, st).collect()) \
        == sorted(tuple(r) for r in got.values())

    st = str(tmp_path / "kll")
    got = fold_all(lambda *a: sketch_batch(*a, ["g"], "v", k=8), st, num)
    for i, b in enumerate(num):
        cent = version(st, "cent", i)
        assert (got[i].n_rows, got[i].n_centroids, got[i].n_total) == (
            b.count(), cent.count(), cent.agg(F.sum("cnt")).first()[0]), i

    st = str(tmp_path / "fuse")
    got = fold_all(fuse_batch, st, tri)
    for i, b in enumerate(tri):
        cur = version(st, "map", i)
        changed = cur if i == 0 else cur.join(
            version(st, "map", i - 1), ["node", "canonical"], "left_anti")
        same = F.col("pred") == OWL_SAMEAS
        assert (got[i].n_data, got[i].n_edges, got[i].n_map,
                got[i].n_changed) == (
            b.where(~same).count(),
            b.where(same & (F.col("subj") != F.col("obj"))).count(),
            cur.count(), changed.count()), i


def test_distinct_batch_launches_only_its_state_write(spark, tmp_path):
    """A KMV trigger runs exactly the Spark jobs of writing its folded
    state: its metrics row adds none."""
    from kgloom.streaming.distinct import (distinct_batch, fold_minima,
                                           read_minima)
    batches = [spark.createDataFrame(
        [(f"g{i % 3}", f"v{i * (b + 1)}") for i in range(200)],
        "g string, v string") for b in range(2)]
    state = str(tmp_path / "kmv")
    distinct_batch(spark, state, batches[0], 0, ["g"], "v", k=8)

    write_only = spark_jobs(spark, "kmv-write", lambda: fold_minima(
        read_minima(spark, state, ["g"], before=1), batches[1], ["g"], "v",
        k=8).write.mode("overwrite").parquet(str(tmp_path / "alone")))
    trigger = spark_jobs(spark, "kmv-trigger", lambda: distinct_batch(
        spark, state, batches[1], 1, ["g"], "v", k=8))
    assert write_only > 0
    assert trigger == write_only

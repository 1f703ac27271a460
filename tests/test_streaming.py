"""Structured Streaming operators: semantic stages, watermarked windows,
bounded-state dedup, and the applyInPandasWithState custom operator."""

import shutil

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from lotus_spark.functions import text as T
from lotus_spark.models import KeywordBoolLM, RegexMapLM
from lotus_spark.streaming import (
    read_parquet_stream,
    running_doc_stats,
    sem_filter_stream,
    sem_map_stream,
    streaming_dedup,
    windowed_doc_stats,
)
from lotus_spark.streaming.ops import _py_quality

SCHEMA = StructType([
    StructField("id", StringType()),
    StructField("body", StringType()),
    StructField("ts", TimestampType()),
])

ROWS = [
    ("a", "the quick brown fox jumps over the lazy dog", "2026-01-01 00:00:05"),
    ("b", "el rapido zorro marron salta sobre el perro", "2026-01-01 00:00:15"),
    ("c", "the quick brown fox jumps over the lazy dog", "2026-01-01 00:01:05"),
    ("d", "spark streams process unbounded data with watermarks", "2026-01-01 00:01:20"),
]


@pytest.fixture()
def stream_dir(spark, tmp_path):
    src = str(tmp_path / "src")
    df = spark.createDataFrame(
        [(i, b, t) for i, b, t in ROWS], ["id", "body", "ts_s"]
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    df.coalesce(1).write.parquet(src)
    yield src
    shutil.rmtree(src, ignore_errors=True)


def _run(spark, stream_df, name, mode="append"):
    """One availableNow pass into a memory sink; returns the sink table."""
    q = (stream_df.writeStream.format("memory").queryName(name)
         .outputMode(mode).trigger(availableNow=True).start())
    q.awaitTermination(120)
    return spark.table(name)


def test_rejects_batch_dataframes(spark):
    df = spark.createDataFrame([("x", "y")], ["id", "body"])
    with pytest.raises(ValueError, match="streaming"):
        sem_map_stream(df, "summarize {body}")
    with pytest.raises(ValueError, match="streaming"):
        streaming_dedup(df, ["body"], "ts")


def test_sem_filter_stream(spark, stream_dir):
    stream = read_parquet_stream(spark, stream_dir, SCHEMA,
                                 max_files_per_trigger=1)
    out = sem_filter_stream(stream, "{body} mentions an animal",
                            lm=KeywordBoolLM("fox"))
    got = _run(spark, out.select("id"), "t_filter")
    assert sorted(r["id"] for r in got.collect()) == ["a", "c"]


def test_sem_map_stream(spark, stream_dir):
    stream = read_parquet_stream(spark, stream_dir, SCHEMA)
    out = sem_map_stream(stream, "first word of {body}",
                         lm=RegexMapLM(r"«(\w+)"))
    got = _run(spark, out.select("id", "body_map"), "t_map")
    by_id = {r["id"]: r["body_map"] for r in got.collect()}
    assert by_id["a"] == "the" and by_id["b"] == "el"


def test_streaming_dedup_bounded_state(spark, stream_dir):
    stream = read_parquet_stream(spark, stream_dir, SCHEMA)
    out = streaming_dedup(stream, ["body"], "ts", watermark="10 minutes")
    got = _run(spark, out.select("id", "body"), "t_dedup")
    bodies = [r["body"] for r in got.collect()]
    assert len(bodies) == 3  # duplicate body (rows a & c) collapsed
    assert len(set(bodies)) == 3


def test_windowed_doc_stats(spark, stream_dir):
    stream = read_parquet_stream(spark, stream_dir, SCHEMA)
    out = windowed_doc_stats(stream, "body", "ts", window="1 minute",
                             watermark="5 minutes")
    # complete mode: a single availableNow pass never advances the watermark
    # past the last window, so append would emit nothing yet
    got = _run(spark, out, "t_win", mode="complete").orderBy("window_start").collect()
    assert len(got) == 2  # 00:00 and 00:01 windows
    assert [r["n_docs"] for r in got] == [2, 2]
    fox_tokens = 9  # "the quick brown fox jumps over the lazy dog"
    assert got[0]["n_tokens"] == fox_tokens + 8
    assert 0.0 <= got[0]["avg_quality"] <= 1.0


def test_running_doc_stats_stateful(spark, stream_dir):
    stream = read_parquet_stream(spark, stream_dir, SCHEMA)
    keyed = stream.withColumn("lang", T.lang_id(F.col("body")))
    out = running_doc_stats(keyed, "lang", "body")
    got = _run(spark, out, "t_state", mode="update")
    # latest state per key
    latest = {r["key"]: r for r in got.collect()}
    assert latest["en"]["n_docs"] == 2   # a, c ("the" marker)
    assert latest["es"]["n_docs"] == 1   # b
    assert latest["und"]["n_docs"] == 1  # d: no marker words
    assert latest["en"]["n_tokens"] == 9 + 9
    assert 0.0 <= latest["en"]["avg_quality"] <= 1.0


def test_streaming_curation_pipeline_matches_batch(spark, stream_dir):
    """The batch curation operators compose unchanged on a stream: a
    Gopher-style gate (pure Column expressions — evaluated inside the
    streaming scan) feeding watermark-bounded exact dedup. The identical
    gate+dedup semantics replayed in batch must keep the same ids —
    incremental corpus curation is the same plan, not a rewrite."""
    stream = read_parquet_stream(spark, stream_dir, SCHEMA)
    gated = stream.filter(
        T.gopher_keep("body", min_words=5, min_stopword_hits=1)
    )
    out = _run(
        spark,
        streaming_dedup(gated, ["body"], "ts", watermark="10 minutes"),
        "curation_sink",
    )
    got = sorted(r["id"] for r in out.collect())

    batch = spark.read.parquet(stream_dir)
    kept = batch.filter(T.gopher_keep("body", min_words=5,
                                      min_stopword_hits=1))
    expect = sorted(
        r["id"]
        for r in kept.groupBy("body").agg(F.min_by("id", "ts").alias("id"))
        .collect()
    )
    assert got == expect and got  # duplicate doc "c" dropped, gate applied


def test_py_quality_matches_column_quality(spark):
    """The stateful op's Python twin must equal the JVM quality_score."""
    texts = [r[1] for r in ROWS] + ["", "x", "THE THE THE", "a b c d e " * 30]
    df = spark.createDataFrame([(t,) for t in texts], ["t"])
    jvm = [r["q"] for r in
           df.select(T.quality_score(F.col("t")).alias("q")).collect()]
    py = [_py_quality(t) for t in texts]
    assert jvm == pytest.approx(py, abs=1e-9)


def test_sessionized_stats_matches_batch_sessionize(spark, tmp_path):
    """Streaming session_window == batch sessionize() on the same data:
    same (key, start, end=last+gap, count) per closed session. A sentinel
    event far in the future pushes the watermark past every real session
    so append mode emits them all."""
    import datetime as dt
    import random
    import uuid

    from lotus_spark.functions.timeseries import sessionize
    from lotus_spark.streaming.ops import read_parquet_stream, sessionized_stats

    rng = random.Random(5)
    base = dt.datetime(2024, 1, 1)
    rows = [(f"u{rng.randrange(3)}",
             base + dt.timedelta(seconds=rng.randrange(0, 4 * 3600)))
            for _ in range(60)]
    rows.append(("sentinel", base + dt.timedelta(days=2)))
    src = str(tmp_path / "events")
    spark.createDataFrame(rows, ["user", "ts"]).coalesce(1).write.parquet(src)

    schema = spark.read.parquet(src).schema
    stream = read_parquet_stream(spark, src, schema)
    out = sessionized_stats(stream, "ts", "user", gap="20 minutes",
                            watermark="0 seconds")
    qn = f"sess_{uuid.uuid4().hex[:6]}"
    q = (out.writeStream.format("memory").queryName(qn)
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = {(r["user"], str(r["session_start"]), str(r["session_end"]),
            r["n_events"])
           for r in spark.table(qn).collect() if r["user"] != "sentinel"}

    batch = sessionize(
        spark.createDataFrame(rows, ["user", "ts"]), "ts", "user",
        gap="20 minutes")
    from pyspark.sql import functions as F
    exp_df = (batch.groupBy("user", "session_id")
              .agg(F.min("ts").alias("s"),
                   (F.max("ts") + F.expr("INTERVAL 20 minutes")).alias("e"),
                   F.count("*").alias("n")))
    expect = {(r["user"], str(r["s"]), str(r["e"]), r["n"])
              for r in exp_df.collect() if r["user"] != "sentinel"}
    assert got == expect


def test_parquet_sink_exactly_once_resume(spark, tmp_path):
    """Durable file-sink path: writeStream → parquet with a checkpoint.
    A second run over the same checkpoint processes ONLY newly-arrived
    files — rows appear exactly once (the production sink contract; the
    other tests use the memory sink)."""
    from pyspark.sql import functions as F

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    spark.createDataFrame([(1, "a"), (2, "b")], ["id", "v"]) \
        .coalesce(1).write.mode("append").parquet(src)

    schema = spark.read.parquet(src).schema

    def run_once():
        stream = (spark.readStream.schema(schema).parquet(src)
                  .withColumn("vv", F.upper("v")))
        q = (stream.writeStream.format("parquet")
             .option("path", out).option("checkpointLocation", ck)
             .trigger(availableNow=True).start())
        q.awaitTermination()

    run_once()
    assert sorted(r["id"] for r in spark.read.parquet(out).collect()) == [1, 2]

    spark.createDataFrame([(3, "c")], ["id", "v"]) \
        .coalesce(1).write.mode("append").parquet(src)
    run_once()
    rows = spark.read.parquet(out).collect()
    assert sorted(r["id"] for r in rows) == [1, 2, 3]  # no duplicates
    assert {r["vv"] for r in rows} == {"A", "B", "C"}


def test_gate_stream_by_thresholds_matches_batch(spark, stream_dir):
    """Stream-static join gate: per-key cutoffs computed BATCH-side gate
    the stream; result equals the identical batch join+filter."""
    from lotus_spark.functions.text import token_count
    from lotus_spark.streaming.ops import gate_stream_by_thresholds

    # key docs by first word; cutoffs: 'the'-docs need >= 9 tokens,
    # 'el'-docs >= 99 (none pass); 'spark' key absent from thresholds
    thresholds = spark.createDataFrame(
        [("the", 9.0), ("el", 99.0)], ["k", "cutoff"])
    score = token_count(F.col("body")).cast("double")

    stream = read_parquet_stream(spark, stream_dir, SCHEMA)
    stream = stream.withColumn("k", F.split("body", " ")[0])
    out = _run(spark, gate_stream_by_thresholds(
        stream, thresholds, "k", score), "gate_stream_t1")
    assert sorted(r["id"] for r in out.collect()) == ["a", "c"]

    keep_unknown = _run(spark, gate_stream_by_thresholds(
        read_parquet_stream(spark, stream_dir, SCHEMA)
        .withColumn("k", F.split("body", " ")[0]),
        thresholds, "k", score, keep_unknown_keys=True), "gate_stream_t2")
    assert sorted(r["id"] for r in keep_unknown.collect()) == ["a", "c", "d"]

    # batch replica over the same parquet
    batch = (spark.read.schema(SCHEMA).parquet(stream_dir)
             .withColumn("k", F.split("body", " ")[0])
             .withColumn("quality", score)
             .join(thresholds, "k", "left")
             .filter(F.col("cutoff").isNotNull()
                     & (F.col("quality") >= F.col("cutoff"))))
    assert sorted(r["id"] for r in batch.collect()) == \
        sorted(r["id"] for r in out.collect())


def test_gate_stream_by_thresholds_validation(spark, stream_dir):
    import pytest as _pytest

    from lotus_spark.streaming.ops import gate_stream_by_thresholds

    stream = read_parquet_stream(spark, stream_dir, SCHEMA)
    bad = spark.createDataFrame([("x", 1.0)], ["wrong", "cutoff"])
    with _pytest.raises(ValueError, match="thresholds"):
        gate_stream_by_thresholds(stream, bad, "k", F.lit(1.0))
    batch = spark.createDataFrame([("x",)], ["k"])
    with _pytest.raises(ValueError, match="streaming"):
        gate_stream_by_thresholds(
            batch, spark.createDataFrame([("x", 1.0)], ["k", "cutoff"]),
            "k", F.lit(1.0))


def test_streaming_neardup_drops_simhash_bucket_twins(spark, stream_dir):
    """Docs 'a' and 'c' are IDENTICAL text (same SimHash bucket at any
    width) — the second within the watermark horizon is dropped; the
    distinct docs survive. Batch simhash with the same key agrees."""
    from lotus_spark.functions.dedup import simhash
    from lotus_spark.streaming.ops import streaming_neardup

    stream = read_parquet_stream(spark, stream_dir, SCHEMA)
    out = _run(spark, streaming_neardup(stream, "body", "ts", bits=16),
               "neardup_stream_t1")
    ids = sorted(r["id"] for r in out.collect())
    assert "a" in ids or "c" in ids          # exactly one of the twins
    assert not ("a" in ids and "c" in ids)
    assert {"b", "d"} <= set(ids)            # distinct docs survive
    assert len(ids) == 3

    # batch replica: bucket by the same fingerprint slice the op uses
    # (low 16 bits of the 30-bit print — bits >= 30 carry no signal
    # because token hashes are < 2^30)
    batch = simhash(spark.read.schema(SCHEMA).parquet(stream_dir),
                    "body", n_bits=30)
    buckets = {r["id"]: r["simhash"] % (1 << 16) for r in batch.collect()}
    assert buckets["a"] == buckets["c"]
    assert len({buckets["a"], buckets["b"], buckets["d"]}) == 3

    import pytest as _pytest
    with _pytest.raises(ValueError, match="bits"):
        streaming_neardup(read_parquet_stream(spark, stream_dir, SCHEMA),
                          "body", "ts", bits=0)
    with _pytest.raises(ValueError, match="n_bits"):
        streaming_neardup(read_parquet_stream(spark, stream_dir, SCHEMA),
                          "body", "ts", n_bits=32)


def test_streaming_neardup_minhash_matches_batch_band_replay(spark, tmp_path):
    """Streaming MinHash-band near-dup (round-5 advice item 6) buckets
    with the SAME signature + band-key expressions as batch
    minhash_lsh_dedup; with one micro-batch per row (deterministic
    arrival order) the survivor set equals a replay of the chained-band
    rule over the batch-computed band keys — bucket-for-bucket parity
    between the two tiers of the dedup ladder."""
    import os

    from lotus_spark.functions.dedup import (
        minhash_band_keys,
        minhash_signature,
    )
    from lotus_spark.streaming.ops import streaming_neardup_minhash

    rows = [
        ("a", "the quick brown fox jumps over the lazy dog near the river"),
        ("b", "the quick brown fox jumps over the lazy dog near the creek"),
        ("c", "spark streams process unbounded data with watermarks daily"),
        ("d", "the quick brown fox jumps over the lazy dog near the river"),
        ("e", "completely different text about cooking pasta al dente now"),
    ]
    src = str(tmp_path / "mh_src")
    os.makedirs(src)
    for i, (rid, body) in enumerate(rows):
        # one bare parquet FILE per row (the file source does not
        # recurse into subdirectories) with strictly increasing mtimes:
        # maxFilesPerTrigger=1 then yields one micro-batch per row in
        # arrival order — a deterministic stream
        stage = str(tmp_path / f"stage{i}")
        (spark.createDataFrame([(rid, body)], ["id", "body"])
         .withColumn("ts", F.to_timestamp(
             F.lit(f"2026-01-01 00:00:{10 + i:02d}")))
         .coalesce(1).write.parquet(stage))
        part = next(g for g in os.listdir(stage) if g.endswith(".parquet"))
        dst = os.path.join(src, f"{i:04d}.parquet")
        os.rename(os.path.join(stage, part), dst)
        t = 1_700_000_000 + i * 10
        os.utime(dst, (t, t))

    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(src))
    out = streaming_neardup_minhash(stream, "body", "ts",
                                    n_hashes=16, bands=4)
    got = sorted(r["id"] for r in
                 _run(spark, out.select("id"), "mh_neardup_t").collect())

    # batch side: identical band keys, replay the chained rule in
    # arrival order (a doc registers band i iff it reached stage i)
    batch = spark.read.schema(SCHEMA).parquet(src)
    sigd = minhash_signature(batch, "body", 16)
    keyed = sigd.select(
        "id", *[k.alias(f"k{i}") for i, k in
                enumerate(minhash_band_keys(F.col("minhash"), 16, 4))])
    keys = {r["id"]: [r[f"k{i}"] for i in range(4)]
            for r in keyed.collect()}
    seen: list[set] = [set() for _ in range(4)]
    expect = []
    for rid, _ in rows:
        for i in range(4):
            if keys[rid][i] in seen[i]:
                break
            seen[i].add(keys[rid][i])
        else:
            expect.append(rid)
    assert got == sorted(expect)
    # the scenario is non-trivial: the exact twin 'd' is dropped, and
    # the NEAR-dup 'b' (different text, shared band) is dropped too
    assert "d" not in got
    assert "b" not in got
    assert {"a", "c", "e"} <= set(got)

    with pytest.raises(ValueError, match="bands"):
        streaming_neardup_minhash(stream, "body", "ts", n_hashes=16,
                                  bands=5)


def test_streaming_heavy_hitters_exact_when_capacity_fits(spark, tmp_path):
    """With capacity >= the window's distinct-term count the Misra-Gries
    summary is exact: per-window top-k equals batch token counts ranked
    (count DESC, term ASC). With a tiny capacity the state stays bounded
    and the dominant term still surfaces (the MG guarantee)."""
    import os

    from lotus_spark.streaming.ops import streaming_heavy_hitters

    rows = [
        ("a", "spark spark spark data data ml", "2026-01-01 00:00:10"),
        ("b", "spark data pipelines at scale", "2026-01-01 00:00:20"),
        ("c", "fresh window tokens here", "2026-01-01 00:01:10"),
        ("d", "fresh fresh tokens", "2026-01-01 00:01:20"),
    ]
    src = str(tmp_path / "hh_src")
    (spark.createDataFrame(rows, ["id", "body", "ts_s"])
     .withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
     .coalesce(1).write.parquet(src))

    stream = read_parquet_stream(spark, src, SCHEMA)
    out = streaming_heavy_hitters(stream, "body", "ts", window="1 minute",
                                  capacity=64, k=3)
    got = _run(spark, out, "hh_t1", mode="update")
    by_win = {}
    for r in got.collect():
        by_win.setdefault(str(r["window_start"]), []).append(
            (r["rank"], r["term"], r["est_count"]))
    assert len(by_win) == 2
    w0, w1 = sorted(by_win)
    assert sorted(by_win[w0]) == [(1, "spark", 4), (2, "data", 3),
                                  (3, "at", 1)]
    assert sorted(by_win[w1]) == [(1, "fresh", 3), (2, "tokens", 2),
                                  (3, "here", 1)]

    # bounded capacity: the dominant term survives (freq > n/capacity)
    out2 = streaming_heavy_hitters(stream, "body", "ts", window="1 minute",
                                   capacity=2, k=2)
    got2 = _run(spark, out2, "hh_t2", mode="update")
    first_win = [r for r in got2.collect()
                 if str(r["window_start"]) == w0]
    assert any(r["term"] == "spark" for r in first_win)

    with pytest.raises(ValueError, match="capacity"):
        streaming_heavy_hitters(stream, "body", "ts", capacity=0)


def test_stream_append_ivfpq_grows_index_exactly_once(spark, tmp_path):
    """stream_append_ivfpq: micro-batches encode with the EXISTING
    quantizers and append to the persisted index; after draining the
    backlog the index equals a from-scratch encode of the union; a NULL
    embedding row is dropped, not fatal; and a REPLAY from a fresh
    checkpoint (same files, batch ids restart at 0) appends nothing —
    the _stream_batches.json high-water sidecar makes the append
    idempotent per epoch."""
    import os

    import numpy as np

    from lotus_spark.functions.ann import (
        encode_ivfpq, ivf_index, pq_index, read_ivfpq_index,
        write_ivfpq_index,
    )
    from lotus_spark.streaming.index_sink import stream_append_ivfpq

    rng = np.random.RandomState(11)
    vecs = rng.randn(120, 8).astype("float64")

    def rows(lo, hi):
        return [(i, [float(x) for x in vecs[i]]) for i in range(lo, hi)]

    base = spark.createDataFrame(rows(0, 60), ["vec_id", "embedding"])
    indexed, cents = ivf_index(base, "embedding", n_cells=4, seed=9,
                               method="deterministic", id_col="vec_id")
    encoded, books = pq_index(indexed, "embedding", "vec_id", m=4,
                              nbits=2, seed=5)
    path = str(tmp_path / "idx")
    write_ivfpq_index(encoded, path, cents, books)

    # two increment FILES (file source does not recurse; increasing
    # mtimes + maxFilesPerTrigger=1 = two deterministic micro-batches);
    # the second carries one NULL-embedding row that must be dropped
    src = str(tmp_path / "src")
    os.makedirs(src)
    batches = [rows(60, 90), rows(90, 120) + [(999, None)]]
    for i, data in enumerate(batches):
        stage = str(tmp_path / f"stage{i}")
        (spark.createDataFrame(data, "vec_id long, embedding array<double>")
         .coalesce(1).write.parquet(stage))
        part = next(g for g in os.listdir(stage) if g.endswith(".parquet"))
        dst = os.path.join(src, f"{i:04d}.parquet")
        os.rename(os.path.join(stage, part), dst)
        t = 1_700_000_000 + i * 10
        os.utime(dst, (t, t))

    schema = "vec_id long, embedding array<double>"
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", 1).parquet(src))
    q = stream_append_ivfpq(stream, path,
                            checkpoint_dir=str(tmp_path / "ck1"),
                            available_now=True)
    q.awaitTermination()

    stored, cents2, books2, cell_col = read_ivfpq_index(spark, path)
    assert stored.count() == 120          # NULL row dropped
    full = spark.createDataFrame(rows(0, 120), ["vec_id", "embedding"])
    want = encode_ivfpq(full, "embedding", cents2, books2,
                        cell_col=cell_col)
    assert (sorted((r["vec_id"], r[cell_col], tuple(r["pq_codes"]))
                   for r in stored.collect())
            == sorted((r["vec_id"], r[cell_col], tuple(r["pq_codes"]))
                      for r in want.collect()))

    # replay with a FRESH checkpoint: same two files re-arrive as batch
    # ids 0 and 1, both at/below the sidecar high-water mark -> no-op
    stream2 = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1).parquet(src))
    q2 = stream_append_ivfpq(stream2, path,
                             checkpoint_dir=str(tmp_path / "ck2"),
                             available_now=True)
    q2.awaitTermination()
    assert spark.read.parquet(path).count() == 120

    # batch input is rejected (the batch API is append_ivfpq_index)
    import pytest
    with pytest.raises(ValueError, match="streaming"):
        stream_append_ivfpq(base, path)


def test_stream_append_ivfpq_crash_recovery_no_duplicates(
        spark, tmp_path, monkeypatch):
    """Round-8 verdict item 6: the old sink had an at-least-once window
    between the parquet append and the sidecar high-water write — a
    crash exactly there replayed the epoch and duplicated its codes.
    The staged-commit protocol (stage -> rename under a batch<id>-
    prefix -> advance high water; replay deletes its own prefix first)
    must make that same injected crash recover with ZERO duplicates."""
    import os

    import numpy as np
    import pytest

    import lotus_spark.streaming.index_sink as sink
    from lotus_spark.functions.ann import (
        encode_ivfpq, ivf_index, pq_index, read_ivfpq_index,
        write_ivfpq_index,
    )

    rng = np.random.RandomState(17)
    vecs = rng.randn(90, 8).astype("float64")

    def rows(lo, hi):
        return [(i, [float(x) for x in vecs[i]]) for i in range(lo, hi)]

    base = spark.createDataFrame(rows(0, 60), ["vec_id", "embedding"])
    indexed, cents = ivf_index(base, "embedding", n_cells=4, seed=9,
                               method="deterministic", id_col="vec_id")
    encoded, books = pq_index(indexed, "embedding", "vec_id", m=4,
                              nbits=2, seed=5)
    path = str(tmp_path / "idx")
    write_ivfpq_index(encoded, path, cents, books)

    src = str(tmp_path / "src")
    os.makedirs(src)
    stage = str(tmp_path / "stage")
    (spark.createDataFrame(rows(60, 90),
                           "vec_id long, embedding array<double>")
     .coalesce(1).write.parquet(stage))
    part = next(g for g in os.listdir(stage) if g.endswith(".parquet"))
    os.rename(os.path.join(stage, part), os.path.join(src, "inc.parquet"))

    # crash INSIDE the old at-least-once window: the epoch's files are
    # fully renamed into the live cells, the high-water mark is not yet
    # advanced
    real_hw = sink._write_high_water
    state = {"crashed": False}

    def crash_once(sp, p, bid):
        if not state["crashed"]:
            state["crashed"] = True
            raise RuntimeError("injected crash before high-water write")
        return real_hw(sp, p, bid)

    monkeypatch.setattr(sink, "_write_high_water", crash_once)

    schema = "vec_id long, embedding array<double>"
    stream = (spark.readStream.schema(schema).parquet(src))
    q = sink.stream_append_ivfpq(stream, path,
                                 checkpoint_dir=str(tmp_path / "ck"),
                                 available_now=True)
    with pytest.raises(Exception, match="injected crash"):
        q.awaitTermination()
    assert state["crashed"]
    # the crashed attempt DID commit its files (count 90, high water -1)
    assert spark.read.parquet(path).count() == 90
    assert sink._read_high_water(spark, path) == -1

    # plant a stale staging dir too — a crash one step earlier leaves
    # one; the replay must clear it alongside the prefixed files
    stale = os.path.join(path, "_staging", "batch-0")
    os.makedirs(stale, exist_ok=True)
    with open(os.path.join(stale, "junk.bin"), "wb") as f:
        f.write(b"\x00stale")

    # restart from the SAME checkpoint: batch 0 replays, deletes its own
    # batch0- prefixed files + staging, re-appends exactly once
    stream2 = (spark.readStream.schema(schema).parquet(src))
    q2 = sink.stream_append_ivfpq(stream2, path,
                                  checkpoint_dir=str(tmp_path / "ck"),
                                  available_now=True)
    q2.awaitTermination()

    stored, cents2, books2, cell_col = read_ivfpq_index(spark, path)
    got = stored.collect()
    assert len(got) == 90                                  # no duplicates
    assert len({r["vec_id"] for r in got}) == 90
    assert sink._read_high_water(spark, path) == 0
    assert not os.path.exists(stale)
    full = spark.createDataFrame(rows(0, 90), ["vec_id", "embedding"])
    want = encode_ivfpq(full, "embedding", cents2, books2,
                        cell_col=cell_col)
    assert (sorted((r["vec_id"], r[cell_col], tuple(r["pq_codes"]))
                   for r in got)
            == sorted((r["vec_id"], r[cell_col], tuple(r["pq_codes"]))
                      for r in want.collect()))


def test_cleanup_crashed_epoch_prefix_is_exact(spark, tmp_path):
    """_cleanup_crashed_epoch removes ONLY its own epoch's files: the
    batch<id>- filename prefix must not glob into higher ids sharing a
    digit prefix (batch1- vs batch10-) and must clear the epoch's
    staging dir while leaving other epochs' staging alone."""
    import os

    from lotus_spark.streaming.index_sink import _cleanup_crashed_epoch

    idx = tmp_path / "idx"
    cell = idx / "__ivf_cell=3"
    os.makedirs(cell)
    keep_cell = idx / "__ivf_cell=7"
    os.makedirs(keep_cell)
    victims = [cell / "batch1-part-a.parquet"]
    keepers = [cell / "batch10-part-b.parquet",
               cell / "batch2-part-c.parquet",
               keep_cell / "batch10-part-d.parquet"]
    for p in victims + keepers:
        p.write_bytes(b"x")
    os.makedirs(idx / "_staging" / "batch-1")
    (idx / "_staging" / "batch-1" / "junk").write_bytes(b"y")
    os.makedirs(idx / "_staging" / "batch-2")
    (idx / "_staging" / "batch-2" / "junk").write_bytes(b"y")

    jvm = spark._jvm
    fs = jvm.org.apache.hadoop.fs.Path(str(idx)).getFileSystem(
        spark._jsc.hadoopConfiguration())
    _cleanup_crashed_epoch(fs, jvm, str(idx), 1)

    assert not victims[0].exists()
    assert all(p.exists() for p in keepers)
    assert not (idx / "_staging" / "batch-1").exists()
    assert (idx / "_staging" / "batch-2" / "junk").exists()


def test_input_sized_state_partitions(spark, tmp_path):
    """r15: the state-store partition count is derived from per-trigger
    input bytes (one partition per target_bytes, floor/cap-clamped) and
    set on the stream's child session only."""
    from lotus_spark.streaming.ops import state_sized_session

    def n_state(*paths, **kw):
        child = state_sized_session(spark, *paths, **kw)
        return int(child.conf.get("spark.sql.shuffle.partitions"))

    before = spark.conf.get("spark.sql.shuffle.partitions")
    src = tmp_path / "tiny.parquet"
    spark.range(10).coalesce(1).write.parquet(str(src))
    # a KB-scale file derives the floor, never the session core count:
    # floor=1 for O(1)-per-row state ops, default (None) = the compute
    # floor min(8, defaultParallelism) for O(rows) state operators
    assert n_state(str(src), floor=1) == 1
    compute_floor = max(1, min(8, spark.sparkContext.defaultParallelism))
    assert n_state(str(src)) == compute_floor
    # one partition per target_bytes once input exceeds it
    n_bytes = sum(f.stat().st_size for f in src.rglob("*") if f.is_file())
    assert n_bytes > 64  # sanity: the parquet footer alone exceeds this
    got = n_state(str(src), target_bytes=64, floor=1)
    import math

    assert got == min(8192, math.ceil(n_bytes / 64))
    # cap clamps the derivation
    assert n_state(str(src), target_bytes=1, cap=16) == 16
    # a missing path contributes nothing (derives the floor)
    assert n_state(str(tmp_path / "absent.parquet"), floor=1) == 1
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_state_sized_session_leaves_the_caller_session_alone(
        spark, stream_dir):
    """A stateful stream started on its child session runs with the
    input-sized state partitions, while a batch query planned on the
    CALLER's session during the stream (from its foreachBatch) keeps the
    caller's partition count; a time zone the caller set at runtime
    reaches the stream; the memory sink's view is the child's only."""
    import re

    from lotus_spark.streaming.ops import state_sized_session

    mine = spark.conf.get("spark.sql.shuffle.partitions")
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    seen = {}

    def plan_on_caller(batch_df, _epoch):
        plan = (spark.range(100).repartition("id")._jdf.queryExecution()
                .executedPlan().toString())
        seen["caller"] = re.search(r"hashpartitioning\(id#\d+L?, (\d+)\)",
                                   plan).group(1)
        seen["conf"] = spark.conf.get("spark.sql.shuffle.partitions")
        # consume every partition: the state stores commit only then
        seen.setdefault("tz", set()).update(
            r["tz"] for r in batch_df.collect())

    try:
        child = state_sized_session(spark, stream_dir, floor=1)
        stream = read_parquet_stream(child, stream_dir, SCHEMA)
        out = streaming_dedup(stream, ["body"], "ts").select(
            "body", F.current_timezone().alias("tz"))
        q = (out.writeStream.foreachBatch(plan_on_caller)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        state_ops = [
            n for n in q.lastProgress["stateOperators"]
            if n.get("numShufflePartitions") is not None]
        assert state_ops and all(
            n["numShufflePartitions"] == 1 for n in state_ops)
        assert seen == {"caller": mine, "conf": mine,
                        "tz": {"America/New_York"}}

        table = _run(child, out, "t_child_view")
        assert table.count() == 3
        assert not spark.catalog.tableExists("t_child_view")
        assert child.conf.get("spark.sql.shuffle.partitions") == "1"
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_streaming_dedup_state_partition_invariance(spark, stream_dir):
    """The watermark-evicted dedup's SURVIVOR KEY SET is identical at 1
    and 8 state partitions (the r15 input-derived sizing must be free to
    pick either): partitioning moves keys between state stores, never
    changes which keys exist."""
    from lotus_spark.streaming.ops import state_sized_session

    got = {}
    for n in (1, 8):
        child = state_sized_session(spark, stream_dir, floor=n, cap=n)
        stream = read_parquet_stream(child, stream_dir, SCHEMA)
        out = streaming_dedup(stream, ["body"], "ts")
        table = _run(child, out.select("body"), f"t_sp{n}")
        got[n] = sorted(r["body"] for r in table.collect())
    assert got[1] == got[8]
    assert len(got[1]) == 3  # the exact-dup pair collapsed

"""Tests for the persisted MinHash-LSH signature index."""

import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


BASE = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "spark dataframes shuffle data between executors during wide joins"),
    (3, "training corpora need deduplication before the tokenizer ever runs"),
    (4, "completely unrelated content about cooking pasta with fresh basil"),
]


def test_minhash_index_roundtrip_probe_and_dedup(spark, tmp_path):
    from lotus_spark.functions.dedup_index import (
        dedup_against_index, neardup_join_index, read_minhash_meta,
        write_minhash_index,
    )

    path = str(tmp_path / "mh")
    write_minhash_index(_docs(spark, BASE), path, "text", "doc_id",
                        n_hashes=16, bands=4)
    meta = read_minhash_meta(spark, path)
    assert meta["n_hashes"] == 16 and meta["bands"] == 4

    inc = _docs(spark, [
        # near-dup of doc 1 (one word changed)
        (101, "the quick brown fox jumps over the lazy dog near the river shore"),
        # exact dup of doc 2
        (102, "spark dataframes shuffle data between executors during wide joins"),
        # novel
        (103, "quantum chemistry basis sets converge slowly for heavy atoms"),
    ])
    got = neardup_join_index(spark, path, inc, "text", "doc_id",
                             threshold=0.5)
    pairs = {(r["doc_id"], r["match_id"]): r["est_jaccard"]
             for r in got.collect()}
    assert (102, 2) in pairs and pairs[(102, 2)] == 1.0  # exact dup
    assert any(q == 101 and m == 1 for q, m in pairs)    # near dup found
    assert all(q != 103 for q, _ in pairs)               # novel is clean

    kept = dedup_against_index(spark, path, inc, "text", "doc_id",
                               threshold=0.5)
    assert {r["doc_id"] for r in kept.collect()} == {103}


def test_neardup_join_index_probe_build_launches_no_job(
        spark, tmp_path, spark_state):
    """The probe reads ``buckets`` and ``sigs`` with the sidecar's
    pinned schema, so building it on a pinned index runs no Spark job
    (an inferring read runs a footer job per table per probe)."""
    from lotus_spark.functions.dedup_index import (
        neardup_join_index, write_minhash_index,
    )

    path = str(tmp_path / "mh")
    write_minhash_index(_docs(spark, BASE), path, "text", "doc_id",
                        n_hashes=16, bands=4)
    inc = _docs(spark, [(101, BASE[0][1]), (103, "novel text here")])
    built = []
    assert spark_state.jobs(lambda: built.append(neardup_join_index(
        spark, path, inc, "text", "doc_id", threshold=0.5))) == 0
    assert {(r["doc_id"], r["match_id"]) for r in built[0].collect()} \
        == {(101, 1)}


def test_minhash_index_append_equals_fresh_write(spark, tmp_path):
    """append with PINNED meta == from-scratch write of the union, row
    for row in both tables (the train-once/add-many parity the IVF-PQ
    index pins; caller-supplied parameters must NOT leak in)."""
    from lotus_spark.functions.dedup_index import (
        append_minhash_index, write_minhash_index,
    )

    first, second = BASE[:2], BASE[2:]
    grown = str(tmp_path / "grown")
    write_minhash_index(_docs(spark, first), grown, "text", "doc_id",
                        n_hashes=8, bands=2)
    append_minhash_index(spark, grown, _docs(spark, second),
                         "text", "doc_id")
    fresh = str(tmp_path / "fresh")
    write_minhash_index(_docs(spark, BASE), fresh, "text", "doc_id",
                        n_hashes=8, bands=2)
    for table in ("buckets", "sigs"):
        a = sorted(map(str, spark.read.parquet(f"{grown}/{table}")
                       .collect()))
        b = sorted(map(str, spark.read.parquet(f"{fresh}/{table}")
                       .collect()))
        assert a == b, table

    with pytest.raises(ValueError, match="NULL"):
        append_minhash_index(
            spark, grown,
            spark.createDataFrame([(None, "x")], "doc_id long, text string"),
            "text", "doc_id")


def test_minhash_append_rejects_an_id_type_other_than_the_pinned_one(
        spark, tmp_path):
    """The sidecar pins the id type the tables are read with; appending
    bigint ids to an int index would leave INT64 files that the pinned
    ``id int`` read cannot decode."""
    from lotus_spark.functions.dedup_index import (
        _tables, append_minhash_index, read_minhash_meta,
        write_minhash_index,
    )

    path = str(tmp_path / "mh")
    write_minhash_index(
        spark.createDataFrame(BASE[:2], "doc_id int, text string"),
        path, "text", "doc_id", n_hashes=8, bands=2)
    with pytest.raises(TypeError, match="pins id type int"):
        append_minhash_index(
            spark, path,
            spark.createDataFrame(BASE[2:], "doc_id bigint, text string"),
            "text", "doc_id")
    append_minhash_index(
        spark, path,
        spark.createDataFrame(BASE[2:], "doc_id int, text string"),
        "text", "doc_id")
    _, sigs = _tables(spark, path, read_minhash_meta(spark, path))
    assert sorted(r["id"] for r in sigs.collect()) == [
        r[0] for r in BASE]


def test_minhash_index_validation(spark, tmp_path):
    from lotus_spark.functions.dedup_index import (
        neardup_join_index, write_minhash_index,
    )

    with pytest.raises(ValueError, match="divide"):
        write_minhash_index(_docs(spark, BASE), str(tmp_path / "x"),
                            "text", "doc_id", n_hashes=16, bands=5)
    with pytest.raises(ValueError, match="lacks"):
        write_minhash_index(_docs(spark, BASE), str(tmp_path / "x"),
                            "MISSING", "doc_id")
    with pytest.raises(FileNotFoundError, match="sidecar"):
        neardup_join_index(spark, str(tmp_path / "nothere"),
                           _docs(spark, BASE), "text", "doc_id")


def test_minhash_index_probe_matches_self_dedup_buckets(spark, tmp_path):
    """Bucketing parity with the self-dedup path: a pair that
    minhash_lsh_dedup candidates (same band bucket) must also be a
    candidate through the index probe at the same parameters — shared
    minhash_band_keys expressions, pinned here end-to-end."""
    from lotus_spark.functions.dedup import (
        minhash_band_keys, minhash_signature,
    )
    from lotus_spark.functions.dedup_index import (
        neardup_join_index, write_minhash_index,
    )

    docs = _docs(spark, BASE)
    path = str(tmp_path / "mh2")
    write_minhash_index(docs, path, "text", "doc_id",
                        n_hashes=16, bands=4)
    # each doc probes ITSELF: every doc shares all bands with itself,
    # so the probe must return the identity match with est_jaccard 1.0
    got = neardup_join_index(spark, path, docs, "text", "doc_id",
                             threshold=0.99)
    ident = {(r["doc_id"], r["match_id"]) for r in got.collect()}
    assert {(i, i) for i, _ in BASE} <= ident

    # and the band keys the probe used are exactly the shared exprs
    sigd = minhash_signature(docs, "text", 16, 3)
    bands = sigd.select(
        F.col("doc_id"),
        F.explode(F.array(*minhash_band_keys(F.col("minhash"), 16, 4))
                  ).alias("band"))
    stored = spark.read.parquet(f"{path}/buckets")
    a = sorted((r["doc_id"], r["band"]) for r in bands.collect())
    b = sorted((r["id"], r["band"]) for r in stored.collect())
    assert a == b


def test_neardup_index_matches_duckdb_oracle(spark):
    """Cross-engine check of the r10-queued oracle pair
    (__spark_entry__.q_neardup_index / _sql_neardup_index) ahead of its
    driver registration: write + append + probe must hash-match the
    DuckDB replay at sf0.001 under the driver's canonical compare."""
    import sys

    import duckdb

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    odf = con.execute(entry._sql_neardup_index()).df()
    sdf = entry.q_neardup_index(spark, sf).toPandas()

    def canon(pdf):
        pdf = pdf[sorted(pdf.columns)].copy()
        for c in pdf.columns:
            if str(pdf[c].dtype).startswith("float"):
                pdf[c] = pdf[c].astype(float).round(6)
            pdf[c] = pdf[c].astype(str)
        return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)

    a, b = canon(sdf), canon(odf)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b) and len(a) > 0
    assert a.equals(b)


def test_neardup_matches_stream(spark, tmp_path):
    """Streaming probe over the persisted index: a live feed's verified
    corpus matches arrive as (ts, id, match, score) rows; multi-band
    hits of one pair collapse to a single row (watermark-bounded
    dedup); novel docs produce nothing; batch input is rejected."""
    import os

    import pytest
    from pyspark.sql import functions as F

    from lotus_spark.functions.dedup_index import (
        neardup_matches_stream, write_minhash_index,
    )

    corpus = spark.createDataFrame(BASE, ["doc_id", "text"])
    path = str(tmp_path / "idx")
    write_minhash_index(corpus, path, "text", "doc_id",
                        n_hashes=16, bands=4)

    inc_rows = [
        (101, BASE[0][1], "2024-01-01 00:00:01"),            # exact dup of 1
        (102, BASE[1][1].replace("wide", "narrow"),          # near dup of 2
         "2024-01-01 00:00:02"),
        (103, "entirely novel text about glacier formation dynamics",
         "2024-01-01 00:00:03"),
    ]
    src = str(tmp_path / "src")
    os.makedirs(src)
    stage = str(tmp_path / "stage")
    (spark.createDataFrame(inc_rows, "doc_id long, text string, ts string")
     .withColumn("ts", F.col("ts").cast("timestamp"))
     .coalesce(1).write.parquet(stage))
    part = next(g for g in os.listdir(stage) if g.endswith(".parquet"))
    os.rename(os.path.join(stage, part), os.path.join(src, "inc.parquet"))

    schema = "doc_id long, text string, ts timestamp"
    stream = spark.readStream.schema(schema).parquet(src)
    out = neardup_matches_stream(spark, path, stream, "text", "doc_id",
                                 "ts", threshold=0.4)
    q = (out.writeStream.format("memory").queryName("mh_matches")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.table("mh_matches").collect()
    pairs = {(r["doc_id"], r["match_id"]) for r in got}
    assert (101, 1) in pairs
    assert all(q_ != 103 for q_, _ in pairs)
    # one row per verified pair even though an exact dup agrees in all 4 bands
    assert len(got) == len(pairs)

    with pytest.raises(ValueError, match="streaming"):
        neardup_matches_stream(spark, path, corpus.withColumn(
            "ts", F.current_timestamp()), "text", "doc_id", "ts")


def test_neardup_index_stream_matches_duckdb_oracle(spark):
    """The r10-queued STREAMING row: the drained stream-static probe
    must equal the batch replay (corpus = evens, probe = odds) under
    the driver's canonical compare — stream and batch probes share the
    band/verify expressions, so this also pins batch/stream parity."""
    import sys

    import duckdb

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    odf = con.execute(entry._sql_neardup_index()).df()
    sdf = entry.q_neardup_index_stream(spark, sf).toPandas()

    def canon(pdf):
        pdf = pdf[sorted(pdf.columns)].copy()
        for c in pdf.columns:
            if str(pdf[c].dtype).startswith("float"):
                pdf[c] = pdf[c].astype(float).round(6)
            pdf[c] = pdf[c].astype(str)
        return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)

    a, b = canon(sdf), canon(odf)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b) and len(a) > 0
    assert a.equals(b)


def test_embedding_neardup_index(spark, tmp_path):
    """Embedding-space corpus dedup over the persisted IVF-PQ index:
    an increment's exact-duplicate vector matches its corpus twin at
    threshold ~1.0; a novel vector passes clean at a high threshold."""
    import numpy as np

    from lotus_spark.functions.ann import (
        ivf_index, pq_index, write_ivfpq_index,
    )
    from lotus_spark.functions.dedup_index import embedding_neardup_index

    rng = np.random.RandomState(44)
    vecs = rng.randn(100, 8).astype("float64")
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(100)],
        ["vec_id", "embedding"])
    indexed, cents = ivf_index(corpus, "embedding", n_cells=4, seed=9,
                               method="deterministic", id_col="vec_id")
    encoded, books = pq_index(indexed, "embedding", "vec_id", m=4,
                              nbits=2, seed=5)
    path = str(tmp_path / "emb_idx")
    write_ivfpq_index(encoded, path, cents, books)

    novel = rng.randn(8) * 10  # far from every corpus vector
    inc = spark.createDataFrame(
        [(500, [float(x) for x in vecs[7]]),         # exact dup of 7
         (501, [float(x) for x in novel])],
        ["qid", "emb"])
    got = embedding_neardup_index(
        spark, path, inc, "qid", "emb", "vec_id", "embedding",
        threshold=0.999, n_probe=4)
    rows = {(r["qid"], r["match_id"]): r["score"] for r in got.collect()}
    assert (500, 7) in rows and rows[(500, 7)] >= 0.999
    assert all(q != 501 for q, _ in rows)

    # r12: the ADC shortlist budget is a real knob. A budget covering
    # the whole corpus must reproduce the default-auto result (auto =
    # max(32k,320) >= 100 here, so both are exhaustive); a budget of
    # k must still surface the exact dup (ADC distance 0 shortlists
    # first); None is rejected (no cosine to threshold on).
    import pytest as _pytest

    wide = embedding_neardup_index(
        spark, path, inc, "qid", "emb", "vec_id", "embedding",
        threshold=0.999, n_probe=4, rerank_k=100)
    assert {(r["qid"], r["match_id"]) for r in wide.collect()} == \
        set(rows)
    narrow = embedding_neardup_index(
        spark, path, inc, "qid", "emb", "vec_id", "embedding",
        threshold=0.999, n_probe=4, k=3, rerank_k=3)
    assert (500, 7) in {(r["qid"], r["match_id"])
                        for r in narrow.collect()}
    with _pytest.raises(ValueError, match="rerank_k=None"):
        embedding_neardup_index(
            spark, path, inc, "qid", "emb", "vec_id", "embedding",
            threshold=0.999, rerank_k=None)


def test_embedding_neardup_index_honors_pinned_code_col(spark, tmp_path):
    """r9 ADVICE: an IVF-PQ index written with a non-default code_col
    records it in _ivfpq_meta.json; the embedding probe must read it
    from the sidecar (as append_ivfpq_index does) instead of assuming
    'pq_codes' and failing prebuilt validation."""
    import numpy as np

    from lotus_spark.functions.ann import (
        ivf_index, pq_index, write_ivfpq_index,
    )
    from lotus_spark.functions.dedup_index import embedding_neardup_index

    rng = np.random.RandomState(21)
    vecs = rng.randn(60, 8).astype("float64")
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        ["vec_id", "embedding"])
    indexed, cents = ivf_index(corpus, "embedding", n_cells=4, seed=9,
                               method="deterministic", id_col="vec_id")
    encoded, books = pq_index(indexed, "embedding", "vec_id", m=4,
                              nbits=2, seed=5, code_col="my_codes")
    path = str(tmp_path / "idx_cc")
    write_ivfpq_index(encoded, path, cents, books, code_col="my_codes")

    inc = spark.createDataFrame(
        [(900, [float(x) for x in vecs[11]])], ["qid", "emb"])
    got = embedding_neardup_index(
        spark, path, inc, "qid", "emb", "vec_id", "embedding",
        threshold=0.999, n_probe=4)
    rows = {(r["qid"], r["match_id"]) for r in got.collect()}
    assert (900, 11) in rows


def test_neardup_stream_static_cache_reused_and_released(
        spark, tmp_path, spark_state):
    """r9 ADVICE: repeat neardup_matches_stream setups for one index
    path must not stack cached copies (a restart loop): Spark's cache
    manager holds one entry per static side. release_stream_index_cache
    drops both, and neither the setup nor the release runs a Spark job
    (the reads are given the sidecar's schema)."""
    from pyspark import StorageLevel

    from lotus_spark.functions.dedup_index import (
        neardup_matches_stream, release_stream_index_cache,
        write_minhash_index,
    )

    corpus = spark.createDataFrame(BASE, ["doc_id", "text"])
    path = str(tmp_path / "idx_cache")
    write_minhash_index(corpus, path, "text", "doc_id",
                        n_hashes=16, bands=4)

    src = tmp_path / "empty_src"
    src.mkdir()
    schema = "doc_id long, text string, ts timestamp"
    stream = spark.readStream.schema(schema).parquet(str(src))

    entries = spark_state.cache_entries()
    assert spark_state.jobs(lambda: neardup_matches_stream(
        spark, path, stream, "text", "doc_id", "ts")) == 0
    assert spark_state.cache_entries() == entries + 2
    sigs = spark.read.schema("id bigint, minhash array<bigint>") \
        .parquet(f"{path}/sigs")
    assert sigs.storageLevel != StorageLevel.NONE

    # second setup (restart loop): the equal reads are the same entries
    neardup_matches_stream(spark, path, stream, "text", "doc_id", "ts")
    assert spark_state.cache_entries() == entries + 2

    assert spark_state.jobs(
        lambda: release_stream_index_cache(spark, path)) == 0
    assert spark_state.cache_entries() == entries
    assert sigs.storageLevel == StorageLevel.NONE


def test_stream_probe_and_cluster_assign_survive_a_session_restart(
        spark, tmp_path, spark_state):
    """A long-lived service stops its session and starts a new one: a
    stream probe and a cluster assignment that ran in the old session
    must run the same in the new one (nothing cached in the old
    SparkContext may leak into the new session's plans)."""
    from lotus_spark.functions.cluster_index import (
        assign_clusters_against_index, build_cluster_index,
    )
    from lotus_spark.functions.dedup_index import neardup_matches_stream

    texts = ["the quick brown fox jumps over the lazy dog again",
             "spark dataframes shuffle data between executors",
             "a fresh unique document with its own words"]
    rows = [(i, texts[i % 3] + f" {i // 3}") for i in range(12)]
    path, src = str(tmp_path / "cl"), str(tmp_path / "src")

    def run(day):
        corpus = _docs(spark, rows)
        stream = spark.readStream.schema(
            "doc_id long, text string, ts timestamp").parquet(src)
        q = (neardup_matches_stream(spark, path, stream, "text", "doc_id",
                                    "ts", threshold=0.5)
             .writeStream.format("memory").queryName(f"restart{day}")
             .trigger(availableNow=True).start())
        assert q.awaitTermination(timeout=300)
        a, remap = assign_clusters_against_index(
            spark, path, _docs(spark, [(100 + day, texts[0] + " 0")]),
            "text", "doc_id", corpus_df=corpus)
        return (
            sorted((r["doc_id"], r["match_id"])
                   for r in spark.table(f"restart{day}").collect()),
            [r["cluster"] for r in a.collect()],
            sorted(map(tuple, remap.collect())),
        )

    build_cluster_index(spark, _docs(spark, rows), path, "text", "doc_id")
    (_docs(spark, [(50, texts[1] + " 1")])
     .withColumn("ts", F.current_timestamp()).write.parquet(src))
    first = run(1)
    assert first[0]  # the probe found matches
    spark_state.restart()
    assert run(2) == first


def test_neardup_index_exact_verify_parity_and_recall(spark, tmp_path):
    """verify='exact' (r9 verdict item 3): candidate pairs come from the
    SAME band join as the estimator tier, but scores are true shingle
    Jaccard computed against corpus text joined by matched id only —
    parity-pinned against minhash_lsh_dedup's verify expressions
    (shared word_shingles + array_intersect/union with the index's
    pinned shingle_n). Also pins the recall property the tier exists
    for: a pair whose TRUE Jaccard clears the threshold is kept by
    exact verify even when the 16-hash estimator lands below it."""
    import pytest
    from pyspark.sql import functions as F

    from lotus_spark.functions.dedup_index import (
        neardup_join_index, write_minhash_index,
    )
    from lotus_spark.functions.text import word_shingles

    corpus = _docs(spark, BASE)
    path = str(tmp_path / "mh_exact")
    write_minhash_index(corpus, path, "text", "doc_id",
                        n_hashes=16, bands=4)
    inc = _docs(spark, [
        (101, BASE[0][1].replace("river bank", "river shore")),
        (102, BASE[1][1]),
        (103, "novel text about nothing indexed at all whatsoever"),
    ])

    exact = neardup_join_index(
        spark, path, inc, "text", "doc_id", threshold=0.3,
        score_col="jaccard", verify="exact", corpus_df=corpus)
    got = {(r["doc_id"], r["match_id"]): r["jaccard"]
           for r in exact.collect()}
    assert (102, 2) in got and got[(102, 2)] == 1.0

    # parity: every exact score equals the directly computed shingle
    # Jaccard (minhash_lsh_dedup's verify arithmetic) for that pair
    sh = {r["doc_id"]: set(r["sh"]) for r in
          corpus.select("doc_id", word_shingles(F.col("text"), 3)
                        .alias("sh")).collect()}
    sh.update({r["doc_id"]: set(r["sh"]) for r in
               inc.select("doc_id", word_shingles(F.col("text"), 3)
                          .alias("sh")).collect()})
    for (q, m), j in got.items():
        want = len(sh[q] & sh[m]) / len(sh[q] | sh[m])
        assert abs(j - want) < 1e-12, (q, m)

    # recall property: pick a threshold between the estimator's score
    # and the true Jaccard for the near-dup pair — estimator drops it,
    # exact keeps it (the measured τ=0.9 miss class, BENCH_mhindex.json)
    est = neardup_join_index(spark, path, inc, "text", "doc_id",
                             threshold=0.0)
    est_scores = {(r["doc_id"], r["match_id"]): r["est_jaccard"]
                  for r in est.collect()}
    true_j = got[(101, 1)]
    est_j = est_scores[(101, 1)]
    assert est_j != true_j  # 16-hash estimate is off the exact value
    lo, hi = sorted((est_j, true_j))
    tau = (lo + hi) / 2
    est_tau = {(r["doc_id"], r["match_id"]) for r in neardup_join_index(
        spark, path, inc, "text", "doc_id", threshold=tau).collect()}
    ex_tau = {(r["doc_id"], r["match_id"]) for r in neardup_join_index(
        spark, path, inc, "text", "doc_id", threshold=tau,
        verify="exact", corpus_df=corpus).collect()}
    if est_j < true_j:
        assert (101, 1) in ex_tau and (101, 1) not in est_tau
    else:  # estimator overshoots: exact correctly drops it
        assert (101, 1) in est_tau and (101, 1) not in ex_tau

    # validation
    with pytest.raises(ValueError, match="corpus_df"):
        neardup_join_index(spark, path, inc, "text", "doc_id",
                           verify="exact")
    with pytest.raises(ValueError, match="estimate"):
        neardup_join_index(spark, path, inc, "text", "doc_id",
                           verify="bogus")


def test_compact_minhash_index_preserves_rows_and_answers(spark, tmp_path):
    """compact_minhash_index (r10): after daily appends both tables hold
    many small files; compaction coalesces them (row set identical in
    buckets AND sigs, sidecar preserved, probe answers unchanged, no
    leaked .compact-/.old- siblings)."""
    import os

    from lotus_spark.functions.dedup_index import (
        append_minhash_index, compact_minhash_index, neardup_join_index,
        read_minhash_meta, write_minhash_index,
    )

    path = str(tmp_path / "mh_compact")
    write_minhash_index(_docs(spark, BASE[:1]), path, "text", "doc_id",
                        n_hashes=16, bands=4)
    for row in BASE[1:]:                       # three daily appends
        append_minhash_index(spark, path, _docs(spark, [row]),
                             "text", "doc_id")

    def n_files(table):
        return sum(1 for f in os.listdir(os.path.join(path, table))
                   if f.endswith(".parquet"))

    assert n_files("buckets") > 1 and n_files("sigs") > 1

    before = {
        t: sorted(map(str, spark.read.parquet(f"{path}/{t}").collect()))
        for t in ("buckets", "sigs")
    }
    probe_df = _docs(spark, [(101, BASE[1][1])])
    ans_before = sorted(map(tuple, neardup_join_index(
        spark, path, probe_df, "text", "doc_id", threshold=0.5).collect()))

    compact_minhash_index(spark, path)

    assert n_files("buckets") == 1 and n_files("sigs") == 1
    after = {
        t: sorted(map(str, spark.read.parquet(f"{path}/{t}").collect()))
        for t in ("buckets", "sigs")
    }
    assert after == before
    meta = read_minhash_meta(spark, path)
    assert meta["n_hashes"] == 16 and meta["bands"] == 4
    ans_after = sorted(map(tuple, neardup_join_index(
        spark, path, probe_df, "text", "doc_id", threshold=0.5).collect()))
    assert ans_after == ans_before
    assert not [d for d in os.listdir(str(tmp_path))
                if ".compact-" in d or ".old-" in d]


def test_stream_gate_foreachbatch_dedup_against_index(spark, tmp_path):
    """The documented streaming GATE shape (neardup_matches_stream
    docstring): keep-only-novel is foreachBatch + dedup_against_index
    per micro-batch — the batch operator verbatim against the persisted
    index, novel rows appended to the sink, corpus matches dropped."""
    import os

    from pyspark.sql import functions as F

    from lotus_spark.functions.dedup_index import (
        dedup_against_index, write_minhash_index,
    )

    corpus = _docs(spark, BASE)
    path = str(tmp_path / "gate_idx")
    write_minhash_index(corpus, path, "text", "doc_id",
                        n_hashes=16, bands=4)

    inc_rows = [
        (101, BASE[0][1]),                                   # dup of 1
        (102, "fresh prose about tidal energy conversion efficiency"),
        (103, BASE[2][1] + " today"),       # near dup of 3 (J = 7/8)
        (104, "another novel paragraph on glacier mass balance models"),
    ]
    src = str(tmp_path / "gate_src")
    os.makedirs(src)
    stage = str(tmp_path / "gate_stage")
    (spark.createDataFrame(inc_rows, "doc_id long, text string")
     .coalesce(1).write.parquet(stage))
    part = next(g for g in os.listdir(stage) if g.endswith(".parquet"))
    os.rename(os.path.join(stage, part), os.path.join(src, "inc.parquet"))

    sink = str(tmp_path / "gate_out")
    ckpt = str(tmp_path / "gate_ckpt")
    stream = spark.readStream.schema("doc_id long, text string").parquet(src)

    def gate(batch_df, batch_id):
        kept = dedup_against_index(
            batch_df.sparkSession, path, batch_df, "text", "doc_id",
            threshold=0.5)
        kept.write.mode("append").parquet(sink)

    q = (stream.writeStream.foreachBatch(gate)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()

    got = {r["doc_id"] for r in spark.read.parquet(sink).collect()}
    assert got == {102, 104}


def test_neardup_index_compacted_matches_duckdb_oracle(spark):
    """The r11-staged maintenance row (__spark_entry__.
    q_neardup_index_compacted): write + append + COMPACT + probe must
    hash-match the same DuckDB band-algebra replay as the uncompacted
    probe (_sql_neardup_index) — compaction is value-preserving."""
    import sys

    import duckdb

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    odf = con.execute(entry._sql_neardup_index()).df()
    sdf = entry.q_neardup_index_compacted(spark, sf).toPandas()

    def canon(pdf):
        pdf = pdf[sorted(pdf.columns)].copy()
        for c in pdf.columns:
            if str(pdf[c].dtype).startswith("float"):
                pdf[c] = pdf[c].astype(float).round(6)
            pdf[c] = pdf[c].astype(str)
        return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)

    a, b = canon(sdf), canon(odf)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b) and len(a) > 0
    assert a.equals(b)


def test_stream_gate_foreachbatch_embedding_index(spark, tmp_path):
    """Embedding-modality streaming gate (the same foreachBatch + batch-
    operator shape as the text gate): micro-batches of vectors probe the
    persisted IVF-PQ index via embedding_neardup_index and only novel
    vectors land in the sink."""
    import os

    import numpy as np

    from lotus_spark.functions.ann import (
        ivf_index, pq_index, write_ivfpq_index,
    )
    from lotus_spark.functions.dedup_index import embedding_neardup_index

    rng = np.random.RandomState(77)
    vecs = rng.randn(80, 8).astype("float64")
    corpus = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(80)],
        ["vec_id", "embedding"])
    indexed, cents = ivf_index(corpus, "embedding", n_cells=4, seed=9,
                               method="deterministic", id_col="vec_id")
    encoded, books = pq_index(indexed, "embedding", "vec_id", m=4,
                              nbits=2, seed=5)
    path = str(tmp_path / "egate_idx")
    write_ivfpq_index(encoded, path, cents, books)

    novel = rng.randn(2, 8) * 7
    inc_rows = [
        (500, [float(x) for x in vecs[13]]),        # dup of corpus 13
        (501, [float(x) for x in novel[0]]),        # novel
        (502, [float(x) for x in vecs[44]]),        # dup of corpus 44
        (503, [float(x) for x in novel[1]]),        # novel
    ]
    src = str(tmp_path / "egate_src")
    os.makedirs(src)
    stage = str(tmp_path / "egate_stage")
    (spark.createDataFrame(inc_rows, "qid long, emb array<double>")
     .coalesce(1).write.parquet(stage))
    part = next(g for g in os.listdir(stage) if g.endswith(".parquet"))
    os.rename(os.path.join(stage, part), os.path.join(src, "inc.parquet"))

    sink = str(tmp_path / "egate_out")
    ckpt = str(tmp_path / "egate_ckpt")
    stream = spark.readStream.schema("qid long, emb array<double>") \
        .parquet(src)

    def gate(batch_df, batch_id):
        matched = embedding_neardup_index(
            batch_df.sparkSession, path, batch_df, "qid", "emb",
            "vec_id", "embedding", threshold=0.999, n_probe=4,
        ).select("qid").distinct()
        kept = batch_df.join(matched, "qid", "left_anti")
        kept.write.mode("append").parquet(sink)

    q = (stream.writeStream.foreachBatch(gate)
         .option("checkpointLocation", ckpt)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = {r["qid"] for r in spark.read.parquet(sink).collect()}
    assert got == {501, 503}


def test_exact_verify_stale_corpus_raises_and_dups_collapse(spark, tmp_path):
    """ADVICE r10: verify='exact' must not SILENTLY pass a near-dup
    when the caller-supplied corpus_df is stale (a matched id with no
    corpus row used to be dropped by the inner join — the one failure
    mode a dedup gate cannot have quietly); and exact-duplicate corpus
    rows must not fan out one result per copy."""
    import pytest

    from lotus_spark.functions.dedup_index import (
        neardup_join_index, write_minhash_index,
    )

    corpus = _docs(spark, BASE)
    path = str(tmp_path / "mh_stale")
    write_minhash_index(corpus, path, "text", "doc_id",
                        n_hashes=16, bands=4)
    inc = _docs(spark, [(102, BASE[1][1])])  # exact dup of doc 2

    # stale corpus: the indexed doc 2 is missing from the table -> raise
    stale = corpus.filter("doc_id <> 2")
    with pytest.raises(Exception, match="no row"):
        neardup_join_index(
            spark, path, inc, "text", "doc_id", threshold=0.3,
            verify="exact", corpus_df=stale).collect()

    # duplicated corpus rows (same id + text twice) -> single result row
    doubled = corpus.union(corpus.filter("doc_id = 2"))
    got = neardup_join_index(
        spark, path, inc, "text", "doc_id", threshold=0.99,
        verify="exact", corpus_df=doubled).collect()
    assert [(r["doc_id"], r["match_id"]) for r in got] == [(102, 2)]


def test_compact_minhash_index_releases_stream_cache(spark, tmp_path,
                                                     spark_state):
    """ADVICE r10: compact_minhash_index swaps the underlying files, so
    it must drop the neardup_matches_stream static cache for that path —
    a probe set up after compaction would otherwise read persisted
    frames over deleted files."""
    from lotus_spark.functions.dedup_index import (
        compact_minhash_index, neardup_matches_stream, write_minhash_index,
    )

    corpus = _docs(spark, BASE)
    path = str(tmp_path / "mh_cc")
    write_minhash_index(corpus, path, "text", "doc_id",
                        n_hashes=16, bands=4)
    src = tmp_path / "empty_src"
    src.mkdir()
    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp").parquet(str(src))
    entries = spark_state.cache_entries()
    neardup_matches_stream(spark, path, stream, "text", "doc_id", "ts")
    assert spark_state.cache_entries() == entries + 2
    compact_minhash_index(spark, path)
    assert spark_state.cache_entries() == entries


def test_neardup_join_index_query_sigs_parity(spark, tmp_path):
    """The r15 ``query_sigs`` fast path (a caller threads precomputed
    signatures so the shingle→hash fold runs once overall) must return
    exactly what the recompute branch returns — same pairs, same scores
    — under BOTH verify tiers. The derived band keys and estimator
    signatures must reproduce ``_encode``'s expressions bit-for-bit;
    full row coverage of the sig frame is the documented caller
    contract (missing rows probe nothing), so the parity set here also
    pins that a covering frame loses no pair."""
    from lotus_spark.functions.dedup import minhash_expr
    from lotus_spark.functions.dedup_index import (
        neardup_join_index, read_minhash_meta, write_minhash_index,
    )

    path = str(tmp_path / "mh")
    write_minhash_index(_docs(spark, BASE), path, "text", "doc_id",
                        n_hashes=16, bands=4)
    meta = read_minhash_meta(spark, path)
    inc = _docs(spark, [
        (101, "the quick brown fox jumps over the lazy dog near the "
              "river shore"),
        (102, "spark dataframes shuffle data between executors during "
              "wide joins"),
        (103, "quantum chemistry basis sets converge slowly for heavy "
              "atoms"),
    ])
    sigs = inc.select(
        "doc_id",
        minhash_expr(F.col("text"), meta["n_hashes"],
                     meta["shingle_n"]).alias("minhash"),
    ).persist()
    try:
        for kw in ({"verify": "estimate"},
                   {"verify": "exact", "corpus_df": _docs(spark, BASE)}):
            base = neardup_join_index(spark, path, inc, "text", "doc_id",
                                      threshold=0.5, **kw)
            fast = neardup_join_index(spark, path, inc, "text", "doc_id",
                                      threshold=0.5, query_sigs=sigs, **kw)
            assert sorted(map(tuple, base.collect())) == \
                   sorted(map(tuple, fast.collect())), kw
    finally:
        sigs.unpersist()

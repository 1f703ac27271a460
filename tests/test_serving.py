"""Persisted-index hybrid serving (functions/serving.py) and the
cluster-map CDC verbs (functions/index_cdc.py, r12)."""
import numpy as np
import pytest
from pyspark.sql import functions as F

DOCS = [
    (0, "spark shuffles the window over the merge join"),
    (1, "a window function avoids the self join"),
    (2, "merge sort join beats the hash join on sorted input"),
    (3, "the quick brown fox jumps over the lazy dog"),
    (4, "spark spark spark window"),
    (5, "completely unrelated text about cooking pasta"),
    (6, "join join join join"),
    (7, "window window merge"),
]
QUERY = "spark window merge join"


def _corpus(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    rng = np.random.RandomState(7)
    vecs = rng.randn(len(DOCS), 8)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(len(DOCS))],
        "doc_id long, embedding array<double>")
    return docs, emb, [float(x) for x in vecs[0]]


def test_hybrid_search_index_matches_inhand_fusion(spark, tmp_path):
    """At full-recall knobs the stored composition must reproduce the
    in-hand hybrid exactly: stored BM25 == one-pass bm25_search (already
    pinned) and full-probe/full-rerank IVF-PQ == brute-force cosine, so
    the fused list is equal id-for-id and score-for-score."""
    from lotus_spark.functions.ann import (
        ivf_index, knn_topk, pq_index, write_ivfpq_index,
    )
    from lotus_spark.functions.bm25 import bm25_search, rrf_fuse
    from lotus_spark.functions.bm25_store import write_bm25_index
    from lotus_spark.functions.serving import hybrid_search_index

    docs, emb, qv = _corpus(spark)
    bm_path = str(tmp_path / "bm")
    iv_path = str(tmp_path / "iv")
    write_bm25_index(docs, bm_path, "text", "doc_id", n_buckets=8)
    indexed, cents = ivf_index(emb, "embedding", n_cells=2, seed=9,
                               method="deterministic", id_col="doc_id")
    encoded, books = pq_index(indexed, "embedding", "doc_id", m=4,
                              nbits=2, seed=5)
    write_ivfpq_index(encoded, iv_path, cents, books)

    got = hybrid_search_index(
        spark, bm_path, iv_path, QUERY, qv, k=6, lexical_k=5,
        vector_k=5, n_probe=2, rerank_k=len(DOCS),
        vector_id_col="doc_id",
    ).collect()

    lex = bm25_search(docs, "text", "doc_id", QUERY, k=5)
    vec = knn_topk(emb, "embedding", qv, k=5, id_col="doc_id")
    want = rrf_fuse([lex, vec], "doc_id", k=6).collect()
    assert [(r["doc_id"], r["rrf_score"]) for r in got] == \
        [(r["doc_id"], r["rrf_score"]) for r in want]

    with pytest.raises(ValueError, match="rerank_k=None"):
        hybrid_search_index(spark, bm_path, iv_path, QUERY, qv,
                            rerank_k=None)


def build_indexes(spark, tmp_path):
    """The BM25 and IVF-PQ indexes over ``DOCS`` → (bm25 path, ivfpq
    path, {doc_id: embedding})."""
    from lotus_spark.functions.ann import (
        ivf_index, pq_index, write_ivfpq_index,
    )
    from lotus_spark.functions.bm25_store import write_bm25_index

    docs, emb, _qv = _corpus(spark)
    vecs = {r["doc_id"]: [float(x) for x in r["embedding"]]
            for r in emb.collect()}
    bm_path = str(tmp_path / "bm")
    iv_path = str(tmp_path / "iv")
    write_bm25_index(docs, bm_path, "text", "doc_id", n_buckets=8)
    indexed, cents = ivf_index(emb, "embedding", n_cells=2, seed=9,
                               method="deterministic", id_col="doc_id")
    encoded, books = pq_index(indexed, "embedding", "doc_id", m=4,
                              nbits=2, seed=5)
    write_ivfpq_index(encoded, iv_path, cents, books)
    return bm_path, iv_path, vecs


def batch_queries(vecs):
    """The three-query batch the batch tests serve (one lexical miss)."""
    return {
        "q0": (QUERY, vecs[0]),
        "q1": ("pasta cooking text", vecs[5]),
        "q2": ("zzz qqq", vecs[3]),  # lexical vocabulary miss
    }


def test_hybrid_batch_matches_singles(spark, tmp_path):
    """hybrid_search_index_batch == Q independent hybrid_search_index
    calls with the same knobs, per query — ids and rrf_scores equal,
    including a query whose lexical terms miss the corpus (the vector
    list alone feeds its fusion, exactly as the single path fuses an
    empty lexical frame)."""
    from lotus_spark.functions.serving import (
        hybrid_search_index, hybrid_search_index_batch,
    )

    bm_path, iv_path, vecs = build_indexes(spark, tmp_path)
    queries = batch_queries(vecs)
    knobs = dict(k=6, lexical_k=5, vector_k=5, n_probe=2,
                 rerank_k=len(DOCS), vector_id_col="doc_id")
    got = hybrid_search_index_batch(
        spark, bm_path, iv_path, queries, **knobs).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["rrf_score"]))
    for qid, (text, qv) in queries.items():
        want = [(r["doc_id"], r["rrf_score"]) for r in
                hybrid_search_index(spark, bm_path, iv_path, text, qv,
                                    **knobs).collect()]
        assert by_q.get(qid, []) == want, qid

    with pytest.raises(ValueError, match="rerank_k=None"):
        hybrid_search_index_batch(spark, bm_path, iv_path, queries,
                                  rerank_k=None)
    with pytest.raises(ValueError, match="non-empty"):
        hybrid_search_index_batch(spark, bm_path, iv_path, {})
    with pytest.raises(ValueError, match="expected"):
        hybrid_search_index_batch(spark, bm_path, iv_path,
                                  {"a": "just text"})


def test_hybrid_batch_runs_in_six_jobs(spark, tmp_path, spark_state):
    """A batch submits at most six Spark jobs whatever its size — the
    term-df broadcast, the lexical exchange, the ADC exchange, the
    shortlist broadcast, the rerank exchange and the result (AQE runs
    each exchange and each broadcast as its own job) — its FIRST time
    too, with a term this process has never queried: the term buckets
    are folded in the plan, so no lookup job precedes it."""
    import uuid

    from lotus_spark.functions.serving import hybrid_search_index_batch

    bm_path, iv_path, vecs = build_indexes(spark, tmp_path)
    knobs = dict(k=6, lexical_k=5, vector_k=5, n_probe=2, rerank_k=8,
                 vector_id_col="doc_id")
    queries = batch_queries(vecs)
    text, qv = queries["q0"]
    queries["q0"] = (f"{text} t{uuid.uuid4().hex}", qv)
    assert spark_state.jobs(lambda: hybrid_search_index_batch(
        spark, bm_path, iv_path, queries, **knobs).collect()) <= 6


def test_cold_hybrid_query_runs_in_four_jobs(spark, tmp_path, spark_state):
    """One hybrid query with a term this process has never queried
    submits four jobs — the term-df broadcast, the lexical top-k, the
    ADC shortlist and the fused result — and no bucket lookup job."""
    import uuid

    from lotus_spark.functions.serving import hybrid_search_index

    bm_path, iv_path, vecs = build_indexes(spark, tmp_path)
    query = f"{QUERY} t{uuid.uuid4().hex}"
    assert spark_state.jobs(lambda: hybrid_search_index(
        spark, bm_path, iv_path, query, vecs[0], k=6, lexical_k=5,
        vector_k=5, n_probe=2, rerank_k=8,
        vector_id_col="doc_id").collect()) == 4


def test_cluster_map_cdc_stability_and_sync(spark, tmp_path):
    """apply_snapshot_to_cluster_index: deletes shrink map AND index in
    step; surviving members KEEP their cluster ids even when the
    deleted doc was the cluster's min member (the documented stability
    divergence from a rebuild); changed docs re-enter as fresh
    increments; a map/index desync raises."""
    from lotus_spark.functions.cluster_index import (
        build_cluster_index, read_cluster_map,
    )
    from lotus_spark.functions.index_cdc import (
        apply_snapshot_to_cluster_index, delete_from_cluster_map,
        delete_from_minhash_index,
    )
    from lotus_spark.functions.snapshot import snapshot_diff

    w = [f"w{i}" for i in range(1, 13)]
    a_text = " ".join(w[0:10])
    b_text = " ".join(w[1:11])       # near-dup of a (J ~ 0.82)
    rows0 = [
        (0, a_text), (1, b_text),    # cluster {0, 1}, id 0
        (2, "completely different pasta text"),
        (3, "another unrelated sentence entirely here"),
    ]
    t0 = spark.createDataFrame(rows0, "doc_id long, text string")
    path = str(tmp_path / "cl")
    build_cluster_index(spark, t0, path, "text", "doc_id",
                        n_hashes=16, bands=4, shingle_n=2,
                        jaccard_threshold=0.7)
    assert {r["id"]: r["cluster"]
            for r in read_cluster_map(spark, path).collect()} == {
        0: 0, 1: 0, 2: 2, 3: 3}

    # T1: doc 0 (the MIN MEMBER of cluster 0) removed; doc 3 changed to
    # a near-dup of b; doc 10 added as another near-dup of b
    rows1 = [
        (1, b_text),
        (2, "completely different pasta text"),
        (3, " ".join(w[2:12])),      # now near-dups b
        (10, b_text),
    ]
    t1 = spark.createDataFrame(rows1, "doc_id long, text string")
    diff = snapshot_diff(t0, t1, "doc_id", compare_cols=["text"])
    stats = apply_snapshot_to_cluster_index(spark, path, diff, t1,
                                            "text")
    assert stats["deleted"] == 2          # doc 0 removed, doc 3 changed
    assert stats["upserted"] == 2         # doc 3 re-entered, doc 10 new
    cmap = {r["id"]: r["cluster"]
            for r in read_cluster_map(spark, path).collect()}
    assert 0 not in cmap
    # STABILITY: doc 1 keeps cluster id 0 although doc 0 (the id's
    # namesake) is gone — a rebuild would renumber to 1
    assert cmap[1] == 0
    # the changed doc and the new near-dup join the surviving cluster
    assert cmap[3] == 0 and cmap[10] == 0 and cmap[2] == 2
    assert len(cmap) == 4

    # crash-convergence: a mid-delete crash leaves the map already
    # deleted but the dead id still indexed (the map is deleted FIRST)
    # — re-running the apply must HEAL this state, not wedge the guard
    delete_from_cluster_map(
        spark, f"{path}.clusters",
        spark.createDataFrame([(10,)], "id long"))
    t2 = t1.filter("doc_id != 10")
    diff2 = snapshot_diff(t1, t2, "doc_id", compare_cols=["text"])
    stats2 = apply_snapshot_to_cluster_index(spark, path, diff2, t2,
                                             "text")
    assert stats2["deleted"] == 1        # the index row for 10
    assert {r["id"] for r in
            read_cluster_map(spark, path).collect()} == {1, 2, 3}
    assert {r["id"] for r in spark.read.parquet(f"{path}/sigs")
            .select("id").collect()} == {1, 2, 3}

    # genuine desync — a dead id holding a MAP row but no INDEX row —
    # cannot arise from any crash of the apply and must refuse
    delete_from_minhash_index(
        spark, path, spark.createDataFrame([(3,)], "id long"))
    t3 = t2.filter("doc_id != 3")
    diff3 = snapshot_diff(t2, t3, "doc_id", compare_cols=["text"])
    with pytest.raises(RuntimeError, match="out of sync"):
        apply_snapshot_to_cluster_index(spark, path, diff3, t3, "text")


def test_delete_from_cluster_map_semantics(spark, tmp_path):
    """Idempotent; 0 on no-match; sidecar inside the dir survives the
    rewrite (embedding-twin layout)."""
    from lotus_spark.functions.index_commit import (
        _fs_read_json, _fs_write_json,
    )
    from lotus_spark.functions.index_cdc import delete_from_cluster_map

    mp = str(tmp_path / "map")
    spark.createDataFrame(
        [(i, i % 3) for i in range(9)], "id long, cluster long"
    ).write.parquet(mp)
    _fs_write_json(spark, f"{mp}/_cluster_meta.json", {"threshold": 0.9})

    ids = spark.createDataFrame([(1,), (4,), (99,)], "id long")
    assert delete_from_cluster_map(spark, mp, ids) == 2
    assert delete_from_cluster_map(spark, mp, ids) == 0  # idempotent
    left = {r["id"] for r in spark.read.parquet(mp).collect()}
    assert left == {0, 2, 3, 5, 6, 7, 8}
    meta = _fs_read_json(spark, f"{mp}/_cluster_meta.json")
    assert meta == {"threshold": 0.9}  # sidecar rode the rewrite


def test_hybrid_search_stored_matches_duckdb_oracle(spark):
    """Staging pin for the r13 window (the r12 window is at its 50
    forced entries): replay the driver's canonical compare for the
    q_hybrid_search_stored / _sql_hybrid_stored pair at sf0.001 —
    same protocol as test_ann_join_ivfpq_matches_duckdb_oracle."""
    import os

    import duckdb

    sf = "/root/testdata/sf0.001"
    os.environ["SPARK_GRAFT_SF_DIR"] = sf
    import __spark_entry__ as entry

    sdf = entry.q_hybrid_search_stored(spark, sf).toPandas()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf}/{t}.parquet'")
    qv = entry._query_vec(spark, sf)
    odf = con.execute(entry._sql_hybrid_stored(qv)).df()

    def canon(p):
        p = p.copy()
        for c in p.columns:
            p[c] = p[c].astype(str)
        return p.sort_values(list(p.columns)).reset_index(drop=True)

    a, b = canon(sdf), canon(odf)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b) == 10
    assert a.equals(b)


def test_embedding_cluster_snapshot_cdc(spark, tmp_path):
    """Embedding twin of the cluster-index snapshot apply: map + IVF-PQ
    index shrink in step, survivors keep their cluster ids, changed and
    added vectors re-enter through the daily assignment recipe."""
    from lotus_spark.functions.cluster_index import (
        build_embedding_cluster_index,
    )
    from lotus_spark.functions.index_cdc import (
        apply_snapshot_to_embedding_cluster_index,
    )
    from lotus_spark.functions.snapshot import snapshot_diff

    def _df(rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")

    a = [1.0, 0.05]           # cluster {0, 1}: nearly parallel
    b = [1.0, 0.10]
    c = [0.0, 1.0]            # own cluster
    d = [-1.0, 0.2]           # own cluster
    extra = [[0.5, 0.9], [0.3, -1.0], [0.9, -0.4], [-0.6, -0.8]]
    t0_rows = [(0, a), (1, b), (2, c), (3, d)] + [
        (20 + i, v) for i, v in enumerate(extra)]
    t0 = _df(t0_rows)
    path = str(tmp_path / "ec")
    build_embedding_cluster_index(spark, t0, path, "embedding", "vec_id",
                                  threshold=0.95, n_cells=2, m=2,
                                  nbits=2, seed=42, pq_seed=101)
    # T1: vec 0 (cluster 0's min member) removed; vec 3 changed to the
    # a/b direction; vec 30 added in the same direction
    t1_rows = [(1, b), (2, c), (3, [1.0, 0.07]), (30, [1.0, 0.08])] + [
        (20 + i, v) for i, v in enumerate(extra)]
    t1 = _df(t1_rows)
    diff = snapshot_diff(t0, t1, "vec_id", compare_cols=["embedding"])
    stats = apply_snapshot_to_embedding_cluster_index(
        spark, path, diff, t1, n_probe=2, k=8, rerank_k=100)
    assert stats["deleted"] == 2 and stats["upserted"] == 2
    cmap = {r["id"]: r["cluster"] for r in
            spark.read.parquet(f"{path}.clusters").collect()}
    assert 0 not in cmap
    assert cmap[1] == 0          # stability: id survives its namesake
    assert cmap[3] == 0 and cmap[30] == 0   # re-entrants join cluster 0
    assert cmap[2] == 2
    assert len(cmap) == len(t1_rows)
    # idempotence of the daily recipe boundary: re-applying raises on
    # the disjointness/dup guards rather than corrupting the map
    with pytest.raises(ValueError):
        apply_snapshot_to_embedding_cluster_index(
            spark, path, diff, t1, n_probe=2, k=8, rerank_k=100)

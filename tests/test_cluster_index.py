"""Incremental cluster assignment (functions/cluster_index.py): the
contract is BATCH EQUALITY — an increment's assignments (and any
corpus-cluster merges it causes) must reproduce exactly what
minhash_clusters over corpus ∪ increment would compute."""
import pytest
from pyspark.sql import functions as F

from lotus_spark.functions.cluster_index import (
    apply_cluster_assignments,
    assign_clusters_against_index,
    build_cluster_index,
    read_cluster_map,
)
from lotus_spark.functions.dedup import minhash_clusters

PARAMS = dict(n_hashes=16, bands=4, shingle_n=2, jaccard_threshold=0.7)

# sliding-window texts: A~B are 0.64-similar (below τ=0.7 — separate
# corpus clusters), the increment doc C overlaps BOTH at 0.8 — a bridge
# that must MERGE the two corpus clusters
_W = [f"w{i}" for i in range(1, 13)]
A_TEXT = " ".join(_W[0:10])    # w1..w10
B_TEXT = " ".join(_W[2:12])    # w3..w12
C_TEXT = " ".join(_W[1:11])    # w2..w11


def _rows(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _batch_clusters(df):
    return {
        r["doc_id"]: r["cluster_id"]
        for r in minhash_clusters(df, "text", "doc_id",
                                  **PARAMS).collect()
    }


def _full_state(spark, path, assignments):
    cmap = {r["id"]: r["cluster"]
            for r in read_cluster_map(spark, path).collect()}
    cmap.update({r["doc_id"]: r["cluster"]
                 for r in assignments.collect()})
    return cmap


def test_assign_matches_batch_including_merges(spark, tmp_path):
    corpus = _rows(spark, [
        (0, A_TEXT), (1, B_TEXT),
        (2, "completely different text about pasta and cooking"),
        (3, "completely different text about pasta and cooking today"),
    ])
    inc = _rows(spark, [
        (10, C_TEXT),                       # bridges clusters 0 and 1
        (11, "a fresh unique document with its own words"),
        (12, "a fresh unique document with its own words"),  # dup of 11
    ])
    path = str(tmp_path / "cl")
    build_cluster_index(spark, corpus, path, "text", "doc_id", **{
        k: v for k, v in PARAMS.items()})

    batch = _batch_clusters(corpus.unionByName(inc))
    # the fixture must actually exercise a merge — A, B, C one cluster
    assert batch[0] == batch[1] == batch[10] == 0, batch

    assignments, remap = assign_clusters_against_index(
        spark, path, inc, "text", "doc_id", corpus_df=corpus)
    got = {r["doc_id"]: r["cluster"] for r in assignments.collect()}
    assert got == {k: v for k, v in batch.items() if k >= 10}
    # the bridged corpus cluster is reported for remapping
    assert {(r["old_cluster"], r["new_cluster"])
            for r in remap.collect()} == {(1, 0)}

    apply_cluster_assignments(spark, path, assignments, remap, "doc_id")
    assert _full_state(spark, path,
                       assignments.limit(0)) == batch


def test_two_day_lifecycle_matches_batch(spark, tmp_path):
    from lotus_spark.functions.dedup_index import append_minhash_index

    corpus = _rows(spark, [
        (0, A_TEXT),
        (1, "unrelated corpus text about databases and storage"),
    ])
    day1 = _rows(spark, [(10, C_TEXT), (11, "novel text one here")])
    # day-2 doc matches a DAY-1 doc — the probe must see appended rows
    day2 = _rows(spark, [(20, C_TEXT), (21, "another novel text two")])

    path = str(tmp_path / "cl")
    build_cluster_index(spark, corpus, path, "text", "doc_id",
                        **PARAMS)
    a1, r1 = assign_clusters_against_index(
        spark, path, day1, "text", "doc_id", corpus_df=corpus)
    apply_cluster_assignments(spark, path, a1, r1, "doc_id")
    append_minhash_index(spark, path, day1, "text", "doc_id")

    grown = corpus.unionByName(day1)
    a2, r2 = assign_clusters_against_index(
        spark, path, day2, "text", "doc_id", corpus_df=grown)
    apply_cluster_assignments(spark, path, a2, r2, "doc_id")

    batch = _batch_clusters(grown.unionByName(day2))
    final = {r["id"]: r["cluster"]
             for r in read_cluster_map(spark, path).collect()}
    assert final == batch
    # stable ids: day-2's copy of C inherits day-1's cluster, which
    # inherited A's id at day 1 — the id never moved
    assert final[20] == final[10] == final[0] == 0


def _unit(angle_deg, d=8):
    import math

    a = math.radians(angle_deg)
    v = [0.0] * d
    v[0], v[1] = math.cos(a), math.sin(a)
    return v


def test_embedding_twin_matches_batch_including_merges(spark, tmp_path):
    """Embedding modality under full-recall knobs (n_probe = every
    cell, k >= multiplicity, corpus within the auto rerank budget):
    assignments + merges equal a batch embedding_clusters run. The
    bridge is geometric — corpus vectors at 0° and 36° (cos 0.81 < τ,
    separate clusters), the increment vector at 18° (cos 0.95 to BOTH)."""
    import numpy as np

    from lotus_spark.functions.cluster_index import (
        apply_embedding_cluster_assignments,
        assign_embedding_clusters_against_index,
        build_embedding_cluster_index,
        embedding_clusters,
    )

    rng = np.random.RandomState(5)
    noise = [(100 + i, [float(x) for x in rng.randn(8)])
             for i in range(40)]
    corpus = spark.createDataFrame(
        [(0, _unit(0)), (1, _unit(36))] + noise,
        "vec_id long, embedding array<double>")
    inc = spark.createDataFrame(
        [(10, _unit(18)),                    # bridges clusters 0 and 1
         (11, _unit(90)), (12, _unit(90))],  # dup pair, novel direction
        "vec_id long, embedding array<double>")

    path = str(tmp_path / "emb")
    build_embedding_cluster_index(spark, corpus, path, "embedding",
                                  "vec_id", threshold=0.9, n_cells=4)
    batch = {
        r["vec_id"]: r["cluster_id"]
        for r in embedding_clusters(
            corpus.unionByName(inc), "embedding", "vec_id",
            threshold=0.9).collect()
    }
    assert batch[0] == batch[1] == batch[10] == 0, batch
    assert batch[11] == batch[12] == 11

    assignments, remap = assign_embedding_clusters_against_index(
        spark, path, inc, "embedding", "vec_id", n_probe=4, k=10)
    got = {r["vec_id"]: r["cluster"] for r in assignments.collect()}
    assert got == {k: batch[k] for k in (10, 11, 12)}
    assert {(r["old_cluster"], r["new_cluster"])
            for r in remap.collect()} == {(1, 0)}

    apply_embedding_cluster_assignments(spark, path, assignments, remap,
                                        "vec_id")
    final = {r["id"]: r["cluster"] for r in
             spark.read.parquet(f"{path}.clusters").collect()}
    assert final == batch
    # the map sibling never leaks into the index scan
    from lotus_spark.functions.ann import read_ivfpq_index

    stored, _, _, _ = read_ivfpq_index(spark, path)
    assert stored.count() == corpus.count()


def test_estimator_tier_and_validation(spark, tmp_path):
    corpus = _rows(spark, [(0, A_TEXT), (1, "other words entirely")])
    path = str(tmp_path / "cl")
    build_cluster_index(spark, corpus, path, "text", "doc_id", **PARAMS)
    # estimator tier runs without the corpus table (approximate edges)
    a, r = assign_clusters_against_index(
        spark, path, _rows(spark, [(10, A_TEXT)]), "text", "doc_id")
    assert {x["doc_id"]: x["cluster"] for x in a.collect()} == {10: 0}

    # re-applying a day is refused (would duplicate map rows)
    apply_cluster_assignments(spark, path, a, r, "doc_id")
    with pytest.raises(ValueError, match="already in the cluster map"):
        apply_cluster_assignments(spark, path, a, r, "doc_id")

    from lotus_spark.functions.dedup_index import write_minhash_index

    bare = str(tmp_path / "bare")
    write_minhash_index(corpus, bare, "text", "doc_id",
                        n_hashes=16, bands=4)
    with pytest.raises(FileNotFoundError, match="_cluster_meta"):
        assign_clusters_against_index(
            spark, bare, _rows(spark, [(10, A_TEXT)]), "text", "doc_id")


def test_string_ids_and_overlapping_increments_raise(spark, tmp_path):
    """Cluster ids are min-member doc ids cast to long, so a string id
    column must raise loudly (it used to write an all-NULL map); an
    increment sharing an id with the indexed corpus must fail BEFORE
    the merge graph, not at apply time."""
    sdocs = spark.createDataFrame([("a", A_TEXT)],
                                  "doc_id string, text string")
    with pytest.raises(ValueError, match="integral id column"):
        build_cluster_index(spark, sdocs, str(tmp_path / "s"),
                            "text", "doc_id", **PARAMS)

    corpus = _rows(spark, [(0, A_TEXT), (1, "other words entirely")])
    path = str(tmp_path / "cl")
    build_cluster_index(spark, corpus, path, "text", "doc_id", **PARAMS)
    with pytest.raises(ValueError, match="integral id column"):
        assign_clusters_against_index(spark, path, sdocs, "text",
                                      "doc_id")
    # id 0 is already indexed — a changed doc must go through CDC delete
    with pytest.raises(ValueError, match="disjoint"):
        assign_clusters_against_index(
            spark, path, _rows(spark, [(0, A_TEXT)]), "text", "doc_id")

    # embedding twin: same two guards
    from lotus_spark.functions.cluster_index import (
        assign_embedding_clusters_against_index,
        build_embedding_cluster_index,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(8)],
        "doc_id long, emb array<float>")
    epath = str(tmp_path / "em")
    build_embedding_cluster_index(spark, emb, epath, "emb", "doc_id",
                                  threshold=0.99, n_cells=2, m=2,
                                  nbits=2)
    with pytest.raises(ValueError, match="integral id column"):
        build_embedding_cluster_index(
            spark,
            spark.createDataFrame([("a", [1.0, 0.0])],
                                  "doc_id string, emb array<float>"),
            str(tmp_path / "em2"), "emb", "doc_id")
    with pytest.raises(ValueError, match="disjoint"):
        assign_embedding_clusters_against_index(
            spark, epath,
            spark.createDataFrame([(3, [1.0, 0.0])],
                                  "doc_id long, emb array<float>"),
            "emb", "doc_id")


def test_assign_retires_previous_collapse_cache(spark, tmp_path,
                                               spark_state):
    """The exact-collapse frame outlives its call by design (the
    returned assignments frame reads it lazily), so Spark owns its
    lifetime: a loop of assign calls whose caller materializes and
    drops each result leaves no cache-manager entry behind, and once
    the JVM collects the dropped frames the persistent RDDs are back to
    the pre-loop set — a long-lived CDC loop keeps no increment's
    blocks. A fresh context, so the ContextCleaner has no backlog of
    earlier tests' garbage to work through first."""
    spark_state.restart()
    corpus = _rows(spark, [
        (0, A_TEXT), (1, B_TEXT),
        (2, "completely different text about pasta and cooking"),
    ])
    path = str(tmp_path / "cl")
    build_cluster_index(spark, corpus, path, "text", "doc_id", **PARAMS)
    entries = spark_state.cache_entries()
    before = spark_state.persistent_rdds()
    for i, text in enumerate([C_TEXT, "a fresh unique document here",
                              "yet another new text for day three"]):
        a, remap = assign_clusters_against_index(
            spark, path, _rows(spark, [(10 + i, text)]), "text", "doc_id",
            corpus_df=corpus)
        assert a.count() == 1  # the caller materializes, then drops
        assert spark_state.cache_entries() == entries
        assert spark_state.persistent_rdds() - before  # the lazy blocks
        del a, remap
    assert spark_state.rdds_after_gc(before) <= before


def test_assign_failure_releases_its_caches(spark, tmp_path, monkeypatch,
                                            spark_state):
    """If the probe raises, the call must unpersist the signature cache
    it persisted and leave no cache-manager entry behind."""
    from lotus_spark.functions import cluster_index as ci

    corpus = _rows(spark, [(0, A_TEXT), (1, B_TEXT)])
    path = str(tmp_path / "cl")
    build_cluster_index(spark, corpus, path, "text", "doc_id", **PARAMS)
    entries = spark_state.cache_entries()

    persisted = []
    DataFrame = type(corpus)  # the concrete (classic) DataFrame class
    real_persist = DataFrame.persist

    def recording_persist(self, *args, **kwargs):
        persisted.append(self)
        return real_persist(self, *args, **kwargs)

    def failing_probe(*args, **kwargs):
        raise ValueError("probe failed")

    monkeypatch.setattr(DataFrame, "persist", recording_persist)
    monkeypatch.setattr(ci, "neardup_join_index", failing_probe)
    with pytest.raises(ValueError, match="probe failed"):
        assign_clusters_against_index(
            spark, path, _rows(spark, [(10, C_TEXT)]), "text", "doc_id",
            corpus_df=corpus)
    assert persisted  # the signature cache
    assert not any(df.storageLevel.useMemory or df.storageLevel.useDisk
                   for df in persisted)
    assert spark_state.cache_entries() == entries


def test_two_threads_assign_against_two_indexes(spark, tmp_path):
    """Two driver threads assigning against two different cluster
    indexes at the same time each get their single-thread result: no
    state is shared between the calls."""
    import threading

    corpus = _rows(spark, [
        (0, A_TEXT), (1, B_TEXT),
        (2, "completely different text about pasta and cooking"),
    ])
    incs = [
        _rows(spark, [(10, C_TEXT), (11, "novel words for the first")]),
        _rows(spark, [(20, "completely different text about pasta and "
                           "cooking now"), (21, C_TEXT)]),
    ]
    paths = [str(tmp_path / f"cl{i}") for i in range(2)]
    for path in paths:
        build_cluster_index(spark, corpus, path, "text", "doc_id",
                            **PARAMS)

    def assign(i):
        a, remap = assign_clusters_against_index(
            spark, paths[i], incs[i], "text", "doc_id", corpus_df=corpus)
        return (sorted(map(tuple, a.collect())),
                sorted(map(tuple, remap.collect())))

    alone = [assign(i) for i in range(2)]
    got, errors = [None, None], []
    start = threading.Barrier(2)

    def run(i):
        try:
            start.wait(timeout=60)
            got[i] = assign(i)
        except BaseException as e:  # surfaced by the assert below
            errors.append(e)

    threads = [threading.Thread(target=run, args=(i,)) for i in range(2)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=600)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert got == alone

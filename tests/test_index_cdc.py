"""CDC index maintenance (functions/index_cdc.py): delete + snapshot
upsert for the persisted IVF-PQ and MinHash-LSH indexes. The invariant
every test pins some facet of: after delete/upsert the stored index is
row-identical to a from-scratch build of the surviving corpus state
with the SAME quantizers/parameters — so probes over a CDC-maintained
index answer exactly like probes over a rebuilt one."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from lotus_spark.functions.index_cdc import (
    apply_snapshot_to_ivfpq_index,
    apply_snapshot_to_minhash_index,
    delete_from_ivfpq_index,
    delete_from_minhash_index,
)


def _ivfpq(spark, tmp_path, n=120, seed=77):
    from lotus_spark.functions.ann import (
        ivf_index, pq_index, write_ivfpq_index,
    )

    rng = np.random.RandomState(seed)
    vecs = rng.randn(n, 8).astype("float64")
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    indexed, cents = ivf_index(df, "embedding", n_cells=4, seed=9,
                               method="deterministic", id_col="vec_id")
    encoded, books = pq_index(indexed, "embedding", "vec_id", m=4,
                              nbits=2, seed=5)
    path = str(tmp_path / "idx")
    write_ivfpq_index(encoded, path, cents, books)
    return df, vecs, path


def _ids(spark, vals):
    return spark.createDataFrame([(int(v),) for v in vals],
                                 "vec_id long")


def test_ivfpq_delete_equals_fresh_encode_of_survivors(spark, tmp_path):
    from lotus_spark.functions.ann import encode_ivfpq, read_ivfpq_index

    df, vecs, path = _ivfpq(spark, tmp_path)
    dead = [i for i in range(120) if i % 10 == 0]
    n = delete_from_ivfpq_index(spark, path, _ids(spark, dead), "vec_id")
    assert n == len(dead)

    stored, cents, books, cell_col = read_ivfpq_index(spark, path)
    survivors = df.filter(~F.col("vec_id").isin(dead))
    want = encode_ivfpq(survivors, "embedding", cents, books,
                        cell_col=cell_col)
    a = sorted((r["vec_id"], r[cell_col], tuple(r["pq_codes"]))
               for r in stored.collect())
    b = sorted((r["vec_id"], r[cell_col], tuple(r["pq_codes"]))
               for r in want.collect())
    assert a == b and len(a) == 120 - len(dead)


def test_ivfpq_delete_probe_matches_bruteforce_on_survivors(
        spark, tmp_path):
    from lotus_spark.functions.ann import (
        knn_topk, knn_topk_ivfpq, read_ivfpq_index,
    )

    df, vecs, path = _ivfpq(spark, tmp_path)
    dead = list(range(0, 40))
    delete_from_ivfpq_index(spark, path, _ids(spark, dead), "vec_id")
    stored, cents, books, cell_col = read_ivfpq_index(spark, path)
    q = [float(x) for x in vecs[7]]  # a DELETED row's vector as query
    exact = [r["vec_id"] for r in
             knn_topk(df.filter("vec_id >= 40"), "embedding", q, k=5,
                      id_col="vec_id").collect()]
    got = [r["vec_id"] for r in
           knn_topk_ivfpq(stored, cents, books, q, k=5, n_probe=4,
                          id_col="vec_id", cell_col=cell_col,
                          rerank_k=200).collect()]
    assert got == exact
    assert not set(got) & set(dead)


def test_ivfpq_delete_is_idempotent_and_prunes_untouched_cells(
        spark, tmp_path):
    from lotus_spark.functions.ann import read_ivfpq_index

    df, vecs, path = _ivfpq(spark, tmp_path)
    stored0, _, _, cell_col = read_ivfpq_index(spark, path)
    # pick every id of ONE cell plus a few of another
    by_cell = {}
    for r in stored0.select("vec_id", cell_col).collect():
        by_cell.setdefault(r[cell_col], []).append(r["vec_id"])
    cells = sorted(by_cell)
    whole, partial = by_cell[cells[0]], by_cell[cells[1]][:3]
    import os

    files_before = {
        c: sorted(os.listdir(f"{path}/{cell_col}={c}")) for c in cells[2:]
    }
    n = delete_from_ivfpq_index(
        spark, path, _ids(spark, whole + partial), "vec_id")
    assert n == len(whole) + len(partial)
    # untouched cells were not rewritten (same files on disk)
    for c, fl in files_before.items():
        assert sorted(os.listdir(f"{path}/{cell_col}={c}")) == fl
    # the fully-emptied cell's directory is gone
    assert not os.path.exists(f"{path}/{cell_col}={cells[0]}")
    # re-running the same delete is a no-op
    assert delete_from_ivfpq_index(
        spark, path, _ids(spark, whole + partial), "vec_id") == 0
    stored, _, _, _ = read_ivfpq_index(spark, path)
    assert stored.count() == 120 - n


def test_ivfpq_delete_validation_and_stream_guard(spark, tmp_path):
    df, vecs, path = _ivfpq(spark, tmp_path)
    with pytest.raises(ValueError, match="NULL ids"):
        delete_from_ivfpq_index(
            spark, path,
            spark.createDataFrame([(None,)], "vec_id long"), "vec_id")
    with pytest.raises(ValueError, match="lacks column"):
        delete_from_ivfpq_index(
            spark, path,
            spark.createDataFrame([(1,)], "other long"), "vec_id")
    with pytest.raises(ValueError, match="no column"):
        delete_from_ivfpq_index(
            spark, path, _ids(spark, [1]).withColumnRenamed(
                "vec_id", "doc_id"), "doc_id")
    # a live batch file beyond the (absent) high-water mark == a stream
    # that crashed inside its commit window: refuse, same as compaction
    import os

    cell_dir = next(d for d in os.listdir(path) if d.startswith("__ivf_"))
    part = next(f for f in os.listdir(f"{path}/{cell_dir}")
                if f.endswith(".parquet"))
    import shutil

    shutil.copy(f"{path}/{cell_dir}/{part}",
                f"{path}/{cell_dir}/batch3-deadbeef.parquet")
    with pytest.raises(RuntimeError, match="high-water"):
        delete_from_ivfpq_index(spark, path, _ids(spark, [1]), "vec_id")


def test_ivfpq_delete_refuses_empty_index_and_mid_swap_leftovers(
        spark, tmp_path):
    df, vecs, path = _ivfpq(spark, tmp_path, n=20)
    with pytest.raises(ValueError, match="empty the index"):
        delete_from_ivfpq_index(spark, path, _ids(spark, range(20)),
                                "vec_id")
    # a leftover aside == a crash inside a previous delete's swap window:
    # a blind re-run would not see that cell — refuse until recovered
    import os

    os.mkdir(f"{path}/.cdcold-deadbeef-3")
    with pytest.raises(RuntimeError, match="mid-swap"):
        delete_from_ivfpq_index(spark, path, _ids(spark, [1]), "vec_id")
    os.rmdir(f"{path}/.cdcold-deadbeef-3")
    assert delete_from_ivfpq_index(
        spark, path, _ids(spark, [1]), "vec_id") == 1


def test_bm25_delete_refuses_emptying_postings(spark, tmp_path):
    from lotus_spark.functions.bm25_store import write_bm25_index
    from lotus_spark.functions.index_cdc import delete_from_bm25_index

    docs = spark.createDataFrame(
        [(i, f"alpha beta doc {i}") for i in range(5)],
        "doc_id long, text string")
    path = str(tmp_path / "bm")
    write_bm25_index(docs, path, "text", "doc_id", n_buckets=4)
    with pytest.raises(ValueError, match="empty the postings"):
        delete_from_bm25_index(
            spark, path,
            spark.createDataFrame([(i,) for i in range(5)], "id long"))


def test_minhash_delete_equals_fresh_write_of_survivors(spark, tmp_path):
    from lotus_spark.functions.dedup_index import write_minhash_index

    rows = [(i, f"alpha beta gamma delta epsilon doc {i} zeta eta")
            for i in range(40)]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    path = str(tmp_path / "mh")
    write_minhash_index(docs, path, "text", "doc_id",
                        n_hashes=8, bands=2)
    dead = [i for i in range(40) if i % 4 == 0]
    n = delete_from_minhash_index(
        spark, path,
        spark.createDataFrame([(i,) for i in dead], "id long"))
    assert n == len(dead)

    fresh = str(tmp_path / "mh_fresh")
    write_minhash_index(docs.filter("doc_id % 4 != 0"), fresh, "text",
                        "doc_id", n_hashes=8, bands=2)
    for table in ("sigs", "buckets"):
        a = sorted(map(tuple,
                       spark.read.parquet(f"{path}/{table}").collect()))
        b = sorted(map(tuple,
                       spark.read.parquet(f"{fresh}/{table}").collect()))
        assert a == b
    # idempotent
    assert delete_from_minhash_index(
        spark, path,
        spark.createDataFrame([(i,) for i in dead], "id long")) == 0


def test_minhash_delete_releases_stream_cache(spark, tmp_path, spark_state):
    from lotus_spark.functions import dedup_index as di

    docs = spark.createDataFrame(
        [(i, f"one two three four five doc {i}") for i in range(10)],
        ["doc_id", "text"])
    path = str(tmp_path / "mh")
    di.write_minhash_index(docs, path, "text", "doc_id",
                           n_hashes=8, bands=2)
    src = tmp_path / "empty_src"
    src.mkdir()
    stream = spark.readStream.schema(
        "doc_id long, text string, ts timestamp").parquet(str(src))
    entries = spark_state.cache_entries()
    di.neardup_matches_stream(spark, path, stream, "text", "doc_id", "ts")
    assert spark_state.cache_entries() == entries + 2
    delete_from_minhash_index(
        spark, path, spark.createDataFrame([(0,)], "id long"))
    assert spark_state.cache_entries() == entries


def _snapshots(spark, vecs):
    """T0 = evens; T1 = drop %10==0, reverse the embedding of %10==4,
    add the odds — the three CDC classes in one pair of frames."""
    n = len(vecs)
    rows = [(i, [float(x) for x in vecs[i]]) for i in range(n)]
    full = spark.createDataFrame(rows, ["vec_id", "embedding"])
    t0 = full.filter("vec_id % 2 = 0")
    t1 = full.filter("vec_id % 10 != 0").withColumn(
        "embedding",
        F.when(F.col("vec_id") % 10 == 4,
               F.reverse(F.col("embedding")))
        .otherwise(F.col("embedding")))
    return full, t0, t1


def test_apply_snapshot_to_ivfpq_index_matches_rebuild(spark, tmp_path):
    from lotus_spark.functions.ann import (
        encode_ivfpq, ivf_index, knn_topk_ivfpq, pq_index,
        read_ivfpq_index, write_ivfpq_index,
    )
    from lotus_spark.functions.snapshot import snapshot_diff

    rng = np.random.RandomState(41)
    vecs = rng.randn(100, 8).astype("float64")
    full, t0, t1 = _snapshots(spark, vecs)

    indexed, cents = ivf_index(t0, "embedding", n_cells=4, seed=9,
                               method="deterministic", id_col="vec_id")
    encoded, books = pq_index(indexed, "embedding", "vec_id", m=4,
                              nbits=2, seed=5)
    path = str(tmp_path / "idx")
    write_ivfpq_index(encoded, path, cents, books)

    diff = snapshot_diff(t0, t1, "vec_id")
    stats = apply_snapshot_to_ivfpq_index(spark, path, diff, t1)
    n_removed = 100 // 10          # evens divisible by 10
    n_changed = len([i for i in range(100) if i % 10 == 4])
    n_added = 50                   # all odds
    assert stats == {"deleted": n_removed + n_changed,
                     "upserted": n_added + n_changed}

    stored, cents2, books2, cell_col = read_ivfpq_index(spark, path)
    want = encode_ivfpq(t1, "embedding", cents2, books2, cell_col=cell_col)
    a = sorted((r["vec_id"], r[cell_col], tuple(r["pq_codes"]))
               for r in stored.collect())
    b = sorted((r["vec_id"], r[cell_col], tuple(r["pq_codes"]))
               for r in want.collect())
    assert a == b
    # probe parity with a from-scratch index on T1 (same codebooks)
    q = [float(x) for x in vecs[1]]
    got = knn_topk_ivfpq(stored, cents2, books2, q, k=5, n_probe=4,
                         id_col="vec_id", cell_col=cell_col,
                         rerank_k=200).collect()
    fresh = encode_ivfpq(t1, "embedding", cents2, books2,
                         cell_col=cell_col)
    want_q = knn_topk_ivfpq(fresh, cents2, books2, q, k=5, n_probe=4,
                            id_col="vec_id", cell_col=cell_col,
                            rerank_k=200).collect()
    assert [(r["vec_id"], r["score"]) for r in got] == \
        [(r["vec_id"], r["score"]) for r in want_q]


def test_apply_snapshot_to_minhash_index_matches_rebuild(spark, tmp_path):
    from lotus_spark.functions.dedup_index import write_minhash_index
    from lotus_spark.functions.snapshot import snapshot_diff

    rows = [(i, f"alpha beta gamma doc number {i} delta epsilon zeta")
            for i in range(60)]
    full = spark.createDataFrame(rows, ["doc_id", "text"])
    t0 = full.filter("doc_id % 2 = 0")
    t1 = full.filter("doc_id % 10 != 0").withColumn(
        "text",
        F.when(F.col("doc_id") % 10 == 4,
               F.concat(F.col("text"), F.lit(" revised")))
        .otherwise(F.col("text")))

    path = str(tmp_path / "mh")
    write_minhash_index(t0, path, "text", "doc_id", n_hashes=8, bands=2)
    diff = snapshot_diff(t0, t1, "doc_id")
    stats = apply_snapshot_to_minhash_index(spark, path, diff, t1, "text")
    assert stats["deleted"] == 6 + 6       # %10==0 evens + %10==4 evens
    assert stats["upserted"] == 30 + 6     # odds + changed

    fresh = str(tmp_path / "mh_fresh")
    write_minhash_index(t1, fresh, "text", "doc_id", n_hashes=8, bands=2)
    for table in ("sigs", "buckets"):
        a = sorted(map(tuple,
                       spark.read.parquet(f"{path}/{table}").collect()))
        b = sorted(map(tuple,
                       spark.read.parquet(f"{fresh}/{table}").collect()))
        assert a == b


def test_apply_snapshot_to_ngram_index_matches_rebuild(spark, tmp_path):
    """Eval suites get revised: delete + re-append through the CDC
    driver leaves the decontamination index row-identical to a fresh
    write of the revised suite, and the probe gates accordingly."""
    from lotus_spark.functions.decontam_index import (
        contamination_against_index, write_ngram_index,
    )
    from lotus_spark.functions.index_cdc import (
        apply_snapshot_to_ngram_index,
    )
    from lotus_spark.functions.snapshot import snapshot_diff

    # per-doc-unique tokens: no two eval docs share any n-gram, so the
    # final gate assertion isolates exactly the deleted doc's postings
    rows = [(i, " ".join(f"q{i}w{j}" for j in range(8)))
            for i in range(30)]
    t0 = spark.createDataFrame(rows, ["doc_id", "text"])
    t1 = t0.filter("doc_id % 10 != 0").withColumn(
        "text",
        F.when(F.col("doc_id") % 10 == 4,
               F.concat(F.col("text"), F.lit(" revised")))
        .otherwise(F.col("text"))
    ).unionByName(spark.createDataFrame(
        [(100 + i, f"new question {i} one two three four five six")
         for i in range(5)], ["doc_id", "text"]))

    path = str(tmp_path / "ng")
    write_ngram_index(t0, path, "text", "doc_id", ngram_n=5)
    diff = snapshot_diff(t0, t1, "doc_id")
    stats = apply_snapshot_to_ngram_index(spark, path, diff, t1, "text")
    assert stats == {"deleted": 6, "upserted": 8}  # 3+3 dead, 5+3 fresh

    fresh = str(tmp_path / "ng_fresh")
    write_ngram_index(t1, fresh, "text", "doc_id", ngram_n=5)
    for table in ("ngrams", "sizes"):
        a = sorted(map(tuple,
                       spark.read.parquet(f"{path}/{table}").collect()))
        b = sorted(map(tuple,
                       spark.read.parquet(f"{fresh}/{table}").collect()))
        assert a == b
    # a training doc quoting a REMOVED eval question no longer gates
    train = spark.createDataFrame(
        [(1, rows[0][1]), (2, rows[1][1])], ["doc_id", "text"])
    hits = contamination_against_index(
        spark, path, train, "text", "doc_id", min_hits=1)
    got = {r["doc_id"] for r in hits.collect()}
    assert got == {2}  # doc 1 quotes the deleted eval doc 0


def test_apply_snapshot_to_bm25_index_matches_rebuild(spark, tmp_path):
    """Re-crawl day for the lexical serving index: delete + re-append
    through the CDC driver leaves every table row-identical to a fresh
    build of the new snapshot, and searches answer identically."""
    from lotus_spark.functions.bm25_store import (
        bm25_search_index, write_bm25_index,
    )
    from lotus_spark.functions.index_cdc import (
        apply_snapshot_to_bm25_index, delete_from_bm25_index,
    )
    from lotus_spark.functions.snapshot import snapshot_diff

    rows = [(i, f"doc {i} spark window merge join token{i % 7}")
            for i in range(40)]
    full = spark.createDataFrame(rows, "doc_id long, text string")
    t0 = full.filter("doc_id % 2 = 0")
    t1 = full.filter("doc_id % 10 != 0").withColumn(
        "text",
        F.when(F.col("doc_id") % 10 == 4,
               F.concat(F.col("text"), F.lit(" revised")))
        .otherwise(F.col("text")))

    path = str(tmp_path / "bm")
    write_bm25_index(t0, path, "text", "doc_id", n_buckets=8)
    diff = snapshot_diff(t0, t1, "doc_id")
    stats = apply_snapshot_to_bm25_index(spark, path, diff, t1)
    assert stats == {"deleted": 8, "upserted": 24}  # 4+4 dead, 20+4 fresh

    fresh = str(tmp_path / "bm_fresh")
    write_bm25_index(t1, fresh, "text", "doc_id", n_buckets=8)
    for table in ("postings", "termdf", "doclens"):
        a = sorted(map(tuple,
                       spark.read.parquet(f"{path}/{table}").collect()))
        b = sorted(map(tuple,
                       spark.read.parquet(f"{fresh}/{table}").collect()))
        assert a == b, table
    got = [(r["doc_id"], r["score"]) for r in
           bm25_search_index(spark, path, "spark revised", k=10).collect()]
    want = [(r["doc_id"], r["score"]) for r in
            bm25_search_index(spark, fresh, "spark revised",
                              k=10).collect()]
    assert got == want and got  # revised docs retrievable, scores equal
    # idempotent: re-deleting the same ids is a no-op
    assert delete_from_bm25_index(
        spark, path,
        diff.filter("change = 'removed'")
        .select(F.col("doc_id").alias("id"))) == 0


def test_apply_snapshot_rejects_unknown_labels(spark, tmp_path):
    df, vecs, path = _ivfpq(spark, tmp_path, n=20)
    bad = spark.createDataFrame([(1, "mutated")], "vec_id long, change string")
    with pytest.raises(ValueError, match="unknown"):
        apply_snapshot_to_ivfpq_index(spark, path, bad, df)

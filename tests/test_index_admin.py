"""Read-only index fsck (functions/index_admin.py): healthy layouts
validate clean; crashed-swap leftovers, missing sidecars, and
map/index desyncs are reported with recoveries named."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from lotus_spark.functions.index_admin import KINDS, validate_index

DOCS = [(i, f"w{i} w{i+1} w{i+2} common words here") for i in range(12)]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def _checks(rep):
    return {c["check"]: c["ok"] for c in rep["checks"]}


def test_validate_minhash_and_cluster(spark, tmp_path):
    from lotus_spark.functions.cluster_index import build_cluster_index

    path = str(tmp_path / "mh")
    build_cluster_index(spark, _docs(spark), path, "text", "doc_id",
                        n_hashes=8, bands=2, shingle_n=2,
                        jaccard_threshold=0.7)
    rep = validate_index(spark, path, "minhash")
    assert rep["ok"], rep["checks"]
    repc = validate_index(spark, path, "cluster")
    assert repc["ok"], repc["checks"]

    # desync: remove one map row behind the module's back
    from lotus_spark.functions.index_cdc import delete_from_cluster_map

    delete_from_cluster_map(spark, f"{path}.clusters",
                            spark.createDataFrame([(0,)], "id long"))
    repd = validate_index(spark, path, "cluster")
    assert not repd["ok"]
    assert _checks(repd)["map_and_index_in_sync"] is False

    # crashed-swap evidence: plant a leftover sibling
    import os

    os.makedirs(f"{path}.cdcdel-deadbeef")
    repl = validate_index(spark, path, "minhash")
    assert not repl["ok"]
    assert _checks(repl)["no_crashed_swap_leftovers"] is False
    os.rmdir(f"{path}.cdcdel-deadbeef")

    # the MAP dir's own crash evidence (delete_from_cluster_map /
    # _apply_to_map swaps): a leftover beside the map and an unknown
    # co-located file inside it are the cluster kinds' failure modes
    os.makedirs(f"{path}.clusters.old-cafe")
    repm = validate_index(spark, path, "cluster")
    assert _checks(repm)["map_no_crashed_swap_leftovers"] is False
    os.rmdir(f"{path}.clusters.old-cafe")
    with open(f"{path}.clusters/stray.txt", "w") as fh:
        fh.write("x")
    repu = validate_index(spark, path, "cluster")
    assert _checks(repu)["map_no_unknown_siblings"] is False
    os.remove(f"{path}.clusters/stray.txt")


def test_validate_ivfpq_and_embedding_cluster(spark, tmp_path):
    from lotus_spark.functions.cluster_index import (
        build_embedding_cluster_index,
    )

    rng = np.random.RandomState(3)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(8)]) for i in range(16)],
        "vec_id long, embedding array<double>")
    path = str(tmp_path / "iv")
    build_embedding_cluster_index(spark, emb, path, "embedding",
                                  "vec_id", threshold=0.95, n_cells=2,
                                  m=2, nbits=2)
    rep = validate_index(spark, path, "ivfpq")
    assert rep["ok"], rep["checks"]
    repc = validate_index(spark, path, "embedding_cluster")
    assert repc["ok"], repc["checks"]

    # missing sidecar reported, not raised
    import os

    os.rename(f"{path}/_ivfpq_meta.json", f"{path}/meta.bak")
    repm = validate_index(spark, path, "ivfpq")
    assert not repm["ok"] and _checks(repm)["sidecar"] is False
    os.rename(f"{path}/meta.bak", f"{path}/_ivfpq_meta.json")


def test_validate_bm25_and_ngram(spark, tmp_path):
    from lotus_spark.functions.bm25_store import write_bm25_index
    from lotus_spark.functions.decontam_index import write_ngram_index

    docs = _docs(spark)
    bm = str(tmp_path / "bm")
    write_bm25_index(docs, bm, "text", "doc_id", n_buckets=4)
    rep = validate_index(spark, bm, "bm25")
    assert rep["ok"], rep["checks"]

    # stale sidecar stats reported
    from lotus_spark.functions.index_commit import (
        _fs_read_json, _fs_write_json,
    )

    meta = _fs_read_json(spark, f"{bm}/_bm25_meta.json")
    _fs_write_json(spark, f"{bm}/_bm25_meta.json",
                   dict(meta, n_docs=999))
    reps = validate_index(spark, bm, "bm25")
    assert not reps["ok"]
    assert _checks(reps)["sidecar_stats_match_recount"] is False

    # serving-copy divergence: bump one posting row's denormalized dl
    # (rewrite one bucket dir through Spark so the schema is identical)
    import os
    import shutil

    pdir = f"{bm}/postings"
    bdir = sorted(d for d in os.listdir(pdir) if d.startswith("bucket="))[0]
    b0 = spark.read.parquet(f"{pdir}/{bdir}")
    victim = b0.first()["id"]
    fixed = b0.withColumn(
        "dl", F.when(F.col("id") == victim, F.col("dl") + 7)
        .otherwise(F.col("dl")))
    fixed.write.parquet(str(tmp_path / "b0corrupt"))
    shutil.rmtree(f"{pdir}/{bdir}")
    os.rename(str(tmp_path / "b0corrupt"), f"{pdir}/{bdir}")
    _fs_write_json(spark, f"{bm}/_bm25_meta.json", meta)  # restore stats
    repd = validate_index(spark, bm, "bm25")
    assert not repd["ok"]
    assert _checks(repd)["postings_dl_matches_doclens"] is False

    ng = str(tmp_path / "ng")
    write_ngram_index(docs, ng, "text", "doc_id", ngram_n=3)
    repn = validate_index(spark, ng, "ngram")
    assert repn["ok"], repn["checks"]

    with pytest.raises(ValueError, match="unknown kind"):
        validate_index(spark, bm, "nope")
    missing = validate_index(spark, str(tmp_path / "ghost"), "bm25")
    assert not missing["ok"]
    assert len(KINDS) == 6


def test_validate_index_kind_autodetect(spark, tmp_path):
    """kind=None infers the kind from the sidecar; a cluster map sibling
    upgrades to the cluster kind and the report covers BOTH stores."""
    from lotus_spark.functions.bm25_store import write_bm25_index
    from lotus_spark.functions.cluster_index import build_cluster_index
    from lotus_spark.functions.index_admin import detect_index_kind

    docs = _docs(spark)
    bm = str(tmp_path / "abm")
    write_bm25_index(docs, bm, "text", "doc_id", n_buckets=4)
    assert detect_index_kind(spark, bm) == "bm25"
    rep = validate_index(spark, bm)
    assert rep["kind"] == "bm25" and rep["ok"], rep["checks"]

    cl = str(tmp_path / "acl")
    build_cluster_index(spark, docs, cl, "text", "doc_id",
                        n_hashes=8, bands=2, shingle_n=2,
                        jaccard_threshold=0.7)
    assert detect_index_kind(spark, cl) == "cluster"
    rep = validate_index(spark, cl)
    assert rep["kind"] == "cluster" and rep["ok"], rep["checks"]
    names = {c["check"] for c in rep["checks"]}
    # one report, both stores: backing-index rows AND map rows
    assert "buckets_rows_eq_bands_x_sigs" in names
    assert "map_and_index_in_sync" in names

    with pytest.raises(ValueError, match="no index sidecar"):
        detect_index_kind(spark, str(tmp_path / "ghost"))

    # ambiguity refusal (r13 ADVICE): an index written over a stale dir
    # of another layout carries TWO sidecars — autodetect must refuse,
    # not silently fsck whichever kind sorts first
    from lotus_spark.functions.index_commit import _fs_write_json

    _fs_write_json(spark, f"{bm}/_minhash_meta.json", {"stale": True})
    with pytest.raises(ValueError, match="AMBIGUOUS"):
        detect_index_kind(spark, bm)
    # named-kind validation still works on the ambiguous dir
    assert validate_index(spark, bm, "bm25")["ok"]


def test_index_stats_bm25_layout_replay(spark, tmp_path):
    """Every bm25 stats metric — including the xxhash64-bucket ones the
    DuckDB ORACLE row cannot replay from the corpus — recomputed
    independently by DuckDB over the WRITTEN layout files (hive
    partitioning recovers the bucket column from the dir names)."""
    import duckdb

    from lotus_spark.functions.bm25_store import write_bm25_index
    from lotus_spark.functions.index_admin import index_stats

    docs = _docs(spark).union(
        spark.createDataFrame([(99, None)], "doc_id long, text string"))
    bm = str(tmp_path / "bm")
    write_bm25_index(docs, bm, "text", "doc_id", n_buckets=4)
    got = {r["metric"]: r["value"]
           for r in index_stats(spark, bm).collect()}

    con = duckdb.connect()
    posts = f"read_parquet('{bm}/postings/*/*.parquet', hive_partitioning=1)"
    want = con.execute(f"""
        WITH pb AS (SELECT bucket, COUNT(*) AS n FROM {posts} GROUP BY 1)
        SELECT (SELECT SUM(n) FROM pb),
               (SELECT COUNT(*) FROM read_parquet('{bm}/termdf/*/*.parquet',
                                                  hive_partitioning=1)),
               (SELECT MAX(df) FROM read_parquet('{bm}/termdf/*/*.parquet',
                                                 hive_partitioning=1)),
               (SELECT COUNT(*) FROM read_parquet('{bm}/doclens/*.parquet')
                WHERE dl > 0),
               (SELECT COUNT(*) FROM read_parquet('{bm}/doclens/*.parquet')),
               (SELECT SUM(dl) FROM read_parquet('{bm}/doclens/*.parquet')),
               (SELECT COUNT(*) FROM pb),
               (SELECT MAX(n) FROM pb),
               (SELECT MIN(n) FROM pb)
    """).fetchone()
    keys = ("n_postings", "n_terms", "max_term_df", "n_docs_nonempty",
            "n_doclens_rows", "total_dl", "n_buckets_occupied",
            "max_bucket_postings", "min_bucket_postings")
    assert {k: got[k] for k in keys} == dict(zip(keys, map(int, want)))
    assert got["n_buckets_total"] == 4
    # the NULL-text doc indexes as dl=0: in doclens rows, not in nonempty
    assert got["n_doclens_rows"] == got["n_docs_nonempty"] + 1


def test_index_stats_other_layouts_and_autodetect(spark, tmp_path):
    """ivfpq / minhash / ngram / cluster stats vs DuckDB over the
    layout; kind=None autodetects and a cluster path reports the map
    AND its backing store in one frame."""
    import duckdb

    from lotus_spark.functions.cluster_index import (
        build_cluster_index, build_embedding_cluster_index,
    )
    from lotus_spark.functions.decontam_index import write_ngram_index
    from lotus_spark.functions.index_admin import index_stats

    con = duckdb.connect()
    rng = np.random.RandomState(7)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in rng.randn(8)]) for i in range(16)],
        "vec_id long, embedding array<double>")
    iv = str(tmp_path / "iv")
    build_embedding_cluster_index(spark, emb, iv, "embedding",
                                  "vec_id", threshold=0.95, n_cells=2,
                                  m=2, nbits=2)
    st = {(r["layout"], r["metric"]): r["value"]
          for r in index_stats(spark, iv).collect()}  # autodetected
    cells = f"read_parquet('{iv}/__ivf_cell=*/*.parquet', hive_partitioning=1)"
    n_rows, occ, mx = con.execute(
        f"SELECT SUM(n), COUNT(*), MAX(n) FROM (SELECT __ivf_cell, "
        f"COUNT(*) AS n FROM {cells} GROUP BY 1)").fetchone()
    assert st[("ivfpq", "n_rows")] == int(n_rows)
    assert st[("ivfpq", "n_cells_occupied")] == int(occ)
    assert st[("ivfpq", "max_cell_rows")] == int(mx)
    assert st[("ivfpq", "n_cells_total")] == 2
    assert st[("ivfpq", "m_subspaces")] == 2
    nmap, ncl = con.execute(
        f"SELECT COUNT(*), COUNT(DISTINCT cluster) FROM "
        f"read_parquet('{iv}.clusters/*.parquet')").fetchone()
    assert st[("cluster_map", "n_ids")] == int(nmap)
    assert st[("cluster_map", "n_clusters")] == int(ncl)

    mh = str(tmp_path / "mh")
    build_cluster_index(spark, _docs(spark), mh, "text", "doc_id",
                        n_hashes=8, bands=2, shingle_n=2,
                        jaccard_threshold=0.7)
    stm = {(r["layout"], r["metric"]): r["value"]
           for r in index_stats(spark, mh).collect()}
    nb, occ, mx = con.execute(
        f"SELECT SUM(n), COUNT(*), MAX(n) FROM (SELECT band, COUNT(*) "
        f"AS n FROM read_parquet('{mh}/buckets/*.parquet') GROUP BY 1)"
    ).fetchone()
    assert stm[("minhash", "n_bucket_rows")] == int(nb)
    assert stm[("minhash", "n_band_buckets_occupied")] == int(occ)
    assert stm[("minhash", "max_bucket_ids")] == int(mx)
    assert stm[("minhash", "n_docs")] == 12
    assert stm[("minhash", "bands")] == 2
    # bucket rows = bands x docs (the fsck invariant, seen as geometry)
    assert stm[("minhash", "n_bucket_rows")] == 2 * 12

    ng = str(tmp_path / "ng")
    write_ngram_index(_docs(spark), ng, "text", "doc_id", ngram_n=3)
    stn = {r["metric"]: r["value"]
           for r in index_stats(spark, ng).collect()}
    np_, dn, mx = con.execute(
        f"SELECT SUM(n), COUNT(*), MAX(n) FROM (SELECT sh, COUNT(*) AS n "
        f"FROM read_parquet('{ng}/ngrams/*.parquet') GROUP BY 1)"
    ).fetchone()
    assert stn["n_postings"] == int(np_)
    assert stn["n_distinct_ngrams"] == int(dn)
    assert stn["max_ngram_df"] == int(mx)
    assert stn["n_docs"] == 12

    with pytest.raises(ValueError, match="unknown kind"):
        index_stats(spark, ng, "nope")

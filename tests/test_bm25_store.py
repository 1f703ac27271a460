"""Persisted BM25 serving index (functions/bm25_store.py): the stored
path must score bit-identically to the in-hand bm25_search plan, grow
by append without drift, and prune its reads to the query terms'
buckets."""
import pytest
from pyspark.sql import functions as F

from lotus_spark.functions.bm25_store import (
    append_bm25_index,
    bm25_search_index,
    bm25_search_index_batch,
    read_bm25_meta,
    write_bm25_index,
)

DOCS = [
    (0, "spark shuffles the window over the merge join"),
    (1, "a window function avoids the self join"),
    (2, "merge sort join beats the hash join on sorted input"),
    (3, "the quick brown fox jumps over the lazy dog"),
    (4, "spark spark spark window"),
    (5, "completely unrelated text about cooking pasta"),
    (6, ""),
    (7, "join join join join"),
    (8, None),  # NULL text: size(NULL)=-1 must not poison the stats
]
QUERY = "spark window merge join"
N_TOKENED = sum(1 for _, t in DOCS if t and t.split())


def _docs(spark, rows=DOCS):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_stored_search_matches_inhand_bm25(spark, tmp_path):
    from lotus_spark.functions.bm25 import bm25_search

    docs = _docs(spark)
    path = str(tmp_path / "bm")
    write_bm25_index(docs, path, "text", "doc_id", n_buckets=8)
    got = [(r["doc_id"], r["score"]) for r in
           bm25_search_index(spark, path, QUERY, k=5).collect()]
    want = [(r["doc_id"], r["score"]) for r in
            bm25_search(docs, "text", "doc_id", QUERY, k=5).collect()]
    assert got == want  # ids AND scores, bit-identical
    meta = read_bm25_meta(spark, path)
    # pinned stats convention: docs with >= 1 token only (docs 6 and 8
    # are indexed — doclens rows — but excluded from N/avgdl, matching
    # bm25_scores and the DuckDB oracle)
    assert meta["n_docs"] == N_TOKENED
    assert meta["total_dl"] == sum(len(t.split()) for _, t in DOCS if t)
    dl = {r["id"]: r["dl"] for r in
          spark.read.parquet(f"{path}/doclens").collect()}
    assert len(dl) == len(DOCS) and dl[6] == 0 and dl[8] == 0


def test_batch_search_matches_singles(spark, tmp_path):
    """bm25_search_index_batch == Q independent bm25_search_index calls,
    per query, ids AND scores bit-identical — including a query whose
    terms miss the corpus entirely (no rows, like the single's empty
    frame) and validation of empty/colliding query ids."""
    from lotus_spark.functions.bm25_store import bm25_search_index_batch

    docs = _docs(spark)
    path = str(tmp_path / "bm")
    write_bm25_index(docs, path, "text", "doc_id", n_buckets=8)
    queries = {
        "q0": QUERY,
        "q1": "pasta cooking",
        "q2": "the lazy fox",
        "q3": "zzz qqq",  # vocabulary miss: zero rows expected
    }
    got = bm25_search_index_batch(spark, path, queries, k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append(
            (r["doc_id"], r["score"]))
    for qid, text in queries.items():
        want = [(r["doc_id"], r["score"]) for r in
                bm25_search_index(spark, path, text, k=5).collect()]
        assert by_q.get(qid, []) == want, qid
    assert "q3" not in by_q

    with pytest.raises(ValueError, match="non-empty"):
        bm25_search_index_batch(spark, path, {})
    with pytest.raises(ValueError, match="empty query"):
        bm25_search_index_batch(spark, path, {"a": "   "})
    with pytest.raises(ValueError, match="collide"):
        bm25_search_index_batch(spark, path, {1: QUERY, "1": QUERY})


def test_append_equals_fresh_write(spark, tmp_path):
    from lotus_spark.functions.bm25 import bm25_search

    docs = _docs(spark)
    path = str(tmp_path / "bm")
    write_bm25_index(docs.filter("doc_id % 2 = 0"), path, "text",
                     "doc_id", n_buckets=8)
    append_bm25_index(spark, path, docs.filter("doc_id % 2 = 1"))
    meta = read_bm25_meta(spark, path)
    assert meta["n_docs"] == N_TOKENED
    got = [(r["doc_id"], r["score"]) for r in
           bm25_search_index(spark, path, QUERY, k=8).collect()]
    want = [(r["doc_id"], r["score"]) for r in
            bm25_search(docs, "text", "doc_id", QUERY, k=8).collect()]
    assert got == want
    # grown tables == fresh write of the union, row for row
    fresh = str(tmp_path / "bm_fresh")
    write_bm25_index(docs, fresh, "text", "doc_id", n_buckets=8)
    for table in ("postings", "termdf", "doclens"):
        a = sorted(map(tuple,
                       spark.read.parquet(f"{path}/{table}").collect()))
        b = sorted(map(tuple,
                       spark.read.parquet(f"{fresh}/{table}").collect()))
        assert a == b, table


def test_append_validation(spark, tmp_path):
    docs = _docs(spark)
    path = str(tmp_path / "bm")
    write_bm25_index(docs, path, "text", "doc_id", n_buckets=8)
    with pytest.raises(ValueError, match="already indexed"):
        append_bm25_index(spark, path, docs.limit(2))
    with pytest.raises(ValueError, match="NULL ids"):
        append_bm25_index(
            spark, path,
            spark.createDataFrame([(None, "x")],
                                  "doc_id long, text string"))
    with pytest.raises(ValueError, match="NULL ids"):
        write_bm25_index(
            spark.createDataFrame([(None, "x")],
                                  "doc_id long, text string"),
            str(tmp_path / "bm2"), "text", "doc_id")
    with pytest.raises(ValueError, match="empty query"):
        bm25_search_index(spark, path, "   ")
    with pytest.raises(FileNotFoundError, match="_bm25_meta"):
        bm25_search_index(spark, str(tmp_path / "nope"), QUERY)


def test_partial_append_fails_loudly_and_delete_heals(spark, tmp_path):
    """The docstring's crash/retry contract, executed: a crash right
    after the doclens append (the FIRST write) makes a blind retry fail
    on the dup check instead of double-counting postings, and
    delete_from_bm25_index of the increment ids heals every partial
    state so the retried append lands clean."""
    from lotus_spark.functions.bm25 import bm25_search
    from lotus_spark.functions.index_cdc import delete_from_bm25_index

    docs = _docs(spark)
    base, inc = docs.filter("doc_id < 5"), docs.filter("doc_id >= 5")
    path = str(tmp_path / "bm")
    write_bm25_index(base, path, "text", "doc_id", n_buckets=8)

    # simulate the crash: ONLY the doclens append landed
    from lotus_spark.functions.bm25_store import _encode

    _, dl_inc = _encode(inc, "text", "doc_id", 8)
    dl_inc.write.mode("append").parquet(f"{path}/doclens")

    with pytest.raises(ValueError, match="already indexed"):
        append_bm25_index(spark, path, inc)  # blind retry fails loudly
    assert delete_from_bm25_index(
        spark, path, inc.select(F.col("doc_id").alias("id"))) == \
        inc.count()
    append_bm25_index(spark, path, inc)  # recovery: delete then retry

    got = [(r["doc_id"], r["score"]) for r in
           bm25_search_index(spark, path, QUERY, k=9).collect()]
    want = [(r["doc_id"], r["score"]) for r in
            bm25_search(docs, "text", "doc_id", QUERY, k=9).collect()]
    assert got == want
    assert read_bm25_meta(spark, path)["n_docs"] == N_TOKENED


def test_search_scan_prunes_to_query_term_buckets(spark, tmp_path):
    """The postings read is partition-pruned to the query terms'
    buckets — the inverted-list lookup done by the storage layer. The
    bucket rule reaches the scan folded to integer literals, the ids
    the writer placed the terms' postings under."""
    import re

    from tests.test_plan_shapes import formatted_plan

    docs = _docs(spark)
    path = str(tmp_path / "bm")
    write_bm25_index(docs, path, "text", "doc_id", n_buckets=8)
    query = "spark window pasta"
    plan = formatted_plan(bm25_search_index(spark, path, query, k=3))
    scan = plan[plan.index("Scan parquet"):]
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", scan)
    assert pf is not None and "bucket" in pf.group(1)
    got = re.search(r"bucket#\d+ IN \(([\d,]+)\)", pf.group(1))
    assert got is not None, pf.group(1)  # literals, no hash left
    written = {r["bucket"] for r in spark.read.parquet(f"{path}/postings")
               .filter(F.col("term").isin(query.split())).collect()}
    assert {int(b) for b in got.group(1).split(",")} == written


def test_search_build_launches_no_job(spark, tmp_path, spark_state):
    """Building a lexical search launches no Spark job, for terms never
    queried before in this process too: the term buckets are folded in
    the plan, not looked up."""
    import uuid

    path = str(tmp_path / "bm")
    write_bm25_index(_docs(spark), path, "text", "doc_id", n_buckets=8)
    fresh = f"spark t{uuid.uuid4().hex}"
    assert spark_state.jobs(
        lambda: bm25_search_index(spark, path, fresh, k=3)) == 0
    assert spark_state.jobs(lambda: bm25_search_index_batch(
        spark, path, {"a": fresh, "b": f"join u{uuid.uuid4().hex}"},
        k=3)) == 0


def test_compact_preserves_rows_and_answers(spark, tmp_path):
    import os

    docs = _docs(spark)
    path = str(tmp_path / "bm")
    write_bm25_index(docs.filter("doc_id < 4"), path, "text", "doc_id",
                     n_buckets=4)
    for lo, hi in ((4, 6), (6, 8)):  # two appends fragment the buckets
        append_bm25_index(
            spark, path,
            docs.filter(f"doc_id >= {lo} AND doc_id < {hi}"))
    before = [(r["doc_id"], r["score"]) for r in
              bm25_search_index(spark, path, QUERY, k=8).collect()]
    rows_before = {
        t: sorted(map(tuple, spark.read.parquet(f"{path}/{t}").collect()))
        for t in ("postings", "termdf", "doclens")
    }

    from lotus_spark.functions.bm25_store import compact_bm25_index

    compact_bm25_index(spark, path)
    for b_dir in os.listdir(f"{path}/postings"):
        if b_dir.startswith("bucket="):
            files = [f for f in os.listdir(f"{path}/postings/{b_dir}")
                     if f.endswith(".parquet")]
            assert len(files) == 1, (b_dir, files)
    for t, want in rows_before.items():
        got = sorted(map(tuple,
                         spark.read.parquet(f"{path}/{t}").collect()))
        assert got == want, t
    after = [(r["doc_id"], r["score"]) for r in
             bm25_search_index(spark, path, QUERY, k=8).collect()]
    assert after == before
    assert read_bm25_meta(spark, path)["n_docs"] == N_TOKENED


def test_testdata_corpus_roundtrip(spark, tmp_path):
    """Real-table check at sf0.001 (the fixture-vs-real-types lesson,
    NOTES round 4): stored search over the documents table matches the
    in-hand plan."""
    from lotus_spark.functions.bm25 import bm25_search

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    path = str(tmp_path / "bm")
    write_bm25_index(docs.filter("doc_id % 2 = 0"), path, "text",
                     "doc_id", n_buckets=16)
    append_bm25_index(spark, path, docs.filter("doc_id % 2 = 1"))
    got = [(r["doc_id"], round(r["score"], 9)) for r in
           bm25_search_index(spark, path, "spark window merge join",
                             k=10).collect()]
    want = [(r["doc_id"], round(r["score"], 9)) for r in
            bm25_search(docs, "text", "doc_id",
                        "spark window merge join", k=10).collect()]
    assert got == want


def test_bm25_partial_sql_tree_matches_columns(spark):
    """The r14 SQL-texted Okapi partial (_bm25_partial_sql, one F.expr
    parse instead of ~300 py4j round trips) must keep producing the
    BYTE-IDENTICAL analyzed expression tree the per-Column build
    produced — same association, same operand order, same double
    literals — so the decimal partials (and the DuckDB oracle replay)
    cannot drift."""
    import re

    from lotus_spark.functions.bm25_store import _bm25_partial_sql

    df = spark.createDataFrame([(1, 2, 10, 3)],
                               "id long, tf bigint, dl int, df bigint")
    strip = lambda s: re.sub(r"#\d+", "#", s)  # noqa: E731
    for n, avgdl, k1, b in [(1234.0, 17.345678901234, 1.2, 0.75),
                            (7.0, 3.3333333333333335, 1.6, 0.6)]:
        # the pre-r14 Column build, verbatim
        idf = F.log(
            F.lit(1.0)
            + (F.lit(n) - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        )
        partial = (
            idf * (F.col("tf") * (1.0 + k1))
            / (F.col("tf")
               + k1 * (1.0 - b + b * F.col("dl") / F.lit(avgdl)))
        )
        old = F.round(partial, 9).cast("decimal(28,10)")
        new = F.expr(_bm25_partial_sql(n, avgdl, k1, b))
        po = df.select(old.alias("p"))._jdf.queryExecution() \
            .analyzed().toString()
        pn = df.select(new.alias("p"))._jdf.queryExecution() \
            .analyzed().toString()
        assert strip(po) == strip(pn), (po, pn)


def test_sidecar_schema_pin_matches_inference(spark, tmp_path):
    """write_bm25_index records the query tables' schemas in the
    sidecar; the pinned read must see exactly what inference would have
    seen (columns, types, order), and survive the lifecycle verbs that
    rewrite tables and carry the meta forward."""
    from lotus_spark.functions.bm25_store import _read_index_table

    docs = _docs(spark)
    path = str(tmp_path / "bm")
    write_bm25_index(docs, path, "text", "doc_id", n_buckets=8)
    meta = read_bm25_meta(spark, path)
    assert set(meta["table_schemas"]) == {"postings", "termdf"}
    for t in ("postings", "termdf"):
        pinned = _read_index_table(spark, path, t, meta)
        inferred = spark.read.parquet(f"{path}/{t}")
        assert pinned.schema == inferred.schema, t
        assert sorted(map(tuple, pinned.collect())) \
            == sorted(map(tuple, inferred.collect())), t
    # append rewrites termdf and carries the sidecar dict forward
    append_bm25_index(
        spark, path,
        _docs(spark, [(100, "fresh spark window text")]))
    meta2 = read_bm25_meta(spark, path)
    assert meta2["table_schemas"] == meta["table_schemas"]
    # a pre-r14 sidecar without the field falls back to inference
    legacy = {k: v for k, v in meta.items() if k != "table_schemas"}
    fallback = _read_index_table(spark, path, "postings", legacy)
    assert fallback.schema == spark.read.parquet(f"{path}/postings").schema

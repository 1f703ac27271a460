import math

import pytest
from pyspark.sql import functions as F

from lotus_spark.functions.bm25 import (
    bm25_index, bm25_scores, bm25_search, rrf_fuse)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (0, "spark shuffle join"),
        (1, "spark spark spark streaming"),
        (2, "pandas numpy arrow"),
        (3, "join order join optimizer"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_bm25_index_relations(corpus):
    idx = bm25_index(corpus, "text", "doc_id")
    tf = {(r["term"], r["id"]): r["tf"]
          for r in idx["postings"].collect()}
    assert tf[("spark", 1)] == 3 and tf[("join", 3)] == 2
    dl = {r["id"]: r["dl"] for r in idx["doclens"].collect()}
    assert dl == {0: 3, 1: 4, 2: 3, 3: 4}
    dfq = {r["term"]: r["df"] for r in idx["termdf"].collect()}
    assert dfq["spark"] == 2 and dfq["join"] == 2 and dfq["numpy"] == 1


def test_bm25_score_matches_hand_formula(corpus):
    idx = bm25_index(corpus, "text", "doc_id")
    got = {r["id"]: r["score"]
           for r in bm25_scores(idx, ["numpy"]).collect()}
    # only doc 2 matches; N=4, df=1, tf=1, dl=3, avgdl=3.5
    idf = math.log(1 + (4 - 1 + 0.5) / 1.5)
    expect = idf * (1 * 2.2) / (1 + 1.2 * (1 - 0.75 + 0.75 * 3 / 3.5))
    assert got.keys() == {2}
    assert got[2] == pytest.approx(expect, abs=1e-8)


def test_bm25_search_ranking_and_set_semantics(corpus):
    # "spark" should rank doc 1 (tf=3, shorter-normalized) above doc 0
    top = [r["doc_id"] for r in
           bm25_search(corpus, "text", "doc_id", "spark", k=2).collect()]
    assert top == [1, 0]
    # duplicate query terms count once
    once = bm25_search(corpus, "text", "doc_id", "join", k=4).collect()
    twice = bm25_search(corpus, "text", "doc_id", "join join", k=4).collect()
    assert [(r["doc_id"], r["score"]) for r in once] == \
           [(r["doc_id"], r["score"]) for r in twice]
    with pytest.raises(ValueError, match="empty"):
        bm25_search(corpus, "text", "doc_id", "   ")


def test_rrf_fuse_prefers_doc_present_in_both_lists(spark):
    a = spark.createDataFrame([(1, 10.0), (2, 5.0)], ["doc_id", "score"])
    b = spark.createDataFrame([(2, 0.9), (3, 0.8)], ["doc_id", "score"])
    out = [(r["doc_id"], r["rrf_score"])
           for r in rrf_fuse([a, b], "doc_id", k=3).collect()]
    ids = [d for d, _ in out]
    assert ids[0] == 2  # rank 2 + rank 1 beats single-list rank 1
    assert set(ids) == {1, 2, 3}
    scores = dict(out)
    assert scores[2] == pytest.approx(1 / 62 + 1 / 61)
    assert scores[1] == pytest.approx(1 / 61)


def test_rrf_contribs_sql_tree_matches_columns(spark):
    """The r14 SQL-texted RRF contribution sum (_rrf_contribs_sql, one
    F.expr parse instead of a per-Column when/otherwise loop) must keep
    producing the BYTE-IDENTICAL analyzed tree the Column build
    produced, so single and batch fusion keep scoring in lockstep."""
    import re

    from pyspark.sql import functions as F

    from lotus_spark.functions.bm25 import _rrf_contribs_sql

    df = spark.createDataFrame(
        [("q1", 5, 1, 2, 3)],
        "query_id string, doc_id long, __r0 int, __r1 int, __r2 int")
    strip = lambda s: re.sub(r"#\d+", "#", s)  # noqa: E731
    for n_lists, rrf_k in [(2, 60), (3, 17)]:
        # the pre-r14 Column build, verbatim
        contribs = [
            F.when(F.col(f"__r{i}").isNotNull(),
                   F.lit(1.0) / (F.lit(rrf_k) + F.col(f"__r{i}")))
            .otherwise(F.lit(0.0))
            for i in range(n_lists)
        ]
        total = contribs[0]
        for c in contribs[1:]:
            total = total + c
        new = F.expr(_rrf_contribs_sql(n_lists, rrf_k))
        po = df.select(total.alias("rrf_score"))._jdf.queryExecution() \
            .analyzed().toString()
        pn = df.select(new.alias("rrf_score"))._jdf.queryExecution() \
            .analyzed().toString()
        assert strip(po) == strip(pn), (po, pn)


def test_rrf_fuse_batch_matches_single_fusion_per_query(spark):
    """rrf_fuse_batch over three query-partitioned lists == rrf_fuse on
    each query's slices, ids and scores equal — including a query found
    in one list only. More shuffle partitions than queries and a small
    advisory partition size make AQE coalesce the union's children; the
    fusion must still see every (query, id) of every list in one task."""
    import random

    from lotus_spark.functions.bm25 import rrf_fuse_batch
    from tests.test_plan_shapes import final_plan_above_union

    rng = random.Random(3)
    spec = [  # per list: {query: number of ranked ids}
        {"q0": 300, "q1": 200, "q2": 150, "q3": 100},
        {"q0": 12, "q1": 25},
        {"q0": 30, "q2": 8, "q4": 15},  # q4 is in this list only
    ]
    rows = [[(q, rng.randrange(400), round(rng.random(), 2))
             for q, n in s.items() for _ in range(n)] for s in spec]
    # one row per (query, id) in a ranked list
    rows = [list({(q, d): (q, d, x) for q, d, x in rs}.values())
            for rs in rows]
    schema = "query_id string, doc_id long, score double"
    conf = {"spark.sql.shuffle.partitions": "32",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512"}
    saved = {key: spark.conf.get(key, None) for key in conf}
    try:
        for key, v in conf.items():
            spark.conf.set(key, v)
        lists = [spark.createDataFrame(rs, schema).repartition("query_id")
                 for rs in rows]
        fused = rrf_fuse_batch(lists, "doc_id", k=10, rrf_k=60)
        got = {}
        for r in fused.collect():
            got.setdefault(r["query_id"], []).append(
                (r["doc_id"], r["rrf_score"]))
        assert "Exchange" not in final_plan_above_union(fused)
        plan = fused._jdf.queryExecution().executedPlan().toString()
        assert "AQEShuffleRead coalesced" in plan.split(
            "== Initial Plan ==")[0]
    finally:
        for key, v in saved.items():
            if v is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, v)
    queries = sorted({q for s in spec for q in s})
    assert sorted(got) == queries
    for q in queries:
        slices = [spark.createDataFrame(
            [(d, x) for qq, d, x in rs if qq == q], "doc_id long, score double")
            for rs in rows]
        want = [(r["doc_id"], r["rrf_score"]) for r in
                rrf_fuse(slices, "doc_id", k=10, rrf_k=60).collect()]
        assert sorted(got[q], key=lambda t: (-t[1], t[0])) == want, q

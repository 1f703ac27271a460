"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` maps every implemented operator from SURVEY.md §2 to a
(spark, sf_dir) -> DataFrame callable; ``oracle_sql()`` gives the DuckDB
equivalent. Semantic (LLM) operators run with deterministic demo LMs
(``lotus_spark/models/demo_lms.py``) whose behavior is exactly
SQL-expressible, so the driver's hash-compare verifies the full semantic
pipeline (prompt build → batched LM → postprocess → assembly), mirroring the
reference's fake-completer test pattern.

Cross-engine exactness rules used throughout:
- money aggregates go through DECIMAL(12,2) (exact, order-independent) and
  are cast to double at the end;
- float similarity math is an explicit sequential left fold (bit-identical
  in Spark `aggregate` and DuckDB `list_reduce`);
- computed ints are cast to BIGINT on both sides; timestamps formatted to
  strings; every computed column is aliased identically on both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

MOD = 1_000_000_007


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    # parquet timestamps are naive; pin the session to UTC so Spark's
    # LTZ interpretation matches DuckDB's naive comparisons/formatting.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def _dec(c):
    return F.col(c).cast("decimal(12,2)")


# ---------------------------------------------------------------------------
# DuckDB SQL fold helpers (mirror lotus_spark.functions.vectors/text exactly)
# ---------------------------------------------------------------------------

def _sql_dot(a: str, b: str) -> str:
    return (
        f"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, len({a})+1), i -> {a}[i] * {b}[i])), "
        f"(acc, x) -> acc + x)"
    )


def _sql_norm(a: str) -> str:
    return (
        f"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        f"list_transform(range(1, len({a})+1), i -> {a}[i] * {a}[i])), "
        f"(acc, x) -> acc + x))"
    )


def _sql_cosine(a: str, b: str) -> str:
    return f"({_sql_dot(a, b)} / ({_sql_norm(a)} * {_sql_norm(b)}))"


def _sql_strhash(s: str) -> str:
    """Polynomial string hash fold — mirrors functions.text.shingle_hash."""
    return (
        f"list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range(1, length({s})+1), i -> CAST(ascii({s}[i]) AS BIGINT))), "
        f"(acc, c) -> (acc * 31 + c) % {MOD})"
    )


def _hash_params(j: int) -> tuple[int, int]:
    a = (2_654_435_761 * (j + 1) + 1) % MOD
    b = (40_503 * (j + 1) + 7) % MOD
    return a, b


# ---------------------------------------------------------------------------
# entry — flagship query (smoke-checked at sf0.001)
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: semantic keyword filter (deterministic LM) + text-quality
    pipeline over the documents table — filter → score → rank — composed
    as ONE LazyFrame with the optimizer chain on: the native ``n_chars``
    predicate is recorded after the semantic stage and ``optimize()``
    hoists it ahead of the LLM call, down into the parquet scan."""
    from lotus_spark.functions.text import lang_id, quality_score, token_count
    from lotus_spark.models.fake_lm import KeywordBoolLM
    from lotus_spark.plans.lazyframe import LazyFrame

    docs = _t(spark, "/root/testdata/sf0.001", "documents")
    lf = (
        LazyFrame()
        .sem_filter(
            "{text} is about distributed computing", lm=KeywordBoolLM("spark")
        )
        .filter("n_chars >= 50")
        .select(
            "doc_id",
            token_count(F.col("text")).cast("long").alias("n_tokens"),
            quality_score(F.col("text")).alias("quality"),
            lang_id(F.col("text")).alias("lang_guess"),
        )
        .orderBy(F.desc("quality"), F.asc("doc_id"))
        .limit(20)
    )
    return lf.optimize().execute(docs)


# ---------------------------------------------------------------------------
# relational surface (SURVEY §2.2) — native Spark SQL, TPC-H-ish
# ---------------------------------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    disc = _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))
    charge = disc * (F.lit(1).cast("decimal(12,2)") + _dec("l_tax"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).alias("dq"),
            F.sum(_dec("l_extendedprice")).alias("dp"),
            F.sum(disc).alias("ddp"),
            F.sum(charge).alias("dch"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            F.col("dq").cast("double").alias("sum_qty"),
            F.col("dp").cast("double").alias("sum_base_price"),
            F.col("ddp").cast("double").alias("sum_disc_price"),
            F.col("dch").cast("double").alias("sum_charge"),
            F.round(F.col("dq").cast("double") / F.col("count_order"), 4).alias("avg_qty"),
            F.round(F.col("dp").cast("double") / F.col("count_order"), 4).alias("avg_price"),
            "count_order",
        )
    )


_SQL_PRICING = f"""
SELECT l_returnflag, l_linestatus,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS sum_disc_price,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2))) * (CAST(1 AS DECIMAL(12,2)) + CAST(l_tax AS DECIMAL(12,2)))) AS DOUBLE) AS sum_charge,
  ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 4) AS avg_qty,
  ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*), 4) AS avg_price,
  COUNT(*) AS count_order
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_top_revenue(spark, sf_dir):
    cu = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    od = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-01-01")
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-01-01")
    disc = _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))
    return (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(F.sum(disc).alias("drev"))
        .select(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.col("drev").cast("double").alias("revenue"),
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


_SQL_TOP_REVENUE = """
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def q_region_revenue(spark, sf_dir):
    re_ = _t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    na = _t(spark, sf_dir, "nation")
    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1997-01-01") & (F.col("o_orderdate") < "1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem")
    su = _t(spark, sf_dir, "supplier")
    disc = _dec("l_extendedprice") * (F.lit(1).cast("decimal(12,2)") - _dec("l_discount"))
    joined = (
        li.join(od, li.l_orderkey == od.o_orderkey)
        .join(cu, od.o_custkey == cu.c_custkey)
        .join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(na), F.col("s_nationkey") == na.n_nationkey)
        .join(F.broadcast(re_), na.n_regionkey == re_.r_regionkey)
    )
    return (
        joined.groupBy("n_name")
        .agg(F.sum(disc).alias("drev"))
        .select("n_name", F.col("drev").cast("double").alias("revenue"))
    )


_SQL_REGION_REVENUE = """
SELECT n_name,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(12,2)) - CAST(l_discount AS DECIMAL(12,2)))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA' AND c_nationkey = s_nationkey
  AND o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
"""


def q_customers_no_orders(spark, sf_dir):
    """Customers with no recent orders (anti-join; window keeps it nonempty)."""
    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders").filter(F.col("o_orderdate") >= "2001-06-01")
    return cu.join(
        od.select(F.col("o_custkey").alias("c_custkey")), "c_custkey", "left_anti"
    ).select("c_custkey", "c_name")


_SQL_CUSTOMERS_NO_ORDERS = """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (
  SELECT o_custkey FROM orders WHERE o_orderdate >= TIMESTAMP '2001-06-01')
"""


def q_top3_orders_per_customer(spark, sf_dir):
    od = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        od.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    )


_SQL_TOP3_ORDERS = """
SELECT o_custkey, o_orderkey, o_totalprice,
  row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rank
FROM orders QUALIFY rank <= 3
"""


def q_events_hourly(spark, sf_dir):
    # events.ts is parquet timestamp[us] (TIMESTAMP_NTZ); truncate natively
    ev = _t(spark, sf_dir, "events")
    hour = F.date_format(F.date_trunc("hour", F.col("ts")),
                         "yyyy-MM-dd HH:mm:ss")
    return (
        ev.groupBy(hour.alias("hour"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(_dec("value")).alias("dv"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .select(
            "hour",
            "event_type",
            "n_events",
            F.col("dv").cast("double").alias("sum_value"),
            "n_users",
        )
    )


_SQL_EVENTS_HOURLY = """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour, event_type,
  COUNT(*) AS n_events,
  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
  COUNT(DISTINCT user_id) AS n_users
FROM events GROUP BY 1, 2
"""


def q_distinct_priorities(spark, sf_dir):
    od = _t(spark, sf_dir, "orders")
    return od.select("o_orderstatus", "o_orderpriority").distinct()


_SQL_DISTINCT_PRIORITIES = "SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders"


def q_part_brand_stats(spark, sf_dir):
    li = _t(spark, sf_dir, "lineitem")
    pa = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.sum(_dec("l_quantity")).alias("dq"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            "p_brand",
            F.col("dq").cast("double").alias("total_qty"),
            "n_items",
        )
    )


_SQL_PART_BRAND = """
SELECT p_brand,
  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS total_qty,
  COUNT(*) AS n_items
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


def q_orders_union_extremes(spark, sf_dir):
    od = _t(spark, sf_dir, "orders")
    hi = od.filter(F.col("o_totalprice") > 400000).select("o_orderkey", "o_totalprice")
    lo = od.filter(F.col("o_totalprice") < 2000).select("o_orderkey", "o_totalprice")
    return hi.unionByName(lo)


_SQL_ORDERS_UNION = """
SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 400000
UNION ALL
SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice < 2000
"""


def q_orders_rollup(spark, sf_dir):
    """ROLLUP (priority, status) — subtotal + grand-total rows; Catalyst
    expands grouping sets in ONE aggregation pass."""
    od = _t(spark, sf_dir, "orders")
    return (
        od.rollup("o_orderpriority", "o_orderstatus")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total"),
             F.count("*").alias("n"))
    )


_SQL_ORDERS_ROLLUP = """
SELECT o_orderpriority, o_orderstatus,
       ROUND(SUM(o_totalprice), 2) AS total, COUNT(*) AS n
FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
"""


def q_supplier_intersect(spark, sf_dir):
    """Suppliers shipping in BOTH halves of 1997 — INTERSECT (hash
    semi-join under Catalyst, distinct pushed to both sides)."""
    li = _t(spark, sf_dir, "lineitem")
    h1 = li.filter(
        (F.col("l_shipdate") >= "1997-01-01") & (F.col("l_shipdate") < "1997-07-01")
    ).select("l_suppkey")
    h2 = li.filter(
        (F.col("l_shipdate") >= "1997-07-01") & (F.col("l_shipdate") < "1998-01-01")
    ).select("l_suppkey")
    return h1.intersect(h2)


_SQL_SUPPLIER_INTERSECT = """
SELECT l_suppkey FROM lineitem
WHERE l_shipdate >= '1997-01-01' AND l_shipdate < '1997-07-01'
INTERSECT
SELECT l_suppkey FROM lineitem
WHERE l_shipdate >= '1997-07-01' AND l_shipdate < '1998-01-01'
"""


# ---------------------------------------------------------------------------
# semantic operators with deterministic demo LMs (SURVEY §2.1)
# ---------------------------------------------------------------------------

def q_sem_filter(spark, sf_dir):
    from lotus_spark import sem_filter
    from lotus_spark.models.fake_lm import KeywordBoolLM

    docs = _t(spark, sf_dir, "documents")
    out = sem_filter(
        docs, "{text} is about distributed computing", lm=KeywordBoolLM("spark")
    )
    return out.select("doc_id", "text")


_SQL_SEM_FILTER = (
    "SELECT doc_id, text FROM documents WHERE contains(lower(text), 'spark')"
)


def q_sem_filter_cascade(spark, sf_dir):
    from lotus_spark import sem_filter
    from lotus_spark.cascades.utils import CascadeArgs
    from lotus_spark.models.fake_lm import KeywordBoolLM

    docs = _t(spark, sf_dir, "documents")
    out = sem_filter(
        docs,
        "{text} is about distributed computing",
        lm=KeywordBoolLM("spark"),
        helper_lm=KeywordBoolLM("spark"),
        cascade_args=CascadeArgs(recall_target=0.8, precision_target=0.8),
    )
    return out.select("doc_id", "text")


def q_sem_map(spark, sf_dir):
    from lotus_spark import sem_map
    from lotus_spark.models.fake_lm import RegexMapLM

    docs = _t(spark, sf_dir, "documents")
    out = sem_map(
        docs,
        "state the language {lang} in uppercase",
        lm=RegexMapLM(r"\[lang\]: «(\w+)»", "upper"),
    )
    return out.select("doc_id", F.col("_map"))


_SQL_SEM_MAP = "SELECT doc_id, upper(lang) AS _map FROM documents"


def q_sem_extract(spark, sf_dir):
    from lotus_spark import sem_extract
    from lotus_spark.models.demo_lms import JSONExtractLM

    docs = _t(spark, sf_dir, "documents")
    out = sem_extract(
        docs,
        ["text"],
        {"first_word": "the first word", "n_tokens": "number of tokens"},
        lm=JSONExtractLM("text"),
    )
    return out.select("doc_id", "first_word", "n_tokens")


_SQL_SEM_EXTRACT = r"""
SELECT doc_id, split_part(trim(text), ' ', 1) AS first_word,
  CAST(len(string_split_regex(trim(text), '\s+')) AS VARCHAR) AS n_tokens
FROM documents
"""


def q_sem_join(spark, sf_dir):
    from lotus_spark import sem_join
    from lotus_spark.models.demo_lms import PairKeywordJoinLM

    docs = _t(spark, sf_dir, "documents")
    kws = spark.createDataFrame([("spark",), ("vector",), ("merge",)], ["kw"])
    out = sem_join(
        docs,
        kws,
        "{text} mentions the concept {kw}",
        lm=PairKeywordJoinLM("text", "kw"),
    )
    return out.select("doc_id", "kw")


_SQL_SEM_JOIN = """
SELECT doc_id, kw
FROM documents, (VALUES ('spark'), ('vector'), ('merge')) AS k(kw)
WHERE contains(text, kw)
"""


def q_sem_agg(spark, sf_dir):
    from lotus_spark import sem_agg
    from lotus_spark.models.demo_lms import CountingAggLM

    docs = _t(spark, sf_dir, "documents")
    lm = CountingAggLM()
    lm.max_ctx_len = 4096  # force a multi-level fold
    out = sem_agg(docs, "Count the {text} documents", lm=lm, group_by=["lang"])
    return out


_SQL_SEM_AGG = """
SELECT lang, CAST(COUNT(*) AS VARCHAR) AS _output FROM documents GROUP BY lang
"""


def q_sem_topk(spark, sf_dir):
    from lotus_spark import sem_topk
    from lotus_spark.models.demo_lms import FieldCompareLM

    docs = _t(spark, sf_dir, "documents")
    out = sem_topk(
        docs,
        "Rank documents by {n_chars} breaking ties by {doc_id}",
        K=10,
        lm=FieldCompareLM("n_chars", "doc_id"),
        method="quick",
    )
    return out.select("doc_id", "n_chars", F.col("_rank"))


_SQL_SEM_TOPK = """
SELECT doc_id, n_chars,
  row_number() OVER (ORDER BY n_chars DESC, doc_id) AS _rank
FROM documents QUALIFY _rank <= 10
"""


def q_sem_topk_quicksem(spark, sf_dir):
    """sem_topk method='quick-sem' (operators/sem_topk.py::quicksem_topk;
    reference lotus/sem_ops/sem_topk.py:407-423): quickselect whose pivot
    is the pool element most similar to the instruction under the RM —
    PolyHashRM sims steer every pivot choice, and quickselect is exact
    w.r.t. the comparator's total order, so the result must still equal
    the SQL top-10 no matter which pivots the sims pick (the sims path
    is thereby driver-exercised: a wrong sims vector length, ordering,
    or indexing would derail the partition recursion and break the
    hash). prefilter_factor=0 keeps the reference-exact full pool — the
    embedding PREFILTER's boundary on duplicate texts is score-tied and
    arbitrary, so it cannot be value-hashed; it stays covered by
    tests/test_semantic_ops.py."""
    from lotus_spark import sem_topk
    from lotus_spark.models.demo_lms import FieldCompareLM, PolyHashRM

    docs = _t(spark, sf_dir, "documents")
    out = sem_topk(
        docs,
        "Rank documents by {n_chars} breaking ties by {doc_id}",
        K=10,
        lm=FieldCompareLM("n_chars", "doc_id"),
        method="quick-sem",
        rm=PolyHashRM(dim=4),
        prefilter_factor=0,
    )
    return out.select("doc_id", "n_chars", F.col("_rank"))


# ---------------------------------------------------------------------------
# embedding operators — seeded vectors from the embeddings table (SURVEY §2.1)
# ---------------------------------------------------------------------------

def _query_vec(spark, sf_dir) -> list[float]:
    emb = _t(spark, sf_dir, "embeddings")
    return [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]


def q_knn_bruteforce(spark, sf_dir):
    from lotus_spark.functions.ann import knn_topk

    emb = _t(spark, sf_dir, "embeddings")
    out = knn_topk(emb, "embedding", _query_vec(spark, sf_dir), k=10, id_col="vec_id")
    return out.select("vec_id", F.round("score", 6).alias("score"))


_SQL_KNN = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT vec_id, ROUND({_sql_cosine('e.v', 'q.qv')}, 6) AS score
FROM e, q
ORDER BY {_sql_cosine('e.v', 'q.qv')} DESC, vec_id
LIMIT 10
"""


def q_knn_lsh(spark, sf_dir):
    from lotus_spark.functions.ann import knn_topk_lsh

    emb = _t(spark, sf_dir, "embeddings")
    out = knn_topk_lsh(
        emb, "embedding", _query_vec(spark, sf_dir), k=10, n_planes=4, seed=7,
        id_col="vec_id",
    )
    return out.select("vec_id", F.round("score", 6).alias("score"))


def _sql_knn_lsh(qv: list[float]) -> str:
    from lotus_spark.functions.ann import hyperplanes

    planes = hyperplanes(4, len(qv), seed=7)
    qbucket = 0
    for p, plane in enumerate(planes):
        if sum(a * b for a, b in zip(qv, plane)) > 0.0:
            qbucket += 1 << p
    bucket_terms = []
    for p, plane in enumerate(planes):
        lit = "[" + ", ".join(repr(v) for v in plane) + "]"
        bucket_terms.append(
            f"(CASE WHEN {_sql_dot('e.v', f'CAST({lit} AS DOUBLE[])')} > 0.0 "
            f"THEN {1 << p} ELSE 0 END)"
        )
    bucket = " + ".join(bucket_terms)
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
b AS (SELECT vec_id, v, ({bucket}) AS bucket FROM e)
SELECT vec_id, ROUND({_sql_cosine('b.v', 'q.qv')}, 6) AS score
FROM b, q WHERE bucket = {qbucket}
ORDER BY {_sql_cosine('b.v', 'q.qv')} DESC, vec_id
LIMIT 10
"""


def q_sem_sim_join(spark, sf_dir):
    from lotus_spark.operators.sem_sim_join import sem_sim_join

    emb = _t(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") < 20)
    right = emb.filter(F.col("vec_id") >= 20)
    out = sem_sim_join(
        left,
        right,
        left_on="vec_id",
        right_on="vec_id",
        K=3,
        left_emb_col="embedding",
        right_emb_col="embedding",
        tie_break="vec_id_right",
        strategy="broadcast_exact",
    )
    return out.select(
        "vec_id",
        F.col("vec_id_right"),
        F.round("_scores", 6).alias("score"),
    )


def q_sem_sim_join_ivfpq(spark, sf_dir):
    """Operator-level row for the r11 'ivfpq' sem_sim_join tier
    (operators/sem_sim_join.py strategy="ivfpq" → ann_join_ivfpq): at
    full knobs — every cell probed, rerank budget covering every
    scanned row — the approximate ladder top must reproduce the exact
    top-K join bit-for-bit, so the oracle is the SAME exact-KNN SQL as
    the broadcast_exact row (_SQL_SIM_JOIN). A hash match checks the
    whole tier end-to-end across engines: id pinning, quantizer
    training, cell probe, per-pair ADC, shortlist window, by-id exact
    rerank, payload re-attachment. (Internal-right-id tie order cannot
    bite: the embeddings table has no duplicate vectors, so exact-score
    ties do not exist.) STAGED for r12 (the r11 window is at capacity);
    CI-cross-checked in tests/test_embedding_ops.py meanwhile."""
    from lotus_spark.operators.sem_sim_join import sem_sim_join

    emb = _t(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") < 20)
    right = emb.filter(F.col("vec_id") >= 20)
    n_right = right.count()
    out = sem_sim_join(
        left,
        right,
        left_on="vec_id",
        right_on="vec_id",
        K=3,
        left_emb_col="embedding",
        right_emb_col="embedding",
        strategy="ivfpq",
        ivf_n_cells=16,
        ivf_n_probe=16,
        ivfpq_rerank=n_right,
    )
    return out.select(
        "vec_id",
        F.col("vec_id_right"),
        F.round("_scores", 6).alias("score"),
    )


_SQL_SIM_JOIN = f"""
WITH l0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings WHERE vec_id < 20),
r0 AS (SELECT vec_id AS vec_id_right, CAST(embedding AS DOUBLE[]) v FROM embeddings WHERE vec_id >= 20),
l AS (SELECT vec_id, CASE WHEN {_sql_norm('v')} = 0 THEN v
        ELSE list_transform(v, x -> x / {_sql_norm('v')}) END AS u FROM l0),
r AS (SELECT vec_id_right, CASE WHEN {_sql_norm('v')} = 0 THEN v
        ELSE list_transform(v, x -> x / {_sql_norm('v')}) END AS u FROM r0),
s AS (
  SELECT l.vec_id, r.vec_id_right, {_sql_dot('l.u', 'r.u')} AS raw,
    row_number() OVER (PARTITION BY l.vec_id ORDER BY {_sql_dot('l.u', 'r.u')} DESC, r.vec_id_right) AS rk
  FROM l, r
)
SELECT vec_id, vec_id_right, ROUND(raw, 6) AS score FROM s WHERE rk <= 3
"""


def q_knn_ivf(spark, sf_dir):
    """IVF ANN: deterministic integer-quantized Lloyd's coarse quantizer
    (``functions/kmeans.py``) + n_probe cell scan + exact cosine rerank.
    Oracle: the same unrolled Lloyd's in SQL (``_sql_kmeans_ctes``) +
    quantized-L2 probe ranking + fold cosine. MLlib KMeans remains the
    float speed tier (``method="mllib"``; recall vs exact asserted in
    tests/test_ann_and_sources.py)."""
    from lotus_spark.functions.ann import ivf_index, knn_topk_ivf

    emb = _t(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    indexed, cents = ivf_index(emb, "embedding", n_cells=16, seed=42,
                               method="deterministic", id_col="vec_id")
    out = knn_topk_ivf(indexed, cents, "embedding", q, k=10, n_probe=8,
                       id_col="vec_id", probe_method="quantized")
    return out.select("vec_id", F.round(F.col("score"), 6).alias("score"))


_PQ_TRAIN_SEED = 7          # pinned codebook-training sample: seeded hash,
_PQ_TRAIN_THRESHOLD = MOD // 2  # ~50% of rows — SQL-replayable (round-5
                                # advice: train on a sample, encode all)


def q_knn_pq(spark, sf_dir):
    """IVF-PQ's scoring half: product-quantization ANN (Jégou et al.
    2011; functions/ann.py::pq_index/knn_topk_pq). Per-subspace
    codebooks train with the deterministic integer Lloyd's ON A PINNED
    HASH SAMPLE (~50% of rows here; ≤1M rows auto at scale — training
    cost is bounded while the map-only encode still covers every row),
    vectors compress to m=8 4-bit codes, and the scan scores rows via
    driver-precomputed ADC lookup tables baked as literals — integer
    arithmetic end to end, so the WHOLE sample → train → encode → scan
    pipeline is hash-checked against the unrolled SQL replica (8
    composed kmeans CTE chains with the same sample WHERE +
    centroid-join ADC)."""
    from lotus_spark.functions.ann import knn_topk_pq, pq_index

    emb = _t(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    enc, books = pq_index(emb, "embedding", "vec_id", m=8, nbits=4,
                          seed=42,
                          train_sample=(_PQ_TRAIN_SEED, _PQ_TRAIN_THRESHOLD))
    return knn_topk_pq(enc, books, q, k=10, id_col="vec_id")


def _sql_pq_chain_parts(
    qq: list[int], m: int, nbits: int, iters: int, seed: int, pre0: str,
    train_where: str | None = None,
    src: str = "embeddings", train_src: str | None = None,
    ct: str = "ct",
) -> tuple[list[str], str, str]:
    """Shared PQ-oracle construction: per-subspace kmeans chains + ADC
    contribution CTEs (ct0..ct{m-1}) for quantized query ``qq``; returns
    (ctes, joins, total). One definition for _sql_knn_pq and
    _sql_knn_ivfpq so the replicas cannot drift. ``train_where``
    replays the pinned codebook-training sample in every subspace
    chain. ``ct`` names the query's contribution CTEs (a multi-query
    oracle gives each query its own)."""
    d = len(qq)
    sub = d // m
    ctes = []
    for s in range(m):
        pre = f"{pre0}{s}_"
        ctes.append(_sql_kmeans_ctes(
            k=2 ** nbits, iters=iters, seed=seed + s, d=sub,
            emb_expr=f"embedding[{s * sub + 1}:{(s + 1) * sub}]", p=pre,
            train_where=train_where, src=src, train_src=train_src))
    for s in range(m):
        pre = f"{pre0}{s}_"
        qsub = qq[s * sub:(s + 1) * sub]
        dist = " + ".join(
            f"(c.v[{j}]-({qsub[j - 1]}))*(c.v[{j}]-({qsub[j - 1]}))"
            for j in range(1, sub + 1)
        )
        # CAST: SUM(BIGINT) upstream makes centroid components HUGEINT,
        # which pandas would round-trip as float64
        ctes.append(
            f"{ct}{s} AS (SELECT a.vec_id, CAST({dist} AS BIGINT) AS ds "
            f"FROM {pre}afinal a JOIN {pre}c{iters} c ON a.c = c.c)"
        )
    joins = " ".join(
        f"JOIN {ct}{s} ON {ct}0.vec_id = {ct}{s}.vec_id" for s in range(1, m)
    )
    total = " + ".join(f"{ct}{s}.ds" for s in range(m))
    return ctes, joins, total


def _sql_knn_pq(qv: list[float]) -> str:
    from lotus_spark.functions.kmeans import quantize_vector, train_sample_where

    qq = quantize_vector(qv)
    ctes, joins, total = _sql_pq_chain_parts(
        qq, m=8, nbits=4, iters=3, seed=42, pre0="q",
        train_where=train_sample_where(
            "vec_id", _PQ_TRAIN_SEED, _PQ_TRAIN_THRESHOLD))
    return (
        "WITH " + ",\n".join(ctes)
        + f"""
SELECT ct0.vec_id, ({total}) AS pq_dist
FROM ct0 {joins}
ORDER BY pq_dist, ct0.vec_id LIMIT 10
"""
    )


def q_knn_ivfpq(spark, sf_dir):
    """Full IVF-PQ (functions/ann.py::knn_topk_ivfpq): deterministic IVF
    coarse quantizer prunes to the 8 nearest of 16 cells, PQ codes ADC
    lookup-score the survivors — the standard billion-vector query
    architecture. BOTH quantizers train on the same pinned hash sample
    (~50%; ≤1M auto at scale) so index-build cost is sample-bounded
    while cell-assign + encode stay map-only over all rows; the SQL
    replica recomputes both quantizers (one cell-kmeans chain + eight
    subspace-kmeans chains, same sample WHERE) and replays the probe +
    ADC scan. ``rerank_k=None`` is the EXPLICIT opt-out documenting the
    raw ADC tier — the function's default is now the recall-safe
    ``"auto"`` rerank (max(8k, 80); see knn_ivfpq_rerank)."""
    from lotus_spark.functions.ann import ivf_index, knn_topk_ivfpq, pq_index

    emb = _t(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    ts = (_PQ_TRAIN_SEED, _PQ_TRAIN_THRESHOLD)
    indexed, cents = ivf_index(emb, "embedding", n_cells=16, seed=42,
                               method="deterministic", id_col="vec_id",
                               train_sample=ts)
    encoded, books = pq_index(indexed, "embedding", "vec_id", m=8,
                              nbits=4, seed=101, train_sample=ts)
    return knn_topk_ivfpq(encoded, cents, books, q, k=10, n_probe=8,
                          id_col="vec_id", rerank_k=None)


def q_knn_ivfpq_rerank(spark, sf_dir):
    """IVF-PQ + the standard exact final step (round-5 advice item 2;
    reference analog: sem_search's rerank,
    ``lotus/sem_ops/sem_search.py:148-155``): ADC shortlists the top 40
    approximate ids inside the probed cells, then a broadcast join back
    to the exact vectors orders the top 10 by fold-exact cosine. The
    oracle replays the whole composition and the result hash-matches
    brute-force cosine ordering restricted to the shortlist."""
    from lotus_spark.functions.ann import ivf_index, knn_topk_ivfpq, pq_index

    emb = _t(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    ts = (_PQ_TRAIN_SEED, _PQ_TRAIN_THRESHOLD)
    indexed, cents = ivf_index(emb, "embedding", n_cells=16, seed=42,
                               method="deterministic", id_col="vec_id",
                               train_sample=ts)
    encoded, books = pq_index(indexed, "embedding", "vec_id", m=8,
                              nbits=4, seed=101, train_sample=ts)
    out = knn_topk_ivfpq(encoded, cents, books, q, k=10, n_probe=8,
                         id_col="vec_id", rerank_k=40)
    return out.select("vec_id", F.round(F.col("score"), 6).alias("score"))


def q_ivfpq_roundtrip(spark, sf_dir):
    """ANN index PERSISTENCE (the ann.py analog of sem_index_roundtrip):
    build the deterministic IVF-PQ index, write it as a
    partitionBy(cell) parquet layout + integer-codebook sidecar
    (``ann.write_ivfpq_index``), re-load it cold
    (``read_ivfpq_index``), and run the rerank query against the
    RELOADED index — probe predicates hit parquet partition pruning
    (plan pinned in tests/test_plan_shapes.py). Lossless by
    construction, so the oracle is the same SQL replica as
    knn_ivfpq_rerank recomputing both quantizers from the raw table."""
    import shutil
    import tempfile

    from lotus_spark.functions.ann import (
        ivf_index, knn_topk_ivfpq, pq_index, read_ivfpq_index,
        write_ivfpq_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    ts = (_PQ_TRAIN_SEED, _PQ_TRAIN_THRESHOLD)
    indexed, cents = ivf_index(emb, "embedding", n_cells=16, seed=42,
                               method="deterministic", id_col="vec_id",
                               train_sample=ts)
    encoded, books = pq_index(indexed, "embedding", "vec_id", m=8,
                              nbits=4, seed=101, train_sample=ts)
    d = tempfile.mkdtemp(prefix="ivfpq_idx_")
    try:
        path = f"{d}/index"
        write_ivfpq_index(encoded, path, cents, books)
        stored, cents2, books2, cell_col = read_ivfpq_index(spark, path)
        out = knn_topk_ivfpq(stored, cents2, books2, q, k=10, n_probe=8,
                             id_col="vec_id", cell_col=cell_col,
                             rerank_k=40)
        return spark.createDataFrame(
            [(r["vec_id"], r["score"]) for r in out.collect()],
            "vec_id long, score double",
        ).select("vec_id", F.round(F.col("score"), 6).alias("score"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_shard_for_training(spark, sf_dir):
    """Deterministic corpus shuffle + sharding for training export
    (functions/sharding.py::shard_for_training): every document gets a
    (shard, pos) coordinate — shard by content-hash residue (map-only),
    pos by an independent content hash ranked within the shard. The only
    exchange is a window keyed by the hash-uniform shard column (cannot
    be skew-hot; contrast the single-task global ORDER BY rand()
    anti-pattern). Pure function of (doc_id, seed): the oracle replays
    both hashes and the per-shard rank in SQL."""
    from lotus_spark.functions.sharding import shard_for_training

    docs = _t(spark, sf_dir, "documents")
    return shard_for_training(docs, "doc_id", 8, seed=0).select(
        "doc_id", "shard", "pos")


def _sql_shard_for_training() -> str:
    hs = _sql_strhash("(CAST(doc_id AS VARCHAR) || ':s0')")
    ho = _sql_strhash("(CAST(doc_id AS VARCHAR) || ':o0')")
    return f"""
WITH s AS (
  SELECT doc_id,
         (({hs} * {_MIX_CONST}) % {_MIX_BUCKETS}) % 8 AS shard,
         ({ho} * {_MIX_CONST}) % {_MIX_BUCKETS} AS okey
  FROM documents)
SELECT doc_id, shard,
       row_number() OVER (PARTITION BY shard ORDER BY okey, doc_id) AS pos
FROM s
"""


def q_bucketed_join(spark, sf_dir):
    """Bucketed-storage co-located join (sources/bucketed.py): customer
    and orders are persisted ``bucketBy(8, custkey)`` + ``sortBy`` — the
    join-key shuffle paid ONCE at write — then the revenue-per-segment
    join/agg runs over the catalog tables as a SortMergeJoin with ZERO
    Exchange on either side (plan pinned in test_plan_shapes.py). At
    100 TB this is the difference between re-shuffling both tables on
    every repeat join and never shuffling them again. Results are
    layout-independent, so the oracle is the plain join/agg; the decimal
    sum keeps the revenue hash engine-exact."""
    import shutil
    import tempfile
    import uuid

    from lotus_spark.sources.bucketed import (
        drop_bucketed, read_bucketed, write_bucketed,
    )

    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders")
    tag = uuid.uuid4().hex[:8]
    tc, to = f"bjq_customer_{tag}", f"bjq_orders_{tag}"
    d = tempfile.mkdtemp(prefix="bucketed_")
    try:
        write_bucketed(cu, tc, "c_custkey", 8, sort_cols="c_custkey",
                       path=f"{d}/customer")
        write_bucketed(od, to, "o_custkey", 8, sort_cols="o_custkey",
                       path=f"{d}/orders")
        out = (
            read_bucketed(spark, tc)
            .join(read_bucketed(spark, to),
                  F.col("c_custkey") == F.col("o_custkey"))
            .groupBy("c_mktsegment")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum(_dec("o_totalprice")).alias("dr"),
            )
            .select(
                "c_mktsegment", "n_orders",
                F.col("dr").cast("double").alias("revenue"),
            )
        )
        return spark.createDataFrame(
            [(r["c_mktsegment"], r["n_orders"], r["revenue"])
             for r in out.collect()],
            "c_mktsegment string, n_orders long, revenue double",
        )
    finally:
        drop_bucketed(spark, tc)
        drop_bucketed(spark, to)
        shutil.rmtree(d, ignore_errors=True)


_SQL_BUCKETED_JOIN = """
SELECT c_mktsegment, COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY c_mktsegment
"""


def q_bucketed_join_coalesced(spark, sf_dir):
    """Mismatched-bucket-count co-located join: orders is persisted
    ``bucketBy(16)`` and customer ``bucketBy(8)`` — an integer multiple,
    the normal state of a lake where each table was sized independently —
    and under ``spark.sql.bucketing.coalesceBucketsInJoin`` the larger
    side's buckets coalesce pairwise onto the smaller's, so the join
    still runs with ZERO Exchange on either side (plan pinned in
    test_plan_shapes.py::test_bucketed_join_coalesces_mismatched_bucket_
    counts). Operationally this is what makes bucketing survive schema
    evolution at 100 TB: re-bucketing a petabyte table to match every
    partner's count is exactly the shuffle bucketing exists to avoid.
    Results are layout-independent, so the oracle is the plain join/agg."""
    import shutil
    import tempfile
    import uuid

    from lotus_spark.sources.bucketed import (
        drop_bucketed, read_bucketed, write_bucketed,
    )

    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders")
    tag = uuid.uuid4().hex[:8]
    tc, to = f"cbjq_customer_{tag}", f"cbjq_orders_{tag}"
    d = tempfile.mkdtemp(prefix="bucketed_co_")
    prev = spark.conf.get(
        "spark.sql.bucketing.coalesceBucketsInJoin.enabled", "false")
    try:
        spark.conf.set(
            "spark.sql.bucketing.coalesceBucketsInJoin.enabled", "true")
        write_bucketed(cu, tc, "c_custkey", 8, sort_cols="c_custkey",
                       path=f"{d}/customer")
        write_bucketed(od, to, "o_custkey", 16, sort_cols="o_custkey",
                       path=f"{d}/orders")
        out = (
            read_bucketed(spark, tc)
            .join(read_bucketed(spark, to),
                  F.col("c_custkey") == F.col("o_custkey"))
            .groupBy("o_orderpriority")
            .agg(
                F.count("*").alias("n_orders"),
                F.sum(_dec("o_totalprice")).alias("dr"),
            )
            .select(
                "o_orderpriority", "n_orders",
                F.col("dr").cast("double").alias("revenue"),
            )
        )
        return spark.createDataFrame(
            [(r["o_orderpriority"], r["n_orders"], r["revenue"])
             for r in out.collect()],
            "o_orderpriority string, n_orders long, revenue double",
        )
    finally:
        spark.conf.set(
            "spark.sql.bucketing.coalesceBucketsInJoin.enabled", prev)
        drop_bucketed(spark, tc)
        drop_bucketed(spark, to)
        shutil.rmtree(d, ignore_errors=True)


_SQL_BUCKETED_JOIN_COALESCED = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
FROM customer JOIN orders ON c_custkey = o_custkey
GROUP BY o_orderpriority
"""


def q_write_shards(spark, sf_dir):
    """Materialized training-export layout (sharding.write_shards): the
    documents table is written one-file-per-shard with rows physically
    ordered by ``pos`` inside each file — the on-disk contract a data
    loader streams (open shard, read rows in order, no further sort).
    This row checks the LAYOUT, not the coordinates: each shard
    directory must hold exactly ONE data file, and ``pos`` here is
    recomputed from the PHYSICAL row order inside that file (pyarrow
    reads parquet in file order), so a writer that emitted the pos
    column without actually sorting — or split a shard across files —
    hash-mismatches against the shard_for_training oracle."""
    import os
    import shutil
    import tempfile

    import pyarrow.parquet as papq

    from lotus_spark.functions.sharding import write_shards

    docs = _t(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="write_shards_")
    try:
        path = f"{d}/shards"
        write_shards(docs, path, "doc_id", 8, seed=0)
        rows = []
        shard_dirs = [e for e in sorted(os.listdir(path))
                      if e.startswith("shard=")]
        for ent in shard_dirs:
            shard = int(ent.split("=", 1)[1])
            files = [f for f in os.listdir(os.path.join(path, ent))
                     if f.endswith(".parquet")]
            if len(files) != 1:
                raise AssertionError(
                    f"write_shards layout broken: shard {shard} has "
                    f"{len(files)} data files, contract is exactly 1")
            tbl = papq.read_table(
                os.path.join(path, ent, files[0]), columns=["doc_id"])
            for i, did in enumerate(tbl.column("doc_id").to_pylist(), 1):
                rows.append((int(did), shard, i))
        return spark.createDataFrame(
            rows, "doc_id long, shard long, pos long")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_ivfpq_compacted(spark, sf_dir):
    """Full index-maintenance lifecycle (the composition round 8 pinned
    in tests but never driver-checked): build the deterministic IVF-PQ
    index on the even-id half, persist, absorb the odd ids as TWO
    separate appends (each adds files per touched cell — the small-files
    pathology compaction exists for), run ``compact_ivfpq_index`` (one
    file per cell, sidecars preserved, swap via verified renames), and
    answer the rerank probe from the COMPACTED index. Compaction is
    layout-only, so the oracle is the same replay as ivfpq_incremental:
    quantizers trained on the even half, encode + probe over every row —
    a hash match proves build → append×2 → compact changes nothing but
    the file layout."""
    import shutil
    import tempfile

    from lotus_spark.functions.ann import (
        append_ivfpq_index, compact_ivfpq_index, ivf_index, knn_topk_ivfpq,
        pq_index, read_ivfpq_index, write_ivfpq_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    ts = (_PQ_TRAIN_SEED, _PQ_TRAIN_THRESHOLD)
    initial = emb.filter("vec_id % 2 = 0")
    indexed, cents = ivf_index(initial, "embedding", n_cells=16, seed=42,
                               method="deterministic", id_col="vec_id",
                               train_sample=ts)
    encoded, books = pq_index(indexed, "embedding", "vec_id", m=8,
                              nbits=4, seed=101, train_sample=ts)
    d = tempfile.mkdtemp(prefix="ivfpq_compact_")
    try:
        path = f"{d}/index"
        write_ivfpq_index(encoded, path, cents, books)
        append_ivfpq_index(spark, path, emb.filter("vec_id % 4 = 1"))
        append_ivfpq_index(spark, path, emb.filter("vec_id % 4 = 3"))
        compact_ivfpq_index(spark, path)
        stored, cents2, books2, cell_col = read_ivfpq_index(spark, path)
        out = knn_topk_ivfpq(stored, cents2, books2, q, k=10, n_probe=8,
                             id_col="vec_id", cell_col=cell_col,
                             rerank_k=40)
        return spark.createDataFrame(
            [(r["vec_id"], r["score"]) for r in out.collect()],
            "vec_id long, score double",
        ).select("vec_id", F.round(F.col("score"), 6).alias("score"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_ivfpq_incremental(spark, sf_dir):
    """Incremental ANN index maintenance (ann.append_ivfpq_index): build
    the deterministic IVF-PQ index on the EVEN-id half of the corpus
    (quantizers train on that half's pinned hash sample), persist it,
    then append the ODD-id half encoded with the EXISTING codebooks — no
    retraining, one map-only encode pass + a partitioned append, the way
    a 100 TB index absorbs daily increments (FAISS train-once-add-many).
    The rerank probe over the GROWN index is answered across old + new
    rows alike; the oracle replays the exact semantics — quantizers
    trained on ``vec_id % 2 = 0`` only, encode + probe over every row —
    so a hash match proves the append path is bit-identical to a
    from-scratch encode with the same codebooks."""
    import shutil
    import tempfile

    from lotus_spark.functions.ann import (
        append_ivfpq_index, ivf_index, knn_topk_ivfpq, pq_index,
        read_ivfpq_index, write_ivfpq_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    ts = (_PQ_TRAIN_SEED, _PQ_TRAIN_THRESHOLD)
    initial = emb.filter("vec_id % 2 = 0")
    increment = emb.filter("vec_id % 2 = 1")
    indexed, cents = ivf_index(initial, "embedding", n_cells=16, seed=42,
                               method="deterministic", id_col="vec_id",
                               train_sample=ts)
    encoded, books = pq_index(indexed, "embedding", "vec_id", m=8,
                              nbits=4, seed=101, train_sample=ts)
    d = tempfile.mkdtemp(prefix="ivfpq_incr_")
    try:
        path = f"{d}/index"
        write_ivfpq_index(encoded, path, cents, books)
        append_ivfpq_index(spark, path, increment)
        stored, cents2, books2, cell_col = read_ivfpq_index(spark, path)
        out = knn_topk_ivfpq(stored, cents2, books2, q, k=10, n_probe=8,
                             id_col="vec_id", cell_col=cell_col,
                             rerank_k=40)
        return spark.createDataFrame(
            [(r["vec_id"], r["score"]) for r in out.collect()],
            "vec_id long, score double",
        ).select("vec_id", F.round(F.col("score"), 6).alias("score"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_ivfpq_cdc(spark, sf_dir):
    """CDC maintenance of the persisted IVF-PQ index
    (functions/index_cdc.py, NEW r11 — the lifecycle verb append/compact
    could not cover): T0 = the even-id corpus, indexed with
    T0-sample-trained quantizers; T1 removes every %10==0 id, REVERSES
    the %10==4 embeddings (a changed row must be re-encoded), and adds
    all odd ids. ``snapshot_diff`` labels the three classes and
    ``apply_snapshot_to_ivfpq_index`` applies them: partition-pruned
    cell rewrites delete removed+changed ids, then added+changed rows
    append encoded with the index's EXISTING codebooks. The rerank
    probe over the maintained index must match the oracle's
    from-scratch replay — quantizers trained on T0 (train_src =
    original embeddings, restricted to evens ∩ the pinned hash sample),
    encode + probe over the T1 corpus state — so a hash match proves
    delete + re-encode + append together leave the index row-identical
    to a rebuild of the new snapshot."""
    import shutil
    import tempfile

    from lotus_spark.functions.ann import (
        ivf_index, knn_topk_ivfpq, pq_index, read_ivfpq_index,
        write_ivfpq_index,
    )
    from lotus_spark.functions.index_cdc import apply_snapshot_to_ivfpq_index
    from lotus_spark.functions.snapshot import snapshot_diff

    emb = _t(spark, sf_dir, "embeddings")
    q = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    ts = (_PQ_TRAIN_SEED, _PQ_TRAIN_THRESHOLD)
    t0 = emb.filter("vec_id % 2 = 0")
    t1 = emb.filter("vec_id % 10 != 0").withColumn(
        "embedding",
        F.when(F.col("vec_id") % 10 == 4, F.reverse(F.col("embedding")))
        .otherwise(F.col("embedding")))
    indexed, cents = ivf_index(t0, "embedding", n_cells=16, seed=42,
                               method="deterministic", id_col="vec_id",
                               train_sample=ts)
    encoded, books = pq_index(indexed, "embedding", "vec_id", m=8,
                              nbits=4, seed=101, train_sample=ts)
    d = tempfile.mkdtemp(prefix="ivfpq_cdc_")
    try:
        path = f"{d}/index"
        write_ivfpq_index(encoded, path, cents, books)
        diff = snapshot_diff(t0, t1, "vec_id")
        apply_snapshot_to_ivfpq_index(spark, path, diff, t1)
        stored, cents2, books2, cell_col = read_ivfpq_index(spark, path)
        out = knn_topk_ivfpq(stored, cents2, books2, q, k=10, n_probe=8,
                             id_col="vec_id", cell_col=cell_col,
                             rerank_k=40)
        return spark.createDataFrame(
            [(r["vec_id"], r["score"]) for r in out.collect()],
            "vec_id long, score double",
        ).select("vec_id", F.round(F.col("score"), 6).alias("score"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _sql_knn_ivfpq_cdc(qv: list[float]) -> str:
    t1 = (
        "emb_t1 AS (SELECT vec_id, "
        "CASE WHEN vec_id % 10 = 4 THEN list_reverse(embedding) "
        "ELSE embedding END AS embedding "
        "FROM embeddings WHERE vec_id % 10 <> 0)")
    return _sql_knn_ivfpq_rerank(
        qv, train_restrict="vec_id % 2 = 0", src="emb_t1",
        train_src="embeddings", extra_ctes=[t1])


def _sql_ivfpq_parts(
    qv: list[float], train_restrict: str | None = None,
    src: str = "embeddings", train_src: str | None = None, p: str = "",
) -> tuple[list[str], str, str]:
    """Shared IVF-PQ oracle chain (cell kmeans + probe + sel + 8 PQ
    chains) for _sql_knn_ivfpq and _sql_knn_ivfpq_rerank — one
    definition so the replicas cannot drift. ``train_restrict`` ANDs an
    extra predicate into the quantizer-training sample (the incremental
    oracle trains on the INITIAL half only while encode/probe still
    cover every row). ``src``/``train_src`` (CDC oracle): encode +
    probe run over ``src`` while quantizer training reads ``train_src``
    — defaults reproduce the pre-r11 SQL byte-identically. ``p``
    prefixes the query-dependent CTEs ({p}probe, {p}sel, {p}ct*); the
    quantizer chains keep their names, so a multi-query oracle states
    them once."""
    from lotus_spark.functions.kmeans import quantize_vector, train_sample_where

    iters = 3
    d = len(qv)
    qq = quantize_vector(qv)
    qdist = " + ".join(
        f"(v[{j}]-({qq[j - 1]}))*(v[{j}]-({qq[j - 1]}))"
        for j in range(1, d + 1)
    )
    tw = train_sample_where("vec_id", _PQ_TRAIN_SEED, _PQ_TRAIN_THRESHOLD)
    if train_restrict:
        tw = f"({tw}) AND ({train_restrict})"
    cell_chain = _sql_kmeans_ctes(k=16, iters=iters, seed=42, d=d, p="iv_",
                                  train_where=tw, src=src,
                                  train_src=train_src)
    ctes, joins, total = _sql_pq_chain_parts(
        qq, m=8, nbits=4, iters=iters, seed=101, pre0="pq", train_where=tw,
        src=src, train_src=train_src, ct=f"{p}ct")
    all_ctes = (
        [cell_chain,
         f"{p}probe AS (SELECT c FROM iv_c{iters} "
         f"ORDER BY {qdist}, c LIMIT 8)",
         f"{p}sel AS (SELECT vec_id FROM iv_afinal "
         f"WHERE c IN (SELECT c FROM {p}probe))"]
        + ctes
    )
    return all_ctes, joins, total


def _sql_knn_ivfpq(qv: list[float]) -> str:
    ctes, joins, total = _sql_ivfpq_parts(qv)
    return (
        _sql_with_materialized(ctes)
        + f"""
SELECT ct0.vec_id, ({total}) AS pq_dist
FROM ct0 {joins}
WHERE ct0.vec_id IN (SELECT vec_id FROM sel)
ORDER BY pq_dist, ct0.vec_id LIMIT 10
"""
    )


def _sql_knn_ivfpq_rerank(
    qv: list[float], train_restrict: str | None = None,
    src: str = "embeddings", train_src: str | None = None,
    extra_ctes: list[str] | None = None,
) -> str:
    ctes, joins, total = _sql_ivfpq_parts(
        qv, train_restrict=train_restrict, src=src, train_src=train_src)
    if src == "embeddings":
        qv_ctes = "qv AS (SELECT v AS q FROM ev WHERE vec_id = 0)"
    else:
        # the corpus state excludes the query row — read it from the
        # base table
        qv_ctes = (
            "evq AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v "
            "FROM embeddings),\n"
            "qv AS (SELECT v AS q FROM evq WHERE vec_id = 0)")
    short = f"""short AS (
  SELECT ct0.vec_id, ({total}) AS pq_dist
  FROM ct0 {joins}
  WHERE ct0.vec_id IN (SELECT vec_id FROM sel)
  ORDER BY pq_dist, ct0.vec_id LIMIT 40
)"""
    ev = f"ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM {src})"
    return (
        _sql_with_materialized(
            (extra_ctes or []) + ctes + [short, ev, qv_ctes])
        + f"""
SELECT ev.vec_id, ROUND({_sql_cosine('ev.v', 'qv.q')}, 6) AS score
FROM ev JOIN short ON ev.vec_id = short.vec_id, qv
ORDER BY {_sql_cosine('ev.v', 'qv.q')} DESC, ev.vec_id
LIMIT 10
"""
    )


def q_sem_cluster(spark, sf_dir):
    """sem_cluster_by on the reproducible tier: integer-quantized Lloyd's
    (order-independent arithmetic — bit-identical assignments on any
    topology), hash-checked against the unrolled SQL replica."""
    from lotus_spark.operators.sem_cluster_by import sem_cluster_by

    emb = _t(spark, sf_dir, "embeddings")
    out = sem_cluster_by(emb, "embedding", ncentroids=8, emb_col="embedding",
                         seed=42, niter=3, method="deterministic",
                         id_col="vec_id")
    return out.select("vec_id", "cluster_id")


def _sql_kmeans_ctes(k: int, iters: int, seed: int, d: int,
                     emb_expr: str = "embedding", p: str = "",
                     train_where: str | None = None,
                     src: str = "embeddings",
                     train_src: str | None = None) -> str:
    """Unrolled deterministic-Lloyd's CTE chain (mirrors
    ``functions/kmeans.py`` exactly): quantize → seeded-hash init →
    (assign → integer-mean update) × iters → final assignment
    ``{p}afinal``. All arithmetic BIGINT → order-independent →
    engine-exact. ``emb_expr`` selects the (sub)vector to cluster and
    ``p`` prefixes every CTE name so chains compose (the PQ oracle runs
    one chain per subspace). ``train_where`` replays sample-bounded
    training (``kmeans.train_sample_where``): init + per-iteration
    updates see only the sampled rows, the final assignment all rows —
    the exact split ``deterministic_kmeans(train_filter=...)`` makes.
    ``src`` is the relation assignment/encode runs over; ``train_src``
    (default: same as ``src``) lets the CDC oracle train the quantizers
    on the T0 corpus state while assigning the T1 state — defaults
    reproduce the pre-r11 SQL byte-identically."""
    from lotus_spark.functions.kmeans import QUANT, SHIFT, kmeans_init_params

    a, b = kmeans_init_params(seed)
    quant = (
        f"list_transform(CAST({emb_expr} AS DOUBLE[]), "
        f"x -> CAST(floor((x + {SHIFT!r}) * {float(QUANT)!r}) AS BIGINT))"
    )
    h = f"(({a} * vec_id + {b}) % {MOD})"

    def dist(xq: str, v: str) -> str:
        return " + ".join(
            f"({xq}[{j}]-{v}[{j}])*({xq}[{j}]-{v}[{j}])"
            for j in range(1, d + 1)
        )

    ctes = [
        f"{p}p AS (SELECT vec_id, {quant} AS xq FROM {src})",
    ]
    tr = f"{p}p"
    if train_src is not None and train_src != src:
        tr = f"{p}pt"
        ctes.append(
            f"{p}pt AS (SELECT vec_id, {quant} AS xq FROM {train_src})")
    if train_where:
        base = tr
        tr = f"{p}tr"
        ctes.append(f"{p}tr AS (SELECT * FROM {base} WHERE {train_where})")
    ctes.append(
        f"{p}c0 AS (SELECT row_number() OVER (ORDER BY {h}, vec_id) - 1 AS c, "
        f"xq AS v FROM {tr} ORDER BY {h}, vec_id LIMIT {k})"
    )
    for t in range(iters):
        # min_by over [dist, c] == argmin with smallest-c tiebreak; a hash
        # aggregate, far lighter than sorting the n×k cartesian in a window
        ctes.append(
            f"{p}a{t} AS (SELECT vec_id, any_value(xq) AS xq, "
            f"CAST(min([dst, CAST(c AS HUGEINT)])[2] AS BIGINT) AS c "
            f"FROM (SELECT {tr}.vec_id, {tr}.xq, {p}c{t}.c, "
            f"{dist(f'{tr}.xq', f'{p}c{t}.v')} AS dst FROM {tr}, {p}c{t}) "
            f"GROUP BY vec_id)"
        )
        sums = ", ".join(f"SUM(xq[{j}]) AS s{j}" for j in range(1, d + 1))
        ctes.append(
            f"{p}s{t} AS (SELECT c, COUNT(*) AS n, {sums} "
            f"FROM {p}a{t} GROUP BY c)"
        )
        newv = ", ".join(f"(2*s.s{j}+s.n)//(2*s.n)" for j in range(1, d + 1))
        ctes.append(
            f"{p}c{t+1} AS (SELECT prev.c, CASE WHEN s.n IS NULL THEN prev.v "
            f"ELSE [{newv}] END AS v "
            f"FROM {p}c{t} prev LEFT JOIN {p}s{t} s ON prev.c = s.c)"
        )
    ctes.append(
        f"{p}afinal AS (SELECT vec_id, "
        f"CAST(min([dst, CAST(c AS HUGEINT)])[2] AS BIGINT) AS c FROM "
        f"(SELECT {p}p.vec_id, {p}c{iters}.c, "
        f"{dist(f'{p}p.xq', f'{p}c{iters}.v')} AS dst "
        f"FROM {p}p, {p}c{iters}) GROUP BY vec_id)"
    )
    return ",\n".join(ctes)


def _sql_sem_cluster(d: int) -> str:
    return (
        "WITH " + _sql_kmeans_ctes(k=8, iters=3, seed=42, d=d)
        + "\nSELECT vec_id, c AS cluster_id FROM afinal"
    )


def _sql_knn_ivf(qv: list[float], d: int) -> str:
    from lotus_spark.functions.kmeans import quantize_vector

    qq = quantize_vector(qv)
    qdist = " + ".join(
        f"(v[{j}]-({qq[j-1]}))*(v[{j}]-({qq[j-1]}))" for j in range(1, d + 1)
    )
    return f"""
WITH {_sql_kmeans_ctes(k=16, iters=3, seed=42, d=d)},
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
probe AS (SELECT c FROM c3 ORDER BY {qdist}, c LIMIT 8),
sel AS (SELECT e.vec_id, e.v FROM e JOIN afinal a ON e.vec_id = a.vec_id
        WHERE a.c IN (SELECT c FROM probe))
SELECT vec_id, ROUND({_sql_cosine('sel.v', 'q.qv')}, 6) AS score
FROM sel, q
ORDER BY {_sql_cosine('sel.v', 'q.qv')} DESC, vec_id
LIMIT 10
"""


def q_sem_dedup(spark, sf_dir):
    """Embedding near-dup removal. Oracle: recursive-CTE transitive closure
    over the thresholded cosine graph, min-reachable-id representative —
    exactly the iterative min-label CC the Spark side converges to."""
    from lotus_spark.operators.sem_dedup import sem_dedup

    emb = _t(spark, sf_dir, "embeddings")
    out = sem_dedup(emb, "embedding", threshold=0.35, id_col="vec_id",
                    emb_col="embedding")
    return out.select("vec_id")


_SQL_SEM_DEDUP = f"""
WITH RECURSIVE
e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
edges AS (
  SELECT a.vec_id AS src, b.vec_id AS dst
  FROM e0 a JOIN e0 b ON a.vec_id < b.vec_id
  WHERE CASE WHEN {_sql_norm('a.v')} = 0 OR {_sql_norm('b.v')} = 0 THEN 0.0
        ELSE {_sql_dot('a.v', 'b.v')} / ({_sql_norm('a.v')} * {_sql_norm('b.v')}) END > 0.35
),
sym AS (SELECT src AS s, dst AS d FROM edges UNION ALL SELECT dst, src FROM edges),
reach(s, d) AS (
  SELECT s, d FROM sym
  UNION
  SELECT r.s, y.d FROM reach r JOIN sym y ON r.d = y.s
),
rep AS (SELECT s AS id, LEAST(s, MIN(d)) AS comp FROM reach GROUP BY s)
SELECT vec_id FROM embeddings
WHERE vec_id NOT IN (SELECT id FROM rep WHERE comp < id)
"""


# ---------------------------------------------------------------------------
# training-data pipeline: dedup / fingerprint / text analysis (north star)
# ---------------------------------------------------------------------------

def q_exact_dedup(spark, sf_dir):
    from lotus_spark.functions.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents").withColumn(
        "dup_key", F.concat_ws("_", F.col("lang"), (F.col("n_chars") % 10))
    )
    out = exact_dedup(docs, "dup_key", "doc_id")
    return out.select("doc_id", "dup_key")


_SQL_EXACT_DEDUP = """
SELECT doc_id, dup_key FROM (
  SELECT doc_id, lang || '_' || CAST(n_chars % 10 AS VARCHAR) AS dup_key,
    row_number() OVER (PARTITION BY (lang || '_' || CAST(n_chars % 10 AS VARCHAR)) ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
"""


def q_minhash_signature(spark, sf_dir):
    from lotus_spark.functions.dedup import minhash_signature

    docs = _t(spark, sf_dir, "documents")
    out = minhash_signature(docs, "text", n_hashes=4, shingle_n=3)
    return out.select(
        "doc_id",
        *[F.col("minhash")[j].alias(f"sig{j}") for j in range(4)],
    )


def _sql_minhash() -> str:
    sig_exprs = []
    for j in range(4):
        a, b = _hash_params(j)
        sig_exprs.append(
            f"list_min(list_transform(shingles, sh -> ({a} * {_sql_strhash('sh')} + {b}) % {MOD})) AS sig{j}"
        )
    return f"""
WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') words FROM documents),
s AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(words)-3, 0)+2),
        i -> array_to_string(words[i:i+2], ' '))) shingles FROM d)
SELECT doc_id, {', '.join(sig_exprs)} FROM s
"""


def q_simhash(spark, sf_dir):
    from lotus_spark.functions.dedup import simhash

    docs = _t(spark, sf_dir, "documents")
    return simhash(docs, "text", n_bits=32).select("doc_id", "simhash")


_SQL_SIMHASH = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t FROM documents
),
th AS (SELECT doc_id, {_sql_strhash('t')} AS h FROM tok),
bits AS (
  SELECT doc_id, b.b AS b,
    SUM((CAST(floor(h / pow(2.0, b.b)) AS BIGINT) % 2) * 2 - 1) AS s
  FROM th, range(0, 32) AS b(b)
  GROUP BY doc_id, b.b
)
SELECT doc_id,
  CAST(SUM(CASE WHEN s > 0 THEN CAST(pow(2.0, b) AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
FROM bits GROUP BY doc_id
"""


def q_jaccard_pairs(spark, sf_dir):
    from lotus_spark.functions.dedup import jaccard_sim_pairs

    docs = _t(spark, sf_dir, "documents")
    # algorithm defaults to "auto": blocks here are languages (bounded), so
    # the stats pass picks the block-local BLAS counting tier (no pair-row
    # shuffle); "count" is what it picks for unbounded blocks and is
    # asserted equal in tests/test_dedup_and_text.py
    return jaccard_sim_pairs(
        docs, "text", "doc_id", shingle_n=2, threshold=0.3, block_col="lang",
    )


_SQL_JACCARD = f"""
WITH d AS (SELECT doc_id, lang, string_split_regex(lower(trim(text)), '\\s+') words FROM documents),
s AS (SELECT doc_id, lang,
        unnest(list_distinct(list_transform(
          list_transform(range(1, greatest(len(words)-2, 0)+2),
            i -> array_to_string(words[i:i+1], ' ')),
          sh -> {_sql_strhash('sh')}))) AS sh
      FROM d),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM s GROUP BY doc_id),
c AS (SELECT a.doc_id AS a, b.doc_id AS b, COUNT(*) AS common
      FROM s a JOIN s b ON a.sh = b.sh AND a.lang = b.lang AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id)
SELECT c.a, c.b, ROUND(CAST(common AS DOUBLE) / (sa.sz + sb.sz - common), 6) AS jaccard
FROM c JOIN sz sa ON c.a = sa.doc_id JOIN sz sb ON c.b = sb.doc_id
WHERE CAST(common AS DOUBLE) / (sa.sz + sb.sz - common) >= 0.3
"""


def _sql_minhash_cc_ctes(src: str = "documents", header: bool = True) -> str:
    """Shared CTE stack for the MinHash-LSH dedup oracles: 16-hash
    signature → 4 band keys → bucket candidates → exact shingle-set
    Jaccard verify ≥ 0.5 → recursive-CTE connected components → ``rep``
    (id → component representative). Consumers append their own final
    CTEs/SELECT. ``src`` lets composed pipelines run the stack over an
    upstream CTE; ``header=False`` drops the ``WITH RECURSIVE`` prefix
    so the stack can sit mid-statement."""
    sig_exprs = []
    for j in range(16):
        a, b = _hash_params(j)
        sig_exprs.append(
            f"list_min(list_transform(shingles, sh -> ({a} * {_sql_strhash('sh')} + {b}) % {MOD})) AS sig{j}"
        )
    band_keys = []
    for i in range(4):
        parts = " || '_' || ".join(f"CAST(sig{i*4+j} AS VARCHAR)" for j in range(4))
        band_keys.append(f"CAST({i} AS VARCHAR) || '_' || {parts}")
    prefix = "WITH RECURSIVE\n" if header else ""
    return f"""
{prefix}d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') words FROM {src}),
s AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(words)-2, 0)+2),
        i -> array_to_string(words[i:i+1], ' '))) shingles FROM d),
g AS (SELECT doc_id, shingles, {', '.join(sig_exprs)} FROM s),
banded AS (SELECT doc_id, unnest([{', '.join(band_keys)}]) AS band FROM g),
cand AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
         FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id),
edges AS (
  SELECT src, dst FROM cand
  JOIN s sa ON cand.src = sa.doc_id JOIN s sb ON cand.dst = sb.doc_id
  WHERE CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)
        / CAST(len(list_distinct(sa.shingles || sb.shingles)) AS DOUBLE) >= 0.5
),
sym AS (SELECT src AS s, dst AS d FROM edges UNION ALL SELECT dst, src FROM edges),
reach(s, d) AS (
  SELECT s, d FROM sym
  UNION
  SELECT r.s, y.d FROM reach r JOIN sym y ON r.d = y.s
),
rep AS (SELECT s AS id, LEAST(s, MIN(d)) AS comp FROM reach GROUP BY s)"""


def _sql_minhash_lsh_dedup() -> str:
    """Full MinHash-LSH dedup oracle (see ``_sql_minhash_cc_ctes``)."""
    return _sql_minhash_cc_ctes() + """
SELECT doc_id FROM documents
WHERE doc_id NOT IN (SELECT id FROM rep WHERE comp < id)
"""


def q_minhash_lsh_dedup(spark, sf_dir):
    """MinHash-LSH near-dup removal; oracle = full SQL replica of the
    pipeline (signature → banding → verify → recursive-CTE CC)."""
    from lotus_spark.functions.dedup import minhash_lsh_dedup

    docs = _t(spark, sf_dir, "documents")
    out = minhash_lsh_dedup(
        docs, "text", "doc_id", n_hashes=16, bands=4, shingle_n=2,
        jaccard_threshold=0.5,
    )
    return out.select("doc_id")


def q_minhash_dedup_keepbest(spark, sf_dir):
    """Near-dup removal with the keep-BEST survivor policy (r11,
    functions/dedup.py::minhash_lsh_dedup ``keep_by``): cluster
    membership is identical to ``minhash_lsh_dedup`` (same signature /
    band / verify / CC algebra), but each cluster's survivor is the
    member maximizing ``n_chars`` (ties → min doc_id) — the
    canonical-document selection real curation pipelines use ("keep the
    longest copy"), instead of an arbitrary id. Oracle: the shared CC
    CTE stack + per-component argmax via QUALIFY row_number."""
    from lotus_spark.functions.dedup import minhash_lsh_dedup

    docs = _t(spark, sf_dir, "documents")
    out = minhash_lsh_dedup(
        docs, "text", "doc_id", n_hashes=16, bands=4, shingle_n=2,
        jaccard_threshold=0.5, keep_by="n_chars",
    )
    return out.select("doc_id")


def _sql_minhash_dedup_keepbest() -> str:
    """Keep-best dedup oracle: CC CTEs → per-doc cluster id (component
    min, or own id for singletons) → argmax(n_chars, tie min doc_id)."""
    return _sql_minhash_cc_ctes() + """
, clus AS (
  SELECT d.doc_id, d.n_chars, COALESCE(r.comp, d.doc_id) AS comp
  FROM documents d LEFT JOIN rep r ON d.doc_id = r.id)
SELECT doc_id FROM clus
QUALIFY row_number() OVER (
  PARTITION BY comp ORDER BY n_chars DESC NULLS LAST, doc_id ASC) = 1
"""


_LSS_WEIGHTS = {"train": 0.8, "val": 0.1, "test": 0.1}
_LSS_SEED = 7


def q_leakage_safe_split(spark, sf_dir):
    """Leakage-safe train/val/test split (r11, functions/dedup.py::
    leakage_safe_split): MinHash-LSH clusters (same algebra as
    minhash_lsh_dedup) then ONE hash-split label per CLUSTER, so a
    near-copy of a training document can never land in the eval split
    and inflate scores. Oracle: the shared CC CTE stack + the
    hash_split bucket expression applied to the cluster id."""
    from lotus_spark.functions.dedup import leakage_safe_split

    docs = _t(spark, sf_dir, "documents")
    out = leakage_safe_split(
        docs, "text", "doc_id", _LSS_WEIGHTS, seed=_LSS_SEED,
        shingle_n=2, jaccard_threshold=0.5,
    )
    return out.select(
        "doc_id",
        F.col("cluster_id").cast("long").alias("cluster_id"),
        "split",
    )


def q_cluster_assign_incremental(spark, sf_dir):
    """Incremental near-dup CLUSTER assignment against the persisted
    index (functions/cluster_index.py, NEW r11 — stable cluster ids
    across days): day 0 builds the LSH index + cluster map over the
    %4==0 docs; the %4==2 increment self-clusters, probes the index
    (exact-Jaccard tier), and its (local cluster ↔ corpus cluster)
    match edges run through connected components so bridged corpus
    clusters MERGE — the contract is batch equality, and the oracle IS
    the batch: the shared CC CTE stack over corpus ∪ increment,
    projected to the increment docs. A hash match proves the
    incremental algebra reproduces a full re-clustering without
    re-reading the corpus."""
    import shutil
    import tempfile

    from lotus_spark.functions.cluster_index import (
        assign_clusters_against_index, build_cluster_index,
    )

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter("doc_id % 4 = 0")
    inc = docs.filter("doc_id % 4 = 2")
    d = tempfile.mkdtemp(prefix="cl_idx_")
    try:
        path = f"{d}/idx"
        build_cluster_index(spark, corpus, path, "text", "doc_id",
                            n_hashes=16, bands=4, shingle_n=2,
                            jaccard_threshold=0.5)
        assignments, _remap = assign_clusters_against_index(
            spark, path, inc, "text", "doc_id", corpus_df=corpus)
        return spark.createDataFrame(
            [(r["doc_id"], r["cluster"]) for r in assignments.collect()],
            "doc_id long, cluster long",
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _sql_cluster_assign_incremental() -> str:
    src = ("(SELECT doc_id, text FROM documents "
           "WHERE doc_id % 4 = 0 OR doc_id % 4 = 2) cdocs")
    return _sql_minhash_cc_ctes(src=src) + """
SELECT q.doc_id, COALESCE(r.comp, q.doc_id) AS cluster
FROM (SELECT doc_id FROM documents WHERE doc_id % 4 = 2) q
LEFT JOIN rep r ON r.id = q.doc_id
"""


def _messy_url_expr():
    """Deterministic messy URL per document row (even rows:
    https/userinfo/:443/two-level-suffix/utm+fragment; odd rows:
    http/:8080/.com/gclid) — shared by url_canonicalize and
    pipeline_quality."""
    return F.when(
        F.col("doc_id") % 2 == 0,
        F.concat(
            F.lit("HTTPS://User@WWW."), F.col("source"),
            F.lit(".Example.CO.UK:443/Docs/"),
            F.col("doc_id").cast("string"),
            F.lit("?utm_source=feed&z=26&a=1#frag"),
        ),
    ).otherwise(
        F.concat(
            F.lit("http://"), F.col("source"), F.lit(".example.com:8080/a b/"),
            F.col("doc_id").cast("string"), F.lit("/?gclid=1&b=2&a=1"),
        )
    )


def q_url_canonicalize(spark, sf_dir):
    """URL canonicalization toolkit (r11, functions/urls.py — pure
    Column expressions, zero UDFs): synthesize a deterministic messy URL
    per document (mixed-case scheme/host, userinfo, default vs explicit
    port, tracking params, unsorted query, fragment — even rows exercise
    the https/:443/two-level-suffix branches, odd rows http/:8080/.com),
    then normalize + host + registered domain. Oracle: DuckDB replays
    the ENTIRE normalization algebra (same regex/split/filter/sort
    pipeline), not a lookup table."""
    from lotus_spark.functions.urls import (
        url_host,
        url_normalize,
        url_registered_domain,
    )

    docs = _t(spark, sf_dir, "documents")
    d = docs.withColumn("__u", _messy_url_expr())
    return d.select(
        "doc_id",
        url_normalize(F.col("__u")).alias("url_norm"),
        url_host(F.col("__u")).alias("host"),
        url_registered_domain(F.col("__u")).alias("domain"),
    )


_QM_MODEL = {
    "weights": [3.0, 2.0, -0.05, 0.1],
    "bias": -2.0,
    "features": ["stopword_ratio", "alpha_ratio", "avg_token_len",
                 "log_tokens"],
}


def q_quality_model_score(spark, sf_dir):
    """Trained-quality-classifier INFERENCE path (r11,
    functions/quality_model.py): sigmoid(b + w · engineered signals)
    with the weights baked as literals — the map-only codegen stage a
    100 TB scoring pass runs after `train_quality_model` (MLlib LBFGS,
    tested separately; the expression reproduces MLlib transform
    probabilities to <1e-9). Fixed demo weights here so the oracle is
    training-free; DuckDB replays the full feature + sigmoid algebra."""
    from lotus_spark.functions.quality_model import score_quality_model

    docs = _t(spark, sf_dir, "documents")
    s = score_quality_model(F.col("text"), _QM_MODEL)
    return docs.select(
        "doc_id",
        s.alias("q_score"),
        (s >= 0.5).cast("int").alias("keep"),
    )


def _sql_quality_model_score() -> str:
    w = _QM_MODEL["weights"]
    b = _QM_MODEL["bias"]
    return f"""
WITH d AS (
  SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') toks
  FROM documents),
m AS (
  SELECT doc_id,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE CAST(len(list_filter(toks, t -> list_contains({{STOP}}, t)))
              AS DOUBLE) / len(toks) END AS sw,
    CASE WHEN length(text) = 0 THEN 0.0
         ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
              AS DOUBLE) / length(text) END AS al,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE CAST(list_reduce(list_prepend(0, list_transform(toks,
              t -> length(t))), (a, x) -> a + x) AS DOUBLE) / len(toks)
         END AS atl,
    ln(1 + CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END) AS lt
  FROM d),
z AS (SELECT doc_id,
        {b} + ({w[0]}) * sw + ({w[1]}) * al + ({w[2]}) * atl + ({w[3]}) * lt
        AS z FROM m)
SELECT doc_id,
  1.0 / (1.0 + exp(-z)) AS q_score,
  CAST(CASE WHEN 1.0 / (1.0 + exp(-z)) >= 0.5 THEN 1 ELSE 0 END AS INT)
    AS keep
FROM z
""".replace("{STOP}", _STOP)


def q_snapshot_diff(spark, sf_dir):
    """Snapshot CDC (r11, functions/snapshot.py::snapshot_diff — the
    daily-crawl "what changed since yesterday?" primitive): synthesize
    snapshot T+1 from documents deterministically (doc_id%10==3 removed,
    %10==4 text-mutated, %10==7 re-added under ids shifted by 1e8 — clear of the scale probe's
    replica key span) and diff.
    Plan: both sides pruned to (id, text) pre-join, ONE sort-merge
    full-outer on the unique id, null-safe compare, narrow output.
    Oracle: DuckDB full-outer replica of the same algebra."""
    from lotus_spark.functions.snapshot import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 10 != 3).withColumn(
        "text",
        F.when(
            F.col("doc_id") % 10 == 4, F.concat(F.col("text"), F.lit(" v2"))
        ).otherwise(F.col("text")),
    )
    added = docs.filter(F.col("doc_id") % 10 == 7).withColumn(
        "doc_id", F.col("doc_id") + F.lit(100_000_000)
    )
    new = new.unionByName(added)
    return snapshot_diff(docs, new, "doc_id", ["text"])


_SQL_SNAPSHOT_DIFF = """
WITH newt AS (
  SELECT CASE WHEN doc_id % 10 = 7 THEN doc_id + 100000000 ELSE doc_id END
           AS doc_id,
         CASE WHEN doc_id % 10 = 4 THEN text || ' v2' ELSE text END AS text
  FROM documents WHERE doc_id % 10 <> 3
  UNION ALL
  SELECT doc_id, text FROM documents WHERE doc_id % 10 = 7),
j AS (
  SELECT o.doc_id AS oid, o.text AS ot, n.doc_id AS nid, n.text AS nt
  FROM documents o FULL OUTER JOIN newt n ON o.doc_id = n.doc_id)
SELECT COALESCE(nid, oid) AS doc_id,
  CASE WHEN oid IS NULL THEN 'added'
       WHEN nid IS NULL THEN 'removed'
       WHEN ot IS DISTINCT FROM nt THEN 'changed'
       ELSE 'unchanged' END AS change
FROM j
WHERE CASE WHEN oid IS NULL THEN 'added'
           WHEN nid IS NULL THEN 'removed'
           WHEN ot IS DISTINCT FROM nt THEN 'changed'
           ELSE 'unchanged' END <> 'unchanged'
"""


def _sql_url_norm_ctes() -> str:
    """CTE chain (no WITH): messy URL synthesis → scheme/netloc/path/
    cleaned-sorted-query fields per doc, relation ``qn``. Shared by
    url_canonicalize and pipeline_quality."""
    from lotus_spark.functions.urls import _TRACKING_PARAMS

    tracking = ", ".join(f"'{p}'" for p in _TRACKING_PARAMS)
    return f"""raw AS (
  SELECT doc_id,
    CASE WHEN doc_id % 2 = 0
      THEN 'HTTPS://User@WWW.' || source || '.Example.CO.UK:443/Docs/'
           || CAST(doc_id AS VARCHAR) || '?utm_source=feed&z=26&a=1#frag'
      ELSE 'http://' || source || '.example.com:8080/a b/'
           || CAST(doc_id AS VARCHAR) || '/?gclid=1&b=2&a=1'
    END AS u
  FROM documents),
s1 AS (SELECT doc_id, string_split(trim(u), '#')[1] AS u0 FROM raw),
sch AS (SELECT doc_id, u0,
  lower(regexp_extract(u0, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
  regexp_replace(u0, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS rest FROM s1),
au AS (SELECT *, regexp_extract(rest, '^([^/?]*)', 1) AS auth,
  regexp_replace(rest, '^[^/?]*', '') AS after_auth FROM sch),
hp AS (SELECT *, string_split(auth, '@')[-1] AS hostport FROM au),
hp2 AS (SELECT *, lower(string_split(hostport, ':')[1]) AS host,
  CASE WHEN len(string_split(hostport, ':')) = 2
       THEN string_split(hostport, ':')[2] ELSE '' END AS port FROM hp),
nl AS (SELECT *,
  CASE WHEN port = '' OR (scheme = 'http' AND port = '80')
            OR (scheme = 'https' AND port = '443')
       THEN host ELSE host || ':' || port END AS netloc,
  CASE WHEN regexp_extract(after_auth, '^([^?]*)', 1) = '' THEN '/'
       ELSE regexp_extract(after_auth, '^([^?]*)', 1) END AS path,
  CASE WHEN contains(after_auth, '?')
       THEN regexp_replace(after_auth, '^[^?]*\\?', '') ELSE '' END AS query
  FROM hp2),
qn AS (SELECT *, array_to_string(list_sort(list_filter(
         string_split(query, '&'),
         p -> p <> '' AND NOT starts_with(string_split(p, '=')[1], 'utm_')
              AND string_split(p, '=')[1] NOT IN ({tracking}))), '&') AS q
  FROM nl)"""


#: the canonical-URL expression over the ``qn`` relation (SQL twin of
#: urls.url_normalize's final concat)
_SQL_URL_NORM_EXPR = (
    "CASE WHEN scheme <> '' THEN scheme || '://' || netloc || path || "
    "CASE WHEN q <> '' THEN '?' || q ELSE '' END END"
)


def _sql_url_canonicalize() -> str:
    from lotus_spark.functions.urls import _TWO_LEVEL_SUFFIXES

    suffixes = ", ".join(f"'{s}'" for s in _TWO_LEVEL_SUFFIXES)
    return f"""
WITH {_sql_url_norm_ctes()},
dom AS (SELECT *, string_split(host, '.') AS parts FROM qn)
SELECT doc_id,
  CASE WHEN scheme <> '' THEN scheme || '://' || netloc || path ||
       CASE WHEN q <> '' THEN '?' || q ELSE '' END END AS url_norm,
  CASE WHEN scheme <> '' THEN host END AS host,
  CASE WHEN scheme = '' THEN NULL
       WHEN len(parts) >= 3 AND array_to_string(
              parts[greatest(len(parts)-1, 1):], '.') IN ({suffixes})
       THEN array_to_string(parts[greatest(len(parts)-2, 1):], '.')
       WHEN len(parts) >= 2
       THEN array_to_string(parts[greatest(len(parts)-1, 1):], '.')
       ELSE host END AS domain
FROM dom
"""


_PQ_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}
_PQ_SEED = 3


def q_pipeline_quality(spark, sf_dir):
    """The r11 curation front-half COMPOSED (the new family end-to-end,
    one statement in DuckDB): canonical-URL exact dedup (url_normalize →
    min-id per canonical URL) → trained-quality-model gate (literal
    sigmoid ≥ 0.5) → fused `dedup_and_split` (ONE MinHash clustering
    pass elects the keep-best survivor AND assigns the leakage-safe
    split by cluster hash). Output: surviving doc_id + split."""
    from lotus_spark.functions.dedup import dedup_and_split, exact_dedup
    from lotus_spark.functions.quality_model import gate_by_quality_model
    from lotus_spark.functions.urls import url_normalize

    docs = _t(spark, sf_dir, "documents")
    d = docs.withColumn("__url", url_normalize(_messy_url_expr()))
    d = exact_dedup(d, "__url", "doc_id").drop("__url")
    d = gate_by_quality_model(d, "text", _QM_MODEL, threshold=0.5)
    d = dedup_and_split(
        d, "text", "doc_id", _PQ_WEIGHTS, keep_by="n_chars",
        seed=_PQ_SEED, n_hashes=16, bands=4, shingle_n=2,
        jaccard_threshold=0.5,
    )
    return d.select("doc_id", "split")


def _sql_pipeline_quality() -> str:
    w = _QM_MODEL["weights"]
    b = _QM_MODEL["bias"]
    labels = list(_PQ_WEIGHTS)
    norm = sum(_PQ_WEIGHTS.values())
    cum, bounds = 0.0, []
    for name in labels:
        cum += _PQ_WEIGHTS[name] / norm
        bounds.append(int(round(cum * _MIX_BUCKETS)))
    h = _sql_strhash(f"(CAST(comp AS VARCHAR) || ':{_PQ_SEED}')")
    bucket = f"({h} * {_MIX_CONST}) % {_MIX_BUCKETS}"
    split_case = f"'{labels[-1]}'"
    for name, hi in zip(reversed(labels[:-1]), reversed(bounds[:-1])):
        split_case = f"CASE WHEN {bucket} < {hi} THEN '{name}' ELSE {split_case} END"
    return f"""
WITH RECURSIVE
{_sql_url_norm_ctes()},
urln AS (SELECT doc_id, {_SQL_URL_NORM_EXPR} AS url_norm FROM qn),
uds AS (SELECT doc_id FROM (
          SELECT doc_id, row_number() OVER (
            PARTITION BY url_norm ORDER BY doc_id) AS rn FROM urln)
        WHERE rn = 1),
qm AS (SELECT doc_id,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE CAST(len(list_filter(toks, t -> list_contains({{STOP}}, t)))
              AS DOUBLE) / len(toks) END AS sw,
    CASE WHEN length(text) = 0 THEN 0.0
         ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
              AS DOUBLE) / length(text) END AS al,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE CAST(list_reduce(list_prepend(0, list_transform(toks,
              t -> length(t))), (a, x) -> a + x) AS DOUBLE) / len(toks)
         END AS atl,
    ln(1 + CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END) AS lt,
    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END AS ntok
  FROM (SELECT d0.doc_id, d0.text,
          string_split_regex(lower(trim(d0.text)), '\\s+') AS toks
        FROM documents d0 JOIN uds USING (doc_id))),
gated AS (SELECT d0.* FROM documents d0 JOIN qm USING (doc_id)
          WHERE ntok > 0
            AND 1.0 / (1.0 + exp(-({b} + ({w[0]}) * sw + ({w[1]}) * al
                + ({w[2]}) * atl + ({w[3]}) * lt))) >= 0.5),
{_sql_minhash_cc_ctes(src="gated", header=False)},
clus AS (SELECT g0.doc_id, g0.n_chars, COALESCE(r.comp, g0.doc_id) AS comp
         FROM gated g0 LEFT JOIN rep r ON g0.doc_id = r.id)
SELECT doc_id, {split_case} AS split FROM clus
QUALIFY row_number() OVER (
  PARTITION BY comp ORDER BY n_chars DESC NULLS LAST, doc_id ASC) = 1
""".replace("{STOP}", _STOP)


def _sql_leakage_safe_split() -> str:
    labels = list(_LSS_WEIGHTS)
    norm = sum(_LSS_WEIGHTS.values())
    cum, bounds = 0.0, []
    for name in labels:
        cum += _LSS_WEIGHTS[name] / norm
        bounds.append(int(round(cum * _MIX_BUCKETS)))
    h = _sql_strhash(f"(CAST(comp AS VARCHAR) || ':{_LSS_SEED}')")
    bucket = f"({h} * {_MIX_CONST}) % {_MIX_BUCKETS}"
    expr = f"'{labels[-1]}'"
    for name, hi in zip(reversed(labels[:-1]), reversed(bounds[:-1])):
        expr = f"CASE WHEN {bucket} < {hi} THEN '{name}' ELSE {expr} END"
    return _sql_minhash_cc_ctes() + f"""
, clus AS (
  SELECT d.doc_id, COALESCE(r.comp, d.doc_id) AS comp
  FROM documents d LEFT JOIN rep r ON d.doc_id = r.id)
SELECT doc_id, CAST(comp AS BIGINT) AS cluster_id, {expr} AS split
FROM clus
"""


def q_text_stats(spark, sf_dir):
    from lotus_spark.functions.text import (
        fingerprint,
        lang_id,
        quality_score,
        token_count,
        token_count_bpe,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count(F.col("text")).cast("long").alias("n_tokens"),
        token_count_bpe(F.col("text")).cast("long").alias("bpe_tokens"),
        quality_score(F.col("text")).alias("quality"),
        lang_id(F.col("text")).alias("lang_guess"),
        fingerprint(F.col("text")).alias("fp"),
    )


def q_contamination(spark, sf_dir):
    """Benchmark-contamination check: eval slice (doc_id < 50) vs the rest
    of the corpus as training data; fraction of each eval doc's word
    3-grams present anywhere in train."""
    from lotus_spark.functions.dedup import contamination_overlap

    docs = _t(spark, sf_dir, "documents")
    out = contamination_overlap(
        docs.filter(F.col("doc_id") >= 50),
        docs.filter(F.col("doc_id") < 50),
        "text", "doc_id", shingle_n=3,
    )
    return out


_SQL_CONTAMINATION = f"""
WITH d AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') words FROM documents
),
s AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    list_transform(range(1, greatest(len(words)-3, 0)+2),
                   i -> array_to_string(words[i:i+2], ' ')),
    g -> {_sql_strhash('g')}))) AS sh
  FROM d
),
t AS (SELECT DISTINCT sh FROM s WHERE doc_id >= 50),
e AS (SELECT doc_id, sh FROM s WHERE doc_id < 50),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM e GROUP BY doc_id),
h AS (SELECT doc_id, COUNT(*) AS hit FROM e WHERE sh IN (SELECT sh FROM t)
      GROUP BY doc_id)
SELECT sz.doc_id,
  ROUND(CAST(COALESCE(h.hit, 0) AS DOUBLE) / sz.sz, 6) AS contamination
FROM sz LEFT JOIN h ON sz.doc_id = h.doc_id
"""


_STOP = "['the', 'a', 'of', 'and', 'to', 'in', 'is']"
_EN = "['the', 'a', 'of', 'and', 'to']"
_ES = "['el', 'la', 'de', 'y', 'que']"
_FR = "['le', 'la', 'et', 'les', 'des']"


def q_asof_join(spark, sf_dir):
    """As-of join (custom operator — Spark has no native one; union+window
    implementation in functions/joins.py): each click event picks up the
    most recent prior error event of the same user. Oracle: DuckDB's
    native ASOF LEFT JOIN."""
    from lotus_spark.functions.joins import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "value")
    out = asof_join(clicks, errors, on="ts", by="user_id")
    # ts is timestamp[us] (NTZ); emit epoch-µs on both sides for comparison
    return out.select(
        "event_id", "user_id",
        F.unix_micros(F.col("ts_right").cast("timestamp")).alias("err_us"),
        F.col("value").alias("err_value"),
    )


_SQL_ASOF_JOIN = """
WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events
           WHERE event_type = 'click'),
r AS (SELECT user_id, epoch_us(ts) AS us, value FROM events
      WHERE event_type = 'error')
SELECT l.event_id, l.user_id, r.us AS err_us, r.value AS err_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.us >= r.us
"""


def q_range_join(spark, sf_dir):
    """Range (point-in-interval) join — custom operator (Spark's native plan
    for a non-equi join is BroadcastNestedLoopJoin): each click event joined
    to every error of the same user in the preceding 24 hours, via the
    bucketized equi-join in functions/joins.py. Oracle: DuckDB inequality
    join."""
    from lotus_spark.functions.joins import range_join

    ev = _t(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", us("ts").alias("p"))
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", us("ts").alias("lo"),
        (us("ts") + F.lit(86400 * 10**6)).alias("hi"))
    out = range_join(clicks, errors, "p", "lo", "hi", by="user_id")
    return out.select(
        "event_id", "user_id",
        F.col("lo").alias("err_us"),
        (F.col("p") - F.col("lo")).alias("delta_us"),
    )


_SQL_RANGE_JOIN = """
WITH l AS (SELECT event_id, user_id, epoch_us(ts) AS us FROM events
           WHERE event_type = 'click'),
r AS (SELECT user_id, epoch_us(ts) AS us FROM events
      WHERE event_type = 'error')
SELECT l.event_id, l.user_id, r.us AS err_us, l.us - r.us AS delta_us
FROM l JOIN r ON l.user_id = r.user_id
             AND l.us >= r.us AND l.us <= r.us + 86400000000
"""


def q_time_rollup(spark, sf_dir):
    """Hypertable-style multi-granularity rollup (functions/timeseries.py):
    hour/day/month aggregates of events by type in ONE raw-table pass —
    coarser grains cascade from the finest level's partials instead of
    re-scanning (or Expand-replicating) the fact table. Oracle: per-grain
    GROUP BY date_trunc UNION ALL."""
    from lotus_spark.functions.timeseries import time_rollup

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.col("ts").alias("tsc"),
        _dec("value").alias("v"),
    )
    out = time_rollup(
        ev, "tsc",
        {"n": ("v", "count"), "sv": ("v", "sum"),
         "mn": ("v", "min"), "mx": ("v", "max")},
        grains=("hour", "day", "month"), by="event_type",
    )
    return out.select(
        "grain",
        F.date_format("bucket", "yyyy-MM-dd HH:mm:ss").alias("bucket"),
        "event_type", "n",
        F.col("sv").cast("double").alias("sum_value"),
        F.col("mn").cast("double").alias("min_value"),
        F.col("mx").cast("double").alias("max_value"),
        (F.col("sv").cast("double") / F.col("n")).alias("avg_value"),
    )


_SQL_TIME_ROLLUP = """
WITH e AS (SELECT event_type, ts, CAST(value AS DECIMAL(12,2)) AS v
           FROM events),
h AS (SELECT 'hour' AS grain, date_trunc('hour', ts) AS b, event_type,
             COUNT(*) AS n, SUM(v) AS sv, MIN(v) AS mn, MAX(v) AS mx
      FROM e GROUP BY 1, 2, 3),
d AS (SELECT 'day', date_trunc('day', ts), event_type,
             COUNT(*), SUM(v), MIN(v), MAX(v) FROM e GROUP BY 1, 2, 3),
m AS (SELECT 'month', date_trunc('month', ts), event_type,
             COUNT(*), SUM(v), MIN(v), MAX(v) FROM e GROUP BY 1, 2, 3),
u AS (SELECT * FROM h UNION ALL SELECT * FROM d UNION ALL SELECT * FROM m)
SELECT grain, strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket, event_type, n,
       CAST(sv AS DOUBLE) AS sum_value, CAST(mn AS DOUBLE) AS min_value,
       CAST(mx AS DOUBLE) AS max_value, CAST(sv AS DOUBLE) / n AS avg_value
FROM u
"""


_MIX_BUCKETS = 1_000_003
_MIX_CONST = 2654435761
_MIX_RATES = {"en": 0.5, "de": 0.2, "fr": 1.0}


def q_quantile_filter(spark, sf_dir):
    """Quality-quantile gate (functions/sampling.py::quantile_filter):
    keep the top 40% by n_chars per language — exact percent_rank
    semantics (reproducible membership, unlike approx-quantile cutoffs).
    One hash shuffle on the group key."""
    from lotus_spark.functions.sampling import quantile_filter

    docs = _t(spark, sf_dir, "documents")
    return quantile_filter(
        docs, "n_chars", 0.4, by="lang", tiebreak="doc_id"
    ).select("doc_id", "lang", "n_chars")


_SQL_QUANTILE_FILTER = """
SELECT doc_id, lang, n_chars FROM (
  SELECT doc_id, lang, n_chars,
         percent_rank() OVER (PARTITION BY lang
                              ORDER BY n_chars DESC, doc_id) AS pr
  FROM documents)
WHERE pr <= 0.4
"""


def q_cap_per_key(spark, sf_dir):
    """Domain-mix rebalancing (functions/sampling.py::cap_per_key): at
    most 10 documents per source, best by n_chars — the row_number
    top-N-per-group shape (one shuffle on the key, partial window sort)."""
    from lotus_spark.functions.sampling import cap_per_key

    docs = _t(spark, sf_dir, "documents")
    return cap_per_key(
        docs, "source", 10, order_by="n_chars", tiebreak="doc_id"
    ).select("doc_id", "source", "n_chars")


_SQL_CAP_PER_KEY = """
SELECT doc_id, source, n_chars FROM (
  SELECT doc_id, source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars DESC, doc_id) AS rn
  FROM documents)
WHERE rn <= 10
"""


def q_span_dedup(spark, sf_dir):
    """Cross-document duplicated token-SPAN removal (Lee et al. 2022
    exact-substring dedup over word k-grams, functions/dedup.py::
    span_dedup): tokens covered by a non-first k-gram occurrence are
    removed, first occurrence = min (doc_id, position). Narrow
    (did, pos, xxhash64(gram)) shuffle, one co-partitioned join, text
    crosses one shuffle. Oracle replays the same rule over gram STRINGS
    (DuckDB has no xxhash64) — identical output absent 64-bit gram-hash
    collisions, which the exact==hashed unit test pins on fixtures."""
    from lotus_spark.functions.dedup import span_dedup

    docs = _t(spark, sf_dir, "documents")
    return span_dedup(docs, "text", "doc_id", k=6).select("doc_id", "text")


def _sql_span_dedup_ctes(srcrel: str, p: str, out: str) -> str:
    """CTE chain replaying span_dedup over relation ``srcrel`` (needs
    doc_id, text, + passthrough cols lang, source); CTE names prefixed
    with ``p``; final CTE ``out`` has the same columns with cleaned
    text. Shared by the standalone oracle and the composed pipelines."""
    return f"""
{p}toks AS (
  SELECT doc_id AS did, CAST(i - 1 AS INT) AS pos, parts[i] AS tok
  FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS parts
        FROM {srcrel}),
       LATERAL (SELECT unnest(range(1, len(parts) + 1)) AS i)),
{p}docs AS (SELECT did, list(tok ORDER BY pos) AS ts FROM {p}toks GROUP BY did),
{p}grams AS (
  SELECT did, CAST(s.i AS INT) AS pos,
         array_to_string(ts[s.i + 1 : s.i + 6], ' ') AS gram
  FROM {p}docs, LATERAL (SELECT unnest(range(0, len(ts) - 6 + 1)) AS i) AS s
  WHERE len(ts) >= 6),
{p}ranked AS (
  SELECT did, pos,
         row_number() OVER (PARTITION BY gram ORDER BY did, pos) AS rn
  FROM {p}grams),
{p}rm AS (
  SELECT DISTINCT did, pos + CAST(j.j AS INT) AS rp
  FROM {p}ranked, LATERAL (SELECT unnest(range(0, 6)) AS j) AS j
  WHERE rn > 1),
{p}rebuilt AS (
  SELECT t.did, string_agg(t.tok, ' ' ORDER BY t.pos) AS new_text
  FROM {p}toks t ANTI JOIN {p}rm ON t.did = {p}rm.did AND t.pos = {p}rm.rp
  GROUP BY t.did),
{out} AS (
  SELECT d.* REPLACE (
       CASE WHEN d.doc_id IN (SELECT did FROM {p}rm)
            THEN COALESCE(r.new_text, '') ELSE d.text END AS text)
  FROM {srcrel} d LEFT JOIN {p}rebuilt r ON d.doc_id = r.did)
"""


_SQL_SPAN_DEDUP = (
    "WITH sd_src AS (SELECT doc_id, text FROM documents),"
    + _sql_span_dedup_ctes("sd_src", "sd_", "sd_out")
    + "SELECT doc_id, text FROM sd_out"
)


def q_perplexity_bucket(spark, sf_dir):
    """CCNet-style perplexity bucketing (functions/sampling.py::
    perplexity_bucket): self-trained unigram LM cross-entropy per doc,
    ntile tiers per language over (rounded score, doc_id) — a total
    order, so assignment is deterministic. Scores rounded to 6 decimals
    before ranking absorb cross-engine float-sum-order differences
    (~1e-13 « the rounding quantum)."""
    from lotus_spark.functions.sampling import perplexity_bucket

    docs = _t(spark, sf_dir, "documents")
    return perplexity_bucket(
        docs, "text", "doc_id", group_col="lang", n_buckets=3
    ).select("doc_id", "lang", "logppl", "ppl_bucket")


def _sql_perplexity_ctes(srcrel: str, p: str, out: str) -> str:
    """CTE chain replaying perplexity_bucket (lang groups, 3 tiers) over
    ``srcrel`` (needs doc_id, lang, text + passthroughs); final CTE
    ``out`` = src columns + logppl + ppl_bucket. The unigram LM trains
    on ``srcrel`` itself, so in a composed pipeline it self-trains on
    the already-curated corpus — same as the Spark stage."""
    return f"""
{p}tk AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(coalesce(text, ''))), '\\s+'))
           AS tok
  FROM {srcrel}),
{p}c AS (SELECT tok, count(*) AS c FROM {p}tk GROUP BY tok),
{p}tt AS (SELECT sum(c) AS t FROM {p}c),
{p}s AS (
  SELECT tk.doc_id,
         round(ln((SELECT t FROM {p}tt)) - sum(ln(c.c)) / count(*), 6)
           AS logppl
  FROM {p}tk tk JOIN {p}c c ON tk.tok = c.tok
  GROUP BY tk.doc_id),
{out} AS (
  SELECT d.*, s.logppl,
         ntile(3) OVER (PARTITION BY d.lang
                        ORDER BY s.logppl, d.doc_id) AS ppl_bucket
  FROM {srcrel} d JOIN {p}s s ON d.doc_id = s.doc_id)
"""


_SQL_PERPLEXITY_BUCKET = (
    "WITH pp_src AS (SELECT doc_id, lang, text FROM documents),"
    + _sql_perplexity_ctes("pp_src", "pp_", "pp_out")
    + "SELECT doc_id, lang, logppl, ppl_bucket FROM pp_out"
)


def q_strip_boilerplate(spark, sf_dir):
    """Per-source boilerplate removal (RefinedWeb/CCNet line filtering,
    functions/dedup.py::strip_boilerplate): units appearing in >= 50% of
    a source's docs are stripped from every doc of that source. Units
    here are words (synthetic docs are single-line); the plan is
    identical at line granularity. Narrow (grp, did, pos, xxhash64)
    shuffle; text crosses one shuffle in reassembly."""
    from lotus_spark.functions.dedup import strip_boilerplate

    docs = _t(spark, sf_dir, "documents")
    return strip_boilerplate(
        docs, "text", "doc_id", "source", sep=" ", min_frac=0.5
    ).select("doc_id", "text")


def _sql_strip_boilerplate_ctes(srcrel: str, p: str, out: str) -> str:
    """CTE chain replaying strip_boilerplate (word units, min_frac=0.5,
    min_docs=2) over ``srcrel`` (needs doc_id, source, text +
    passthroughs); final CTE ``out`` = same columns, cleaned text."""
    return f"""
{p}allu AS (
  SELECT doc_id AS did, source AS grp, i - 1 AS pos, parts[i] AS orig
  FROM (SELECT doc_id, source, string_split(text, ' ') AS parts
        FROM {srcrel}),
       LATERAL (SELECT unnest(range(1, len(parts) + 1)) AS i)),
{p}uu AS (SELECT did, grp, pos, trim(orig) AS unit FROM {p}allu
       WHERE length(trim(orig)) >= 1),
{p}gs AS (SELECT source AS grp, count(*) AS gn FROM {srcrel} GROUP BY source),
{p}cnt AS (SELECT grp, unit, count(DISTINCT did) AS df
        FROM {p}uu GROUP BY grp, unit),
{p}b AS (SELECT c.grp, c.unit FROM {p}cnt c JOIN {p}gs ON c.grp = {p}gs.grp
      WHERE c.df >= 2 AND c.df >= {p}gs.gn * 0.5),
{p}rmpos AS (SELECT DISTINCT u.did, u.pos
          FROM {p}uu u JOIN {p}b ON u.grp = {p}b.grp AND u.unit = {p}b.unit),
{p}kept AS (
  SELECT a.did, string_agg(a.orig, ' ' ORDER BY a.pos) AS new_text
  FROM {p}allu a ANTI JOIN {p}rmpos r ON a.did = r.did AND a.pos = r.pos
  GROUP BY a.did),
{out} AS (
  SELECT d.* REPLACE (
       CASE WHEN d.doc_id IN (SELECT did FROM {p}rmpos)
            THEN COALESCE(k.new_text, '') ELSE d.text END AS text)
  FROM {srcrel} d LEFT JOIN {p}kept k ON d.doc_id = k.did)
"""


_SQL_STRIP_BOILERPLATE = (
    "WITH sb_src AS (SELECT doc_id, source, text FROM documents),"
    + _sql_strip_boilerplate_ctes("sb_src", "sb_", "sb_out")
    + "SELECT doc_id, text FROM sb_out"
)


def q_hash_split(spark, sf_dir):
    """Deterministic train/val/test split assignment (functions/
    sampling.py::hash_split): pure map-side content-hash bucketing, zero
    shuffle, split membership a function of doc_id only (stable across
    partitioning / retries / derived tables)."""
    from lotus_spark.functions.sampling import hash_split

    docs = _t(spark, sf_dir, "documents")
    return hash_split(
        docs, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}
    ).select("doc_id", "split")


def _sql_split_case() -> str:
    """The train/val/test CASE expression mirroring hash_split's 90/5/5
    bucketing — single source for the standalone oracle AND the composed
    pipeline_curate replica."""
    b1 = int(round(0.9 * _MIX_BUCKETS))
    b2 = int(round(0.95 * _MIX_BUCKETS))
    h = _sql_strhash("(CAST(doc_id AS VARCHAR) || ':0')")
    return (
        f"CASE WHEN ({h} * {_MIX_CONST}) % {_MIX_BUCKETS} < {b1} "
        f"THEN 'train' "
        f"WHEN ({h} * {_MIX_CONST}) % {_MIX_BUCKETS} < {b2} THEN 'val' "
        f"ELSE 'test' END"
    )


def _sql_hash_split() -> str:
    return f"""
SELECT doc_id, {_sql_split_case()} AS split
FROM documents
"""


_MIX_WEIGHTS = {"en": 5.0, "de": 2.0, "fr": 2.0, "es": 1.0}
_MIX_TOTAL = 200


def q_mix_to_weights(spark, sf_dir):
    """Deterministic domain-mix resample to target proportions
    (functions/sampling.py::mix_to_weights): exact largest-remainder
    quotas per lang, rows ranked by content hash within each lang — one
    hash shuffle + row_number partial window sort, quota map broadcast
    as a literal."""
    from lotus_spark.functions.sampling import mix_to_weights

    docs = _t(spark, sf_dir, "documents")
    return mix_to_weights(
        docs, "lang", _MIX_WEIGHTS, total=_MIX_TOTAL, id_col="doc_id"
    ).select("doc_id", "lang")


def _sql_mix_to_weights() -> str:
    from lotus_spark.functions.sampling import largest_remainder_quotas

    quotas = largest_remainder_quotas(_MIX_WEIGHTS, _MIX_TOTAL)
    case = " ".join(
        f"WHEN '{k}' THEN {v}" for k, v in sorted(quotas.items())
    )
    h = _sql_strhash("CAST(doc_id AS VARCHAR)")
    return f"""
WITH r AS (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY ({h} * {_MIX_CONST}) % {_MIX_BUCKETS}, doc_id) AS rn
  FROM documents
  WHERE lang IN ({", ".join(repr(k) for k in sorted(_MIX_WEIGHTS))}))
SELECT doc_id, lang FROM r
WHERE rn <= CASE lang {case} END
"""


def _sweep_stale_checkpoints(ck_dir: str, max_age_days: float = 7.0) -> None:
    """Best-effort eviction of checkpoint entries older than
    ``max_age_days`` — the composed pipelines key checkpoints by plan +
    code + data fingerprints, so every code or data change strands the
    previous keys; on a long-lived driver host /tmp would otherwise
    accumulate one parquet set per historical fingerprint."""
    import os
    import shutil
    import time

    try:
        cutoff = time.time() - max_age_days * 86400
        for name in os.listdir(ck_dir):
            path = os.path.join(ck_dir, name)
            if os.path.getmtime(path) < cutoff:
                shutil.rmtree(path, ignore_errors=True)
    except OSError:
        pass


def _source_token(sf_dir: str, table: str) -> str:
    """Checkpoint source identity = path + parquet size/mtime fingerprint:
    regenerating the table IN PLACE (same path, new content) changes the
    token, so plan-prefix checkpoint keys miss instead of silently
    resuming stage outputs computed from the old data."""
    import os

    path = f"{sf_dir}/{table}.parquet"
    try:
        if os.path.isdir(path):
            stats = sorted(
                (f, os.path.getsize(os.path.join(path, f)),
                 int(os.path.getmtime(os.path.join(path, f))))
                for f in os.listdir(path) if not f.startswith("_")
            )
        else:
            stats = [(table, os.path.getsize(path),
                      int(os.path.getmtime(path)))]
    except OSError:
        stats = []
    return f"{path}|{stats}"


def _pc_stage_boiler(df):
    from lotus_spark.functions.dedup import strip_boilerplate

    return strip_boilerplate(
        df, "text", "doc_id", "source", sep=" ", min_frac=0.5)


def _pc_stage_span(df):
    from lotus_spark.functions.dedup import span_dedup

    return span_dedup(df, "text", "doc_id", k=6)


def _pc_stage_ppl_gate(df):
    from lotus_spark.functions.sampling import perplexity_bucket

    return perplexity_bucket(
        df, "text", "doc_id", group_col="lang").filter(
        F.col("ppl_bucket") <= 2)


def _pc_stage_split(df):
    from lotus_spark.functions.sampling import hash_split

    return hash_split(df, "doc_id", {"train": 0.9, "val": 0.05,
                                     "test": 0.05})


def q_pipeline_curate(spark, sf_dir):
    """The round-5 curation operators composed as ONE LazyFrame — the
    end-to-end corpus-preparation shape nothing tests in isolation:

    1. ``strip_boilerplate`` — per-source ubiquitous-unit removal
       (checkpointed: the cross-doc frequency stage).
    2. ``span_dedup`` — cross-doc duplicated span removal over the
       BOILERPLATE-CLEANED text (checkpointed).
    3. ``perplexity_bucket`` — unigram-LM tiers self-trained on the
       curated corpus; drop the tail tier (keep buckets 1-2).
    4. ``hash_split`` — deterministic train/val/test labels.

    Stage order matters and the oracle replays it exactly: the span
    grams see post-boilerplate text, the LM trains on post-dedup text.
    Every stage is hash-checked standalone too; this row proves the
    composition under the plan layer (checkpoints + resume included)."""
    import hashlib
    import os
    import tempfile

    from lotus_spark.plans.lazyframe import LazyFrame

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text")
    lf = (
        LazyFrame()
        .from_fn(_pc_stage_boiler, checkpoint=True)
        .from_fn(_pc_stage_span, checkpoint=True)
        .from_fn(_pc_stage_ppl_gate)
        .from_fn(_pc_stage_split)
    )
    ck = os.path.join(
        tempfile.gettempdir(),
        "lotus_curate_ck_" + hashlib.blake2b(
            sf_dir.encode(), digest_size=6).hexdigest(),
    )
    _sweep_stale_checkpoints(ck)
    out = lf.execute(docs, checkpoint_dir=ck,
                     source_token=_source_token(sf_dir, "documents"))
    return out.select("doc_id", "lang", "split", "ppl_bucket", "text")


def _sql_pipeline_curate() -> str:
    return (
        "WITH c0 AS (SELECT doc_id, lang, source, text FROM documents),"
        + _sql_strip_boilerplate_ctes("c0", "cb_", "c1")
        + ","
        + _sql_span_dedup_ctes("c1", "cs_", "c2")
        + ","
        + _sql_perplexity_ctes("c2", "cp_", "c3")
        + f"""
SELECT doc_id, lang, {_sql_split_case()} AS split, ppl_bucket, text
FROM c3 WHERE ppl_bucket <= 2
"""
    )


def q_dedupe_doc_units(spark, sf_dir):
    """Within-document repeated-unit removal (C4/RefinedWeb line-dedup
    shape, functions/text.py::dedupe_doc_units): split → array_distinct
    (order-preserving) → join, pure codegen expressions. Units here are
    words (synthetic docs are single-line); the plan is identical at any
    unit granularity."""
    from lotus_spark.functions.text import dedupe_doc_units

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        dedupe_doc_units(F.col("text"), sep=" ").alias("deduped_text"),
    )


_SQL_DEDUPE_DOC_UNITS = """
WITH p AS (
  SELECT doc_id, i - 1 AS pos, parts[i] AS unit
  FROM (SELECT doc_id, string_split(text, ' ') AS parts FROM documents),
       LATERAL (SELECT unnest(range(1, len(parts) + 1)) AS i)),
w AS (SELECT *, row_number() OVER (PARTITION BY doc_id, unit
        ORDER BY pos) AS rn FROM p)
SELECT doc_id,
       COALESCE(string_agg(unit, ' ' ORDER BY pos)
                FILTER (WHERE rn = 1), '') AS deduped_text
FROM w GROUP BY doc_id
"""


def q_stratified_sample(spark, sf_dir):
    """Deterministic content-hash stratified sampling (data mixing): keep
    50% of en, 20% of de, all of fr, drop other langs — membership is a
    pure function of doc_id (rerun-stable under any partitioning, unlike
    seeded Bernoulli sampling). functions/sampling.py."""
    from lotus_spark.functions.sampling import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(
        docs, "lang", _MIX_RATES, "doc_id").select("doc_id", "lang")


_SQL_STRATIFIED_SAMPLE = f"""
WITH h AS (
  SELECT doc_id, lang,
    ({_sql_strhash('CAST(doc_id AS VARCHAR)')} * {_MIX_CONST})
      % {_MIX_BUCKETS} AS bucket
  FROM documents
)
SELECT doc_id, lang FROM h
WHERE bucket < CASE lang
  {' '.join(f"WHEN '{k}' THEN {int(round(v * _MIX_BUCKETS))}" for k, v in _MIX_RATES.items())}
  END
"""


def q_pack_sequences(spark, sf_dir):
    """GPT-style concat-and-chunk sequence packing over the documents
    token tape (ordered by doc_id, capacity 2048): which training
    sequence each document starts in, at what offset, spanning how many.
    Distributed prefix-sum, not a single-partition global window
    (functions/sampling.py). Oracle: DuckDB global window cumsum."""
    from lotus_spark.functions.sampling import pack_sequences
    from lotus_spark.functions.text import token_count

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count(F.col("text")).cast("long").alias("toks"))
    out = pack_sequences(docs, "toks", 2048, "doc_id")
    return out.select("doc_id", "toks", "seq_id", "seq_offset", "n_seqs")


_SQL_PACK_SEQUENCES = r"""
WITH t AS (
  SELECT doc_id,
    CASE WHEN trim(text) = '' THEN 0
         ELSE len(string_split_regex(trim(text), '\s+')) END AS toks
  FROM documents
),
c AS (
  SELECT doc_id, toks,
    SUM(toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT doc_id, toks,
  CAST((cum - toks) // 2048 AS BIGINT) AS seq_id,
  CAST((cum - toks) % 2048 AS BIGINT) AS seq_offset,
  CAST((CASE WHEN toks > 0 THEN (cum - 1) // 2048
        ELSE (cum - toks) // 2048 END) - (cum - toks) // 2048 + 1 AS BIGINT) AS n_seqs
FROM c
"""


def q_pipeline_clean(spark, sf_dir):
    """End-to-end pretraining-corpus cleaning pipeline composed as ONE lazy
    Spark plan — the north-star composition of the training-data operators:

    1. Gopher-style quality gate (``functions/text.py::gopher_keep``) — pure
       Column expressions, evaluated inside the scan's codegen stage; at
       100 TB this is a map-only pass with zero shuffle.
    2. Exact content dedup on the polynomial text fingerprint
       (``functions/dedup.py::exact_dedup``) — one narrow (fp, id) hash
       shuffle, min-id row wins.
    3. Benchmark-contamination filter vs the eval slice (doc_id < 50):
       fraction of each survivor's hashed word 3-grams present in the eval
       set (``contamination_overlap`` with roles swapped) — the eval
       shingle relation is tiny and broadcasts, so the corpus side is one
       map-side semi-join probe.
    4. GPT-style concat-and-chunk sequence packing of the clean corpus
       (``functions/sampling.py::pack_sequences``) — distributed
       prefix-sum via repartitionByRange, no single-partition global
       window.

    Reference parity: composes the reference's cleaning-adjacent surface
    (dedup `lotus/sem_ops/sem_dedup.py`, filters) with the standard
    pretraining pipeline stages (Gopher quality, contamination, packing).
    """
    from lotus_spark.functions.dedup import contamination_overlap, exact_dedup
    from lotus_spark.functions.sampling import pack_sequences
    from lotus_spark.functions.text import (
        fingerprint,
        gopher_keep,
        token_count,
    )

    docs = _t(spark, sf_dir, "documents")
    eval_slice = docs.filter(F.col("doc_id") < 50)
    train = docs.filter(F.col("doc_id") >= 50)
    kept = train.filter(gopher_keep(F.col("text"), min_words=20))
    # multi-consumer intermediates persist: `deduped` feeds both the
    # contamination probe and the final join (no cross-branch exchange
    # reuse in Spark), and `clean` is scanned twice by the prefix-sum
    # (per-partition totals job + final). Without these the gopher+dedup
    # subplan re-executes up to 4x.
    deduped = exact_dedup(
        kept.withColumn("fp", fingerprint(F.col("text"))), "fp", "doc_id"
    ).persist()
    cont = contamination_overlap(
        eval_slice, deduped, "text", "doc_id", shingle_n=3
    )
    clean = (
        deduped.join(cont, "doc_id")
        .filter(F.col("contamination") <= 0.5)
        .select(
            "doc_id",
            token_count(F.col("text")).cast("long").alias("toks"),
            "contamination",
        )
        .persist()
    )
    out = pack_sequences(clean, "toks", 2048, "doc_id")
    return out.select(
        "doc_id", "toks", "contamination", "seq_id", "seq_offset", "n_seqs"
    )


_SQL_PIPELINE_CLEAN = f"""
WITH d AS (
  SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') toks FROM documents
  WHERE doc_id >= 50
),
g AS (
  SELECT doc_id, text, toks,
    list_transform(range(1, greatest(len(toks)-2, 0)+2),
                   i -> array_to_string(toks[i:i+1], ' ')) AS grams,
    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END AS n_tokens
  FROM d
),
m AS (
  SELECT doc_id, text, n_tokens,
    CASE WHEN len(grams) <= 0 THEN 0.0
         ELSE ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6) END AS dup2,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE CAST(list_reduce(list_prepend(0, list_transform(toks, t -> length(t))), (a, x) -> a + x) AS DOUBLE) / len(toks) END AS atl,
    len(list_filter(toks, t -> list_contains({_STOP}, t))) AS stop_hits,
    CASE WHEN n_tokens = 0 THEN 0.0
         ELSE ROUND(CAST((length(text) - length(replace(text, '#', ''))) + (length(text) - length(replace(text, '...', ''))) / 3 AS DOUBLE) / n_tokens, 6) END AS symr
  FROM g
),
kept AS (
  SELECT doc_id, text FROM m
  WHERE n_tokens >= 20 AND n_tokens <= 100000 AND atl >= 3.0 AND atl <= 10.0
    AND stop_hits >= 2 AND symr <= 0.1 AND dup2 <= 0.2
),
dd AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text,
      row_number() OVER (PARTITION BY {_sql_strhash('text')} ORDER BY doc_id) AS rn
    FROM kept
  ) WHERE rn = 1
),
ew AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') words
       FROM documents WHERE doc_id < 50),
et AS (SELECT DISTINCT unnest(list_distinct(list_transform(
         list_transform(range(1, greatest(len(words)-3, 0)+2),
                        i -> array_to_string(words[i:i+2], ' ')),
         g -> {_sql_strhash('g')}))) AS sh FROM ew),
dw AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') words FROM dd),
sp AS (SELECT doc_id, unnest(list_distinct(list_transform(
         list_transform(range(1, greatest(len(words)-3, 0)+2),
                        i -> array_to_string(words[i:i+2], ' ')),
         g -> {_sql_strhash('g')}))) AS sh FROM dw),
sz AS (SELECT doc_id, COUNT(*) AS sz FROM sp GROUP BY doc_id),
h AS (SELECT doc_id, COUNT(*) AS hit FROM sp WHERE sh IN (SELECT sh FROM et)
      GROUP BY doc_id),
cont AS (SELECT sz.doc_id,
           ROUND(CAST(COALESCE(h.hit, 0) AS DOUBLE) / sz.sz, 6) AS contamination
         FROM sz LEFT JOIN h ON sz.doc_id = h.doc_id),
clean AS (
  SELECT dd.doc_id,
    CASE WHEN trim(dd.text) = '' THEN 0
         ELSE len(string_split_regex(trim(dd.text), '\\s+')) END AS toks,
    cont.contamination
  FROM dd JOIN cont ON dd.doc_id = cont.doc_id
  WHERE cont.contamination <= 0.5
),
c AS (
  SELECT doc_id, toks, contamination,
    SUM(toks) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
  FROM clean
)
SELECT doc_id, CAST(toks AS BIGINT) AS toks, contamination,
  CAST((cum - toks) // 2048 AS BIGINT) AS seq_id,
  CAST((cum - toks) % 2048 AS BIGINT) AS seq_offset,
  CAST((CASE WHEN toks > 0 THEN (cum - 1) // 2048
        ELSE (cum - toks) // 2048 END) - (cum - toks) // 2048 + 1 AS BIGINT) AS n_seqs
FROM c
"""


# -- composed corpus-curation pipeline as ONE LazyFrame with checkpoints ----
#
# Stage functions are module-level so their checkpoint identities
# (callable_token: module.qualname + bytecode digest) are stable across
# processes — a driver re-run after a mid-pipeline failure resumes from
# the last completed stage instead of re-paying the dedup.

def _pp_stage_dedup(df):
    from lotus_spark.functions.dedup import minhash_lsh_dedup

    return minhash_lsh_dedup(
        df, "text", "doc_id", n_hashes=16, bands=4, shingle_n=2,
        jaccard_threshold=0.5,
    )


def _pp_stage_gate(df):
    from lotus_spark.functions.text import gopher_keep

    return df.filter(gopher_keep(F.col("text"), min_words=20))


def _pp_stage_quantile(df):
    from lotus_spark.functions.sampling import quantile_filter

    return quantile_filter(df, "n_chars", 0.6, by="lang", tiebreak="doc_id")


def _pp_stage_pack(df):
    from lotus_spark.functions.sampling import pack_sequences
    from lotus_spark.functions.text import token_count

    d = df.select(
        "doc_id", "lang",
        token_count(F.col("text")).cast("long").alias("toks"),
    )
    return pack_sequences(d, "toks", 2048, "doc_id").select(
        "doc_id", "lang", "toks", "seq_id", "seq_offset", "n_seqs"
    )


def q_pipeline_pack(spark, sf_dir):
    """End-to-end corpus-curation pipeline composed as a single LazyFrame
    (plans/lazyframe.py) with plan-prefix checkpoints ON — proving the
    training-data operators compose under the plan layer, not just in
    isolation (the reference's pipelines are compositions,
    ``lotus/ast/lazyframe.py:83-131``):

    1. MinHash-LSH near-dup removal (``functions/dedup.py``) —
       checkpointed: the expensive stage a production re-run must never
       re-pay.
    2. Gopher quality gate (``functions/text.py::gopher_keep``) — pure
       codegen map, no checkpoint needed.
    3. Per-language quality-quantile gate: keep top 60% by ``n_chars``
       (``functions/sampling.py::quantile_filter``, distributed exact
       rank) — checkpointed.
    4. GPT-style sequence packing (``pack_sequences``, distributed
       prefix-sum).

    Checkpoint resume is exercised end-to-end in
    ``tests/test_plans.py::test_from_fn_checkpoint_resume_mid_pipeline``
    (mid-pipeline kill → re-run skips completed stages)."""
    import hashlib
    import os
    import tempfile

    from lotus_spark.plans.lazyframe import LazyFrame

    docs = _t(spark, sf_dir, "documents")
    lf = (
        LazyFrame()
        .from_fn(_pp_stage_dedup, checkpoint=True)
        .from_fn(_pp_stage_gate)
        .from_fn(_pp_stage_quantile, checkpoint=True)
        .from_fn(_pp_stage_pack)
    )
    # STABLE dir keyed by sf_dir (not mkdtemp-per-call): re-runs against
    # the same source actually resume from the dedup/quantile checkpoints
    # instead of leaking a fresh orphaned checkpoint set every invocation
    ck = os.path.join(
        tempfile.gettempdir(),
        "lotus_pipeline_ck_" + hashlib.blake2b(
            sf_dir.encode(), digest_size=6).hexdigest(),
    )
    _sweep_stale_checkpoints(ck)
    return lf.execute(docs, checkpoint_dir=ck,
                      source_token=_source_token(sf_dir, "documents"))


def _sql_pipeline_pack() -> str:
    """DuckDB replica of the full composed pipeline: minhash-LSH
    survivors (shared CTE stack) → gopher gate (same fragments as
    ``_SQL_QUALITY_SIGNALS``) → per-lang percent_rank ≤ 0.6 → global
    cumsum packing (same fragments as ``_SQL_PACK_SEQUENCES``)."""
    return _sql_minhash_cc_ctes() + f""",
surv AS (SELECT doc_id FROM documents
         WHERE doc_id NOT IN (SELECT id FROM rep WHERE comp < id)),
pd AS (SELECT doc_id, lang, n_chars, text,
              string_split_regex(lower(trim(text)), '\\s+') toks
       FROM documents WHERE doc_id IN (SELECT doc_id FROM surv)),
pg AS (
  SELECT doc_id, lang, n_chars, text, toks,
    list_transform(range(1, greatest(len(toks)-2, 0)+2),
                   i -> array_to_string(toks[i:i+1], ' ')) AS grams,
    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END AS n_tokens
  FROM pd),
pm AS (
  SELECT doc_id, lang, n_chars, n_tokens,
    CASE WHEN len(grams) <= 0 THEN 0.0
         ELSE ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6) END AS dup2,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE CAST(list_reduce(list_prepend(0, list_transform(toks, t -> length(t))), (a, x) -> a + x) AS DOUBLE) / len(toks) END AS atl,
    len(list_filter(toks, t -> list_contains({_STOP}, t))) AS stop_hits,
    CASE WHEN n_tokens = 0 THEN 0.0
         ELSE ROUND(CAST((length(text) - length(replace(text, '#', ''))) + (length(text) - length(replace(text, '...', ''))) / 3 AS DOUBLE) / n_tokens, 6) END AS symr
  FROM pg),
pk AS (SELECT doc_id, lang, n_chars, n_tokens FROM pm
       WHERE n_tokens >= 20 AND n_tokens <= 100000
         AND atl >= 3.0 AND atl <= 10.0
         AND stop_hits >= 2 AND symr <= 0.1 AND dup2 <= 0.2),
pq AS (SELECT doc_id, lang, n_tokens FROM (
         SELECT doc_id, lang, n_tokens,
                percent_rank() OVER (PARTITION BY lang
                                     ORDER BY n_chars DESC, doc_id) AS pr
         FROM pk) WHERE pr <= 0.6),
pc AS (SELECT doc_id, lang, n_tokens AS toks,
              SUM(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum
       FROM pq)
SELECT doc_id, lang, toks,
  CAST((cum - toks) // 2048 AS BIGINT) AS seq_id,
  CAST((cum - toks) % 2048 AS BIGINT) AS seq_offset,
  CAST((CASE WHEN toks > 0 THEN (cum - 1) // 2048
        ELSE (cum - toks) // 2048 END) - (cum - toks) // 2048 + 1 AS BIGINT) AS n_seqs
FROM pc
"""


def q_data_quality_report(spark, sf_dir):
    """Declarative data-quality expectations
    (functions/expectations.py, NEW r11 — the dbt-tests /
    Great-Expectations slot): a six-constraint suite over orders
    (not_null, unique, in_set, two in_range tiers — one deliberately
    failing — and a regex match) evaluated in ONE aggregate pass (each
    constraint is a conditional count in the same global agg;
    uniqueness rides the same pass as a distinct count; no joins, no
    second scan — plan-pinned in tests). The oracle replays every
    conditional count + the pass rule in one DuckDB statement."""
    from lotus_spark.functions.expectations import check_expectations

    orders = _t(spark, sf_dir, "orders")
    suite = [
        {"check": "not_null", "col": "o_orderkey"},
        {"check": "unique", "col": "o_orderkey"},
        {"check": "in_set", "col": "o_orderstatus",
         "values": ["O", "F", "P"]},
        {"check": "in_range", "col": "o_totalprice", "min": 0.0},
        {"check": "in_range", "col": "o_totalprice", "max": 100000.0},
        {"check": "matches", "col": "o_orderpriority",
         "pattern": "^[1-5]-"},
    ]
    return check_expectations(orders, suite).orderBy("check", "violations")


_SQL_DATA_QUALITY = """
WITH g AS (
  SELECT COUNT(*) AS n,
    COUNT(CASE WHEN o_orderkey IS NULL THEN 1 END) AS v0,
    COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS v1,
    COUNT(CASE WHEN o_orderstatus IS NOT NULL
               AND o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 END) AS v2,
    COUNT(CASE WHEN o_totalprice IS NOT NULL
               AND o_totalprice < 0.0 THEN 1 END) AS v3,
    COUNT(CASE WHEN o_totalprice IS NOT NULL
               AND o_totalprice > 100000.0 THEN 1 END) AS v4,
    COUNT(CASE WHEN o_orderpriority IS NOT NULL
               AND NOT regexp_matches(o_orderpriority, '^[1-5]-')
               THEN 1 END) AS v5
  FROM orders)
SELECT * FROM (
  SELECT 'not_null(o_orderkey)' AS "check", v0 AS violations,
         n AS n_rows, v0 = 0 AS passed FROM g
  UNION ALL SELECT 'unique(o_orderkey)', v1, n, v1 = 0 FROM g
  UNION ALL SELECT 'in_set(o_orderstatus)', v2, n, v2 = 0 FROM g
  UNION ALL SELECT 'in_range(o_totalprice,0.0,None)', v3, n, v3 = 0 FROM g
  UNION ALL SELECT 'in_range(o_totalprice,None,100000.0)', v4, n,
            v4 = 0 FROM g
  UNION ALL SELECT 'matches(o_orderpriority)', v5, n, v5 = 0 FROM g
) ORDER BY "check", violations
"""


def q_profile(spark, sf_dir):
    """One-pass multi-column data-QA profiler (functions/profile.py):
    rows/nulls/distinct/min/max/mean/exact-p50 for lineitem measure +
    key + flag columns in a single aggregation. Measures pre-cast to
    decimal so mean sums are accumulation-order exact."""
    from lotus_spark.functions.profile import profile_columns

    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        _dec("l_quantity").alias("l_quantity"),
        _dec("l_extendedprice").alias("l_extendedprice"),
        _dec("l_discount").alias("l_discount"),
        "l_returnflag",
    )
    return profile_columns(li)


_SQL_PROFILE = """
WITH t AS (
  SELECT l_orderkey,
         CAST(l_quantity AS DECIMAL(12,2)) AS l_quantity,
         CAST(l_extendedprice AS DECIMAL(12,2)) AS l_extendedprice,
         CAST(l_discount AS DECIMAL(12,2)) AS l_discount,
         l_returnflag
  FROM lineitem
), n AS (
  SELECT 'l_orderkey' AS column, COUNT(*) AS n_rows,
         COUNT(*) - COUNT(l_orderkey) AS n_nulls,
         COUNT(DISTINCT l_orderkey) AS n_distinct,
         CAST(MIN(l_orderkey) AS DOUBLE) AS min,
         CAST(MAX(l_orderkey) AS DOUBLE) AS max,
         CAST(SUM(l_orderkey) AS DOUBLE) / COUNT(l_orderkey) AS mean,
         CAST(quantile_cont(l_orderkey, 0.5) AS DOUBLE) AS p50
  FROM t
  UNION ALL
  SELECT 'l_quantity', COUNT(*), COUNT(*) - COUNT(l_quantity),
         COUNT(DISTINCT l_quantity), CAST(MIN(l_quantity) AS DOUBLE),
         CAST(MAX(l_quantity) AS DOUBLE),
         CAST(SUM(l_quantity) AS DOUBLE) / COUNT(l_quantity),
         quantile_cont(CAST(l_quantity AS DOUBLE), 0.5)
  FROM t
  UNION ALL
  SELECT 'l_extendedprice', COUNT(*), COUNT(*) - COUNT(l_extendedprice),
         COUNT(DISTINCT l_extendedprice), CAST(MIN(l_extendedprice) AS DOUBLE),
         CAST(MAX(l_extendedprice) AS DOUBLE),
         CAST(SUM(l_extendedprice) AS DOUBLE) / COUNT(l_extendedprice),
         quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.5)
  FROM t
  UNION ALL
  SELECT 'l_discount', COUNT(*), COUNT(*) - COUNT(l_discount),
         COUNT(DISTINCT l_discount), CAST(MIN(l_discount) AS DOUBLE),
         CAST(MAX(l_discount) AS DOUBLE),
         CAST(SUM(l_discount) AS DOUBLE) / COUNT(l_discount),
         quantile_cont(CAST(l_discount AS DOUBLE), 0.5)
  FROM t
  UNION ALL
  SELECT 'l_returnflag', COUNT(*), COUNT(*) - COUNT(l_returnflag),
         COUNT(DISTINCT l_returnflag), NULL, NULL, NULL, NULL
  FROM t
)
SELECT * FROM n
"""


_BM25_QUERY = "spark window merge join"


def q_bm25_search(spark, sf_dir):
    """Lexical BM25 top-10 over documents (functions/bm25.py): postings /
    doc-length / term-df relations from one scan, per-query broadcast
    semi-join on the query terms, order-independent decimal score
    accumulation. Oracle: full Okapi BM25 replicated in SQL."""
    from lotus_spark.functions.bm25 import bm25_search

    docs = _t(spark, sf_dir, "documents")
    out = bm25_search(docs, "text", "doc_id", _BM25_QUERY, k=10)
    return out.select("doc_id", F.round("score", 6).alias("score"))


def q_bm25_index_search(spark, sf_dir):
    """Lexical retrieval against the PERSISTED BM25 inverted index
    (functions/bm25_store.py, NEW r11 — the serving path: write once,
    append daily, every query reads only its terms' bucket partitions):
    index the even docs, APPEND the odd docs (postings/doclens append +
    verified termdf rewrite + sidecar stats update), then search the
    standard query. Stored-path scoring shares the in-hand plan's Okapi
    expressions and decimal accumulation, and N/avgdl come from the
    sidecar instead of a per-query aggregate — a hash match against the
    same full-corpus SQL oracle as `bm25_search` proves write + append +
    bucket-pruned serving agree with the one-shot plan bit for bit."""
    import shutil
    import tempfile

    from lotus_spark.functions.bm25_store import (
        append_bm25_index, bm25_search_index, write_bm25_index,
    )

    docs = _t(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="bm25_idx_")
    try:
        path = f"{d}/idx"
        write_bm25_index(docs.filter("doc_id % 2 = 0"), path,
                         "text", "doc_id", n_buckets=16)
        append_bm25_index(spark, path, docs.filter("doc_id % 2 = 1"))
        out = bm25_search_index(spark, path, _BM25_QUERY, k=10)
        return spark.createDataFrame(
            [(r["doc_id"], r["score"]) for r in out.collect()],
            "doc_id long, score double",
        ).select("doc_id", F.round("score", 6).alias("score"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _sql_bm25_common(terms: list[str]) -> str:
    """The BM25 oracle relations parameterized by the query's term list
    (the module-level ``_SQL_BM25_COMMON`` is the standard-query
    instance)."""
    return ",\n".join(_sql_bm25_parts(terms))


def _sql_bm25_parts(terms: list[str], p: str = "") -> list[str]:
    """:func:`_sql_bm25_common` as CTE entries: the query-independent
    encode relations and corpus stats, then the query's scoring CTEs
    named ``{p}q``/``{p}hits``/``{p}part``/``{p}bm``."""
    lst = ", ".join(f"'{t}'" for t in terms)
    return [_SQL_BM25_RELATIONS, _SQL_BM25_STATS,
            _SQL_BM25_QUERY_TMPL.replace("@TERMS@", lst)
            .replace("@P@", p)]


# the encode relations alone (tokenize -> postings/doclens/termdf) —
# shared by the query template below and the stored-index-stats oracle,
# which aggregates the relations' geometry with no query in play
_SQL_BM25_RELATIONS = r"""
tok AS (SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
        FROM documents),
post AS (SELECT term, doc_id, COUNT(*) AS tf FROM tok WHERE term != ''
         GROUP BY 1, 2),
dlen AS (SELECT doc_id, COUNT(*) AS dl FROM tok WHERE term != '' GROUP BY 1),
tdf AS (SELECT term, COUNT(*) AS df FROM post GROUP BY 1)"""

_SQL_BM25_STATS = r"""g AS (SELECT COUNT(*) AS n, CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
      FROM dlen)"""

_SQL_BM25_QUERY_TMPL = r"""@P@q AS (SELECT unnest([@TERMS@]) AS term),
@P@hits AS (SELECT p.doc_id, p.tf, t.df, l.dl
         FROM post p JOIN @P@q USING (term) JOIN tdf t USING (term)
         JOIN dlen l USING (doc_id)),
@P@part AS (SELECT doc_id,
           CAST(ROUND(
             ln(1 + (g.n - df + 0.5) / (df + 0.5))
             * (tf * (1.0 + 1.2))
             / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / g.avgdl)), 9)
           AS DECIMAL(28,10)) AS p
         FROM @P@hits, g),
@P@bm AS (SELECT doc_id, CAST(SUM(p) AS DOUBLE) AS score FROM @P@part
       GROUP BY doc_id)
"""

_BM25_TERMS = ["spark", "window", "merge", "join"]
_SQL_BM25_COMMON = _sql_bm25_common(_BM25_TERMS)

_SQL_BM25 = f"""
WITH {_SQL_BM25_COMMON}
SELECT doc_id, ROUND(score, 6) AS score FROM bm
ORDER BY score DESC, doc_id LIMIT 10
"""


def q_hybrid_search(spark, sf_dir):
    """Hybrid retrieval: reciprocal-rank fusion of the BM25 top-20 and
    the embedding-cosine top-20 (doc_id ≡ vec_id in the synthetic data).
    Rank fusion sidesteps calibrating incomparable score scales."""
    from lotus_spark.functions.ann import knn_topk
    from lotus_spark.functions.bm25 import bm25_search, rrf_fuse

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    lex = bm25_search(docs, "text", "doc_id", _BM25_QUERY, k=20)
    vec = (
        knn_topk(emb, "embedding", _query_vec(spark, sf_dir), k=20,
                 id_col="vec_id")
        .select(F.col("vec_id").alias("doc_id"), "score")
    )
    out = rrf_fuse([lex, vec], "doc_id", k=10)
    return out.select("doc_id", F.round("rrf_score", 6).alias("rrf_score"))


_SQL_HYBRID_TMPL = f"""
WITH {_SQL_BM25_COMMON},
lex AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r
        FROM (SELECT * FROM bm ORDER BY score DESC, doc_id LIMIT 20)),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
qv AS (SELECT v AS qvec FROM e WHERE vec_id = 0),
vs AS (SELECT vec_id AS doc_id, {{cos}} AS score FROM e, qv
       ORDER BY score DESC, vec_id LIMIT 20),
vec AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r
        FROM vs),
fused AS (
  SELECT COALESCE(lex.doc_id, vec.doc_id) AS doc_id,
    COALESCE(1.0 / (60 + lex.r), 0.0) + COALESCE(1.0 / (60 + vec.r), 0.0)
      AS rrf_score
  FROM lex FULL OUTER JOIN vec ON lex.doc_id = vec.doc_id
)
SELECT doc_id, ROUND(rrf_score, 6) AS rrf_score FROM fused
ORDER BY rrf_score DESC, doc_id LIMIT 10
"""
_SQL_HYBRID = _SQL_HYBRID_TMPL.format(cos=_sql_cosine("e.v", "qv.qvec"))


def q_quality_signals(spark, sf_dir):
    """Training-data quality pipeline signals (Gopher/C4-style): duplicate
    n-gram / line repetition, PII pattern counts, and the composite
    gopher_keep gate — all pure Column expressions (whole-stage codegen)."""
    from lotus_spark.functions.text import (
        dup_line_ratio,
        dup_ngram_ratio,
        gopher_keep,
        pii_count,
    )

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        dup_ngram_ratio(F.col("text"), 2).alias("dup2"),
        dup_line_ratio(F.col("text")).alias("dup_lines"),
        pii_count(F.col("text"), "emails").cast("long").alias("emails"),
        pii_count(F.col("text"), "ipv4s").cast("long").alias("ipv4s"),
        pii_count(F.col("text"), "phones").cast("long").alias("phones"),
        gopher_keep(F.col("text"), min_words=20).alias("keep"),
    )


_SQL_QUALITY_SIGNALS = f"""
WITH d AS (
  SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') toks FROM documents
),
g AS (
  SELECT doc_id, text, toks,
    list_transform(range(1, greatest(len(toks)-2, 0)+2),
                   i -> array_to_string(toks[i:i+1], ' ')) AS grams,
    string_split(text, chr(10)) AS lines,
    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END AS n_tokens
  FROM d
),
m AS (
  SELECT doc_id, text, toks, n_tokens,
    CASE WHEN len(grams) <= 0 THEN 0.0
         ELSE ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6) END AS dup2,
    CASE WHEN len(lines) <= 0 THEN 0.0
         ELSE ROUND(1.0 - CAST(len(list_distinct(lines)) AS DOUBLE) / len(lines), 6) END AS dup_lines,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE CAST(list_reduce(list_prepend(0, list_transform(toks, t -> length(t))), (a, x) -> a + x) AS DOUBLE) / len(toks) END AS atl,
    len(list_filter(toks, t -> list_contains({_STOP}, t))) AS stop_hits,
    CASE WHEN n_tokens = 0 THEN 0.0
         ELSE ROUND(CAST((length(text) - length(replace(text, '#', ''))) + (length(text) - length(replace(text, '...', ''))) / 3 AS DOUBLE) / n_tokens, 6) END AS symr
  FROM g
)
SELECT doc_id, dup2, dup_lines,
  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}')) AS BIGINT) AS emails,
  CAST(len(regexp_extract_all(text, '[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}\\.[0-9]{{1,3}}')) AS BIGINT) AS ipv4s,
  CAST(len(regexp_extract_all(text, '[0-9]{{3}}[-.][0-9]{{3}}[-.][0-9]{{4}}')) AS BIGINT) AS phones,
  (n_tokens >= 20 AND n_tokens <= 100000 AND atl >= 3.0 AND atl <= 10.0
   AND stop_hits >= 2 AND symr <= 0.1 AND dup2 <= 0.2) AS keep
FROM m
"""


def q_embedding_neardup(spark, sf_dir):
    """Embedding-cosine near-dup pairs, blocked by label (the scale path:
    block-local self-join, one shuffle on the block key)."""
    from lotus_spark.functions.dedup import embedding_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_neardup_pairs(
        emb, "embedding", "vec_id", threshold=0.35, block_col="label"
    )


_SQL_EMB_NEARDUP = f"""
WITH e0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v FROM embeddings),
e AS (
  SELECT vec_id, label,
    CASE WHEN {_sql_norm('v')} = 0 THEN v
         ELSE list_transform(v, x -> x / {_sql_norm('v')}) END AS u
  FROM e0
)
SELECT a.vec_id AS a, b.vec_id AS b, ROUND({_sql_dot('a.u', 'b.u')}, 6) AS score
FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE {_sql_dot('a.u', 'b.u')} >= 0.35
"""


_SQL_TEXT_STATS = f"""
WITH d AS (
  SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') toks FROM documents
),
m AS (
  SELECT doc_id, text, toks,
    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END AS n_tokens,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE CAST(len(list_filter(toks, t -> list_contains({_STOP}, t))) AS DOUBLE) / len(toks) END AS sw,
    CASE WHEN length(text) = 0 THEN 0.0
         ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) END AS al,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE CAST(list_reduce(list_prepend(0, list_transform(toks, t -> length(t))), (a, x) -> a + x) AS DOUBLE) / len(toks) END AS atl,
    len(list_filter(toks, t -> list_contains({_EN}, t))) AS c_en,
    len(list_filter(toks, t -> list_contains({_ES}, t))) AS c_es,
    len(list_filter(toks, t -> list_contains({_FR}, t))) AS c_fr
  FROM d
)
SELECT doc_id,
  CAST(n_tokens AS BIGINT) AS n_tokens,
  CAST(len(regexp_extract_all(text, '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^\\sA-Za-z0-9]+|\\s+')) AS BIGINT) AS bpe_tokens,
  ROUND(0.4 * least(sw * 5.0, 1.0) + 0.4 * al + 0.2 * (CASE WHEN atl >= 3.0 AND atl <= 10.0 THEN 1.0 ELSE 0.0 END), 4) AS quality,
  CASE WHEN greatest(c_en, c_es, c_fr) > 0 AND c_en = greatest(c_en, c_es, c_fr) THEN 'en'
       WHEN greatest(c_en, c_es, c_fr) > 0 AND c_es = greatest(c_en, c_es, c_fr) THEN 'es'
       WHEN greatest(c_en, c_es, c_fr) > 0 AND c_fr = greatest(c_en, c_es, c_fr) THEN 'fr'
       ELSE 'und' END AS lang_guess,
  {_sql_strhash('text')} AS fp
FROM m
"""


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def q_filter_reorder(spark, sf_dir):
    """FilterReorderOptimizer on a two-sem_filter conjunction
    (plans/optimizers.py): the train-sampled selective filter ('spark',
    few docs) is moved AHEAD of the broad one ('data', most docs), so
    the expensive second LLM pass sees the fewest rows. The surviving
    row SET of a conjunction is order-independent — the docstring-level
    assertion that the reorder actually happened lives in
    ``tests/test_plans.py::test_filter_reorder_most_selective_first``;
    this oracle hash-checks the composed result against the equivalent
    SQL conjunction."""
    from lotus_spark.models.fake_lm import KeywordBoolLM
    from lotus_spark.plans import FilterReorderOptimizer
    from lotus_spark.plans.lazyframe import LazyFrame

    docs = _t(spark, sf_dir, "documents")
    lf = (
        LazyFrame()
        .sem_filter("{text} covers information processing",
                    lm=KeywordBoolLM("data"))
        .sem_filter("{text} is about the JVM engine",
                    lm=KeywordBoolLM("spark"))
    )
    opt = lf.optimize(
        [FilterReorderOptimizer(train_df=docs.limit(64), sample_rows=64)]
    )
    return opt.execute(docs).select("doc_id", "lang")


_SQL_FILTER_REORDER = """
SELECT doc_id, lang FROM documents
WHERE contains(lower(text), 'data') AND contains(lower(text), 'spark')
"""


def q_sem_pipeline(spark, sf_dir):
    """The reference's flagship USAGE PATTERN — semantic ops chained on
    one frame (``lotus/ast/lazyframe.py:83-131``: filter → map → agg is
    the canonical LOTUS pipeline) — composed under OUR plan layer with
    the optimizer chain on:

        LazyFrame().sem_filter(...).filter("n_chars >= 100")
                   .sem_map(...).sem_agg(..., group_by=["_map"])
                   .optimize().execute(docs)

    The native ``n_chars`` filter is recorded AFTER ``sem_filter`` but
    ``optimize()`` (PredicatePushdownOptimizer) hoists it ahead of the
    LLM stage — the cheap predicate prunes rows before any model call,
    the rewrite Catalyst cannot do because it can't see inside an LLM
    UDF. Equivalence optimized == unoptimized is asserted in
    ``tests/test_plans.py::test_sem_pipeline_pushdown_equivalence``; this
    oracle checks the end-to-end composed RESULT (every stage's
    deterministic LM replicated in one SQL statement)."""
    from lotus_spark.models.demo_lms import CountingAggLM
    from lotus_spark.models.fake_lm import KeywordBoolLM, RegexMapLM
    from lotus_spark.plans.lazyframe import LazyFrame

    docs = _t(spark, sf_dir, "documents")
    lm = CountingAggLM()
    lm.max_ctx_len = 4096  # force a multi-level fold
    lf = (
        LazyFrame()
        .sem_filter(
            "{text} is about distributed computing", lm=KeywordBoolLM("spark")
        )
        .filter("n_chars >= 100")
        .sem_map(
            "state the language {lang} in uppercase",
            lm=RegexMapLM(r"\[lang\]: «(\w+)»", "upper"),
        )
        .sem_agg("Count the {text} documents", lm=lm, group_by=["_map"])
    )
    return lf.optimize().execute(docs)


_SQL_SEM_PIPELINE = """
SELECT upper(lang) AS _map, CAST(COUNT(*) AS VARCHAR) AS _output
FROM documents
WHERE contains(lower(text), 'spark') AND n_chars >= 100
GROUP BY upper(lang)
"""


def q_lazy_multi_join(spark, sf_dir):
    """Multi-input LazyFrame pipeline (reference ast SourceNode bindings,
    ``tests/test_ast.py:24-50``): two named sources, a child pipeline on
    the join's right side, then grouped aggregation — all recorded
    lazily and executed against a ``{name: DataFrame}`` dict. Decimal
    sum keeps the aggregate accumulation-order exact for the hash
    check."""
    from lotus_spark.plans.lazyframe import LazyFrame

    lf = (
        LazyFrame.from_source("customer")
        .filter("c_acctbal > 5000")
        .join_with(
            LazyFrame.from_source("nation")
            .withColumnRenamed("n_nationkey", "c_nationkey")
            .select("c_nationkey", "n_name"),
            on="c_nationkey",
        )
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_cust"),
            F.sum(F.col("c_acctbal").cast("decimal(12,2)"))
            .cast("double").alias("acctbal_sum"),
        )
    )
    return lf.execute({
        "customer": _t(spark, sf_dir, "customer"),
        "nation": _t(spark, sf_dir, "nation"),
    })


_SQL_LAZY_MULTI_JOIN = """
SELECT n_name, COUNT(*) AS n_cust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS acctbal_sum
FROM customer JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > 5000
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# round-7 additions: oracle rows for the last test-only components
# ---------------------------------------------------------------------------

def q_weighted_sample(spark, sf_dir):
    """Derandomized Efraimidis–Spirakis weighted sampling WITHOUT
    replacement (functions/sampling.py::weighted_sample): key =
    u^(1/w) with u a pure content-hash function of (doc_id, seed),
    top-n by key — a TakeOrderedAndProject, so only n rows per
    partition cross the shuffle. The oracle replays the exact key
    expression (same hash, same salt ':w7', same (bucket+1)/1000004
    u-mapping) in SQL; selected-row identity is then a deterministic
    function of the data, so the hash compare is on exact int/str
    columns, no float output."""
    from lotus_spark.functions.sampling import weighted_sample

    docs = _t(spark, sf_dir, "documents").withColumn(
        "w", F.col("n_chars").cast("double"))
    out = weighted_sample(docs, "w", 50, "doc_id", seed=7)
    return out.select("doc_id", "lang", "n_chars")


def _sql_weighted_sample() -> str:
    h = _sql_strhash("(CAST(doc_id AS VARCHAR) || ':w7')")
    return f"""
WITH k AS (
  SELECT doc_id, lang, n_chars,
    pow((({h} * {_MIX_CONST}) % {_MIX_BUCKETS} + 1) / {_MIX_BUCKETS + 1}.0,
        1.0 / CAST(n_chars AS DOUBLE)) AS wkey
  FROM documents
  WHERE n_chars IS NOT NULL AND CAST(n_chars AS DOUBLE) > 0
)
SELECT doc_id, lang, n_chars FROM k ORDER BY wkey DESC, doc_id LIMIT 50
"""


def q_streaming_heavy_hitters(spark, sf_dir):
    """Streaming per-window heavy hitters in BOUNDED state
    (streaming/ops.py::streaming_heavy_hitters): Misra–Gries summary
    per event-time window inside ``applyInPandasWithState``, top-k
    emitted per update. The documents vocabulary (~31 distinct terms
    per window) is far below capacity=64, so the summary is provably
    EXACT here and the DuckDB replica is a plain count + row_number —
    the same capacity>=vocab exactness the parity test pins. ts is
    offset one window from epoch 0: applyInPandasWithState filters
    rows whose event time EQUALS the initial watermark (epoch 0) as
    late, unlike windowed aggregations (see the operator docstring)."""
    import uuid

    from lotus_spark.streaming.ops import (
        read_parquet_stream,
        state_sized_session,
        streaming_heavy_hitters,
    )

    child = state_sized_session(  # guide §2.2
        spark, f"{sf_dir}/documents.parquet")
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = read_parquet_stream(
        child, sf_dir, schema, glob="documents.parquet"
    )
    stream = stream.withColumn(
        "ts", F.timestamp_seconds(F.col("doc_id") % 600 + 60)
    )
    hh = streaming_heavy_hitters(
        stream, "text", "ts", window="1 minute", capacity=64, k=5
    )
    qname = f"oracle_hh_{uuid.uuid4().hex[:8]}"
    q = (
        hh.writeStream.format("memory").queryName(qname)
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return child.table(qname).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss")
        .alias("window_start"),
        "term",
        F.col("est_count").cast("long").alias("est_count"),
        F.col("rank").cast("long").alias("rank"),
    )


_SQL_STREAMING_HEAVY_HITTERS = r"""
WITH d AS (
  SELECT (doc_id % 600 + 60) // 60 AS m,
         string_split_regex(trim(text), '\s+') AS toks
  FROM documents
),
t AS (SELECT m, unnest(toks) AS term FROM d),
c AS (
  SELECT m, term, CAST(count(*) AS BIGINT) AS est_count
  FROM t WHERE length(term) > 0 GROUP BY m, term
),
r AS (
  SELECT m, term, est_count,
         row_number() OVER (
           PARTITION BY m ORDER BY est_count DESC, term) AS rank
  FROM c
)
SELECT strftime(epoch_ms(m * 60000), '%Y-%m-%d %H:%M:%S') AS window_start,
       term, est_count, CAST(rank AS BIGINT) AS rank
FROM r WHERE rank <= 5
"""


def q_ann_join_pq(spark, sf_dir):
    """Broadcast-PQ K-NN join (models/vs.py::BroadcastPQIndex +
    ann_join_pq): the right side is PQ-encoded once and only the uint8
    CODES + integer codebooks broadcast; each left task generates ADC
    candidates with zero shuffle, then a narrow id-join reranks with
    fold-exact cosine. With ``candidates`` >= |right| the candidate
    stage is lossless, so the whole two-stage plan must equal the exact
    per-query top-3 — which is what the SQL replica computes. Ties
    order by (rounded score DESC, match_id ASC), both sides."""
    from lotus_spark.functions.ann import pq_index
    from lotus_spark.models.vs import BroadcastPQIndex, ann_join_pq

    emb = _t(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding")
    right = emb.filter(F.col("vec_id") >= 20)
    enc, books = pq_index(right, "embedding", "vec_id", m=8, nbits=4,
                          seed=101)
    ix = BroadcastPQIndex.build(enc, "vec_id", "pq_codes", books)
    out = ann_join_pq(
        left, right, ix, "qid", "embedding", "vec_id", "embedding",
        K=3, candidates=2000,
    )
    return out.select(
        "qid",
        F.col("match_id").cast("long").alias("match_id"),
        F.col("_scores").alias("score"),
        F.col("_rank").cast("long").alias("rank"),
    )


_SQL_ANN_JOIN_PQ = f"""
WITH l AS (SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) v
           FROM embeddings WHERE vec_id < 20),
r AS (SELECT vec_id AS match_id, CAST(embedding AS DOUBLE[]) v
      FROM embeddings WHERE vec_id >= 20),
s AS (SELECT l.qid, r.match_id,
             ROUND({_sql_cosine('l.v', 'r.v')}, 6) AS score
      FROM l, r),
rk AS (SELECT qid, match_id, score,
       row_number() OVER (
         PARTITION BY qid ORDER BY score DESC, match_id) AS rank
       FROM s)
SELECT qid, CAST(match_id AS BIGINT) AS match_id, score,
       CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= 3
"""


def q_ann_join_ivf(spark, sf_dir):
    """IVF cell-partitioned K-NN JOIN (functions/ann.py::ann_join_ivf) —
    the ANN-join tier where NEITHER side broadcasts: deterministic IVF
    on the right, per-left-row quantized probe of n_probe cells against
    the broadcast centroid matrix, one cell equi-join, exact cosine +
    rank within the probed cells. The oracle replays the ENTIRE
    composition: the unrolled Lloyd's chain trains on the right rows
    (train_where), afinal assigns cells, a per-left-row window ranks
    cells by the same integer quantized distance, and the final rank
    runs over the joined candidates. APPROXIMATE by design (recall
    rises with n_probe) but fully deterministic, so hash-checkable."""
    from lotus_spark.functions.ann import ann_join_ivf

    emb = _t(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding")
    right = emb.filter(F.col("vec_id") >= 20)
    out = ann_join_ivf(
        left, right, "qid", "embedding", "vec_id", "embedding",
        K=3, n_cells=16, n_probe=4, seed=42,
    )
    return out.select(
        "qid",
        F.col("match_id").cast("long").alias("match_id"),
        F.col("_scores").alias("score"),
        F.col("_rank").cast("long").alias("rank"),
    )


def _sql_ann_join_ivf(d: int) -> str:
    pdist = " + ".join(
        f"(l.xq[{j}]-c3.v[{j}])*(l.xq[{j}]-c3.v[{j}])"
        for j in range(1, d + 1)
    )
    return f"""
WITH {_sql_kmeans_ctes(k=16, iters=3, seed=42, d=d,
                       train_where="vec_id >= 20")},
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
probe AS (
  SELECT l.vec_id AS qid, c3.c,
         row_number() OVER (PARTITION BY l.vec_id
                            ORDER BY {pdist}, c3.c) AS pr
  FROM (SELECT vec_id, xq FROM p WHERE vec_id < 20) l, c3
),
pc AS (SELECT qid, c FROM probe WHERE pr <= 4),
r AS (SELECT e.vec_id AS match_id, e.v, a.c
      FROM e JOIN afinal a USING (vec_id) WHERE e.vec_id >= 20),
l AS (SELECT vec_id AS qid, v FROM e WHERE vec_id < 20),
cand AS (
  SELECT l.qid, r.match_id, ROUND({_sql_cosine('l.v', 'r.v')}, 6) AS score
  FROM l JOIN pc ON l.qid = pc.qid JOIN r ON r.c = pc.c
),
rk AS (SELECT qid, match_id, score,
       row_number() OVER (PARTITION BY qid
                          ORDER BY score DESC, match_id) AS rank
       FROM cand)
SELECT qid, CAST(match_id AS BIGINT) AS match_id, score,
       CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= 3
"""


def q_ann_join_ivfpq(spark, sf_dir):
    """IVF+PQ K-NN JOIN (functions/ann.py::ann_join_ivfpq, NEW r9) —
    the join-ladder top: the cell equi-join ships (right id, m-byte PQ
    codes) instead of full vectors, nothing broadcasts but quantizer
    literals, ADC is an Arrow-batched numpy gather per pair, and the
    per-left ADC shortlist reranks through a narrow by-id join. The
    oracle replays the ENTIRE composition: the IVF Lloyd's chain +
    per-left probe (same replica as ann_join_ivf), all 8 per-subspace
    codebook chains trained on the right rows, per-pair integer ADC over
    the probed cells, the per-left shortlist window, and the exact-
    cosine rerank. Staged in r9 (window capacity), REGISTERED r10;
    also cross-checked against DuckDB in tests/test_ann_and_sources.py."""
    from lotus_spark.functions.ann import ann_join_ivfpq

    emb = _t(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding")
    right = emb.filter(F.col("vec_id") >= 20)
    out = ann_join_ivfpq(
        left, right, "qid", "embedding", "vec_id", "embedding",
        K=3, n_cells=16, n_probe=4, m=8, nbits=4, seed=42, pq_seed=101,
        rerank_k=20,
    )
    return out.select(
        "qid",
        F.col("match_id").cast("long").alias("match_id"),
        F.col("_scores").alias("score"),
        F.col("_rank").cast("long").alias("rank"),
    )


def _sql_ann_join_ivfpq(d: int) -> str:
    m, nbits, iters = 8, 4, 3
    sub = d // m
    pdist = " + ".join(
        f"(l.xq[{j}]-c3.v[{j}])*(l.xq[{j}]-c3.v[{j}])"
        for j in range(1, d + 1)
    )
    pq_chains = [
        _sql_kmeans_ctes(
            k=2 ** nbits, iters=iters, seed=101 + s, d=sub,
            emb_expr=f"embedding[{s * sub + 1}:{(s + 1) * sub}]",
            p=f"jq{s}_", train_where="vec_id >= 20")
        for s in range(m)
    ]
    pair_joins = " ".join(
        f"JOIN jq{s}_p lp{s} ON lp{s}.vec_id = l.qid "
        f"JOIN jq{s}_afinal ra{s} ON ra{s}.vec_id = rc.match_id "
        f"JOIN jq{s}_c{iters} cc{s} ON cc{s}.c = ra{s}.c"
        for s in range(m)
    )
    adc = " + ".join(
        f"(lp{s}.xq[{j}]-cc{s}.v[{j}])*(lp{s}.xq[{j}]-cc{s}.v[{j}])"
        for s in range(m) for j in range(1, sub + 1)
    )
    return f"""
WITH {_sql_kmeans_ctes(k=16, iters=iters, seed=42, d=d,
                       train_where="vec_id >= 20")},
{",".join(pq_chains)},
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
probe AS (
  SELECT l.vec_id AS qid, c3.c,
         row_number() OVER (PARTITION BY l.vec_id
                            ORDER BY {pdist}, c3.c) AS pr
  FROM (SELECT vec_id, xq FROM p WHERE vec_id < 20) l, c3
),
pc AS (SELECT qid, c FROM probe WHERE pr <= 4),
rc AS (SELECT vec_id AS match_id, c FROM afinal WHERE vec_id >= 20),
cand AS (
  SELECT l.qid, rc.match_id, CAST({adc} AS BIGINT) AS pq_dist
  FROM (SELECT vec_id AS qid FROM e WHERE vec_id < 20) l
  JOIN pc ON pc.qid = l.qid
  JOIN rc ON rc.c = pc.c
  {pair_joins}
),
short AS (
  SELECT qid, match_id FROM (
    SELECT qid, match_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY pq_dist, match_id) AS rk
    FROM cand) WHERE rk <= 20
),
fin AS (
  SELECT s.qid, s.match_id,
         ROUND({_sql_cosine('lv.v', 'rv.v')}, 6) AS score
  FROM short s
  JOIN e lv ON lv.vec_id = s.qid
  JOIN e rv ON rv.vec_id = s.match_id
),
rk AS (SELECT qid, match_id, score,
       row_number() OVER (PARTITION BY qid
                          ORDER BY score DESC, match_id) AS rank
       FROM fin)
SELECT qid, CAST(match_id AS BIGINT) AS match_id, score,
       CAST(rank AS BIGINT) AS rank
FROM rk WHERE rank <= 3
"""


_IVFPQ_JOIN_STORE: dict = {}


def _ivfpq_join_index(spark, sf_dir):
    """Build-once memo for ``q_ann_join_ivfpq_stored``: the persisted
    IVF-PQ index (``write_ivfpq_index`` cell-partitioned layout) over
    the join's right side (``vec_id >= 20``), under the
    ``ann_join_ivfpq`` row's exact knobs/seeds. First call per
    (process, sf_dir) trains + writes; later calls re-read the parquet
    layout — so bench sweeps 2+ time the RECURRING join, not quantizer
    training (the amortization BENCH_amortize.json measures)."""
    path = _IVFPQ_JOIN_STORE.get(sf_dir)
    if path is None:
        import atexit
        import shutil
        import tempfile

        from lotus_spark.functions.ann import (
            ivf_index, pq_index, write_ivfpq_index,
        )

        emb = _t(spark, sf_dir, "embeddings")
        right = emb.filter(F.col("vec_id") >= 20)
        d = tempfile.mkdtemp(prefix="ivfpq_join_idx_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        path = f"{d}/idx"
        coarse, cents = ivf_index(right, "embedding", n_cells=16, seed=42,
                                  method="deterministic", id_col="vec_id")
        encoded, books = pq_index(coarse, "embedding", "vec_id", m=8,
                                  nbits=4, seed=101)
        write_ivfpq_index(encoded, path, cents, books)
        _IVFPQ_JOIN_STORE[sf_dir] = path
    return path


def q_ann_join_ivfpq_stored(spark, sf_dir):
    """The ladder-top K-NN join served from the PERSISTED index (NEW
    r13): ``ann_join_ivfpq(prebuilt=read_ivfpq_index(...))`` — probe +
    one cell equi-join over a table already laid out by the join key
    (partition-pruned scan), with quantizer training amortized into the
    one-time build (``_ivfpq_join_index`` memo). This is the recurring
    serving shape a deployment runs all day; the in-run-build row
    (``ann_join_ivfpq``) keeps timing the cold build for history. Same
    knobs/seeds as the in-run row, so the oracle is the SAME
    full-composition replay — a hash match here also pins
    stored-index join == in-run-build join, value for value."""
    from lotus_spark.functions.ann import ann_join_ivfpq, read_ivfpq_index

    emb = _t(spark, sf_dir, "embeddings")
    left = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("qid"), "embedding")
    stored, cents, books, cell_col = read_ivfpq_index(
        spark, _ivfpq_join_index(spark, sf_dir))
    out = ann_join_ivfpq(
        left, stored, "qid", "embedding", "vec_id", "embedding",
        K=3, n_probe=4, rerank_k=20,
        prebuilt=(stored, cents, books), cell_col=cell_col,
    )
    return out.select(
        "qid",
        F.col("match_id").cast("long").alias("match_id"),
        F.col("_scores").alias("score"),
        F.col("_rank").cast("long").alias("rank"),
    )


def q_neardup_index(spark, sf_dir):
    """Corpus-vs-increment near-dup via the persisted MinHash-LSH index
    (functions/dedup_index.py, NEW r9): index the ``doc_id % 4 == 0``
    docs, APPEND the ``% 4 == 2`` docs with the sidecar-pinned
    parameters (the train-once/add-many growth path), then probe every
    odd doc — one band equi-join + signature-agreement verify. The
    oracle replays signature, banding, candidate join, and the
    agreement estimator over corpus = all evens, so a hash match checks
    write + append + probe together. Staged in r9 (window capacity),
    REGISTERED r10; also cross-checked in tests/test_dedup_index.py."""
    import shutil
    import tempfile

    from lotus_spark.functions.dedup_index import (
        append_minhash_index, neardup_join_index, write_minhash_index,
    )

    docs = _t(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="mh_idx_")
    try:
        path = f"{d}/idx"
        write_minhash_index(docs.filter("doc_id % 4 = 0"), path,
                            "text", "doc_id", n_hashes=16, bands=4)
        append_minhash_index(spark, path, docs.filter("doc_id % 4 = 2"),
                             "text", "doc_id")
        out = neardup_join_index(spark, path, docs.filter("doc_id % 2 = 1"),
                                 "text", "doc_id", threshold=0.5)
        return spark.createDataFrame(
            [(r["doc_id"], r["match_id"], r["est_jaccard"])
             for r in out.collect()],
            "doc_id long, match_id long, est_jaccard double",
        ).select("doc_id", "match_id",
                 F.round(F.col("est_jaccard"), 6).alias("est_jaccard"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_neardup_index_stream(spark, sf_dir):
    """Streaming corpus-index probe (dedup_index.neardup_matches_stream,
    NEW r9): the odd docs arrive as a STREAM and near-dup match against
    the persisted even-doc index via stream-static band joins +
    watermark-bounded pair dedup. Matches are deterministic (inner
    joins + agreement filter; the pair dedup collapses identical rows,
    so no arrival-order dependence), and the drained result must equal
    the batch probe — the oracle IS the batch replay
    (_sql_neardup_index with corpus = all evens). Staged in r9 (window
    capacity), REGISTERED r10; also CI-cross-checked in
    tests/test_dedup_index.py."""
    import shutil
    import tempfile
    import uuid

    from lotus_spark.functions.dedup_index import (
        neardup_matches_stream, write_minhash_index,
    )
    from lotus_spark.streaming.ops import (
        read_parquet_stream,
        state_sized_session,
    )

    docs = _t(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="mh_idx_stream_")
    try:
        path = f"{d}/idx"
        write_minhash_index(docs.filter("doc_id % 2 = 0"), path,
                            "text", "doc_id", n_hashes=16, bands=4)
        child = state_sized_session(  # guide §2.2
            spark, f"{sf_dir}/documents.parquet")
        schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
        stream = read_parquet_stream(
            child, sf_dir, schema, glob="documents.parquet"
        ).filter("doc_id % 2 = 1").withColumn(
            "ts", F.timestamp_seconds(F.col("doc_id") % 600 + 60))
        out = neardup_matches_stream(child, path, stream, "text",
                                     "doc_id", "ts", threshold=0.5)
        qname = f"oracle_mhidx_{uuid.uuid4().hex[:8]}"
        q = (out.writeStream.format("memory").queryName(qname)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        got = child.table(qname)
        return spark.createDataFrame(
            [(r["doc_id"], r["match_id"], r["est_jaccard"])
             for r in got.collect()],
            "doc_id long, match_id long, est_jaccard double",
        ).select("doc_id", "match_id",
                 F.round(F.col("est_jaccard"), 6).alias("est_jaccard"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _sql_neardup_index() -> str:
    sig_exprs = []
    for j in range(16):
        a, b = _hash_params(j)
        sig_exprs.append(
            f"list_min(list_transform(shingles, sh -> ({a} * {_sql_strhash('sh')} + {b}) % {MOD})) AS sig{j}"
        )
    band_keys = []
    for i in range(4):
        parts = " || '_' || ".join(
            f"CAST(sig{i * 4 + j} AS VARCHAR)" for j in range(4))
        band_keys.append(f"CAST({i} AS VARCHAR) || '_' || {parts}")
    agree = " + ".join(
        f"CASE WHEN gq.sig{j} = gc.sig{j} THEN 1 ELSE 0 END"
        for j in range(16))
    return f"""
WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') words FROM documents),
s AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(words)-3, 0)+2),
        i -> array_to_string(words[i:i+2], ' '))) shingles FROM d),
g AS (SELECT doc_id, {', '.join(sig_exprs)} FROM s),
banded AS (SELECT doc_id, unnest([{', '.join(band_keys)}]) AS band FROM g),
cand AS (SELECT DISTINCT q.doc_id AS doc_id, c.doc_id AS match_id
         FROM banded q JOIN banded c ON q.band = c.band
         WHERE q.doc_id % 2 = 1 AND c.doc_id % 2 = 0)
SELECT cand.doc_id, cand.match_id,
       ROUND(CAST({agree} AS DOUBLE) / 16.0, 6) AS est_jaccard
FROM cand
JOIN g gq ON gq.doc_id = cand.doc_id
JOIN g gc ON gc.doc_id = cand.match_id
WHERE CAST({agree} AS DOUBLE) / 16.0 >= 0.5
"""


def q_neardup_index_cdc(spark, sf_dir):
    """CDC maintenance of the persisted MinHash-LSH corpus index
    (functions/index_cdc.py, NEW r11): T0 = the %4==0 docs, indexed; T1
    removes every %20==0 id, REVISES the %20==8 texts (appending
    ' revised' — a changed doc must be re-encoded), and adds the %4==2
    docs. ``snapshot_diff`` labels the classes and
    ``apply_snapshot_to_minhash_index`` applies them: one
    filtered-compaction rewrite deletes removed+changed ids from the
    narrow buckets/sigs tables, then added+changed rows append with the
    sidecar-pinned parameters. Probing every odd doc against the
    maintained index must match the oracle's band algebra over the T1
    corpus state — a hash match proves the CDC'd index is row-identical
    to a fresh write of the new snapshot."""
    import shutil
    import tempfile

    from lotus_spark.functions.dedup_index import (
        neardup_join_index, write_minhash_index,
    )
    from lotus_spark.functions.index_cdc import (
        apply_snapshot_to_minhash_index,
    )
    from lotus_spark.functions.snapshot import snapshot_diff

    docs = _t(spark, sf_dir, "documents")
    t0 = docs.filter("doc_id % 4 = 0")
    t1 = docs.filter("doc_id % 4 IN (0, 2) AND doc_id % 20 != 0") \
        .withColumn(
            "text",
            F.when(F.col("doc_id") % 20 == 8,
                   F.concat(F.col("text"), F.lit(" revised")))
            .otherwise(F.col("text")))
    d = tempfile.mkdtemp(prefix="mh_cdc_")
    try:
        path = f"{d}/idx"
        write_minhash_index(t0, path, "text", "doc_id",
                            n_hashes=16, bands=4)
        diff = snapshot_diff(t0.select("doc_id", "text"),
                             t1.select("doc_id", "text"), "doc_id")
        apply_snapshot_to_minhash_index(spark, path, diff, t1, "text")
        out = neardup_join_index(spark, path, docs.filter("doc_id % 2 = 1"),
                                 "text", "doc_id", threshold=0.5)
        return spark.createDataFrame(
            [(r["doc_id"], r["match_id"], r["est_jaccard"])
             for r in out.collect()],
            "doc_id long, match_id long, est_jaccard double",
        ).select("doc_id", "match_id",
                 F.round(F.col("est_jaccard"), 6).alias("est_jaccard"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _sql_neardup_index_cdc() -> str:
    """Band-algebra replay of q_neardup_index_cdc over the T1 corpus
    state: the ``d`` CTE holds the odd probe docs (original text) plus
    the CDC'd corpus — %4==0 minus the %20==0 removals with the %20==8
    texts revised, plus the %4==2 additions."""
    sig_exprs = []
    for j in range(16):
        a, b = _hash_params(j)
        sig_exprs.append(
            f"list_min(list_transform(shingles, sh -> ({a} * {_sql_strhash('sh')} + {b}) % {MOD})) AS sig{j}"
        )
    band_keys = []
    for i in range(4):
        parts = " || '_' || ".join(
            f"CAST(sig{i * 4 + j} AS VARCHAR)" for j in range(4))
        band_keys.append(f"CAST({i} AS VARCHAR) || '_' || {parts}")
    agree = " + ".join(
        f"CASE WHEN gq.sig{j} = gc.sig{j} THEN 1 ELSE 0 END"
        for j in range(16))
    t1_text = ("CASE WHEN doc_id % 20 = 8 THEN text || ' revised' "
               "ELSE text END")
    in_t1 = ("(doc_id % 4 = 0 AND doc_id % 20 <> 0) OR doc_id % 4 = 2")
    return f"""
WITH d AS (SELECT doc_id,
             string_split_regex(lower(trim(CASE WHEN doc_id % 2 = 1 THEN text ELSE {t1_text} END)), '\\s+') words
           FROM documents
           WHERE doc_id % 2 = 1 OR {in_t1}),
s AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(words)-3, 0)+2),
        i -> array_to_string(words[i:i+2], ' '))) shingles FROM d),
g AS (SELECT doc_id, {', '.join(sig_exprs)} FROM s),
banded AS (SELECT doc_id, unnest([{', '.join(band_keys)}]) AS band FROM g),
cand AS (SELECT DISTINCT q.doc_id AS doc_id, c.doc_id AS match_id
         FROM banded q JOIN banded c ON q.band = c.band
         WHERE q.doc_id % 2 = 1 AND c.doc_id % 2 = 0)
SELECT cand.doc_id, cand.match_id,
       ROUND(CAST({agree} AS DOUBLE) / 16.0, 6) AS est_jaccard
FROM cand
JOIN g gq ON gq.doc_id = cand.doc_id
JOIN g gc ON gc.doc_id = cand.match_id
WHERE CAST({agree} AS DOUBLE) / 16.0 >= 0.5
"""


def q_neardup_index_lifecycle(spark, sf_dir):
    """End-to-end "daily increment" lifecycle over the persisted
    MinHash-LSH corpus index (functions/dedup_index.py, r10 — the
    composition a user actually runs, r9 verdict item 4): day 0 indexes
    the %4==0 docs; day 1's increment (%4==1) first SELF-dedups
    (minhash_lsh_dedup: band candidates → exact-Jaccard verify →
    connected components), then drops rows matching the corpus
    (dedup_against_index, estimator verify), and the survivors are
    APPENDED with the sidecar-pinned parameters; day 2's increment
    (%4==2) probes the GROWN index through the r10 ``verify="exact"``
    tier (true shingle Jaccard against corpus text joined by matched id
    only). The oracle replays BOTH days in one SQL statement: shared
    signature/band CTEs, the day-1 recursive-CTE CC + signature-
    agreement gate, and the day-2 band join + exact Jaccard over
    corpus0 ∪ day-1 survivors — so one hash match checks write, append,
    self-dedup, estimator gate, growth, and exact probe together."""
    import shutil
    import tempfile

    from lotus_spark.functions.dedup import minhash_lsh_dedup
    from lotus_spark.functions.dedup_index import (
        append_minhash_index, dedup_against_index, neardup_join_index,
        write_minhash_index,
    )

    docs = _t(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="mh_life_")
    try:
        path = f"{d}/idx"
        corpus0 = docs.filter("doc_id % 4 = 0")
        write_minhash_index(corpus0, path, "text", "doc_id",
                            n_hashes=16, bands=4, shingle_n=3)
        inc1 = docs.filter("doc_id % 4 = 1")
        self1 = minhash_lsh_dedup(inc1, "text", "doc_id", n_hashes=16,
                                  bands=4, shingle_n=3,
                                  jaccard_threshold=0.5)
        surv1 = dedup_against_index(spark, path, self1, "text", "doc_id",
                                    threshold=0.5)
        append_minhash_index(spark, path, surv1, "text", "doc_id")
        inc2 = docs.filter("doc_id % 4 = 2")
        grown_corpus = corpus0.unionByName(surv1)
        out = neardup_join_index(
            spark, path, inc2, "text", "doc_id", threshold=0.5,
            score_col="jaccard", verify="exact", corpus_df=grown_corpus)
        return spark.createDataFrame(
            [(r["doc_id"], r["match_id"], r["jaccard"])
             for r in out.collect()],
            "doc_id long, match_id long, jaccard double",
        ).select("doc_id", "match_id",
                 F.round(F.col("jaccard"), 6).alias("jaccard"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _sql_neardup_index_lifecycle() -> str:
    sig_exprs = []
    for j in range(16):
        a, b = _hash_params(j)
        sig_exprs.append(
            f"list_min(list_transform(shingles, sh -> ({a} * {_sql_strhash('sh')} + {b}) % {MOD})) AS sig{j}"
        )
    band_keys = []
    for i in range(4):
        parts = " || '_' || ".join(
            f"CAST(sig{i * 4 + j} AS VARCHAR)" for j in range(4))
        band_keys.append(f"CAST({i} AS VARCHAR) || '_' || {parts}")
    agree = " + ".join(
        f"CASE WHEN gq.sig{j} = gc.sig{j} THEN 1 ELSE 0 END"
        for j in range(16))
    exact_j = ("CAST(len(list_intersect(sa.shingles, sb.shingles)) AS DOUBLE)"
               " / CAST(len(list_distinct(sa.shingles || sb.shingles)) AS DOUBLE)")
    return f"""
WITH RECURSIVE
d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') words FROM documents),
s AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(words)-3, 0)+2),
        i -> array_to_string(words[i:i+2], ' '))) shingles FROM d),
g AS (SELECT doc_id, shingles, {', '.join(sig_exprs)} FROM s),
banded AS (SELECT doc_id, unnest([{', '.join(band_keys)}]) AS band FROM g),
cand1 AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
          FROM banded a JOIN banded b ON a.band = b.band AND a.doc_id < b.doc_id
          WHERE a.doc_id % 4 = 1 AND b.doc_id % 4 = 1),
edges1 AS (SELECT src, dst FROM cand1
  JOIN s sa ON cand1.src = sa.doc_id JOIN s sb ON cand1.dst = sb.doc_id
  WHERE {exact_j} >= 0.5),
sym AS (SELECT src AS sx, dst AS dx FROM edges1
        UNION ALL SELECT dst, src FROM edges1),
reach(sx, dx) AS (
  SELECT sx, dx FROM sym
  UNION
  SELECT r.sx, y.dx FROM reach r JOIN sym y ON r.dx = y.sx
),
rep AS (SELECT sx AS id, LEAST(sx, MIN(dx)) AS comp FROM reach GROUP BY sx),
self1 AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 1
          AND doc_id NOT IN (SELECT id FROM rep WHERE comp < id)),
candc AS (SELECT DISTINCT q.doc_id AS qid, c.doc_id AS mid
          FROM banded q JOIN banded c ON q.band = c.band
          WHERE q.doc_id IN (SELECT doc_id FROM self1) AND c.doc_id % 4 = 0),
m1 AS (SELECT DISTINCT candc.qid
       FROM candc
       JOIN g gq ON gq.doc_id = candc.qid
       JOIN g gc ON gc.doc_id = candc.mid
       WHERE CAST({agree} AS DOUBLE) / 16.0 >= 0.5),
surv1 AS (SELECT doc_id FROM self1 WHERE doc_id NOT IN (SELECT qid FROM m1)),
grown AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 0
          UNION ALL SELECT doc_id FROM surv1),
cand2 AS (SELECT DISTINCT q.doc_id AS doc_id, c.doc_id AS match_id
          FROM banded q JOIN banded c ON q.band = c.band
          WHERE q.doc_id % 4 = 2
            AND c.doc_id IN (SELECT doc_id FROM grown))
SELECT cand2.doc_id, cand2.match_id, ROUND({exact_j}, 6) AS jaccard
FROM cand2
JOIN s sa ON sa.doc_id = cand2.doc_id
JOIN s sb ON sb.doc_id = cand2.match_id
WHERE {exact_j} >= 0.5
"""


def q_embedding_neardup_index(spark, sf_dir):
    """Embedding-modality corpus dedup over a PERSISTED IVF-PQ index
    (functions/dedup_index.py::embedding_neardup_index, r10 — r9
    verdict item 5): build the deterministic IVF(16)+PQ(m=8, nbits=4)
    index over the vec_id >= 20 corpus, persist it partitioned-by-cell
    (write_ivfpq_index), then probe every vec_id % 7 == 0 corpus vector
    as an "increment" — cell probe, per-pair integer ADC, auto exact
    rerank (auto_rerank_k(3, join=True) = 320 — covers every probed
    candidate here), keep cosine >= 0.9. Every query is itself indexed,
    so self-matches at 1.0 pin the roundtrip and near neighbors pin the
    threshold gate. The oracle replays the full composition: both
    quantizer Lloyd's chains, the per-query probe, ADC, shortlist
    window, exact-cosine rerank, top-k, threshold."""
    import shutil
    import tempfile

    from lotus_spark.functions.ann import (
        ivf_index, pq_index, write_ivfpq_index,
    )
    from lotus_spark.functions.dedup_index import embedding_neardup_index

    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter(F.col("vec_id") >= 20)
    d = tempfile.mkdtemp(prefix="emb_ndidx_")
    try:
        path = f"{d}/idx"
        indexed, cents = ivf_index(corpus, "embedding", n_cells=16,
                                   seed=42, method="deterministic",
                                   id_col="vec_id")
        encoded, books = pq_index(indexed, "embedding", "vec_id", m=8,
                                  nbits=4, seed=101)
        write_ivfpq_index(encoded, path, cents, books)
        inc = emb.filter("vec_id % 7 = 0 AND vec_id >= 20").select(
            F.col("vec_id").alias("qid"), "embedding")
        out = embedding_neardup_index(
            spark, path, inc, "qid", "embedding", "vec_id", "embedding",
            threshold=0.9, n_probe=4, k=3)
        return spark.createDataFrame(
            [(r["qid"], r["match_id"], r["score"]) for r in out.collect()],
            "qid long, match_id long, score double",
        ).select("qid", F.col("match_id").cast("long").alias("match_id"),
                 F.round(F.col("score"), 6).alias("score"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _sql_embedding_neardup_index(
    d: int,
    corpus_where: str = "vec_id >= 20",
    query_where: str = "vec_id % 7 = 0 AND vec_id >= 20",
    k: int = 3,
    n_probe: int = 4,
    rerank: int = 320,
    tau: float = 0.9,
    as_ctes: bool = False,
) -> str:
    """DuckDB replay of the embedding_neardup_index probe chain (both
    quantizer Lloyd's chains trained on ``corpus_where`` rows, per-query
    cell probe, per-pair integer ADC, the FINITE ``rerank`` shortlist,
    exact-cosine rerank, top-``k``, threshold). Defaults reproduce the
    pre-r12 oracle text byte-for-byte (verified against the committed
    version before registering; the green ``embedding_neardup_index``
    row is the ongoing pin); ``as_ctes=True`` returns the body as a CTE
    stack ending in ``probe_matches(qid, match_id, score)`` —
    MATERIALIZED, or DuckDB re-inlines the whole quantizer+ADC stack
    per reference — so compositions (the r12
    ``embedding_cluster_assign`` oracle) can extend it."""
    m, nbits, iters = 8, 4, 3
    sub = d // m
    pdist = " + ".join(
        f"(l.xq[{j}]-c3.v[{j}])*(l.xq[{j}]-c3.v[{j}])"
        for j in range(1, d + 1)
    )
    # one chain per line head, where _sql_with_materialized finds them
    pq_chains = ",\n".join(
        _sql_kmeans_ctes(
            k=2 ** nbits, iters=iters, seed=101 + s, d=sub,
            emb_expr=f"embedding[{s * sub + 1}:{(s + 1) * sub}]",
            p=f"eq{s}_", train_where=corpus_where)
        for s in range(m)
    )
    pair_joins = " ".join(
        f"JOIN eq{s}_p lp{s} ON lp{s}.vec_id = l.qid "
        f"JOIN eq{s}_afinal ra{s} ON ra{s}.vec_id = rc.match_id "
        f"JOIN eq{s}_c{iters} cc{s} ON cc{s}.c = ra{s}.c"
        for s in range(m)
    )
    adc = " + ".join(
        f"(lp{s}.xq[{j}]-cc{s}.v[{j}])*(lp{s}.xq[{j}]-cc{s}.v[{j}])"
        for s in range(m) for j in range(1, sub + 1)
    )
    ctes = f"""{_sql_kmeans_ctes(k=16, iters=iters, seed=42, d=d,
                       train_where=corpus_where)},
{pq_chains},
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
probe AS (
  SELECT l.vec_id AS qid, c3.c,
         row_number() OVER (PARTITION BY l.vec_id
                            ORDER BY {pdist}, c3.c) AS pr
  FROM (SELECT vec_id, xq FROM p
        WHERE {query_where}) l, c3
),
pc AS (SELECT qid, c FROM probe WHERE pr <= {n_probe}),
rc AS (SELECT vec_id AS match_id, c FROM afinal WHERE {corpus_where}),
cand AS (
  SELECT l.qid, rc.match_id, CAST({adc} AS BIGINT) AS pq_dist
  FROM (SELECT vec_id AS qid FROM e
        WHERE {query_where}) l
  JOIN pc ON pc.qid = l.qid
  JOIN rc ON rc.c = pc.c
  {pair_joins}
),
short AS (
  SELECT qid, match_id FROM (
    SELECT qid, match_id,
           row_number() OVER (PARTITION BY qid
                              ORDER BY pq_dist, match_id) AS rk
    FROM cand) WHERE rk <= {rerank}
),
fin AS (
  SELECT s.qid, s.match_id,
         ROUND({_sql_cosine('lv.v', 'rv.v')}, 6) AS score
  FROM short s
  JOIN e lv ON lv.vec_id = s.qid
  JOIN e rv ON rv.vec_id = s.match_id
),
rk AS (SELECT qid, match_id, score,
       row_number() OVER (PARTITION BY qid
                          ORDER BY score DESC, match_id) AS rank
       FROM fin)"""
    final = (f"SELECT qid, CAST(match_id AS BIGINT) AS match_id, score\n"
             f"FROM rk WHERE rank <= {k} AND score >= {tau}")
    if as_ctes:
        # MATERIALIZED: the composed consumers reference this repeatedly
        # and DuckDB would otherwise re-inline (re-run) the whole
        # quantizer+probe+ADC stack per reference
        return (f"{ctes},\nprobe_matches AS MATERIALIZED ({final})")
    return f"\n{_sql_with_materialized([ctes])}\n{final}\n"


def q_embedding_cluster_assign(spark, sf_dir):
    """Incremental EMBEDDING-modality cluster assignment over the
    persisted IVF-PQ index (functions/cluster_index.py — the r11 twin,
    oracle REGISTERED r12 with the ADC-shortlist replay the staging
    note required): day 0 builds the index + label-blocked cosine
    cluster map over the vec_id % 7 != 0 corpus; day N assigns every
    vec_id % 7 == 0 increment row its cluster id — local label-blocked
    self-cluster, index probe at the DAILY knobs (n_probe=4, k=4,
    rerank_k=320 — the r12-exposed shortlist budget), day-bounded merge
    CC. The oracle replays the WHOLE chain in DuckDB: both quantizer
    Lloyd's chains, per-query cell probe, per-pair integer ADC, the
    FINITE 320-row shortlist (the top-k-by-exact-cosine simplification
    would be wrong once the probed mass exceeds it), exact-cosine
    rerank + threshold, the two exact-cosine CC stacks, and the merge
    CC — assignments AND corpus-cluster remaps both checked."""
    import shutil
    import tempfile

    from lotus_spark.functions.cluster_index import (
        assign_embedding_clusters_against_index,
        build_embedding_cluster_index,
    )

    emb = _t(spark, sf_dir, "embeddings")
    corpus = emb.filter("vec_id % 7 != 0")
    inc = emb.filter("vec_id % 7 = 0")
    d = tempfile.mkdtemp(prefix="emb_clasg_")
    try:
        path = f"{d}/idx"
        build_embedding_cluster_index(
            spark, corpus, path, "embedding", "vec_id",
            threshold=0.35, n_cells=16, m=8, nbits=4, seed=42,
            pq_seed=101, block_col="label")
        assigns, remap = assign_embedding_clusters_against_index(
            spark, path, inc, "embedding", "vec_id",
            n_probe=4, k=4, rerank_k=320, block_col="label")
        rows = [("assign", r["vec_id"], r["cluster"])
                for r in assigns.collect()]
        rows += [("remap", r["old_cluster"], r["new_cluster"])
                 for r in remap.collect()]
        # materialize before the tempdir (the probe's source) is removed
        return spark.createDataFrame(rows, "kind string, a long, b long")
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _sql_cc_ctes(edge_src: str, p: str) -> str:
    """Recursive connected-components stack over ``{edge_src}(sa, sb)``
    → ``{p}rep(id, comp)`` with comp = min reachable node id (nodes
    appearing in at least one edge — singletons coalesce downstream),
    mirroring operators/sem_dedup.py::connected_components_edges."""
    return f"""{p}sym AS (SELECT sa AS sx, sb AS dx FROM {edge_src}
        UNION ALL SELECT sb, sa FROM {edge_src}),
{p}reach(sx, dx) AS (
  SELECT sx, dx FROM {p}sym
  UNION
  SELECT r.sx, y.dx FROM {p}reach r JOIN {p}sym y ON r.dx = y.sx
),
{p}rep AS (SELECT sx AS id, LEAST(sx, MIN(dx)) AS comp
           FROM {p}reach GROUP BY sx)"""


def _sql_embedding_cluster_assign(d: int = 64) -> str:
    tau = 0.35
    cw = "vec_id % 7 <> 0"
    qw = "vec_id % 7 = 0"
    probe = _sql_embedding_neardup_index(
        d, corpus_where=cw, query_where=qw, k=4, n_probe=4, rerank=320,
        tau=tau, as_ctes=True)
    return f"""
WITH RECURSIVE {probe},
en AS MATERIALIZED (
  SELECT vec_id, label,
    CASE WHEN {_sql_norm('v')} = 0 THEN v
         ELSE list_transform(v, x -> x / {_sql_norm('v')}) END AS u
  FROM (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) v
        FROM embeddings)
),
ce AS MATERIALIZED (SELECT * FROM en WHERE {cw}),
cedge AS (SELECT a.vec_id AS sa, b.vec_id AS sb FROM ce a JOIN ce b
          ON a.label = b.label AND a.vec_id < b.vec_id
          WHERE {_sql_dot('a.u', 'b.u')} >= {tau}),
{_sql_cc_ctes('cedge', 'c')},
cmap AS MATERIALIZED (SELECT e.vec_id AS id,
                CAST(COALESCE(r.comp, e.vec_id) AS BIGINT) AS cluster
         FROM ce e LEFT JOIN crep r ON r.id = e.vec_id),
ie AS MATERIALIZED (SELECT * FROM en WHERE {qw}),
iedge AS (SELECT a.vec_id AS sa, b.vec_id AS sb FROM ie a JOIN ie b
          ON a.label = b.label AND a.vec_id < b.vec_id
          WHERE {_sql_dot('a.u', 'b.u')} >= {tau}),
{_sql_cc_ctes('iedge', 'i')},
lcl AS MATERIALIZED (SELECT e.vec_id,
               CAST(COALESCE(r.comp, e.vec_id) AS BIGINT) AS lcl
        FROM ie e LEFT JOIN irep r ON r.id = e.vec_id),
medge AS (SELECT DISTINCT l.lcl AS sa, c.cluster AS sb
          FROM probe_matches pm
          JOIN lcl l ON l.vec_id = pm.qid
          JOIN cmap c ON c.id = pm.match_id),
{_sql_cc_ctes('medge', 'm')},
assigns AS (SELECT 'assign' AS kind, l.vec_id AS a,
                   CAST(COALESCE(r.comp, l.lcl) AS BIGINT) AS b
            FROM lcl l LEFT JOIN mrep r ON r.id = l.lcl),
remaps AS (SELECT 'remap' AS kind, CAST(id AS BIGINT) AS a,
                  CAST(comp AS BIGINT) AS b
           FROM mrep
           WHERE comp <> id
             AND id IN (SELECT DISTINCT cluster FROM cmap))
SELECT kind, a, b FROM assigns
UNION ALL
SELECT kind, a, b FROM remaps
"""


def q_image_features(spark, sf_dir):
    """Multimodal feature extraction driver row (sources/multimodal.py::
    image_features, STAGED r10): documents' text bytes stand in as the
    opaque binary media column (the real decode is import-gated PIL —
    absent here), and the deterministic fake tier derives
    width/height/mean_luma/phash from sha256 of the payload inside the
    REAL Arrow-batched mapInPandas plumbing. r10 switched the fake hash
    to sha256 precisely so this is hash-checkable cross-engine: the
    oracle recomputes every feature from DuckDB's sha256 over the same
    bytes — the first driver-checkable multimodal row (previously the
    plumbing was shape-tested only). NOT yet registered (r10 window at
    capacity); staged for r11 — CI-cross-checked in
    tests/test_ann_and_sources.py."""
    from lotus_spark.sources.multimodal import image_features

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").cast("string").alias("uri"),
        F.encode(F.col("text"), "UTF-8").alias("media"),
    )
    out = image_features(media, "media", "uri", fake=True)
    return out.select(
        F.col("uri").cast("long").alias("doc_id"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "mean_luma", "phash",
    )


_SQL_IMAGE_FEATURES = """
WITH h AS (SELECT doc_id, sha256(text) AS hx FROM documents)
SELECT doc_id,
       64 + CAST(('0x' || substr(hx, 1, 2)) AS INT) % 192 AS width,
       64 + CAST(('0x' || substr(hx, 3, 2)) AS INT) % 192 AS height,
       printf('%.4f', CAST(('0x' || substr(hx, 5, 2)) AS INT) / 255.0)
         AS mean_luma,
       substr(hx, 1, 16) AS phash
FROM h
"""


def q_audio_features(spark, sf_dir):
    """Audio-modality twin of q_image_features (sources/multimodal.py::
    audio_features, STAGED r10): text bytes as the opaque audio payload,
    the sha256-derived fake decode running through the real Arrow-
    batched plumbing — duration bucketing, the sample-rate lookup table,
    RMS formatting, fingerprint — all recomputed by the DuckDB oracle
    from the same hash. NOT yet registered (r10 window at capacity);
    staged for r11, CI-cross-checked in tests/test_ann_and_sources.py."""
    from lotus_spark.sources.multimodal import audio_features

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").cast("string").alias("uri"),
        F.encode(F.col("text"), "UTF-8").alias("media"),
    )
    out = audio_features(media, "media", "uri", fake=True)
    return out.select(
        F.col("uri").cast("long").alias("doc_id"),
        "duration_s",
        F.col("sample_rate").cast("long").alias("sample_rate"),
        "rms_energy", "afingerprint",
    )


_SQL_AUDIO_FEATURES = """
WITH h AS (SELECT doc_id, sha256(text) AS hx FROM documents),
b AS (SELECT doc_id,
             CAST(('0x' || substr(hx, 1, 2)) AS INT) AS b0,
             CAST(('0x' || substr(hx, 3, 2)) AS INT) AS b1,
             CAST(('0x' || substr(hx, 5, 2)) AS INT) AS b2,
             CAST(('0x' || substr(hx, 7, 2)) AS INT) AS b3,
             substr(hx, 1, 16) AS fp
      FROM h)
SELECT doc_id,
       CAST(1 + b0 % 300 AS VARCHAR) || '.' || printf('%02d', b1 % 100)
         AS duration_s,
       CAST([8000, 16000, 22050, 44100][(b2 % 4) + 1] AS BIGINT)
         AS sample_rate,
       printf('%.4f', b3 / 255.0) AS rms_energy,
       fp AS afingerprint
FROM b
"""


def q_video_frame_features(spark, sf_dir):
    """Video-path composition (sources/multimodal.py::frame_sample →
    image_features, STAGED r10): text bytes as the opaque video payload,
    the fake decode exploding 1 + len%5 deterministic pseudo-frames per
    doc (sha256-hex payloads), then per-frame image features over the
    frame binaries — the full sample-then-featurize chain through two
    real mapInPandas stages. Oracle: frames regenerate from
    octet_length, the per-frame hash is sha256(text || '#' || i), and
    the features recompute from sha256 of that hex — all in DuckDB.
    NOT yet registered (r10 window at capacity); staged for r11,
    CI-cross-checked in tests/test_ann_and_sources.py."""
    from lotus_spark.sources.multimodal import frame_sample, image_features

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").cast("string").alias("uri"),
        F.encode(F.col("text"), "UTF-8").alias("media"),
    )
    frames = frame_sample(media, "media", "uri", every_n=30, fake=True)
    keyed = frames.select(
        F.concat_ws("#", F.col("uri"), F.col("frame_idx").cast("string"))
         .alias("uri"),
        F.col("frame").alias("media"),
    )
    out = image_features(keyed, "media", "uri", fake=True)
    return out.select(
        F.col("uri").alias("frame_key"),
        F.col("width").cast("long").alias("width"),
        F.col("height").cast("long").alias("height"),
        "mean_luma", "phash",
    )


_SQL_VIDEO_FRAME_FEATURES = """
WITH d AS (SELECT doc_id, text,
                  1 + octet_length(CAST(text AS BLOB)) % 5 AS n_frames
           FROM documents),
f AS (SELECT d.doc_id, g.i AS i, d.text
      FROM d, range(0, 5) g(i) WHERE g.i < d.n_frames),
hh AS (SELECT doc_id, i,
              sha256(sha256(text || '#' || CAST(i AS VARCHAR))) AS hx
       FROM f)
SELECT CAST(doc_id AS VARCHAR) || '#' || CAST(i * 30 AS VARCHAR)
         AS frame_key,
       64 + CAST(('0x' || substr(hx, 1, 2)) AS INT) % 192 AS width,
       64 + CAST(('0x' || substr(hx, 3, 2)) AS INT) % 192 AS height,
       printf('%.4f', CAST(('0x' || substr(hx, 5, 2)) AS INT) / 255.0)
         AS mean_luma,
       substr(hx, 1, 16) AS phash
FROM hh
"""


def q_warc_roundtrip(spark, sf_dir):
    """WARC source driver row (sources/warc.py, STAGED r10): synthesize
    a per-record-gzip WARC shard from the documents table (one HTTP-200
    response record per doc_id < 100, payload = the text bytes), read it
    back through load_warc(parse_http=True) — binaryFile scan, gzip
    multi-member decode, strict record framing, HTTP split — and pin
    CONTENT INTEGRITY: per doc, the HTTP status, the body's byte length,
    and its sha256. The oracle recomputes all three from the text column
    directly, so a hash match proves the writer->parser->HTTP-split
    chain is byte-lossless. NOT yet registered (r10 window at capacity);
    staged for r11 — CI-cross-checked in tests/test_warc.py."""
    import gzip as _gzip
    import shutil
    import tempfile

    from lotus_spark.sources.warc import load_warc

    docs = _t(spark, sf_dir, "documents")
    rows = (docs.filter("doc_id < 100").select("doc_id", "text")
            .orderBy("doc_id").collect())  # bounded: 100 rows
    d = tempfile.mkdtemp(prefix="warc_rt_")
    try:
        members = []
        for r in rows:
            payload = b"HTTP/1.1 200 OK\r\n\r\n" + r["text"].encode()
            rec = (
                f"WARC/1.0\r\nWARC-Type: response\r\n"
                f"WARC-Record-ID: <urn:doc:{r['doc_id']}>\r\n"
                f"WARC-Target-URI: doc://{r['doc_id']}\r\n"
                f"Content-Type: application/http; msgtype=response\r\n"
                f"Content-Length: {len(payload)}\r\n\r\n"
            ).encode() + payload + b"\r\n\r\n"
            members.append(_gzip.compress(rec))
        with open(f"{d}/shard.warc.gz", "wb") as f:
            f.write(b"".join(members))
        out = load_warc(spark, f"{d}/shard.warc.gz", parse_http=True)
        got = out.select(
            F.regexp_extract("target_uri", r"doc://(\d+)", 1)
             .cast("long").alias("doc_id"),
            F.col("http_status").cast("long").alias("http_status"),
            F.length("body").cast("long").alias("n_bytes"),
            F.sha2(F.col("body"), 256).alias("body_sha"),
        )
        return spark.createDataFrame(
            [(r["doc_id"], r["http_status"], r["n_bytes"], r["body_sha"])
             for r in got.collect()],
            "doc_id long, http_status long, n_bytes long, body_sha string",
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


_SQL_WARC_ROUNDTRIP = """
SELECT doc_id,
       CAST(200 AS BIGINT) AS http_status,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
       sha256(text) AS body_sha
FROM documents WHERE doc_id < 100
"""


def q_warc_export_roundtrip(spark, sf_dir):
    """WARC SINK row (sources/warc.py::write_warc, NEW r11): export the
    doc_id < 100 documents as DISTRIBUTED per-record-gzip WARC shards
    (4 partitions → 4 shard files, resource records, deterministic
    sha256 record ids) and read them back through load_warc — per doc,
    the byte length and sha256 of the payload must equal DuckDB
    recomputing them from the text column, proving the writer → parser
    chain byte-lossless in BOTH directions (q_warc_roundtrip pins the
    parser against independently hand-built records; this row pins the
    sink). STAGED for r12 (the r11 window is at capacity);
    CI-cross-checked in tests/test_warc.py meanwhile."""
    import shutil
    import tempfile

    from lotus_spark.sources.warc import load_warc, write_warc

    docs = _t(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="warc_exp_")
    try:
        write_warc(
            docs.filter("doc_id < 100")
                .select("doc_id", "text")
                .withColumn("uri", F.concat(F.lit("doc://"), "doc_id"))
                .repartition(4, "doc_id"),
            f"{d}/shards", "text", uri_col="uri",
        )
        out = load_warc(spark, f"{d}/shards", types=("resource",))
        got = out.select(
            F.regexp_extract("target_uri", r"doc://(\d+)", 1)
             .cast("long").alias("doc_id"),
            F.length("content").cast("long").alias("n_bytes"),
            F.sha2(F.col("content"), 256).alias("body_sha"),
        )
        return spark.createDataFrame(
            [(r["doc_id"], r["n_bytes"], r["body_sha"])
             for r in got.collect()],
            "doc_id long, n_bytes long, body_sha string",
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


_SQL_WARC_EXPORT_ROUNDTRIP = """
SELECT doc_id,
       CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
       sha256(text) AS body_sha
FROM documents WHERE doc_id < 100
"""


def q_pipeline_ingest(spark, sf_dir):
    """The crawl-day FRONT half composed end-to-end (r10 verdict item
    4; examples/crawl_ingest.py proves it runs, this row proves it's
    RIGHT): synthesize a per-record-gzip WARC shard whose HTTP bodies
    wrap the doc_id >= 50 documents in a fixed HTML template, then

    1. ``load_warc(parse_http=True)`` — streaming gzip-member decode,
       strict framing, HTTP split (sources/warc.py);
    2. ``html_to_text`` — the C4-style pure-Column extraction seam;
    3. Gopher quality gate (``text.gopher_keep``, min_words=20) over
       the EXTRACTED text;
    4. ``dedup_against_index`` — survivors probe the persisted
       MinHash-LSH index of the already-ingested corpus (doc_id < 50)
       and only verified-novel rows pass (estimator verify, τ=0.5).

    Returns (doc_id, n_chars, clean_sha) of the ingested rows. The
    oracle replays the WHOLE chain in DuckDB — HTML build + tag/entity
    strip + whitespace collapse, the pipeline_clean gate block, and the
    neardup_index band algebra with an anti-join — so one hash match
    checks parse, extraction, gate, and index-dedup algebra together."""
    import gzip as _gzip
    import shutil
    import tempfile

    from lotus_spark.functions.dedup_index import (
        dedup_against_index, write_minhash_index,
    )
    from lotus_spark.functions.text import gopher_keep
    from lotus_spark.sources.warc import html_to_text, load_warc

    docs = _t(spark, sf_dir, "documents")
    corpus = docs.filter("doc_id < 50").select("doc_id", "text")
    crawl = (docs.filter("doc_id >= 50").select("doc_id", "text")
             .orderBy("doc_id").collect())  # bounded: sf0.01 = 450 rows
    d = tempfile.mkdtemp(prefix="ingest_")
    try:
        members = []
        for r in crawl:
            html = (
                f"<html><head><title>Doc {r['doc_id']}</title>"
                "<script>var x=1;</script></head><body><p>"
                f"{r['text']}</p></body></html>"
            )
            payload = (b"HTTP/1.1 200 OK\r\nContent-Type: text/html"
                       b"\r\n\r\n" + html.encode())
            rec = (
                f"WARC/1.0\r\nWARC-Type: response\r\n"
                f"WARC-Record-ID: <urn:doc:{r['doc_id']}>\r\n"
                f"WARC-Target-URI: doc://{r['doc_id']}\r\n"
                f"Content-Type: application/http; msgtype=response\r\n"
                f"Content-Length: {len(payload)}\r\n\r\n"
            ).encode() + payload + b"\r\n\r\n"
            members.append(_gzip.compress(rec))
        with open(f"{d}/crawl.warc.gz", "wb") as f:
            f.write(b"".join(members))
        idx = f"{d}/idx"
        write_minhash_index(corpus, idx, "text", "doc_id",
                            n_hashes=16, bands=4)
        recs = load_warc(spark, f"{d}/crawl.warc.gz", parse_http=True)
        extracted = recs.select(
            F.regexp_extract("target_uri", r"doc://(\d+)", 1)
             .cast("long").alias("doc_id"),
            html_to_text(F.decode(F.col("body"), "UTF-8")).alias("text"),
        )
        gated = extracted.filter(gopher_keep(F.col("text"), min_words=20))
        novel = dedup_against_index(spark, idx, gated, "text", "doc_id",
                                    threshold=0.5)
        out = novel.select(
            "doc_id",
            F.length("text").cast("long").alias("n_chars"),
            F.sha2(F.col("text"), 256).alias("clean_sha"),
        )
        return spark.createDataFrame(
            [(r["doc_id"], r["n_chars"], r["clean_sha"])
             for r in out.collect()],
            "doc_id long, n_chars long, clean_sha string",
        )
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _sql_pipeline_ingest() -> str:
    sig_exprs = []
    for j in range(16):
        a, b = _hash_params(j)
        sig_exprs.append(
            f"list_min(list_transform(shingles, sh -> ({a} * {_sql_strhash('sh')} + {b}) % {MOD})) AS sig{j}"
        )
    band_keys = []
    for i in range(4):
        parts = " || '_' || ".join(
            f"CAST(sig{i * 4 + j} AS VARCHAR)" for j in range(4))
        band_keys.append(f"CAST({i} AS VARCHAR) || '_' || {parts}")
    agree = " + ".join(
        f"CASE WHEN gq.sig{j} = gc.sig{j} THEN 1 ELSE 0 END"
        for j in range(16))
    shingle = """list_distinct(list_transform(range(1, greatest(len(words)-3, 0)+2),
        i -> array_to_string(words[i:i+2], ' ')))"""
    return f"""
WITH html AS (
  SELECT doc_id,
         '<html><head><title>Doc ' || CAST(doc_id AS VARCHAR) ||
         '</title><script>var x=1;</script></head><body><p>' || text ||
         '</p></body></html>' AS h
  FROM documents WHERE doc_id >= 50
),
c0 AS (SELECT doc_id,
         regexp_replace(regexp_replace(h,
           '(?is)<script[^>]*>.*?</script>', ' ', 'g'),
           '(?is)<style[^>]*>.*?</style>', ' ', 'g') AS t FROM html),
c1 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g') AS t
       FROM c0),
c2 AS (SELECT doc_id, regexp_replace(t, '(?s)<[^>]+>', ' ', 'g') AS t
       FROM c1),
c3 AS (SELECT doc_id,
         replace(replace(replace(replace(replace(replace(t,
           '&nbsp;', ' '), '&amp;', '&'), '&lt;', '<'), '&gt;', '>'),
           '&quot;', '"'), '&#39;', chr(39)) AS t FROM c2),
cleaned AS (SELECT doc_id, trim(regexp_replace(t, '\\s+', ' ', 'g')) AS text
            FROM c3),
d AS (
  SELECT doc_id, text, string_split_regex(lower(trim(text)), '\\s+') toks
  FROM cleaned
),
g AS (
  SELECT doc_id, text, toks,
    list_transform(range(1, greatest(len(toks)-2, 0)+2),
                   i -> array_to_string(toks[i:i+1], ' ')) AS grams,
    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END AS n_tokens
  FROM d
),
m AS (
  SELECT doc_id, text, n_tokens,
    CASE WHEN len(grams) <= 0 THEN 0.0
         ELSE ROUND(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6) END AS dup2,
    CASE WHEN len(toks) = 0 THEN 0.0
         ELSE CAST(list_reduce(list_prepend(0, list_transform(toks, t -> length(t))), (a, x) -> a + x) AS DOUBLE) / len(toks) END AS atl,
    len(list_filter(toks, t -> list_contains({_STOP}, t))) AS stop_hits,
    CASE WHEN n_tokens = 0 THEN 0.0
         ELSE ROUND(CAST((length(text) - length(replace(text, '#', ''))) + (length(text) - length(replace(text, '...', ''))) / 3 AS DOUBLE) / n_tokens, 6) END AS symr
  FROM g
),
kept AS (
  SELECT doc_id, text FROM m
  WHERE n_tokens >= 20 AND n_tokens <= 100000 AND atl >= 3.0 AND atl <= 10.0
    AND stop_hits >= 2 AND symr <= 0.1 AND dup2 <= 0.2
),
cw AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') words
       FROM documents WHERE doc_id < 50),
pw AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') words
       FROM kept),
cs AS (SELECT doc_id, {shingle} shingles FROM cw),
ps AS (SELECT doc_id, {shingle} shingles FROM pw),
cg AS (SELECT doc_id, {', '.join(sig_exprs)} FROM cs),
pg AS (SELECT doc_id, {', '.join(sig_exprs)} FROM ps),
cbanded AS (SELECT doc_id, unnest([{', '.join(band_keys)}]) AS band FROM cg),
pbanded AS (SELECT doc_id, unnest([{', '.join(band_keys)}]) AS band FROM pg),
cand AS (SELECT DISTINCT p.doc_id AS doc_id, c.doc_id AS match_id
         FROM pbanded p JOIN cbanded c ON p.band = c.band),
matched AS (
  SELECT DISTINCT cand.doc_id FROM cand
  JOIN pg gq ON gq.doc_id = cand.doc_id
  JOIN cg gc ON gc.doc_id = cand.match_id
  WHERE CAST({agree} AS DOUBLE) / 16.0 >= 0.5
)
SELECT k.doc_id, CAST(length(k.text) AS BIGINT) AS n_chars,
       sha256(k.text) AS clean_sha
FROM kept k ANTI JOIN matched m ON k.doc_id = m.doc_id
"""


def q_neardup_index_compacted(spark, sf_dir):
    """MinHash-index maintenance lifecycle (functions/dedup_index.py::
    compact_minhash_index, NEW r10): write the %4==0 docs, APPEND the
    %4==2 docs (fragmenting both tables), COMPACT the index (coalesced
    files, row set verified, rename swap), then probe every odd doc —
    answers must be untouched by the maintenance op, so the oracle is
    the SAME band-algebra replay as q_neardup_index (corpus = evens).
    NOT yet registered (the r10 window is at capacity); staged for the
    r11 window — CI-cross-checked in tests/test_dedup_index.py."""
    import shutil
    import tempfile

    from lotus_spark.functions.dedup_index import (
        append_minhash_index, compact_minhash_index, neardup_join_index,
        write_minhash_index,
    )

    docs = _t(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="mh_cmp_")
    try:
        path = f"{d}/idx"
        write_minhash_index(docs.filter("doc_id % 4 = 0"), path,
                            "text", "doc_id", n_hashes=16, bands=4)
        append_minhash_index(spark, path, docs.filter("doc_id % 4 = 2"),
                             "text", "doc_id")
        compact_minhash_index(spark, path)
        out = neardup_join_index(spark, path, docs.filter("doc_id % 2 = 1"),
                                 "text", "doc_id", threshold=0.5)
        return spark.createDataFrame(
            [(r["doc_id"], r["match_id"], r["est_jaccard"])
             for r in out.collect()],
            "doc_id long, match_id long, est_jaccard double",
        ).select("doc_id", "match_id",
                 F.round(F.col("est_jaccard"), 6).alias("est_jaccard"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def q_contamination_index(spark, sf_dir):
    """Persisted eval-set n-gram decontamination index
    (functions/decontam_index.py, NEW r10): index the doc_id < 25 eval
    docs' hashed 3-gram postings, APPEND the 25 <= doc_id < 50 docs with
    the sidecar-pinned n (the suite-gains-tasks growth path), then probe
    every doc_id >= 50 training doc — one hash equi-join against the
    narrow postings table, per-pair hit counts + eval coverage fraction.
    The oracle replays postings, join, counts, and sizes over eval = all
    doc_id < 50, so a hash match checks write + append + probe together.
    NOT yet registered (the r10 window is at 50-capacity with every slot
    mandated); staged for the r11 window — cross-checked against DuckDB
    in tests/test_decontam_index.py meanwhile."""
    import shutil
    import tempfile

    from lotus_spark.functions.decontam_index import (
        append_ngram_index, contamination_against_index, write_ngram_index,
    )

    docs = _t(spark, sf_dir, "documents")
    d = tempfile.mkdtemp(prefix="ng_idx_")
    try:
        path = f"{d}/idx"
        write_ngram_index(docs.filter("doc_id < 25"), path,
                          "text", "doc_id", ngram_n=3)
        append_ngram_index(spark, path,
                           docs.filter("doc_id >= 25 AND doc_id < 50"),
                           "text", "doc_id")
        out = contamination_against_index(
            spark, path, docs.filter("doc_id >= 50"), "text", "doc_id",
            min_hits=1)
        return spark.createDataFrame(
            [(r["doc_id"], r["match_id"], r["n_hits"], r["eval_frac"])
             for r in out.collect()],
            "doc_id long, match_id long, n_hits long, eval_frac double",
        ).select("doc_id", "match_id", "n_hits",
                 F.round(F.col("eval_frac"), 6).alias("eval_frac"))
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _sql_contamination_index() -> str:
    return f"""
WITH d AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') words FROM documents
),
s AS (
  SELECT doc_id, unnest(list_distinct(list_transform(
    list_transform(range(1, greatest(len(words)-3, 0)+2),
                   i -> array_to_string(words[i:i+2], ' ')),
    g -> {_sql_strhash('g')}))) AS sh
  FROM d
),
e AS (SELECT doc_id, sh FROM s WHERE doc_id < 50),
t AS (SELECT doc_id, sh FROM s WHERE doc_id >= 50),
sz AS (SELECT doc_id, COUNT(*) AS n_ngrams FROM e GROUP BY doc_id),
h AS (SELECT t.doc_id AS doc_id, e.doc_id AS match_id,
             COUNT(*) AS n_hits
      FROM t JOIN e ON t.sh = e.sh
      GROUP BY t.doc_id, e.doc_id)
SELECT h.doc_id, h.match_id, h.n_hits,
       ROUND(CAST(h.n_hits AS DOUBLE) / sz.n_ngrams, 6) AS eval_frac
FROM h JOIN sz ON sz.doc_id = h.match_id
WHERE h.n_hits >= 1
"""


def q_sem_join_cascade(spark, sf_dir):
    """sem_join CASCADE path (cascades/join_cascade.py::sem_join_cascade;
    reference lotus/sem_ops/sem_join.py:180-341): proxy-scored pairs,
    importance-sampled oracle labels, Hoeffding-learned (τ+, τ-), plan
    chooser over search_filter vs map_search_filter. With
    recall_target=precision_target=1.0 the Hoeffding bound is
    UNREACHABLE (the corrected bound is always < 1), so the learner
    provably falls back to accept-nothing / reject-nothing — every pair
    routes through the deterministic oracle LM and the output must
    equal the exact contains() join, which the SQL replica computes.
    The row therefore executes the full cascade machinery (both plan
    scorings, bucketing, sampling, threshold search, plan choice, the
    gray-zone oracle UDF) with a deterministic end state."""
    from lotus_spark import sem_join
    from lotus_spark.cascades.utils import CascadeArgs
    from lotus_spark.models import HashRM
    from lotus_spark.models.demo_lms import PairKeywordJoinLM
    from lotus_spark.session import settings

    docs = _t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0)
    kws = spark.createDataFrame([("spark",), ("merge",)], ["kw"])
    with settings.override(rm=HashRM(dim=16)):
        out = sem_join(
            docs, kws, "{text} mentions the concept {kw}",
            lm=PairKeywordJoinLM("text", "kw"),
            cascade_args=CascadeArgs(
                recall_target=1.0, precision_target=1.0,
                min_sample_size=20,
            ),
        )
    return out.select("doc_id", "kw")


_SQL_SEM_JOIN_CASCADE = """
SELECT doc_id, kw
FROM documents, (VALUES ('spark'), ('merge')) AS k(kw)
WHERE doc_id % 10 = 0 AND contains(text, kw)
"""


def q_sem_join_cascade_routed(spark, sf_dir):
    """NON-degenerate join cascade (cascades/join_cascade.py; reference
    lotus/sem_ops/sem_join.py:180-341): unlike the targets-1.0 row above
    (oracle-for-everything by construction), here the learned thresholds
    ROUTE. TieredEvidenceRM gives every (doc, 'spark') pair one of three
    proxy scores — strong (contains spark AND table: all TRUE), weak
    (spark-without-table: TRUE; scan-without-spark: FALSE — a mixed
    tier), none (neither: all FALSE). At sf0.01 the tiers split
    312/153/35 of 500 pairs, so with targets 0.85 and a 350-row sample
    (Hoeffding eps ~0.055) the learner provably lands tau+ at the strong
    tier (pure, 1-eps >= 0.85), tau- below the weak tier (dropping it
    would cap recall at ~0.81 < 0.85+eps), giving nonzero
    accept/gray/reject partitions: strong accepted WITHOUT oracle calls,
    weak oracle-filtered, none rejected. route_col='src' carries the
    routing into the value hash — the oracle replays it as a CASE on the
    same contains() predicates, so the driver checks the gray-zone path
    itself, not just final membership."""
    from lotus_spark.cascades.join_cascade import sem_join_cascade
    from lotus_spark.cascades.utils import CascadeArgs
    from lotus_spark.models.demo_lms import (
        PairKeywordJoinLM,
        TieredEvidenceRM,
    )
    from lotus_spark.session import settings

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    kws = spark.createDataFrame([("spark",)], ["kw"])
    out = sem_join_cascade(
        docs, kws,
        "the document [text] mentions the keyword [kw]",
        ["text"], ["kw"], {},
        oracle_lm=PairKeywordJoinLM("text", "kw"),
        cascade_args=CascadeArgs(
            recall_target=0.85, precision_target=0.85,
            min_sample_size=350, max_sample_size=2000,
            join_cascade_strategy="search_filter",
        ),
        fmt=settings.serialization_format,
        rm=TieredEvidenceRM("spark", "table", "scan"),
        route_col="src",
    )
    return out.select("doc_id", "kw", "src")


_SQL_SEM_JOIN_CASCADE_ROUTED = """
SELECT doc_id, kw,
       CASE WHEN contains(text, 'table') THEN 'accept' ELSE 'gray' END AS src
FROM documents, (VALUES ('spark')) AS k(kw)
WHERE contains(text, 'spark')
"""


def q_answer_cache_map(spark, sf_dir):
    """Distributed answer cache short-circuiting a semantic pass
    (models/cache.py::join_answer_cache; reference operator-cache
    semantics, lotus/cache.py): pass 1 sem_maps only the 'en' docs and
    its (prompt_hash, answer) pairs become the cache table; pass 2 over
    ALL docs joins the cache — hits skip the LM stage entirely, only
    misses run sem_map. The src column routes into the output, so the
    value hash PROVES which rows took the cache path (every 'en' row)
    vs the LM path (everything else); both paths must agree with
    upper(lang). The LM-call-count assertion lives in
    tests/test_lm_infra.py::test_answer_cache_pipeline_skips_lm_calls."""
    from lotus_spark import sem_map
    from lotus_spark.models.cache import join_answer_cache
    from lotus_spark.models.fake_lm import RegexMapLM

    instr = "state the language {lang} in uppercase"

    def lm():
        return RegexMapLM(r"\[lang\]: «(\w+)»", "upper")

    docs = _t(spark, sf_dir, "documents")
    first = sem_map(docs.filter(F.col("lang") == "en"), instr, lm=lm())
    # persist: the hits/misses union references the cache subtree from
    # BOTH branches and their differently-pruned broadcasts defeat
    # ReuseExchange — without the pin, the cache-BUILD sem_map (an LM
    # pass) executes once per branch, i.e. the answer cache would pay
    # its own build twice. The cache table is bounded by distinct
    # prompts, so pinning it is scale-safe (multi-consumer-intermediate
    # convention, as in q_pipeline_clean).
    cache = (
        first.select("lang", "_map").distinct()
        .select(F.sha2(F.col("lang"), 256).alias("prompt_hash"),
                F.col("_map").alias("answer"))
    ).persist()
    hits, misses = join_answer_cache(docs, "lang", cache,
                                     answer_col="answer")
    miss_out = sem_map(misses, instr, lm=lm()).withColumnRenamed(
        "_map", "answer")
    out = hits.withColumn("src", F.lit("cache")).select(
        "doc_id", "answer", "src"
    ).unionByName(
        miss_out.withColumn("src", F.lit("lm")).select(
            "doc_id", "answer", "src")
    )
    return out


_SQL_ANSWER_CACHE_MAP = """
SELECT doc_id, upper(lang) AS answer,
       CASE WHEN lang = 'en' THEN 'cache' ELSE 'lm' END AS src
FROM documents
"""


def q_agentic_mapreduce(spark, sf_dir):
    """Agentic map/filter/reduce pipeline under the driver gate (agentic/
    pipeline.py::run_pipeline; reference lotus/agentic/pipeline.py:235-440)
    — the last subsystem previously verified only by pytest. Batched
    shards (25 units/agent) run FILTER (keep docs mentioning 'scan') and
    MAP (per-unit whitespace token count) as executor-side agents inside
    applyInPandas, exercising the '[unit id]' shard prompt rendering and
    the per-unit JSON-array reply parsing; REDUCE is the terminal
    driver-side agent summing the per-unit counts. The scripted completer
    computes each answer deterministically from the shard prompt itself,
    so every line — one per kept doc plus the reduce total — is a pure
    function of the corpus that DuckDB replays."""
    import json as _json
    import re as _re

    from lotus_spark.agentic.corpus import Corpus
    from lotus_spark.agentic.loop import ScriptedCompleter
    from lotus_spark.agentic.pipeline import run_pipeline
    from lotus_spark.agentic.planner import Plan

    def _units(user: str) -> list[tuple[str, str]]:
        shard = user.split("YOUR SHARD:\n", 1)[1]
        shard = shard.split("\n\nThe shard has MULTIPLE", 1)[0]
        out = []
        for chunk in shard.split("[unit ")[1:]:
            uid, rest = chunk.split("]\n", 1)
            out.append((uid, rest.rstrip("\n").split("\n\n")[0]))
        return out

    def completer(messages):
        sys0 = messages[0]["content"]
        user = [m for m in messages if m["role"] == "user"][-1]["content"]
        if "final aggregator" in sys0:
            total = sum(int(m) for m in _re.findall(r"toks=(\d+)", user))
            return f"total={total}"
        units = _units(user)
        if "keep-or-drop" in sys0:
            return _json.dumps(
                [{"id": u, "keep": "scan" in c} for u, c in units])
        return _json.dumps(
            [{"id": u, "output": f"id={u} toks={len(c.split())}"}
             for u, c in units])

    def factory(tools):
        return ScriptedCompleter(completer)

    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").cast("string").alias("id"),
        F.col("text").alias("content"),
    )
    corpus = Corpus(docs)
    plan = Plan(
        ops=["filter", "map", "reduce"],
        instructions={"filter": "keep docs about scans",
                      "map": "count the tokens in each unit",
                      "reduce": "sum the per-unit token counts"},
        strategies={"filter": "batched", "map": "batched"},
        shard_size=25, parallelism=8,
    )
    res = run_pipeline(corpus, "token accounting", ops=plan.ops,
                       completer_factory=factory, plan=plan)
    rows = [(f,) for f in res.findings] + [(res.output,)]
    return spark.createDataFrame(rows, ["line"])


_SQL_AGENTIC_MAPREDUCE = """
WITH k AS (
  SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS n
  FROM documents WHERE contains(text, 'scan')
)
SELECT 'id=' || CAST(doc_id AS VARCHAR) || ' toks=' || CAST(n AS VARCHAR) AS line FROM k
UNION ALL
SELECT 'total=' || CAST(COALESCE(SUM(n), 0) AS VARCHAR) AS line FROM k
"""


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        # Round-15 OPTIMIZATION rotation (.round_base = 5bfa686). The
        # round edited functions/ann.py, functions/cluster_index.py,
        # functions/dedup_index.py and streaming/ops.py (value-identical
        # performance work — see OPTIMIZATION_r15.md), so the window
        # (first 50) holds: (a) EVERY registered key whose q-body
        # imports an edited module (27 keys — they must earn fresh
        # driver rows on the optimized code) plus the two streaming
        # rows whose q-bodies changed state-partition floors this
        # round; (b) the 12 keys whose q-bodies import a semantic
        # operator or cascade module (edited since for the per-batch
        # prompt dedup) and 4 of the 5 keys that run those operators
        # through judge.py or a LazyFrame; (c) the 5 keys importing the
        # index modules edited for the shared index commit (bm25_store,
        # decontam_index, index_admin). Tail keys all hold a
        # CHECKS_r14 row (117/117 re-gate) and a CHECKS_r15 row
        # (full-registry re-gate on this round's final tree) and
        # import only byte-untouched modules.
        # -- importers of functions/ann.py (edited this round) ---------
        "hybrid_search": q_hybrid_search,
        "ann_join_ivfpq": q_ann_join_ivfpq,
        "ann_join_ivfpq_stored": q_ann_join_ivfpq_stored,
        "ann_join_ivf": q_ann_join_ivf,
        "ann_join_pq": q_ann_join_pq,
        "ivfpq_cdc": q_ivfpq_cdc,
        "ivfpq_compacted": q_ivfpq_compacted,
        "ivfpq_incremental": q_ivfpq_incremental,
        "ivfpq_roundtrip": q_ivfpq_roundtrip,
        "knn_bruteforce": q_knn_bruteforce,
        "knn_ivf": q_knn_ivf,
        "knn_ivfpq": q_knn_ivfpq,
        "knn_ivfpq_rerank": q_knn_ivfpq_rerank,
        "knn_lsh": q_knn_lsh,
        "knn_pq": q_knn_pq,
        "embedding_neardup_index": q_embedding_neardup_index,
        # -- importers of functions/dedup_index.py ---------------------
        "neardup_index": q_neardup_index,
        "neardup_index_cdc": q_neardup_index_cdc,
        "neardup_index_stream": q_neardup_index_stream,
        "neardup_index_compacted": q_neardup_index_compacted,
        "pipeline_ingest": q_pipeline_ingest,
        "neardup_index_lifecycle": q_neardup_index_lifecycle,
        # -- importers of functions/cluster_index.py -------------------
        "cluster_assign_incremental": q_cluster_assign_incremental,
        "embedding_cluster_assign": q_embedding_cluster_assign,
        # -- importers of the index modules the index_commit refactor
        # edited (functions/bm25_store.py, decontam_index.py,
        # index_admin.py; value-identical maintenance commits) -------
        "hybrid_search_stored_batch": q_hybrid_search_stored_batch,
        "hybrid_search_stored": q_hybrid_search_stored,
        "bm25_index_search": q_bm25_index_search,
        "contamination_index": q_contamination_index,
        "stored_index_stats": q_stored_index_stats,
        # -- importers of streaming/ops.py + changed streaming q-bodies
        "streaming_sessions": q_streaming_sessions,
        "streaming_doc_stats": q_streaming_doc_stats,
        "streaming_heavy_hitters": q_streaming_heavy_hitters,
        "streaming_neardup": q_streaming_neardup,
        "streaming_neardup_minhash": q_streaming_neardup_minhash,
        # -- importers of the semantic operators and cascades, whose
        # LM calls all go through models.lm.call_distinct (one request
        # per distinct prompt per batch, value-identical answers) -----
        "sem_filter": q_sem_filter,
        "sem_filter_cascade": q_sem_filter_cascade,
        "answer_cache_map": q_answer_cache_map,
        "sem_map": q_sem_map,
        "sem_extract": q_sem_extract,
        "sem_join": q_sem_join,
        "sem_join_cascade": q_sem_join_cascade,
        "sem_join_cascade_routed": q_sem_join_cascade_routed,
        "sem_agg": q_sem_agg,
        "sem_partition_agg": q_sem_partition_agg,
        "sem_topk": q_sem_topk,
        "sem_topk_quicksem": q_sem_topk_quicksem,
        # -- q bodies that reach those operators through judge.py or a
        # LazyFrame (no direct import of an edited module, but they run
        # the edited LM call sites) ------------------------------------
        "sem_pipeline": q_sem_pipeline,
        "filter_reorder": q_filter_reorder,
        "llm_judge": q_llm_judge,
        # -- importer of functions/bm25.py (rrf_fuse_batch rewritten as
        # a union fusion; value-identical) ----------------------------
        "bm25_search": q_bm25_search,
        # -- tail (>50): every key holds a CHECKS_r14 row and earns a
        # CHECKS_r15 row (full-registry re-gates at sf0.01); all modules
        # imported by these q bodies are byte-untouched since
        # .round_base (CI: test_registry_tail_modules_untouched_this_round).
        # llm_judge_structured left the window for bm25_search (it
        # imports no edited module); the next five left it for the
        # index-module importers above, the next fourteen for the
        # operator importers and their indirect callers; they import
        # only untouched modules.
        "llm_judge_structured": q_llm_judge_structured,
        "pairwise_judge": q_pairwise_judge,
        "orders_rollup": q_orders_rollup,
        "range_join": q_range_join,
        "region_revenue": q_region_revenue,
        "sem_cluster_by": q_sem_cluster,
        "sem_sim_join": q_sem_sim_join,
        "snapshot_diff": q_snapshot_diff,
        "time_rollup": q_time_rollup,
        "top_revenue": q_top_revenue,
        "url_canonicalize": q_url_canonicalize,
        "video_frame_features": q_video_frame_features,
        "warc_roundtrip": q_warc_roundtrip,
        "warc_export_roundtrip": q_warc_export_roundtrip,
        "sem_search": q_sem_search,
        "sem_search_rerank": q_sem_search_rerank,
        "pipeline_pack": q_pipeline_pack,
        "pipeline_curate": q_pipeline_curate,
        "weighted_sample": q_weighted_sample,
        "write_shards": q_write_shards,
        "hash_split": q_hash_split,
        "minhash_signature": q_minhash_signature,
        "ngram_stats": q_ngram_stats,
        "pipeline_clean": q_pipeline_clean,
        "pipeline_quality": q_pipeline_quality,
        "sem_dedup": q_sem_dedup,
        "contamination": q_contamination,
        "embedding_neardup": q_embedding_neardup,
        "exact_dedup": q_exact_dedup,
        "jaccard_pairs": q_jaccard_pairs,
        "leakage_safe_split": q_leakage_safe_split,
        "minhash_dedup_keepbest": q_minhash_dedup_keepbest,
        "minhash_lsh_dedup": q_minhash_lsh_dedup,
        "span_dedup": q_span_dedup,
        "paragraph_dedup": q_paragraph_dedup,
        "simhash": q_simhash,
        "strip_boilerplate": q_strip_boilerplate,
        "sessionize": q_sessionize,
        "part_brand_stats": q_part_brand_stats,
        "mix_to_weights": q_mix_to_weights,
        "stratified_sample": q_stratified_sample,
        "quantile_filter": q_quantile_filter,
        "perplexity_bucket": q_perplexity_bucket,
        "pack_sequences": q_pack_sequences,
        "cap_per_key": q_cap_per_key,
        "lazy_multi_join": q_lazy_multi_join,
        "profile": q_profile,
        "pricing_summary": q_pricing_summary,
        "top3_orders_per_customer": q_top3_orders_per_customer,
        "text_stats": q_text_stats,
        "quality_signals": q_quality_signals,
        "bucketed_join_coalesced": q_bucketed_join_coalesced,
        "orders_union_extremes": q_orders_union_extremes,
        "supplier_intersect": q_supplier_intersect,
        "quality_model_score": q_quality_model_score,
        "distinct_priorities": q_distinct_priorities,
        "agentic_mapreduce": q_agentic_mapreduce,
        "bucketed_join": q_bucketed_join,
        "dedupe_doc_units": q_dedupe_doc_units,
        "sem_index_roundtrip": q_sem_index_roundtrip,
        "shard_for_training": q_shard_for_training,
        "asof_join": q_asof_join,
        "audio_features": q_audio_features,
        "customers_no_orders": q_customers_no_orders,
        "data_quality_report": q_data_quality_report,
        "events_hourly": q_events_hourly,
        "image_features": q_image_features,
    }


def q_sem_index_roundtrip(spark, sf_dir):
    """sem_index → persist parquet → read_index → sem_search over the
    reloaded index (reference sem_index.py:61-77 + load_sem_index.py:49-51).
    The RM is the SQL-expressible PolyHashRM, so the WHOLE pipeline —
    embed, distinct, parquet round-trip, reload, cosine top-K — is
    hash-checked against DuckDB recomputing the same embeddings."""
    import tempfile

    from lotus_spark.models.demo_lms import PolyHashRM
    from lotus_spark.operators.sem_index import read_index, sem_index
    from lotus_spark.operators.sem_search import sem_search

    docs = _t(spark, sf_dir, "documents")
    rm = PolyHashRM(dim=4)
    idx_dir = tempfile.mkdtemp(prefix="lotus_semidx_")
    sem_index(docs, "text", idx_dir, rm=rm)
    idx = read_index(spark, idx_dir)  # (value, _lotus_emb) from parquet
    qv = [float(x) for x in rm(["sample query text"])[0]]
    out = sem_search(
        idx, col="value", query="", query_vec=qv, K=10,
        emb_col="_lotus_emb", tie_break="value", return_scores=True,
    )
    return out.select(
        "value", F.round("vec_scores_sim_score", 6).alias("score")
    )


def _sql_sem_index_roundtrip() -> str:
    from lotus_spark.models.demo_lms import PolyHashRM

    comps = []
    for j in range(1, 5):
        a, b = _hash_params(j)
        comps.append(
            f"CAST(CAST((({a} * h + {b}) % {MOD}) AS DOUBLE) / {MOD} AS REAL)"
        )
    qv = [float(x) for x in PolyHashRM(dim=4)(["sample query text"])[0]]
    qlit = "[" + ", ".join(repr(x) for x in qv) + "]"
    return f"""
WITH t AS (SELECT DISTINCT text AS value FROM documents),
hh AS (SELECT value, {_sql_strhash('value')} AS h FROM t),
e AS (SELECT value, CAST([{', '.join(comps)}] AS DOUBLE[]) AS v FROM hh),
q AS (SELECT CAST({qlit} AS DOUBLE[]) AS qv)
SELECT value, ROUND({_sql_cosine('e.v', 'q.qv')}, 6) AS score
FROM e, q
ORDER BY {_sql_cosine('e.v', 'q.qv')} DESC, value
LIMIT 10
"""


def q_sem_partition_agg(spark, sf_dir):
    """sem_partition_by → sem_agg pipeline (reference
    sem_partition_by.py:60-67): a deterministic partition_fn attaches
    _lotus_partition_id, rows are physically co-located on it, and the
    grouped fold aggregates per partition."""
    from lotus_spark import sem_agg
    from lotus_spark.models.demo_lms import CountingAggLM
    from lotus_spark.operators.sem_partition_by import (
        PARTITION_COL,
        sem_partition_by,
    )

    docs = _t(spark, sf_dir, "documents")
    part = sem_partition_by(
        docs,
        partition_fn=lambda d: d.withColumn(
            PARTITION_COL, (F.col("n_chars") % 3).cast("int")
        ),
    )
    lm = CountingAggLM()
    lm.max_ctx_len = 4096  # force a multi-level fold
    out = sem_agg(part, "Count the {text} documents", lm=lm,
                  group_by=[PARTITION_COL])
    return out


_SQL_SEM_PARTITION_AGG = """
SELECT CAST(n_chars % 3 AS INT) AS _lotus_partition_id,
       CAST(COUNT(*) AS VARCHAR) AS _output
FROM documents GROUP BY 1
"""


def q_sessionize(spark, sf_dir):
    """Gap-based event sessionization (functions/timeseries.py): one
    shuffle on user_id, lag + conditional cumsum — no self-join. Oracle:
    the same window algebra in DuckDB."""
    from lotus_spark.functions.timeseries import sessionize

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    out = sessionize(ev, "ts", "user_id", gap="30 minutes",
                     tiebreak="event_id")
    return out.select(
        "event_id", "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss")
        .alias("session_start"),
    )


_SQL_SESSIONIZE = """
WITH l AS (
  SELECT event_id, user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events),
n AS (SELECT *, CASE WHEN prev IS NULL OR ts > prev + INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS isnew FROM l),
s AS (SELECT *, SUM(isnew) OVER (PARTITION BY user_id
        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) - 1 AS session_id
      FROM n)
SELECT event_id, user_id, CAST(session_id AS BIGINT) AS session_id,
       strftime(MIN(ts) OVER (PARTITION BY user_id, session_id),
                '%Y-%m-%d %H:%M:%S') AS session_start
FROM s
"""


def q_paragraph_dedup(spark, sf_dir):
    """Cross-document unit-level exact dedup (CCNet paragraph dedup shape,
    functions/dedup.py::paragraph_dedup): each distinct unit survives only
    in the min-doc_id document, docs reassembled in order. Units here are
    words (the synthetic docs have no paragraph breaks); the plan is
    identical at any unit granularity."""
    from lotus_spark.functions.dedup import paragraph_dedup

    docs = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    out = paragraph_dedup(docs, "text", "doc_id", sep=" ")
    return out.select("doc_id", F.col("text").alias("kept_text"))


_SQL_PARAGRAPH_DEDUP = """
WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 120),
p0 AS (SELECT doc_id, string_split(text, ' ') AS parts FROM d),
p AS (SELECT doc_id, i - 1 AS pos, trim(parts[i]) AS para
      FROM p0, LATERAL (SELECT unnest(range(1, len(parts) + 1)) AS i)
      WHERE length(trim(parts[i])) >= 1),
w AS (SELECT *, row_number() OVER (PARTITION BY para
        ORDER BY doc_id, pos) AS rn FROM p),
k AS (SELECT doc_id, pos, para FROM w WHERE rn = 1),
r AS (SELECT doc_id, string_agg(para, ' ' ORDER BY pos) AS kept
      FROM k GROUP BY doc_id)
SELECT d.doc_id, COALESCE(r.kept, '') AS kept_text
FROM d LEFT JOIN r USING (doc_id)
"""


def q_ngram_stats(spark, sf_dir):
    """Corpus top-K word bigrams with occurrence + document frequency
    (functions/dedup.py::ngram_stats): map-side explode + hash aggregate +
    TakeOrderedAndProject — the full vocabulary never sorts globally."""
    from lotus_spark.functions.dedup import ngram_stats

    docs = _t(spark, sf_dir, "documents")
    return ngram_stats(docs, "text", n=2, top_k=20)


_SQL_NGRAM_STATS = r"""
WITH w AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
           FROM documents),
g AS (SELECT doc_id,
        list_transform(range(1, greatest(len(t) - 2, 0) + 2),
                       i -> array_to_string(t[i:i+1], ' ')) AS grams
      FROM w),
occ AS (SELECT unnest(grams) AS ngram FROM g),
oc AS (SELECT ngram, COUNT(*) AS n_occurrences FROM occ GROUP BY ngram),
dfq AS (SELECT ngram, COUNT(*) AS doc_freq
        FROM (SELECT doc_id, unnest(list_distinct(grams)) AS ngram FROM g)
        GROUP BY ngram)
SELECT oc.ngram, oc.n_occurrences, dfq.doc_freq
FROM oc JOIN dfq USING (ngram)
ORDER BY n_occurrences DESC, ngram
LIMIT 20
"""


def q_streaming_doc_stats(spark, sf_dir):
    """Structured Streaming end-to-end: file-source stream over the
    documents table → watermarked 1-minute windowed corpus stats →
    memory sink under Trigger.AvailableNow (bounded + deterministic, so
    DuckDB can replay the identical window algebra as a batch query).
    The streaming extension is Spark-native (the reference is batch-only,
    SURVEY §1.1); one shuffle on the window key, map-side partials."""
    import uuid

    from lotus_spark.streaming.ops import (
        read_parquet_stream,
        state_sized_session,
        windowed_doc_stats,
    )

    # the stream's own session, its state-store partition count derived
    # from per-trigger input bytes (guide §2.2): every micro-batch
    # commits every state partition, so a core-count-sized default is
    # pure fixed overhead here. floor=1: the token/quality expressions
    # aggregate map-side (partials), so the state op only merges ~one
    # row per window
    child = state_sized_session(
        spark, f"{sf_dir}/documents.parquet", floor=1)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = read_parquet_stream(
        child, sf_dir, schema, glob="documents.parquet"
    )
    stream = stream.withColumn(
        "ts", F.timestamp_seconds(F.col("doc_id") % 600)
    )
    stats = windowed_doc_stats(stream, "text", "ts", window="1 minute")
    qname = f"oracle_stream_{uuid.uuid4().hex[:8]}"
    q = (
        stats.writeStream.format("memory").queryName(qname)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return child.table(qname).select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss")
        .alias("window_start"),
        F.date_format("window_end", "yyyy-MM-dd HH:mm:ss")
        .alias("window_end"),
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("avg_quality", 4).alias("avg_quality"),
    )


_SQL_STREAMING_DOC_STATS = f"""
WITH d AS (
  SELECT doc_id, text,
         CAST(doc_id % 600 AS BIGINT) // 60 AS m,
         string_split_regex(lower(trim(text)), '\\s+') AS toks
  FROM documents
),
q AS (
  SELECT m,
    CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(toks) END AS n_tok,
    ROUND(
      0.4 * least((CASE WHEN len(toks) = 0 THEN 0.0
            ELSE CAST(len(list_filter(toks, t -> list_contains({_STOP}, t))) AS DOUBLE) / len(toks) END) * 5.0, 1.0)
      + 0.4 * (CASE WHEN length(text) = 0 THEN 0.0
            ELSE CAST(length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS DOUBLE) / length(text) END)
      + 0.2 * (CASE WHEN (CASE WHEN len(toks) = 0 THEN 0.0
            ELSE CAST(list_reduce(list_prepend(0, list_transform(toks, t -> length(t))), (a, x) -> a + x) AS DOUBLE) / len(toks) END)
            BETWEEN 3.0 AND 10.0 THEN 1.0 ELSE 0.0 END),
      4) AS quality
  FROM d
)
SELECT strftime(epoch_ms(m * 60000), '%Y-%m-%d %H:%M:%S') AS window_start,
       strftime(epoch_ms((m + 1) * 60000), '%Y-%m-%d %H:%M:%S') AS window_end,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
       ROUND(AVG(quality), 4) AS avg_quality
FROM q GROUP BY m
"""


def q_streaming_sessions(spark, sf_dir):
    """Stateful streaming sessionization: file-source stream over events →
    native ``session_window`` (gap 30m) keyed by user → append-mode memory
    sink under Trigger.AvailableNow. With watermark delay 0 the final
    watermark is the global max event time, so exactly the sessions whose
    end (last event + gap) has passed it are emitted — deterministic and
    replayable in DuckDB as batch gap-sessionization + the same cutoff.
    The batch twin is ``functions.timeseries.sessionize`` (oracle
    ``sessionize``); this entry proves the STREAMING state machinery."""
    import uuid

    from lotus_spark.streaming.ops import (
        read_parquet_stream,
        state_sized_session,
        sessionized_stats,
    )

    # input-derived state-partition count (guide §2.2): the session
    # state machinery commits every partition per micro-batch
    child = state_sized_session(spark, f"{sf_dir}/events.parquet")
    schema = spark.read.parquet(f"{sf_dir}/events.parquet").schema
    stream = read_parquet_stream(child, sf_dir, schema, glob="events.parquet")
    # watermarks demand TIMESTAMP (LTZ); NTZ→LTZ is identity under the
    # UTC session
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    out = sessionized_stats(stream, "ts", "user_id", gap="30 minutes",
                            watermark="0 seconds")
    qname = f"oracle_sessions_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return child.table(qname).select(
        "user_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss")
        .alias("session_start"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss")
        .alias("session_end"),
        F.col("n_events").cast("long").alias("n_events"),
    )


_SQL_STREAMING_SESSIONS = """
WITH l AS (
  SELECT user_id, ts,
         lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events),
n AS (SELECT *, CASE WHEN prev IS NULL OR ts > prev + INTERVAL 30 MINUTE
                     THEN 1 ELSE 0 END AS isnew FROM l),
s AS (SELECT *, SUM(isnew) OVER (PARTITION BY user_id
        ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid FROM n),
g AS (SELECT user_id, sid, MIN(ts) AS session_start,
             MAX(ts) + INTERVAL 30 MINUTE AS session_end,
             COUNT(*) AS n_events
      FROM s GROUP BY user_id, sid)
SELECT user_id,
       strftime(session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
       strftime(session_end, '%Y-%m-%d %H:%M:%S') AS session_end,
       n_events
FROM g
WHERE session_end <= (SELECT MAX(ts) FROM events)
"""


def q_streaming_neardup(spark, sf_dir):
    """Streaming SimHash near-dup drop (streaming/ops.py:332) under the
    driver gate: documents stream → ``streaming_neardup`` (30-bit
    SimHash, low-16-bit bucket key, watermark-evicted
    ``dropDuplicatesWithinWatermark``) → survivors projected onto the
    RECOMPUTED bucket. Which row survives inside a bucket is
    arrival-order-dependent (the state store keeps the first row it
    sees), but the bucket SET is exactly the distinct input buckets —
    deterministic by construction — so the oracle replays the
    fingerprint + bucket algebra and the dedup cardinality in DuckDB
    while per-survivor batch/stream parity stays pinned by
    tests (``test_streaming.py``)."""
    import uuid

    from lotus_spark.functions.dedup import simhash_expr
    from lotus_spark.streaming.ops import (
        read_parquet_stream,
        state_sized_session,
        streaming_neardup,
    )

    # input-derived state-partition count (guide §2.2); the fingerprint
    # stage keeps the repartition parallelism below — only the dedup
    # state exchange narrows, and its per-row state work is an O(1)
    # lookup (floor=1: partitions are pure commit overhead here)
    child = state_sized_session(
        spark, f"{sf_dir}/documents.parquet", floor=1)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = read_parquet_stream(
        child, sf_dir, schema, glob="documents.parquet"
    )
    # +60: a row whose event time IS epoch 0 sits at the initial
    # watermark and dropDuplicatesWithinWatermark discards it as late
    # (same gotcha the heavy-hitters row documents)
    stream = stream.withColumn(
        "ts", F.timestamp_seconds(F.col("doc_id") % 600 + 60)
    )
    # the single-parquet-file source yields ONE scan partition per
    # micro-batch; round-robin repartition spreads the fingerprint
    # expression (the dominant cost) across cores before the dedup
    # shuffle — a production multi-file ingest gets this for free.
    # defaultParallelism = the session's core count (scale-adaptive),
    # not a constant tuned to this box (r15, guide §2)
    stream = stream.repartition(spark.sparkContext.defaultParallelism)
    out = streaming_neardup(stream, "text", "ts", watermark="10 minutes",
                            bits=16, n_bits=30)
    qname = f"oracle_neardup_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    surv = child.table(qname)
    bucket = F.pmod(simhash_expr(F.col("text"), n_bits=30),
                    F.lit(2 ** 16)).cast("long")
    return surv.select(bucket.alias("bucket"))


_SQL_STREAMING_NEARDUP = f"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS t FROM documents
),
th AS (SELECT doc_id, {_sql_strhash('t')} AS h FROM tok),
bits AS (
  SELECT doc_id, b.b AS b,
    SUM((CAST(floor(h / pow(2.0, b.b)) AS BIGINT) % 2) * 2 - 1) AS s
  FROM th, range(0, 30) AS b(b)
  GROUP BY doc_id, b.b
),
fp AS (
  SELECT doc_id,
    CAST(SUM(CASE WHEN s > 0 THEN CAST(pow(2.0, b) AS BIGINT) ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS simhash
  FROM bits GROUP BY doc_id
)
SELECT DISTINCT simhash % 65536 AS bucket FROM fp
"""


def q_streaming_neardup_minhash(spark, sf_dir):
    """Streaming MinHash-band near-dup drop (streaming/ops.py:520) under
    the driver gate, at ``bands=1`` — the band key is then the FULL
    16-hash signature, so the survivor set is one row per distinct
    signature regardless of arrival order, and the output projected onto
    the recomputed signature is deterministic (the driver's availableNow
    batch gives no ordering guarantee, so any ``bands>1`` chain — whose
    survivor set depends on which near-dup the state store saw first —
    cannot be driver-hashed; the multi-band chain semantics are pinned
    by batch/stream parity tests instead). Exercised end to end here:
    ``minhash_expr`` on a stream, ``minhash_band_keys`` construction,
    the watermark + ``dropDuplicatesWithinWatermark`` state machinery,
    and real drops (exact-duplicate texts collapse)."""
    import uuid

    from lotus_spark.functions.dedup import minhash_expr
    from lotus_spark.streaming.ops import (
        read_parquet_stream,
        state_sized_session,
        streaming_neardup_minhash,
    )

    child = state_sized_session(  # guide §2.2, see above
        spark, f"{sf_dir}/documents.parquet", floor=1)
    schema = spark.read.parquet(f"{sf_dir}/documents.parquet").schema
    stream = read_parquet_stream(
        child, sf_dir, schema, glob="documents.parquet"
    )
    stream = stream.withColumn(  # +60: epoch-0 rows are "late", see above
        "ts", F.timestamp_seconds(F.col("doc_id") % 600 + 60)
    )
    # one-file source: see q_streaming_neardup (core-count round-robin)
    stream = stream.repartition(spark.sparkContext.defaultParallelism)
    out = streaming_neardup_minhash(
        stream, "text", "ts", watermark="10 minutes",
        n_hashes=16, bands=1, shingle_n=3,
    )
    qname = f"oracle_neardup_mh_{uuid.uuid4().hex[:8]}"
    q = (
        out.writeStream.format("memory").queryName(qname)
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    surv = child.table(qname)
    sig = minhash_expr(F.col("text"), n_hashes=16, shingle_n=3)
    return surv.select(
        *[sig[j].alias(f"sig{j}") for j in range(16)]
    )


def _sql_streaming_neardup_minhash() -> str:
    sig_exprs = []
    for j in range(16):
        a, b = _hash_params(j)
        sig_exprs.append(
            f"list_min(list_transform(shingles, sh -> ({a} * {_sql_strhash('sh')} + {b}) % {MOD})) AS sig{j}"
        )
    return f"""
WITH d AS (SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') words FROM documents),
s AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(words)-3, 0)+2),
        i -> array_to_string(words[i:i+2], ' '))) shingles FROM d),
sig AS (SELECT doc_id, {', '.join(sig_exprs)} FROM s)
SELECT DISTINCT {', '.join(f'sig{j}' for j in range(16))} FROM sig
"""


def q_sem_search(spark, sf_dir):
    """sem_search operator path (scores col, tie-break, vector entry point)
    over the stored embedding column — reference sem_search.py:91-157."""
    from lotus_spark.operators.sem_search import sem_search

    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    out = sem_search(
        emb, col="vec_id", query="", query_vec=qv, K=10,
        emb_col="embedding", tie_break="vec_id", return_scores=True,
    )
    return out.select(
        "vec_id", F.round("vec_scores_sim_score", 6).alias("score")
    )


def q_sem_search_rerank(spark, sf_dir):
    """sem_search's cross-encoder rerank path (reference
    sem_search.py:148-155): cosine top-10 retrieval, then PolyHashReranker
    keeps 5 — rerank scoring is the SQL-expressible polynomial char fold,
    so the full retrieve→rerank pipeline is hash-checked."""
    from lotus_spark.models.reranker import PolyHashReranker
    from lotus_spark.operators.sem_search import sem_search

    emb = _t(spark, sf_dir, "embeddings")
    qv = _query_vec(spark, sf_dir)
    out = sem_search(
        emb, col="vec_id", query="q", query_vec=qv, K=10,
        emb_col="embedding", tie_break="vec_id", return_scores=True,
        n_rerank=5, reranker=PolyHashReranker(),
    )
    return out.select(
        "vec_id", F.round("vec_scores_sim_score", 6).alias("score")
    )


_SQL_SEM_SEARCH_RERANK = f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
cand AS (
  SELECT vec_id, ROUND({_sql_cosine('e.v', 'q.qv')}, 6) AS score,
    row_number() OVER (ORDER BY {_sql_cosine('e.v', 'q.qv')} DESC, vec_id) AS rn
  FROM e, q
  ORDER BY rn LIMIT 10
)
SELECT vec_id, score FROM cand
ORDER BY {_sql_strhash('CAST(vec_id AS VARCHAR)')} DESC, rn
LIMIT 5
"""


def q_pairwise_judge(spark, sf_dir):
    """pairwise_judge with permuted trials; 'better' = longer string
    (LongerFieldLM) — reference pairwise_judge.py:27-251."""
    from lotus_spark.models.demo_lms import LongerFieldLM
    from lotus_spark.operators.judge import pairwise_judge

    pa = _t(spark, sf_dir, "part")
    out = pairwise_judge(
        pa, "p_name", "p_type", "more descriptive",
        lm=LongerFieldLM(), permute_cols=True,
    )
    return out.select(
        "p_partkey",
        F.col("_pairwise").alias("a_better"),
        F.col("_pairwise_swapped").alias("b_better"),
    )


_SQL_PAIRWISE_JUDGE = """
SELECT p_partkey,
  length(p_name) > length(p_type) AS a_better,
  length(p_type) > length(p_name) AS b_better
FROM part
"""


def q_llm_judge(spark, sf_dir):
    """llm_as_judge with n_trials=2 (deterministic judge → equal verdicts;
    exercises the multi-trial column plumbing) — reference
    llm_as_judge.py:16-115."""
    from lotus_spark.models.demo_lms import TokenCountJudgeLM
    from lotus_spark.operators.judge import llm_as_judge

    docs = _t(spark, sf_dir, "documents")
    out = llm_as_judge(
        docs, "Rate the {text} by its token count", lm=TokenCountJudgeLM(),
        n_trials=2,
    )
    return out.select(
        "doc_id",
        F.col("_judge_0").alias("verdict_0"),
        F.col("_judge_1").alias("verdict_1"),
    )


_SQL_LLM_JUDGE = r"""
SELECT doc_id,
  CAST(len(string_split_regex(trim(text), '\s+')) AS VARCHAR) AS verdict_0,
  CAST(len(string_split_regex(trim(text), '\s+')) AS VARCHAR) AS verdict_1
FROM documents
"""


_HYBRID_STORED_IDX: dict[str, tuple[str, str]] = {}


def _hybrid_stored_indexes(spark, sf_dir) -> tuple[str, str]:
    """Build-once memo for the stored-hybrid rows: the persisted BM25
    (n_buckets=16) + IVF-PQ (n_cells=16/seed 42, m=8/nbits=4/seed 101,
    shared sampled-training predicate) indexes over the full corpus.
    First call per (process, sf_dir) builds + writes; later calls
    re-read the layouts — so the single and batch serving rows (and
    bench sweeps 2+) time RECURRING queries, not index builds."""
    paths = _HYBRID_STORED_IDX.get(sf_dir)
    if paths is None:
        import atexit
        import shutil
        import tempfile

        from lotus_spark.functions.ann import (
            ivf_index, pq_index, write_ivfpq_index,
        )
        from lotus_spark.functions.bm25_store import write_bm25_index

        docs = _t(spark, sf_dir, "documents")
        emb = _t(spark, sf_dir, "embeddings")
        ts = (_PQ_TRAIN_SEED, _PQ_TRAIN_THRESHOLD)
        d = tempfile.mkdtemp(prefix="hybrid_idx_")
        atexit.register(shutil.rmtree, d, ignore_errors=True)
        bm_path, iv_path = f"{d}/bm", f"{d}/iv"
        write_bm25_index(docs, bm_path, "text", "doc_id", n_buckets=16)
        indexed, cents = ivf_index(emb, "embedding", n_cells=16, seed=42,
                                   method="deterministic", id_col="vec_id",
                                   train_sample=ts)
        encoded, books = pq_index(indexed, "embedding", "vec_id", m=8,
                                  nbits=4, seed=101, train_sample=ts)
        write_ivfpq_index(encoded, iv_path, cents, books)
        paths = (bm_path, iv_path)
        _HYBRID_STORED_IDX[sf_dir] = paths
    return paths


def q_hybrid_search_stored(spark, sf_dir):
    """Hybrid retrieval served from the PERSISTED indexes
    (functions/serving.py::hybrid_search_index, NEW r12 — STAGED for
    the r13 window; CI pin replays this compare at sf0.001 in
    tests/test_serving.py): BM25 term-bucket-pruned stored search +
    IVF-PQ stored ADC+rerank kNN + reciprocal-rank fusion. Per-query
    reads are bounded by the index geometry (|terms| buckets + n_probe
    cells + sidecar literals). Quantizers use the shared sampled-
    training predicate so the oracle's kmeans chains replay them; knobs
    (n_probe=8, rerank 40, k=10 per list) match _sql_ivfpq_parts'
    pinned constants. Index build is memoized per process
    (``_hybrid_stored_indexes``) — repeated calls time the query."""
    # marker import (unused here): the index build lives in the
    # _hybrid_stored_indexes memo, whose bm25_store dependency must
    # keep this row inside the tail-rotation test's scope
    from lotus_spark.functions.bm25_store import write_bm25_index
    from lotus_spark.functions.serving import hybrid_search_index

    qv = _query_vec(spark, sf_dir)
    bm_path, iv_path = _hybrid_stored_indexes(spark, sf_dir)
    out = hybrid_search_index(
        spark, bm_path, iv_path, _BM25_QUERY, qv, k=10,
        lexical_k=10, vector_k=10, n_probe=8, rerank_k=40,
    )
    return out.select(
        "doc_id", F.round("rrf_score", 6).alias("rrf_score"))


def _sql_hybrid_stored(qv: list[float]) -> str:
    """DuckDB replay of the stored hybrid: the BM25 relations
    (_sql_bm25_common — the stored path is score-identical to the
    in-hand plan, pinned by bm25_index_search), the full IVF-PQ chain
    (_sql_ivfpq_parts: both quantizer Lloyd's chains under the shared
    sampled-training predicate, probe LIMIT 8, ADC shortlist LIMIT 40,
    exact-cosine rerank), and reciprocal-rank fusion — ranks on the
    UNROUNDED scores exactly as rrf_fuse's row_number windows do."""
    ctes, select = _sql_hybrid_stored_parts(qv, _BM25_TERMS, 0)
    return f"{_sql_with_materialized(ctes)}\n{select}\n"


def _sql_hybrid_stored_parts(qv: list[float], terms: list[str], vid: int,
                             p: str = "") -> tuple[list[str], str]:
    """(CTEs, final SELECT) of one stored-hybrid replay for query vector
    ``qv`` (embedding row ``vid``) and BM25 ``terms``. Every
    query-dependent CTE is named with the prefix ``p``; the corpus-only
    ones (the quantizer chains, the BM25 encode relations, ``ev``) keep
    their names and texts, so a multi-query oracle states them once."""
    ctes, joins, total = _sql_ivfpq_parts(qv, p=p)
    cos = _sql_cosine("ev.v", f"{p}qvec.q")
    return ctes + [
        f"""{p}short AS (
  SELECT {p}ct0.vec_id, ({total}) AS pq_dist
  FROM {p}ct0 {joins}
  WHERE {p}ct0.vec_id IN (SELECT vec_id FROM {p}sel)
  ORDER BY pq_dist, {p}ct0.vec_id LIMIT 40
)""",
        "ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)",
        f"{p}qvec AS (SELECT v AS q FROM ev WHERE vec_id = {vid})",
        f"""{p}vecs AS (
  SELECT ev.vec_id AS doc_id, {cos} AS score
  FROM ev JOIN {p}short ON ev.vec_id = {p}short.vec_id, {p}qvec
  ORDER BY score DESC, ev.vec_id LIMIT 10
)""",
    ] + _sql_bm25_parts(terms, p) + [
        f"""{p}lexs AS (SELECT doc_id, score FROM {p}bm
         ORDER BY score DESC, doc_id LIMIT 10)""",
        f"""{p}lex AS (SELECT doc_id,
        ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r FROM {p}lexs)""",
        f"""{p}vec AS (SELECT doc_id,
        ROW_NUMBER() OVER (ORDER BY score DESC, doc_id) AS r FROM {p}vecs)""",
        f"""{p}fused AS (
  SELECT COALESCE({p}lex.doc_id, {p}vec.doc_id) AS doc_id,
    (CASE WHEN {p}lex.r IS NULL THEN 0.0 ELSE 1.0 / (60 + {p}lex.r) END
     + CASE WHEN {p}vec.r IS NULL THEN 0.0 ELSE 1.0 / (60 + {p}vec.r) END)
    AS rrf
  FROM {p}lex FULL OUTER JOIN {p}vec ON {p}lex.doc_id = {p}vec.doc_id)""",
    ], f"""SELECT doc_id, ROUND(rrf, 6) AS rrf_score FROM {p}fused
ORDER BY rrf DESC, doc_id LIMIT 10"""


# the batched stored-serving row's query set: the standard query plus
# two more drawn from the synthetic corpus vocabulary, paired with
# query vectors 0/1/2 — fixed literals so the oracle can embed them
_HYBRID_BATCH_QUERIES = {
    "q0": _BM25_QUERY,
    "q1": "hash sort filter data",
    "q2": "batch table query vector",
}
_HYBRID_BATCH_VIDS = {"q0": 0, "q1": 1, "q2": 2}


def q_hybrid_search_stored_batch(spark, sf_dir):
    """BATCHED hybrid serving against the persisted indexes
    (functions/serving.py::hybrid_search_index_batch, NEW r14): three
    hybrid queries answered by one plan — one lexical pass over the
    union of their term buckets (bm25_store.bm25_search_index_batch),
    one ADC+rerank pass over the union of their probed cells
    (ann.knn_topk_ivfpq_batch), each reaching its per-query top list
    through one exchange keyed by the query id, and a per-query RRF
    fusion (bm25.rrf_fuse_batch) that needs no exchange: six Spark jobs
    with a warm term cache whatever the batch size (AQE runs each
    exchange and each broadcast as its own job; 11 before the
    query-keyed exchanges and the union fusion) — amortizing the
    fixed per-query job overhead BENCH_serving.json exposed. Knobs and
    index build match q_hybrid_search_stored exactly, so the oracle is
    the per-query stored-hybrid replay, one UNION ALL branch per query
    — a hash match pins batch == Q independent single calls, value for
    value (reference capability anchor: lotus/sem_ops/sem_search.py
    serves one query per call; batching is the production extension of
    the same surface). Index build is memoized per process
    (``_hybrid_stored_indexes``) — bench sweeps 2+ time the recurring
    batched query, the same protocol as ``ann_join_ivfpq_stored``."""
    # marker import (unused here): the index build lives in the
    # _hybrid_stored_indexes memo, whose bm25_store dependency must
    # keep this row inside the tail-rotation test's scope
    from lotus_spark.functions.bm25_store import write_bm25_index
    from lotus_spark.functions.serving import hybrid_search_index_batch

    emb = _t(spark, sf_dir, "embeddings")
    vids = _HYBRID_BATCH_VIDS
    vrows = {r["vec_id"]: [float(x) for x in r["embedding"]]
             for r in emb.filter(
                 F.col("vec_id").isin(sorted(vids.values()))).collect()}
    queries = {qid: (_HYBRID_BATCH_QUERIES[qid], vrows[vids[qid]])
               for qid in _HYBRID_BATCH_QUERIES}
    bm_path, iv_path = _hybrid_stored_indexes(spark, sf_dir)
    out = hybrid_search_index_batch(
        spark, bm_path, iv_path, queries, k=10,
        lexical_k=10, vector_k=10, n_probe=8, rerank_k=40,
    )
    return out.select("query_id", "doc_id",
                      F.round("rrf_score", 6).alias("rrf_score"))


def _sql_hybrid_stored_batch(qvs: dict[str, list[float]]) -> str:
    """The batch oracle: one _sql_hybrid_stored replay per query id,
    stitched with UNION ALL — the batch API's contract IS per-query
    equality with Q single calls, so its oracle IS Q single oracles.
    The replays share one WITH: the query-independent relations (the
    IVF and PQ training chains, the BM25 encode relations) are stated
    once for all branches, where a WITH per branch made DuckDB
    recompute the whole quantizer training per query."""
    ctes, selects = {}, []
    for qid in sorted(_HYBRID_BATCH_QUERIES):
        terms = sorted(set(_HYBRID_BATCH_QUERIES[qid].split()))
        c, select = _sql_hybrid_stored_parts(
            qvs[qid], terms, _HYBRID_BATCH_VIDS[qid], p=f"{qid}_")
        ctes.update(dict.fromkeys(c))
        selects.append(f"SELECT '{qid}' AS query_id, doc_id, rrf_score "
                       f"FROM (\n{select}\n)")
    return (_sql_with_materialized(list(ctes)) + "\n"
            + "\nUNION ALL\n".join(selects))


def _sql_with_materialized(ctes: list[str]) -> str:
    """``WITH`` over ``ctes`` (entries of one or more ``name AS (...)``
    definitions, each at a line head) with every CTE ``MATERIALIZED``:
    DuckDB inlines a plain CTE at every reference, so the Lloyd's
    chains — each iteration reads the previous one twice — were
    re-expanded per reference and per query (the three-query batch
    oracle took 145 s and 12 GB at sf0.001; 8 s and 1.2 GB
    materialized, same rows)."""
    import re

    return "WITH " + ",\n".join(
        re.sub(r"(?m)^(\w+) AS \(", r"\1 AS MATERIALIZED (", c)
        for c in ctes)


def q_stored_index_stats(spark, sf_dir):
    """Geometry/balance statistics of the persisted serving indexes
    (functions/index_admin.py::index_stats, NEW r14) — the
    capacity-planning verb over the same memoized stored BM25 + IVF-PQ
    layouts the serving rows query. The oracle replays every
    hash-independent metric from the corpus tables (the BM25 encode
    relations + the IVF cell kmeans chain, the same CTEs the serving
    oracles pin); the xxhash64 bucket-fill metrics DuckDB cannot replay
    from the corpus are filtered here and pinned instead by the
    DuckDB-over-the-written-layout unit test
    (tests/test_index_admin.py::test_index_stats_bm25_layout_replay).
    Reference anchor: lotus persists retrieval indexes
    (lotus/vector_store/faiss_vs.py) but has no layout-introspection
    verb; this is the production extension the sizing docstrings
    (bm25_store, ann) defer to."""
    from lotus_spark.functions.index_admin import index_stats

    bm_path, iv_path = _hybrid_stored_indexes(spark, sf_dir)
    st = index_stats(spark, bm_path, "bm25").unionByName(
        index_stats(spark, iv_path, "ivfpq"))
    return st.filter(~F.col("metric").isin(
        "n_buckets_occupied", "max_bucket_postings",
        "min_bucket_postings"))


def _sql_stored_index_stats(d: int) -> str:
    """DuckDB replay of the stored-index geometry from the CORPUS: the
    bm25 metrics aggregate the encode relations (_SQL_BM25_RELATIONS —
    the exact CTEs the query oracles pin against the stored scores),
    the ivfpq metrics aggregate the cell kmeans chain's final
    assignment (_sql_kmeans_ctes under the shared sampled-training
    predicate — the exact chain every ivfpq oracle replays). Literal
    knobs (16 buckets / 16 cells / m=8) mirror _hybrid_stored_indexes."""
    from lotus_spark.functions.kmeans import train_sample_where

    tw = train_sample_where("vec_id", _PQ_TRAIN_SEED,
                            _PQ_TRAIN_THRESHOLD)
    cell_chain = _sql_kmeans_ctes(k=16, iters=3, seed=42, d=d, p="iv_",
                                  train_where=tw)
    return f"""
WITH {cell_chain},
cellcounts AS (SELECT c, COUNT(*) AS n FROM iv_afinal GROUP BY c),
{_SQL_BM25_RELATIONS}
SELECT 'bm25' AS layout, 'n_postings' AS metric,
       CAST((SELECT COUNT(*) FROM post) AS BIGINT) AS value
UNION ALL SELECT 'bm25', 'n_terms', (SELECT COUNT(*) FROM tdf)
UNION ALL SELECT 'bm25', 'max_term_df', (SELECT MAX(df) FROM tdf)
UNION ALL SELECT 'bm25', 'n_docs_nonempty', (SELECT COUNT(*) FROM dlen)
UNION ALL SELECT 'bm25', 'n_doclens_rows',
          (SELECT COUNT(*) FROM documents)
UNION ALL SELECT 'bm25', 'total_dl',
          CAST((SELECT COALESCE(SUM(dl), 0) FROM dlen) AS BIGINT)
UNION ALL SELECT 'bm25', 'n_buckets_total', CAST(16 AS BIGINT)
UNION ALL SELECT 'ivfpq', 'n_rows', (SELECT COUNT(*) FROM embeddings)
UNION ALL SELECT 'ivfpq', 'n_cells_total', CAST(16 AS BIGINT)
UNION ALL SELECT 'ivfpq', 'n_cells_occupied',
          (SELECT COUNT(*) FROM cellcounts)
UNION ALL SELECT 'ivfpq', 'max_cell_rows',
          (SELECT MAX(n) FROM cellcounts)
UNION ALL SELECT 'ivfpq', 'min_cell_rows',
          (SELECT MIN(n) FROM cellcounts)
UNION ALL SELECT 'ivfpq', 'm_subspaces', CAST(8 AS BIGINT)
"""


def q_llm_judge_structured(spark, sf_dir):
    """Structured response_format outputs → typed columns (NEW r12 —
    reference sem_agg.py:471-484 field splitting + llm_as_judge.py:16-115
    structured scores; SURVEY §1.2 maps it to from_json → typed
    columns): llm_as_judge forwards a DDL response_format to every LM
    call, keeps the raw JSON in the suffix column, and splits each
    trial's fields into typed per-trial columns
    (operators/structured.py). The deterministic fake
    (models/structured_lms.py::TokenCountStructuredJudge) emits
    {"n_tokens": <ws token count>, "verdict": long/short @ 40}, so the
    oracle replays the feature algebra AND the from_json typing —
    n_tokens lands as BIGINT, not string."""
    from lotus_spark.models.structured_lms import TokenCountStructuredJudge
    from lotus_spark.operators.judge import llm_as_judge

    docs = _t(spark, sf_dir, "documents")
    out = llm_as_judge(
        docs, "Rate the {text} by length", n_trials=2,
        lm=TokenCountStructuredJudge(long_at=40),
        response_format="n_tokens bigint, verdict string",
    )
    return out.select(
        "doc_id",
        F.col("n_tokens_judge_0").alias("n_tokens"),
        F.col("verdict_judge_0").alias("verdict"),
        F.col("verdict_judge_1").alias("verdict_trial2"),
    )


_SQL_LLM_JUDGE_STRUCTURED = r"""
WITH n AS (
  SELECT doc_id,
    CASE WHEN length(trim(text)) = 0 THEN 1
         ELSE len(string_split_regex(trim(text), '\s+')) END AS n_tokens
  FROM documents)
SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
  CASE WHEN n_tokens >= 40 THEN 'long' ELSE 'short' END AS verdict,
  CASE WHEN n_tokens >= 40 THEN 'long' ELSE 'short' END AS verdict_trial2
FROM n
"""


def oracle_sql() -> dict[str, str]:
    import os

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    sqls = {
        "contamination_index": _sql_contamination_index(),
        # compaction is layout-only maintenance (row sets verified by
        # the op itself), so the compacted-lifecycle oracle IS the
        # plain band-algebra replay over the same corpus (evens)
        "neardup_index_compacted": _sql_neardup_index(),
        "warc_roundtrip": _SQL_WARC_ROUNDTRIP,
        "pipeline_ingest": _sql_pipeline_ingest(),
        "image_features": _SQL_IMAGE_FEATURES,
        "audio_features": _SQL_AUDIO_FEATURES,
        "video_frame_features": _SQL_VIDEO_FRAME_FEATURES,
        "neardup_index": _sql_neardup_index(),
        "neardup_index_stream": _sql_neardup_index(),  # stream == batch replay
        "neardup_index_lifecycle": _sql_neardup_index_lifecycle(),
        "embedding_neardup_index": _sql_embedding_neardup_index(64),
        # r12: new rows
        "llm_judge_structured": _SQL_LLM_JUDGE_STRUCTURED,
        "warc_export_roundtrip": _SQL_WARC_EXPORT_ROUNDTRIP,
        "embedding_cluster_assign": _sql_embedding_cluster_assign(64),
        "ann_join_ivfpq": _sql_ann_join_ivfpq(64),
        # r13: stored-index join == in-run-build join (same knobs/
        # seeds), so the oracle is the same full-composition replay
        "ann_join_ivfpq_stored": _sql_ann_join_ivfpq(64),
        "span_dedup": _SQL_SPAN_DEDUP,
        "strip_boilerplate": _SQL_STRIP_BOILERPLATE,
        "perplexity_bucket": _SQL_PERPLEXITY_BUCKET,
        "pipeline_curate": _sql_pipeline_curate(),
        "filter_reorder": _SQL_FILTER_REORDER,
        "hash_split": _sql_hash_split(),
        "weighted_sample": _sql_weighted_sample(),
        "streaming_heavy_hitters": _SQL_STREAMING_HEAVY_HITTERS,
        "sem_join_cascade_routed": _SQL_SEM_JOIN_CASCADE_ROUTED,
        "sem_topk_quicksem": _SQL_SEM_TOPK,
        "agentic_mapreduce": _SQL_AGENTIC_MAPREDUCE,
        "streaming_neardup": _SQL_STREAMING_NEARDUP,
        "streaming_neardup_minhash": _sql_streaming_neardup_minhash(),
        "bucketed_join": _SQL_BUCKETED_JOIN,
        "bucketed_join_coalesced": _SQL_BUCKETED_JOIN_COALESCED,
        "shard_for_training": _sql_shard_for_training(),
        # the layout row recomputes pos from PHYSICAL in-file row order,
        # so it shares the coordinate oracle: layout == coordinates
        "write_shards": _sql_shard_for_training(),
        "ann_join_pq": _SQL_ANN_JOIN_PQ,
        "sem_join_cascade": _SQL_SEM_JOIN_CASCADE,
        "answer_cache_map": _SQL_ANSWER_CACHE_MAP,
        "mix_to_weights": _sql_mix_to_weights(),
        "sem_pipeline": _SQL_SEM_PIPELINE,
        "lazy_multi_join": _SQL_LAZY_MULTI_JOIN,
        "pricing_summary": _SQL_PRICING,
        "top_revenue": _SQL_TOP_REVENUE,
        "region_revenue": _SQL_REGION_REVENUE,
        "customers_no_orders": _SQL_CUSTOMERS_NO_ORDERS,
        "top3_orders_per_customer": _SQL_TOP3_ORDERS,
        "events_hourly": _SQL_EVENTS_HOURLY,
        "distinct_priorities": _SQL_DISTINCT_PRIORITIES,
        "part_brand_stats": _SQL_PART_BRAND,
        "orders_union_extremes": _SQL_ORDERS_UNION,
        "orders_rollup": _SQL_ORDERS_ROLLUP,
        "supplier_intersect": _SQL_SUPPLIER_INTERSECT,
        "sem_filter": _SQL_SEM_FILTER,
        "sem_filter_cascade": _SQL_SEM_FILTER,
        "sem_map": _SQL_SEM_MAP,
        "sem_extract": _SQL_SEM_EXTRACT,
        "sem_join": _SQL_SEM_JOIN,
        "sem_agg": _SQL_SEM_AGG,
        "sem_topk": _SQL_SEM_TOPK,
        "knn_bruteforce": _SQL_KNN,
        "sem_sim_join": _SQL_SIM_JOIN,
        "exact_dedup": _SQL_EXACT_DEDUP,
        "minhash_signature": _sql_minhash(),
        "simhash": _SQL_SIMHASH,
        "jaccard_pairs": _SQL_JACCARD,
        "text_stats": _SQL_TEXT_STATS,
        "embedding_neardup": _SQL_EMB_NEARDUP,
        "sem_dedup": _SQL_SEM_DEDUP,
        "minhash_lsh_dedup": _sql_minhash_lsh_dedup(),
        "minhash_dedup_keepbest": _sql_minhash_dedup_keepbest(),
        "leakage_safe_split": _sql_leakage_safe_split(),
        "url_canonicalize": _sql_url_canonicalize(),
        "snapshot_diff": _SQL_SNAPSHOT_DIFF,
        "neardup_index_cdc": _sql_neardup_index_cdc(),
        # the stored path shares the one-shot plan's scoring algebra,
        # so the serving-index oracle IS the full-corpus BM25 replica
        "bm25_index_search": _SQL_BM25,
        "data_quality_report": _SQL_DATA_QUALITY,
        "cluster_assign_incremental": _sql_cluster_assign_incremental(),
        "quality_model_score": _sql_quality_model_score(),
        "pipeline_quality": _sql_pipeline_quality(),
        "sem_search": _SQL_KNN,  # same scoring contract as knn_bruteforce
        "sem_search_rerank": _SQL_SEM_SEARCH_RERANK,
        "quality_signals": _SQL_QUALITY_SIGNALS,
        "contamination": _SQL_CONTAMINATION,
        "asof_join": _SQL_ASOF_JOIN,
        "range_join": _SQL_RANGE_JOIN,
        "time_rollup": _SQL_TIME_ROLLUP,
        "stratified_sample": _SQL_STRATIFIED_SAMPLE,
        "pack_sequences": _SQL_PACK_SEQUENCES,
        "pipeline_clean": _SQL_PIPELINE_CLEAN,
        "profile": _SQL_PROFILE,
        "bm25_search": _SQL_BM25,
        "hybrid_search": _SQL_HYBRID,
        "pairwise_judge": _SQL_PAIRWISE_JUDGE,
        "llm_judge": _SQL_LLM_JUDGE,
    }
    # knn_lsh oracle depends on the query vector — read it with duckdb (cheap)
    try:
        import duckdb

        qv = duckdb.sql(
            f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' WHERE vec_id = 0"
        ).fetchone()[0]
        qv = [float(x) for x in qv]
        sqls["knn_lsh"] = _sql_knn_lsh(qv)
        sqls["sem_cluster_by"] = _sql_sem_cluster(d=len(qv))
        sqls["knn_ivf"] = _sql_knn_ivf(qv, d=len(qv))
        sqls["ann_join_ivf"] = _sql_ann_join_ivf(d=len(qv))
        sqls["knn_pq"] = _sql_knn_pq(qv)
        sqls["knn_ivfpq"] = _sql_knn_ivfpq(qv)
        sqls["knn_ivfpq_rerank"] = _sql_knn_ivfpq_rerank(qv)
        # lossless persistence: the reloaded index answers identically,
        # so the roundtrip oracle IS the rerank replica
        sqls["ivfpq_roundtrip"] = _sql_knn_ivfpq_rerank(qv)
        # incremental append == from-scratch encode with the same
        # codebooks, so the oracle is the rerank replica with quantizer
        # TRAINING restricted to the initial (even-id) half
        sqls["ivfpq_incremental"] = _sql_knn_ivfpq_rerank(
            qv, train_restrict="vec_id % 2 = 0")
        # compaction is layout-only (one file per cell, same rows), so
        # the compacted lifecycle oracle IS the incremental replay
        sqls["ivfpq_compacted"] = _sql_knn_ivfpq_rerank(
            qv, train_restrict="vec_id % 2 = 0")
        # CDC upsert == rebuild of the T1 snapshot state with the
        # T0-trained codebooks: train_src = original table (restricted
        # to the even T0 half), encode/probe over the emb_t1 CTE
        sqls["ivfpq_cdc"] = _sql_knn_ivfpq_cdc(qv)
        # r13: hybrid retrieval served from BOTH persisted indexes
        # (stored BM25 + stored IVF-PQ + RRF), staged r12
        sqls["hybrid_search_stored"] = _sql_hybrid_stored(qv)
        # r14: the BATCHED stored-serving row — per-query equality with
        # Q single calls, so the oracle is Q single replays UNION ALL'd
        qvs = {"q0": qv}
        for qid, vid in _HYBRID_BATCH_VIDS.items():
            if qid not in qvs:
                qvs[qid] = [float(x) for x in duckdb.sql(
                    f"SELECT embedding FROM '{sf_dir}/embeddings.parquet' "
                    f"WHERE vec_id = {vid}").fetchone()[0]]
        sqls["hybrid_search_stored_batch"] = _sql_hybrid_stored_batch(qvs)
        # r14: stored-index geometry — bm25 encode relations + the IVF
        # cell chain aggregated; the xxhash64 bucket metrics are
        # filtered in the q body and layout-replayed in unit tests
        sqls["stored_index_stats"] = _sql_stored_index_stats(d=len(qv))
    except Exception:
        pass  # fall back to rows-only checks for the vector-dependent oracles
    sqls["sem_index_roundtrip"] = _sql_sem_index_roundtrip()
    sqls["sem_partition_agg"] = _SQL_SEM_PARTITION_AGG
    sqls["sessionize"] = _SQL_SESSIONIZE
    sqls["paragraph_dedup"] = _SQL_PARAGRAPH_DEDUP
    sqls["ngram_stats"] = _SQL_NGRAM_STATS
    sqls["streaming_doc_stats"] = _SQL_STREAMING_DOC_STATS
    sqls["quantile_filter"] = _SQL_QUANTILE_FILTER
    sqls["cap_per_key"] = _SQL_CAP_PER_KEY
    sqls["streaming_sessions"] = _SQL_STREAMING_SESSIONS
    sqls["dedupe_doc_units"] = _SQL_DEDUPE_DOC_UNITS
    sqls["pipeline_pack"] = _sql_pipeline_pack()
    return sqls

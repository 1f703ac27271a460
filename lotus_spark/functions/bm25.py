"""Lexical (BM25) retrieval and lexical+vector hybrid search.

The reference's retrieval surface is embedding-only (`sem_search`,
`lotus/sem_ops/sem_search.py:91-157`); production retrieval stacks pair
that with a lexical tier and fuse the two — this module adds both as
native DataFrame plans.

Scale shape: ``bm25_index`` is one scan + one explode/groupBy producing
the three classic relations (postings, doc lengths, document
frequencies) — persist them as Parquet and the per-query cost is a
semi-join of the postings against a handful of query terms (broadcast
hash join on term), never a full-corpus scan. Scoring is pure JVM
expression code (no UDFs).

Float-parity note (DuckDB oracle): per-(doc, term) partial scores are
rounded to 9 decimals and summed as DECIMAL — decimal addition is
order-independent, so the doc score is bit-identical no matter how Spark
partitions the aggregation. Summing raw doubles would tie the result to
aggregation order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .text import tokens

RRF_K = 60  # standard reciprocal-rank-fusion constant


def bm25_index(
    df: DataFrame, col: str, id_col: str, persist: bool = True
) -> dict[str, DataFrame]:
    """Build the BM25 statistics relations for ``df[col]``.

    Returns ``postings`` (term, id, tf), ``doclens`` (id, dl) and
    ``termdf`` (term, df) — persist all three as Parquet for a serving
    index. One tokenize/explode pass: ``doclens`` (dl = Σ tf) and
    ``termdf`` re-aggregate the postings partials instead of re-scanning
    the corpus (the same partial-cascade shape as ``time_rollup``).
    """
    from lotus_spark.partitioning import ensure_parallelism

    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("id"),
        F.explode(tokens(F.col(col))).alias("term"),
    ).filter(F.col("term") != "")
    postings = toks.groupBy("term", "id").agg(F.count("*").alias("tf"))
    if persist:
        postings = postings.persist()
    doclens = postings.groupBy("id").agg(F.sum("tf").alias("dl"))
    termdf = postings.groupBy("term").agg(F.count("*").alias("df"))
    return {"postings": postings, "doclens": doclens, "termdf": termdf}


def bm25_scores(
    index: dict[str, DataFrame],
    query_terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Score every document matching ≥1 query term: ``(id, score)``.

    Okapi BM25 with the standard +1-smoothed idf
    ``ln(1 + (N - df + 0.5)/(df + 0.5))``. Duplicate query terms count
    once (set semantics, the common engine behavior).
    """
    postings, doclens, termdf = (
        index["postings"], index["doclens"], index["termdf"])
    terms = sorted(set(t for t in query_terms if t))
    if not terms:
        raise ValueError("empty query")

    # N and avgdl fold in as a broadcast 1-row cross join — no blocking
    # driver action, the whole search stays one lazy job
    g = F.broadcast(doclens.agg(
        F.count("*").cast("double").alias("__n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("__avgdl")))

    # literal IN-list filter pushes down to the postings scan (no join for
    # term selection); per-term df is tiny after the filter → broadcast
    qpost = postings.filter(F.col("term").isin(terms))
    qtermdf = F.broadcast(termdf.filter(F.col("term").isin(terms)))
    hits = qpost.join(qtermdf, "term").join(doclens, "id").crossJoin(g)
    idf = F.log(
        F.lit(1.0)
        + (F.col("__n") - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
    )
    partial = (
        idf * (F.col("tf") * (1.0 + k1))
        / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("__avgdl")))
    )
    # round→decimal before the sum: order-independent accumulation
    return (
        hits.withColumn("p", F.round(partial, 9).cast("decimal(28,10)"))
        .groupBy("id").agg(F.sum("p").cast("double").alias("score"))
    )


def bm25_search(
    df: DataFrame,
    col: str,
    id_col: str,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    index: dict[str, DataFrame] | None = None,
) -> DataFrame:
    """Top-``k`` lexical search over ``df[col]``; ties break on id.

    Without a prebuilt ``index``, runs the one-pass plan: per-doc term
    frequencies are computed MAP-SIDE on the token array
    (``size(arr) - size(array_remove(arr, term))`` — codegen'd collection
    functions, not interpreted lambdas), corpus stats (N, avgdl, per-term
    df) come from one tree-aggregate over those counts, and the score is
    a pure expression followed by top-k. Zero wide shuffles — no postings
    explode — so the plan's cost is one scan of the corpus regardless of
    scale. With ``index`` (the persisted relations from
    :func:`bm25_index`), delegates to :func:`bm25_scores` instead — the
    serving shape when many queries amortize one indexing pass.

    Score parity with the indexed path: per-(doc, term) partials round
    to 9 decimals and sum as DECIMAL (order-independent), so both plans
    and the DuckDB oracle agree bit-for-bit.
    """
    terms = sorted(set(query.strip().lower().split()))
    if not terms:
        raise ValueError("empty query")
    if index is not None:
        scored = bm25_scores(index, terms, k1=k1, b=b)
        return (
            scored.orderBy(F.desc("score"), F.asc("id")).limit(k)
            .withColumnRenamed("id", id_col)
        )

    arr = F.array_remove(tokens(F.col(col)), "")
    counts = df.select(
        F.col(id_col).alias("id"),
        F.size(arr).alias("dl"),
        *[
            (F.size(arr) - F.size(F.array_remove(arr, t))).alias(f"__tf{i}")
            for i, t in enumerate(terms)
        ],
    ).persist()  # id + k ints per doc — tiny vs the corpus; read twice
    # pinned stats convention (shared with bm25_scores, the persisted
    # bm25_store index, and the DuckDB oracle): N and avgdl cover docs
    # with >= 1 token — empty/NULL-text docs can't match a term anyway,
    # and counting them would skew avgdl on real crawl corpora
    stats_src = counts.filter(F.col("dl") > 0)
    g = F.broadcast(stats_src.agg(
        F.count("*").cast("double").alias("__n"),
        (F.sum("dl").cast("double") / F.count("*")).alias("__avgdl"),
        *[
            F.sum((F.col(f"__tf{i}") > 0).cast("long")).alias(f"__df{i}")
            for i in range(len(terms))
        ],
    ))

    def partial(i: int):
        tf = F.col(f"__tf{i}").cast("double")
        idf = F.log(
            F.lit(1.0)
            + (F.col("__n") - F.col(f"__df{i}") + F.lit(0.5))
            / (F.col(f"__df{i}") + F.lit(0.5))
        )
        raw = idf * (tf * (1.0 + k1)) / (
            tf + k1 * (1.0 - b + b * F.col("dl") / F.col("__avgdl"))
        )
        return F.when(
            F.col(f"__tf{i}") > 0, F.round(raw, 9).cast("decimal(28,10)")
        ).otherwise(F.lit(None).cast("decimal(28,10)"))

    # decimal zeros are exact, so coalesce-to-0 summation is value-identical
    # to summing only the matching terms (and to the oracle's decimal SUM)
    zero = F.lit(0).cast("decimal(28,10)")
    total = F.coalesce(partial(0), zero)
    for i in range(1, len(terms)):
        total = total + F.coalesce(partial(i), zero)
    hit = None
    for i in range(len(terms)):
        c = F.col(f"__tf{i}") > 0
        hit = c if hit is None else (hit | c)
    return (
        counts.filter(hit).crossJoin(g)
        .select(F.col("id").alias(id_col), total.cast("double").alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col)).limit(k)
    )


def _rrf_contribs_sql(n_lists: int, rrf_k: int) -> str:
    """SQL text of the summed per-list RRF contributions over the rank
    columns ``__r0..__r{n-1}`` — ONE ``F.expr`` parse where the
    per-Column when/otherwise loop paid ~100 py4j round trips per list
    (guide §7.3; the r14 ADC/BM25 SQL-text precedent). Same
    left-associated sum, int rank arithmetic and double division as the
    former Column build — the analyzed tree is byte-identical (pinned
    by tests/test_bm25.py::test_rrf_contribs_sql_tree_matches_columns),
    so single and batch fusion keep scoring in lockstep."""
    return " + ".join(
        f"CASE WHEN `__r{i}` IS NOT NULL"
        f" THEN {1.0!r}D / ({int(rrf_k)} + `__r{i}`)"
        f" ELSE {0.0!r}D END"
        for i in range(n_lists)
    )


def rrf_fuse(
    ranked: list[DataFrame],
    id_col: str,
    k: int = 10,
    rrf_k: int = RRF_K,
    max_list_size: int = 1000,
) -> DataFrame:
    """Reciprocal-rank fusion of ranked lists (each ``(id_col, score)``,
    higher better): fused = Σ 1/(rrf_k + rank). Documents absent from a
    list contribute nothing for it. Rank fusion avoids calibrating
    incomparable score scales (BM25 vs cosine).

    Each input is truncated to its top ``max_list_size`` rows FIRST via
    ``orderBy().limit()`` (TakeOrderedAndProject — k rows per partition
    cross the shuffle), so the subsequent global rank window only ever
    sorts a bounded list: the API stays safe when handed an arbitrary
    score relation instead of a pre-cut top-N list. A rank beyond
    max_list_size contributes < 1/(rrf_k + max_list_size) ≈ nothing."""
    fused = None
    for i, r in enumerate(ranked):
        bounded = r.orderBy(F.desc("score"), F.asc(id_col)).limit(max_list_size)
        ranks = bounded.select(
            id_col, F.expr(
                f"row_number() OVER (ORDER BY score DESC, `{id_col}` ASC)"
            ).alias(f"__r{i}"))
        fused = ranks if fused is None else fused.join(
            ranks, id_col, "full_outer")
    total = F.expr(_rrf_contribs_sql(len(ranked), rrf_k))
    return (
        fused.select(id_col, total.alias("rrf_score"))
        .orderBy(F.desc("rrf_score"), F.asc(id_col)).limit(k)
    )


def rrf_fuse_batch(
    ranked: list[DataFrame],
    id_col: str,
    query_col: str = "query_id",
    k: int = 10,
    rrf_k: int = RRF_K,
    max_list_size: int = 1000,
) -> DataFrame:
    """Per-query reciprocal-rank fusion over BATCHED ranked lists (each
    ``(query_col, id_col, score)``, higher better, an id at most once
    per query in a list): for every query id, value-identical to handing
    that query's slice of each list to :func:`rrf_fuse` (parity-pinned
    in tests). One plan fuses the whole batch — the windows partition by
    the query id, so Q queries fuse with Q-way parallelism instead of Q
    driver round-trips.

    Same bounding contract as the single-query fusion: each list is cut
    to its per-query top ``max_list_size`` FIRST (a row_number window —
    ranks beyond it contribute < 1/(rrf_k + max_list_size) ≈ nothing),
    so arbitrary score relations stay safe inputs.

    The lists meet in a ``unionByName`` of their per-list rank columns
    and ONE ``groupBy(query, id)``, scored by the same
    :func:`_rrf_contribs_sql` as the single fusion (so the sum order is
    unchanged). When every list arrives hash-partitioned by the query
    id — the serving lists do (``bm25_store.bm25_search_index_batch``,
    ``ann.knn_topk_ivfpq_batch``) — the union keeps that partitioning
    and the rank windows, the aggregate and the final top-k window run
    with NO exchange (pinned in tests/test_plan_shapes.py); any other
    list gets one exchange by the query id, for its rank window."""
    fused = None
    for i, r in enumerate(ranked):
        ranks = (
            r.withColumn(f"__r{i}", F.expr(
                f"row_number() OVER (PARTITION BY `{query_col}`"
                f" ORDER BY score DESC, `{id_col}` ASC)"))
            .filter(F.col(f"__r{i}") <= max_list_size)
            .select(query_col, id_col, f"__r{i}")
        )
        fused = ranks if fused is None else fused.unionByName(
            ranks, allowMissingColumns=True)
    total = F.expr(_rrf_contribs_sql(len(ranked), rrf_k))
    return (
        fused.groupBy(query_col, id_col)
        .agg(*[F.max(f"__r{i}").alias(f"__r{i}")
               for i in range(len(ranked))])
        .select(query_col, id_col, total.alias("rrf_score"))
        .withColumn("__rk", F.expr(
            f"row_number() OVER (PARTITION BY `{query_col}`"
            f" ORDER BY rrf_score DESC, `{id_col}` ASC)"))
        .filter(F.col("__rk") <= k)
        .select(query_col, id_col, "rrf_score")
    )

"""Persisted BM25 inverted index: the lexical-retrieval serving path.

``functions/bm25.py`` computes its three relations per call — right for
one-shot queries, wasteful when a corpus is queried all day. This
module persists them with the same lifecycle discipline as the other
two corpus indexes (MinHash-LSH, IVF-PQ): write once, append daily,
serve many queries, each query reading a BOUNDED slice of the index.
The reference's retrieval surface is embedding-only
(lotus/sem_ops/sem_search.py); a lexical serving index is built here
Spark-first because production retrieval stacks cannot run without one.

Layout (the inverted-list idea expressed as parquet partitioning):

- ``{path}/postings`` — one row per (term, doc): ``(term, id, tf, dl)``
  written ``partitionBy(bucket)`` where ``bucket = pmod(xxhash64(term),
  n_buckets)`` (:func:`_bucket_sql`; a query's terms fold to their
  bucket ids in the plan, so building a query launches no job). The
  doc length ``dl`` is DENORMALIZED into the posting (computed map-side
  before the explode), so scoring never joins the doc-lengths table —
  a query touches |query terms| buckets' worth of postings and NOTHING
  else. Partition pruning is the inverted-list lookup, done by the
  storage layer (same trick as the IVF-PQ cell layout).
- ``{path}/termdf`` — ``(term, df)``, bucket-partitioned the same way
  (vocabulary-sized; rewritten on append since term frequencies change).
- ``{path}/doclens`` — ``(id, dl)``: maintenance-only (append overlap
  guard, CDC deletes); queries never read it.
- ``{path}/_bm25_meta.json`` — pinned ``id_col``/``text_col``/
  ``n_buckets`` plus the corpus stats ``(n_docs, total_dl)``, so N and
  avgdl are literals at query time instead of a per-query aggregate
  over the doc-lengths relation. Pinned convention: the stats count
  docs with AT LEAST ONE token — exactly the population
  ``bm25.bm25_scores`` and the DuckDB oracle compute N/avgdl over —
  so indexing a corpus with empty or NULL texts scores identically to
  the one-shot path. Token-empty docs still get doclens rows (dl=0;
  the append overlap guard and CDC deletes must see every id) but
  contribute no postings and no stats.

Scoring is byte-identical to ``bm25.bm25_search`` / its DuckDB oracle:
the same Okapi expressions, per-(doc, term) partials rounded to 9
decimals and summed as DECIMAL (order-independent) — pinned by a parity
test and the ``bm25_index_search`` oracle row.

Single-writer maintenance (write/append/compact-by-delete), like every
other index in this engine. CDC delete + snapshot upsert live in
``functions/index_cdc.py``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lotus_spark.functions.index_commit import (
    STAGED_COMPACT,
    STAGED_REWRITE,
    _fs,
    _fs_read_json,
    _fs_write_json,
    commit_rewrite,
    sibling,
)
from lotus_spark.functions.text import tokens

_META = "_bm25_meta.json"


def _bucket_sql(term_sql: str, n_buckets: int) -> str:
    """SQL text of the bucket a term's postings live in — the ONE
    statement of the rule, shared by the writer (:func:`_encode`, over
    the ``term`` column) and the reader (:func:`_scored_hits`, over a
    quoted query term). A reader's terms are literals, so Catalyst
    folds each ``pmod(xxhash64('<term>'), n)`` to its bucket id before
    partition pruning: the scan's PartitionFilters hold plain integers
    (pinned in tests/test_bm25_store.py), computed by the same JVM hash
    that placed the postings, with no job."""
    return f"pmod(xxhash64({term_sql}), {int(n_buckets)})"


def _encode(df: DataFrame, text_col: str, id_col: str,
            n_buckets: int) -> tuple[DataFrame, DataFrame]:
    """(postings, doclens) for ``df`` — the single encode definition
    shared by write and append. ``dl`` is computed map-side on the token
    array (before the explode) and rides each posting row; tokenization
    and the empty-token filter match ``bm25.bm25_index`` exactly."""
    from lotus_spark.partitioning import ensure_parallelism

    # NULL text tokenizes to NULL whose size() is -1; coalesce to an
    # empty array so a NULL-text doc indexes as dl=0 like an empty one
    arr = F.coalesce(F.array_remove(tokens(F.col(text_col)), ""),
                     F.array().cast("array<string>"))
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("id"), arr.alias("__toks"),
    ).withColumn("dl", F.size("__toks"))
    postings = (
        base.select("id", "dl", F.explode("__toks").alias("term"))
        .groupBy("term", "id", "dl").agg(F.count("*").alias("tf"))
        .withColumn("bucket", F.expr(_bucket_sql("term", n_buckets)))
        .select("term", "id", "tf", "dl", "bucket")
    )
    doclens = base.select("id", "dl")
    return postings, doclens


def _termdf(postings: DataFrame) -> DataFrame:
    return postings.groupBy("term", "bucket").agg(
        F.count("*").alias("df")).select("term", "df", "bucket")


def _corpus_stats(doclens: DataFrame) -> tuple[int, int]:
    """(n_docs, total_dl) over docs with >= 1 token — the pinned stats
    convention (module docstring): matches the population
    ``bm25.bm25_scores`` / the DuckDB oracle average over."""
    s = doclens.filter(F.col("dl") > 0).agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum("dl"), F.lit(0)).alias("t")).first()
    return int(s["n"]), int(s["t"])


def write_bm25_index(
    df: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    n_buckets: int = 64,
) -> None:
    """Build and persist the BM25 serving index: one tokenize/explode
    pass over the corpus (the index build's only full-data read), three
    parquet tables + the stats sidecar. At 100 TB choose ``n_buckets``
    so one bucket's postings are a few hundred MB (buckets are the
    query-time read unit). NULL ids are rejected loudly."""
    if df.filter(F.col(id_col).isNull()).count():
        raise ValueError("write_bm25_index: NULL ids are not indexable")
    postings, doclens = _encode(df, text_col, id_col, n_buckets)
    n_docs, total_dl = _corpus_stats(doclens)
    if n_docs == 0:
        # an all-empty corpus would write an empty partitioned postings
        # layout, which is unreadable — fail BEFORE any write
        raise ValueError(
            "write_bm25_index: no document has a single token — nothing "
            "to index")
    postings = postings.persist()
    postings.write.partitionBy("bucket").parquet(f"{path}/postings")
    _termdf(postings).write.partitionBy("bucket").parquet(f"{path}/termdf")
    doclens.write.parquet(f"{path}/doclens")
    _fs_write_json(df.sparkSession, f"{path}/{_META}", {
        "id_col": id_col, "text_col": text_col,
        "n_buckets": int(n_buckets),
        "n_docs": n_docs,
        "total_dl": total_dl,
        # the query tables' exact read schemas (captured by inference
        # ONCE here, at build time) so every serving query can skip the
        # per-call footer-inference job (~0.1s of fixed driver latency
        # per table per query at sf0.1 — guide §7.3). The lifecycle
        # verbs (append/compact/CDC delete) rewrite tables
        # schema-preserving and carry the meta dict forward; sidecars
        # written before this field existed fall back to inference in
        # _read_index_table.
        "table_schemas": {
            t: df.sparkSession.read.parquet(f"{path}/{t}").schema.json()
            for t in ("postings", "termdf")
        },
    })
    postings.unpersist()


def read_bm25_meta(spark, path: str) -> dict:
    meta = _fs_read_json(spark, f"{path}/{_META}")
    if meta is None:
        raise FileNotFoundError(
            f"no {_META} sidecar at {path} — not a BM25 index "
            "(write_bm25_index creates it)")
    return meta


def _read_index_table(spark, path: str, table: str, meta: dict) -> DataFrame:
    """One of the index's parquet query tables, with the schema PINNED
    from the sidecar when recorded there (``write_bm25_index``):
    ``spark.read.parquet`` otherwise runs a footer-inference job before
    a serving query reads a single posting — pure fixed driver latency
    (guide §7.3). Partition discovery (the bucket pruning) is
    unchanged; pre-r14 sidecars lack the field and fall back to
    inference. Maintenance verbs keep reading with inference — their
    guards should see the files as they are, not as the sidecar says
    they should be."""
    import json as _json

    from pyspark.sql.types import StructType

    sch = (meta.get("table_schemas") or {}).get(table)
    reader = spark.read
    if sch:
        reader = reader.schema(StructType.fromJson(_json.loads(sch)))
    return reader.parquet(f"{path}/{table}")


def _bm25_partial_sql(n: float, avgdl: float, k1: float, b: float) -> str:
    """SQL text of the per-(doc, term) Okapi partial over the posting
    columns (tf, dl) and the broadcast term df, with the sidecar corpus
    stats folded in as literals — parsed in ONE ``F.expr`` call where
    the per-Column assembly paid ~300 py4j round trips per query
    (guide §7.3; the r14 ADC-serving precedent). The parse yields the
    IDENTICAL expression tree — same association, same double literals
    (``repr`` is the shortest round-trip form and Spark parses it with
    Java ``parseDouble``, bit-exact) — pinned by
    tests/test_bm25_store.py::test_bm25_partial_sql_tree_matches_columns,
    so the decimal partials stay byte-identical to ``bm25.bm25_search``
    and the DuckDB oracle."""
    d = "{!r}D".format  # D-suffixed double literal, parseDouble-exact
    idf = (f"LN({d(1.0)} + ({d(float(n))} - df + {d(0.5)})"
           f" / (df + {d(0.5)}))")
    # operand order mirrors the former Column build exactly (Python's
    # __rmul__/__radd__ put the Column first), so the analyzed tree is
    # byte-identical, not merely value-identical
    partial = (f"{idf} * (tf * {d(1.0 + k1)})"
               f" / (tf + (dl * {d(float(b))} / {d(float(avgdl))}"
               f" + {d(1.0 - b)}) * {d(float(k1))})")
    return f"CAST(round({partial}, 9) AS DECIMAL(28,10))"


def _scored_hits(spark, path: str, meta: dict, terms: list[str],
                 k1: float, b: float) -> DataFrame:
    """The postings of ``terms`` with their Okapi partial ``p``: the
    terms' buckets (:func:`_bucket_sql`, folded to literals by Catalyst)
    prune the postings scan (PartitionFilters — pinned in
    tests/test_bm25_store.py), the term IN-filter pushes into it, term
    df joins as a broadcast, N/avgdl fold in as sidecar literals. Shared
    by the single and the batched search, so both score identically.
    Building the frame launches no job."""
    from lotus_spark.functions.ann import _sql_in, _sql_str

    def bucket(t: str) -> str:
        return _bucket_sql(_sql_str(t), meta["n_buckets"])

    where = F.expr(f"{_sql_in('bucket', terms, bucket)}"
                   f" AND {_sql_in('term', terms, _sql_str)}")
    posts = _read_index_table(spark, path, "postings", meta).filter(where)
    tdf = (_read_index_table(spark, path, "termdf", meta).filter(where)
           .select("term", "df"))
    n = float(meta["n_docs"])
    avgdl = float(meta["total_dl"]) / float(meta["n_docs"])
    return posts.join(F.broadcast(tdf), "term").withColumn(
        "p", F.expr(_bm25_partial_sql(n, avgdl, k1, b)))


def bm25_search_index(
    spark,
    path: str,
    query: str,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` lexical search against the persisted index. Plan: the
    query terms' postings with their partials (:func:`_scored_hits`),
    and the decimal score accumulation + top-k match
    ``bm25.bm25_search`` bit for bit. Nothing proportional to corpus or
    vocabulary size is read, shuffled, or collected."""
    return _bm25_search_index(spark, path, read_bm25_meta(spark, path),
                              query, k, k1, b)


def _bm25_search_index(spark, path: str, meta: dict, query: str,
                       k: int, k1: float, b: float) -> DataFrame:
    """:func:`bm25_search_index` over an already-read sidecar ``meta``
    (the hybrid serving path reads it once per call)."""
    if not int(meta["n_docs"]):
        raise ValueError("bm25_search_index: the index is empty")
    terms = sorted(set(query.strip().lower().split()))
    if not terms:
        raise ValueError("empty query")
    return (
        _scored_hits(spark, path, meta, terms, k1, b)
        .groupBy("id").agg(F.sum("p").cast("double").alias("score"))
        .orderBy(F.desc("score"), F.asc("id")).limit(k)
        .withColumnRenamed("id", meta["id_col"])
    )


def bm25_search_index_batch(
    spark,
    path: str,
    queries: dict,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    query_col: str = "query_id",
) -> DataFrame:
    """Batched lexical serving: answer MANY queries in ONE pass over the
    UNION of the batch's term buckets, per-query identical to
    :func:`bm25_search_index` (parity-pinned in tests and the
    ``hybrid_search_stored_batch`` oracle row). ``queries`` maps a query
    id (stringified into ``query_col``) to its query text; returns
    ``(query_col, id_col, score)`` with up to ``k`` rows per query (a
    query whose terms hit no document contributes no rows, exactly as
    the single call returns an empty frame).

    Why batch: the single-query path's wall at serving time is dominated
    by FIXED per-job overhead (postings read + termdf broadcast +
    top-k — several small Spark jobs per query,
    BENCH_serving.json), not by the bounded bytes it reads. Concurrent
    queries' bucket sets overlap (popular terms), so one scan of the
    bucket UNION serves the whole batch: each posting row fans out to
    the queries containing its term through a literal
    ``map(term -> array(query ids))`` (no join, no broadcast), and the
    scored hits are hash-partitioned by the query id ONCE — the
    ``(query, id)`` decimal sum (the SAME rounded-decimal partials as
    the single path) and the per-query top-k window both run on that
    one exchange. Two jobs whatever Q is: the term-df broadcast and the
    query-keyed exchange (AQE runs each broadcast and each exchange as
    its own job), then the caller's action — the lexical twin of
    ``ann.knn_topk_ivfpq_batch``. The output stays hash-partitioned by
    ``query_col``, which ``bm25.rrf_fuse_batch`` fuses on without a
    further exchange."""
    return _bm25_search_index_batch(
        spark, path, read_bm25_meta(spark, path), queries, k, k1, b,
        query_col)


def _bm25_search_index_batch(spark, path: str, meta: dict, queries: dict,
                             k: int, k1: float, b: float,
                             query_col: str) -> DataFrame:
    """:func:`bm25_search_index_batch` over an already-read sidecar
    ``meta`` (the hybrid serving path reads it once per call)."""
    from lotus_spark.functions.ann import _sql_str

    if not int(meta["n_docs"]):
        raise ValueError("bm25_search_index_batch: the index is empty")
    if not queries:
        raise ValueError("queries must be non-empty")
    if len({str(qid) for qid in queries}) != len(queries):
        raise ValueError(
            "bm25_search_index_batch: query ids collide after str() — "
            f"{sorted(str(q) for q in queries)}; use distinct string ids")
    term_queries: dict[str, list[str]] = {}
    for qid, text in queries.items():
        terms = sorted(set(str(text).strip().lower().split()))
        if not terms:
            raise ValueError(f"empty query for id {qid!r}")
        for t in terms:
            term_queries.setdefault(t, []).append(str(qid))
    all_terms = sorted(term_queries)
    fan_out = "map(" + ", ".join(
        f"{_sql_str(t)}, array({', '.join(map(_sql_str, term_queries[t]))})"
        for t in all_terms) + ")"
    return (
        _scored_hits(spark, path, meta, all_terms, k1, b)
        .select("id", "p", F.explode(F.expr(f"{fan_out}[term]"))
                .alias(query_col))
        .repartition(query_col)
        .groupBy(query_col, "id")
        .agg(F.sum("p").cast("double").alias("score"))
        .withColumn("__rk", F.expr(
            f"row_number() OVER (PARTITION BY `{query_col}`"
            f" ORDER BY score DESC, id ASC)"))
        .filter(F.col("__rk") <= k)
        .select(query_col, F.col("id").alias(meta["id_col"]), "score")
    )


def append_bm25_index(
    spark, path: str, new_df: DataFrame,
    text_col: str | None = None, id_col: str | None = None,
) -> None:
    """Grow the index with new docs: one map-only encode pass, doclens
    appended FIRST, then postings, then the vocabulary-sized termdf
    REWRITTEN (term frequencies change — the rewrite is swap-installed,
    verified first), sidecar stats updated last. Already-indexed ids
    are rejected loudly (re-appending would double-count their
    postings); column names default to the sidecar-pinned ones. The
    grown index answers every query identically to a from-scratch write
    of the union (pinned in tests and the ``bm25_index_search`` oracle
    row).

    Crash/retry contract: the append is NOT atomic across its four
    updates. doclens is written before anything else precisely so a
    retry of a partially applied append FAILS LOUDLY on the
    doclens-based duplicate check above (appending postings first
    would let the retry silently double-count tf). Recovery from any
    mid-append crash is ``index_cdc.delete_from_bm25_index`` of the
    increment's ids, then re-run the append — the delete rewrites
    postings/doclens, recomputes termdf from the surviving postings,
    and refreshes the sidecar stats, healing every partial state."""
    meta = read_bm25_meta(spark, path)
    text_col = text_col or meta["text_col"]
    id_col = id_col or meta["id_col"]
    if new_df.filter(F.col(id_col).isNull()).count():
        raise ValueError("append_bm25_index: NULL ids are not indexable")
    existing = spark.read.parquet(f"{path}/doclens").select("id")
    dup = (
        new_df.select(F.col(id_col).alias("id"))
        .join(existing, "id", "semi").limit(3).collect()
    )
    if dup:
        raise ValueError(
            f"append_bm25_index: ids already indexed "
            f"(e.g. {[r['id'] for r in dup]}) — delete them first "
            "(functions/index_cdc.py) for replace-style updates")

    postings, doclens = _encode(new_df, text_col, id_col,
                                meta["n_buckets"])
    postings = postings.persist()
    # doclens FIRST: the dup check above reads it, so a crash anywhere
    # past this line makes a blind retry fail loudly instead of
    # double-appending postings (see the docstring's recovery contract)
    doclens.write.mode("append").parquet(f"{path}/doclens")
    postings.write.mode("append").partitionBy("bucket") \
        .parquet(f"{path}/postings")

    # termdf rewrite: old + delta, staged, verified, committed
    merged = (
        spark.read.parquet(f"{path}/termdf")
        .unionByName(_termdf(postings))
        .groupBy("term", "bucket").agg(F.sum("df").alias("df"))
        .select("term", "df", "bucket")
    )
    n_terms = merged.count()
    tmp = sibling(f"{path}/termdf", STAGED_REWRITE)
    merged.write.partitionBy("bucket").parquet(tmp)
    commit_rewrite(spark, f"{path}/termdf", tmp, "append_bm25_index",
                   expect={"": n_terms})

    inc_n, inc_t = _corpus_stats(doclens)
    meta["n_docs"] = int(meta["n_docs"]) + inc_n
    meta["total_dl"] = int(meta["total_dl"]) + inc_t
    _fs_write_json(spark, f"{path}/{_META}", meta)
    postings.unpersist()


def compact_bm25_index(spark, path: str) -> None:
    """Small-files maintenance: daily appends add files under every
    touched bucket directory until scans are file-open bound — the same
    pathology ``compact_ivfpq_index`` fixes for the vector index.
    Rewrites postings and termdf to ONE file per bucket
    (hash-repartition on the bucket id) and doclens to byte-sized file
    counts, then commits the whole directory (crash window:
    ``index_commit``'s docstring). Single-writer; row sets unchanged (a
    query answers identically — pinned in tests). Deletes already
    compact as a side effect, so schedule this only on append-heavy
    indexes."""
    import math

    meta = read_bm25_meta(spark, path)
    jvm, fs, p = _fs(spark, path)
    tmp = sibling(path, STAGED_COMPACT)

    counts = {}
    for table in ("postings", "termdf"):
        df = spark.read.parquet(f"{path}/{table}")
        counts[table] = df.count()
        (df.repartition(F.col("bucket"))
         .write.partitionBy("bucket").parquet(f"{tmp}/{table}"))
    dl = spark.read.parquet(f"{path}/doclens")
    counts["doclens"] = dl.count()
    n_bytes = fs.getContentSummary(p(f"{path}/doclens")).getLength()
    dl.repartition(max(1, math.ceil(n_bytes / (128 << 20)))) \
        .write.parquet(f"{tmp}/doclens")
    _fs_write_json(spark, f"{tmp}/{_META}", meta)
    commit_rewrite(spark, path, tmp, "compact_bm25_index", expect=counts)

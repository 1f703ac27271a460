"""Persisted MinHash-LSH signature index: corpus-vs-increment near-dup.

The daily-pipeline shape ``minhash_lsh_dedup`` cannot serve: the corpus
is 100 TB and ALREADY deduped — the question each day is whether the
NEW batch duplicates it, without recomputing (or even reading) a single
corpus document. This module persists the corpus's LSH state once and
answers increments incrementally, the same train-once/add-many
lifecycle as the IVF-PQ index (``functions/ann.py``):

- ``write_minhash_index`` — one map-only pass over the corpus writes
  two parquet tables: ``buckets`` (one row per (doc, band): the LSH
  band bucket string + doc id) and ``sigs`` (one row per doc: the
  ``n_hashes``-long MinHash signature). Signatures are stored ONCE,
  not per band — at 10^11 docs the signature table is ~TBs; banding it
  x``bands`` would multiply exactly the storage the index exists to
  bound. Parameters (n_hashes/bands/shingle_n/seeded hash family) pin
  in a ``_minhash_meta.json`` sidecar so every later writer/prober uses
  bit-identical expressions (same contract as ``_ivfpq_meta.json``).
- ``append_minhash_index`` — encode new rows with the PINNED parameters
  and append to both tables: the incremental-growth path.
- ``neardup_join_index`` — the probe: signature the increment
  (map-only), explode its band keys, ONE equi-join against ``buckets``
  on the band string, then verify the distinct candidate pairs against
  ``sigs`` by signature agreement. Returns (increment id, corpus id,
  est_jaccard). Cost, stated honestly: the band join scans/shuffles the
  NARROW index tables — (band, id) strings and 16 longs per doc,
  ~0.1% of the corpus text bytes — so the corpus-proportional term is
  over the index, never the documents; the verify work is bounded by
  the increment's bucket collisions. (Measured: see
  ``BENCH_mhindex.json`` — probe wall vs corpus size at a fixed
  increment.)
- ``dedup_against_index`` — convenience: drop increment rows with any
  verified corpus match (the "is today's crawl new?" filter).

Verification semantics, stated plainly: ``minhash_lsh_dedup`` verifies
candidates with EXACT Jaccard over shingle sets (it holds the text);
the index stores only signatures, so the verify is the standard MinHash
ESTIMATOR — the fraction of agreeing signature components, an unbiased
estimate of Jaccard with sd ~ sqrt(J(1-J)/n_hashes). Raise ``n_hashes``
at write time for tighter verification; the banding (b bands of r rows)
sets the candidate-recall curve P(candidate) = 1-(1-J^r)^b exactly as
in the self-dedup path (shared ``minhash_band_keys`` expressions).

Reference analog: ``lotus/sem_ops/sem_dedup.py`` deduplicates within
one frame; the persisted-index shape is the scale extension (FAISS-like
lifecycle applied to the LSH family).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_META = "_minhash_meta.json"


def _tables(spark, path: str, meta: dict) -> tuple[DataFrame, DataFrame]:
    """Reads of ``buckets`` and ``sigs`` given their schema (an
    inferring read launches a footer job); equal reads name one
    cache-manager entry. An index written before the id-type pin
    infers."""
    idt = meta.get("id_type")

    def read(table: str, ddl: str) -> DataFrame:
        r = spark.read if idt is None else spark.read.schema(ddl)
        return r.parquet(f"{path}/{table}")

    return (read("buckets", f"band string, id {idt}"),
            read("sigs", f"id {idt}, minhash array<bigint>"))


def release_stream_index_cache(spark, path: str) -> None:
    """Unpersist the static index frames :func:`neardup_matches_stream`
    cached for ``path`` (an equal read names the same cache entry).
    Call after stopping the streaming query; also the way to make a
    running-session probe see rows appended after setup (release, then
    call ``neardup_matches_stream`` again)."""
    for df in _tables(spark, path, read_minhash_meta(spark, path)):
        df.unpersist()


def _check_cols(df: DataFrame, text_col: str, id_col: str, who: str) -> None:
    missing = [c for c in (text_col, id_col) if c not in df.columns]
    if missing:
        raise ValueError(f"{who}: input lacks columns {missing}")


def _encode(df: DataFrame, text_col: str, id_col: str, n_hashes: int,
            bands: int, shingle_n: int) -> tuple[DataFrame, DataFrame]:
    """(buckets, sigs) frames for ``df`` under the given parameters —
    the single encode definition shared by write/append/probe so the
    three can never drift. Stream-safe: ``minhash_expr`` is a pure
    Column expression; the parallelism guard only applies to batch
    inputs (``df.rdd`` is illegal on a stream)."""
    from lotus_spark.functions.dedup import (
        ensure_parallelism, minhash_band_keys, minhash_expr,
    )

    if not df.isStreaming:
        df = ensure_parallelism(df)
    sigd = df.withColumn(
        "minhash", minhash_expr(F.col(text_col), n_hashes, shingle_n))
    sigs = sigd.select(F.col(id_col).alias("id"), "minhash")
    band_keys = minhash_band_keys(F.col("minhash"), n_hashes, bands)
    buckets = sigd.select(
        F.explode(F.array(*band_keys)).alias("band"),
        F.col(id_col).alias("id"),
    )
    return buckets, sigs


def write_minhash_index(
    df: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    mode: str = "error",
) -> None:
    """Persist the corpus's LSH state: ``{path}/buckets`` +
    ``{path}/sigs`` parquet tables and the parameter sidecar. One
    map-only pass over the corpus (signature + band explode inside the
    scan projection, zero shuffles); the writes are plain appends of
    narrow rows, so the corpus text is read once and never again.

    ``mode="overwrite"`` is NOT atomic across the two tables (a crash
    between them leaves buckets/sigs inconsistent) — rebuilds should
    write to a fresh path and swap, the same discipline as
    ``compact_ivfpq_index``. Same single-writer contract as the other
    index maintainers."""
    if n_hashes % bands:
        raise ValueError(
            f"bands={bands} must divide n_hashes={n_hashes}")
    _check_cols(df, text_col, id_col, "write_minhash_index")
    buckets, sigs = _encode(df, text_col, id_col, n_hashes, bands,
                            shingle_n)
    buckets.write.mode(mode).parquet(f"{path}/buckets")
    sigs.write.mode(mode).parquet(f"{path}/sigs")
    from lotus_spark.functions.index_commit import _fs_write_json

    _fs_write_json(df.sparkSession, f"{path}/{_META}", {
        "n_hashes": int(n_hashes), "bands": int(bands),
        "shingle_n": int(shingle_n), "id_col": id_col,
        "id_type": df.schema[id_col].dataType.simpleString(),
    })


def read_minhash_meta(spark, path: str) -> dict:
    from lotus_spark.functions.index_commit import _fs_read_json

    meta = _fs_read_json(spark, f"{path}/{_META}")
    if meta is None:
        raise FileNotFoundError(
            f"no {_META} sidecar at {path} — not a minhash index "
            "(write_minhash_index creates it)")
    return meta


def append_minhash_index(
    spark, path: str, new_df: DataFrame, text_col: str, id_col: str,
) -> None:
    """Incremental growth: encode ``new_df`` with the index's PINNED
    parameters (never the caller's) and append to both tables — one
    map-only pass over the new rows, the already-indexed corpus is
    untouched. The grown index is row-identical to a from-scratch
    write of the union (parity-pinned in tests). Single-writer, like
    the IVF-PQ appenders. NULL ids are rejected loudly (a NULL id can
    never be reported as a match, so indexing it only pollutes
    buckets), and so is an id type other than the pinned one."""
    meta = read_minhash_meta(spark, path)
    _check_cols(new_df, text_col, id_col, "append_minhash_index")
    idt = new_df.schema[id_col].dataType.simpleString()
    if meta.get("id_type", idt) != idt:
        raise TypeError(
            f"append_minhash_index: {id_col!r} is {idt} but the index "
            f"pins id type {meta['id_type']} — cast the ids first")
    n_null = new_df.filter(F.col(id_col).isNull()).count()
    if n_null:
        raise ValueError(
            f"append_minhash_index: {n_null} rows have NULL {id_col!r}")
    buckets, sigs = _encode(new_df, text_col, id_col, meta["n_hashes"],
                            meta["bands"], meta["shingle_n"])
    buckets.write.mode("append").parquet(f"{path}/buckets")
    sigs.write.mode("append").parquet(f"{path}/sigs")


def compact_minhash_index(
    spark, path: str, target_file_bytes: int = 128 << 20,
) -> None:
    """Small-files maintenance for a persisted MinHash-LSH index: every
    ``append_minhash_index`` (a daily operation by design) adds new
    parquet files to ``buckets/`` and ``sigs/``, and a long-lived index
    degrades into thousands of tiny files — scans become file-open
    bound, the same pathology ``compact_ivfpq_index`` fixes for the
    vector index. Rewrites each table to ``ceil(bytes /
    target_file_bytes)`` files (repartition — row set unchanged) and
    commits the rewrite (crash window: ``index_commit``'s docstring).
    Single-writer: do not run concurrently with an appender or while a
    ``neardup_matches_stream`` query holds the old files cached (release
    the cache and restart the probe after)."""
    _compact_tables(spark, path, ("buckets", "sigs"), _META,
                    read_minhash_meta(spark, path), target_file_bytes,
                    "compact_minhash_index")
    # a neardup_matches_stream cache for this path snapshots the OLD
    # files (now deleted) — drop it so a probe set up after compaction
    # in the same session reads the swapped-in index instead of dead
    # persisted frames
    release_stream_index_cache(spark, path)


def _compact_tables(
    spark, path: str, tables: tuple[str, ...], meta_name: str, meta: dict,
    target_file_bytes: int, who: str,
) -> None:
    """Shared body of the narrow-table compactions (``compact_minhash_
    index``, ``decontam_index.compact_ngram_index``): stage every table
    at ``ceil(bytes / target_file_bytes)`` files plus the sidecar, then
    ``commit_rewrite`` it."""
    import math

    from lotus_spark.functions.index_commit import (
        STAGED_COMPACT,
        _fs,
        _fs_write_json,
        commit_rewrite,
        sibling,
    )

    jvm, fs, p = _fs(spark, path)
    tmp = sibling(path, STAGED_COMPACT)
    counts = {}
    for table in tables:
        src = f"{path}/{table}"
        df = spark.read.parquet(src)
        counts[table] = df.count()
        n_bytes = fs.getContentSummary(p(src)).getLength()
        n_files = max(1, math.ceil(n_bytes / target_file_bytes))
        df.repartition(n_files).write.parquet(f"{tmp}/{table}")
    _fs_write_json(spark, f"{tmp}/{meta_name}", meta)
    commit_rewrite(spark, path, tmp, who, expect=counts)


def neardup_join_index(
    spark,
    path: str,
    query_df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    match_col: str = "match_id",
    score_col: str = "est_jaccard",
    verify: str = "estimate",
    corpus_df: DataFrame | None = None,
    corpus_text_col: str | None = None,
    corpus_id_col: str | None = None,
    query_sigs: DataFrame | None = None,
) -> DataFrame:
    """Probe: which indexed corpus docs does each ``query_df`` row
    near-duplicate? Signature + band keys for the increment are
    map-only; candidates come from ONE equi-join on the band string
    (the corpus side is the narrow ``buckets`` table — two columns,
    never text or signatures). Returns (id_col, match_col, score_col),
    one row per verified (increment, corpus) pair.

    ``query_sigs`` (r15): a precomputed ``(id_col, "minhash")`` frame
    holding each query row's signature under THIS index's pinned
    parameters. When given, band keys and the estimator's query-side
    signatures derive from it instead of re-running the shingle→hash
    fold over the text — a caller that already computed the identical
    expressions (``assign_clusters_against_index`` signs the increment
    for its self-clustering pass) threads them here so the expensive
    fold runs once per row overall. Pass a PINNED frame (persist /
    localCheckpoint): the probe consumes it in two plan branches, and
    an unpinned lazy frame would re-execute its lineage per branch —
    exactly the duplication this parameter removes. Every query row
    must appear in it (missing rows silently probe nothing).

    ``verify`` picks the candidate-verification tier:

    - ``"estimate"`` (default): the distinct candidate pairs join
      ``sigs`` by id (narrow, candidate-bounded) and score by signature
      agreement — the standard unbiased Jaccard estimator
      (sd ~ sqrt(J(1-J)/n_hashes); measured at n_hashes=16: precision
      1.0, recall 0.949 at the τ=0.9 knife-edge, ``BENCH_mhindex.json``).
      The corpus TEXT is never read.
    - ``"exact"``: pass the corpus table (``corpus_df`` +
      ``corpus_text_col``/``corpus_id_col``, defaulting to the probe's
      column names) and the candidate pairs join it BY MATCHED ID ONLY
      to fetch text and score exact shingle-set Jaccard — the same
      verify ``minhash_lsh_dedup`` runs (shared ``word_shingles``
      expressions with the index's PINNED shingle_n), closing the
      estimator's measured τ=0.9 recall miss. Cost, stated honestly:
      the join touches matched corpus rows' text (candidate-bounded
      shuffle — only collision rows move; the scan itself prunes when
      the corpus table is partitioned/bucketed/z-ordered by id,
      otherwise it is one full scan with only (id, text) read), so
      "exact" trades the estimate tier's never-read-the-corpus property
      for exact scores. ``score_col`` then holds true Jaccard.
      Integrity: exact-duplicate corpus rows are collapsed before the
      join, and a candidate id with NO corpus row (stale/partial
      ``corpus_df``) RAISES instead of silently dropping the pair — a
      dedup gate that quietly skips its verify passes duplicates.
    """
    meta = read_minhash_meta(spark, path)
    _check_cols(query_df, text_col, id_col, "neardup_join_index")
    if verify not in ("estimate", "exact"):
        raise ValueError(
            f"verify={verify!r}: pick 'estimate' (signature agreement, "
            "corpus text never read) or 'exact' (shingle Jaccard over "
            "corpus_df, candidate-bounded)")
    if verify == "exact" and corpus_df is None:
        raise ValueError(
            "verify='exact' needs corpus_df (the indexed corpus table; "
            "only candidate-matched ids' rows are joined)")
    n_hashes = meta["n_hashes"]
    if query_sigs is not None:
        from lotus_spark.functions.dedup import minhash_band_keys

        missing = [c for c in (id_col, "minhash")
                   if c not in query_sigs.columns]
        if missing:
            raise ValueError(
                f"neardup_join_index: query_sigs lacks columns {missing} "
                f"(expected ({id_col!r}, 'minhash'))")
        sig = query_sigs.select(F.col(id_col).alias("id"), "minhash")
        band_keys = minhash_band_keys(F.col("minhash"), n_hashes,
                                      meta["bands"])
        qb = sig.select(F.explode(F.array(*band_keys)).alias("band"), "id")
        qs = sig
    else:
        qb, qs = _encode(query_df, text_col, id_col, n_hashes,
                         meta["bands"], meta["shingle_n"])
    corpus_buckets, corpus_sigs = _tables(spark, path, meta)
    cand = (
        qb.withColumnRenamed("id", "__qid")
        .join(corpus_buckets, "band")
        .select(F.col("__qid"), F.col("id").alias(match_col))
        .dropDuplicates(["__qid", match_col])
    )
    if verify == "exact":
        from lotus_spark.functions.text import word_shingles

        ctext = corpus_text_col or text_col
        cid = corpus_id_col or id_col
        _check_cols(corpus_df, ctext, cid,
                    "neardup_join_index(verify='exact') corpus_df")
        sh_n = meta["shingle_n"]
        # exact-duplicate corpus rows collapse before the join (a
        # re-ingested row must not fan out one result per copy); an id
        # that appears with CONFLICTING text is genuinely ambiguous and
        # still fans out — that is a corrupt corpus table, not a dedup
        cshingles = corpus_df.select(
            F.col(cid).alias(match_col),
            word_shingles(F.col(ctext), sh_n).alias("__csh"),
        ).dropDuplicates([match_col, "__csh"])
        qshingles = query_df.select(
            F.col(id_col).alias("__qid"),
            word_shingles(F.col(text_col), sh_n).alias("__qsh"),
        )
        inter = F.size(F.array_intersect("__qsh", "__csh"))
        union = F.size(F.array_union("__qsh", "__csh"))
        # LEFT join + loud failure on a dangling candidate: an inner
        # join would silently DROP the pair when corpus_df is stale or
        # partial (the index says "duplicate", the verify never runs,
        # the near-duplicate passes the gate) — the one failure mode a
        # dedup gate must not have quietly
        score = F.when(
            F.col("__csh").isNull(),
            F.raise_error(F.concat(
                F.lit("neardup_join_index(verify='exact'): candidate "),
                F.col(match_col).cast("string"),
                F.lit(" has no row (or a NULL text) in corpus_df — a "
                      "stale/partial corpus table would silently pass "
                      "near-duplicates; pass the table the index was "
                      "built over"),
            )).cast("double"),
        ).otherwise(inter.cast("double") / union.cast("double"))
        return (
            cand.join(cshingles, match_col, "left")  # candidate-bounded
            .join(qshingles, "__qid")
            .withColumn(score_col, score)
            .filter(F.col(score_col) >= threshold)
            .select(F.col("__qid").alias(id_col), match_col, score_col)
        )
    corpus_sigs = corpus_sigs.select(
        F.col("id").alias(match_col), F.col("minhash").alias("__msig"))
    qsigs = qs.select(F.col("id").alias("__qid"),
                      F.col("minhash").alias("__qsig"))
    agree = F.size(F.filter(
        F.zip_with("__qsig", "__msig", lambda a, b: a == b),
        lambda x: x,
    ))
    return (
        cand.join(corpus_sigs, match_col)
        .join(qsigs, "__qid")
        .withColumn(score_col,
                    agree.cast("double") / F.lit(float(n_hashes)))
        .filter(F.col(score_col) >= threshold)
        .select(F.col("__qid").alias(id_col), match_col, score_col)
    )


def dedup_against_index(
    spark,
    path: str,
    query_df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.7,
    **verify_kwargs,
) -> DataFrame:
    """Keep only the ``query_df`` rows with NO verified corpus match —
    the "is today's batch new?" filter. An anti-join against the
    verified matches; the increment's own internal duplicates are out
    of scope (run ``minhash_lsh_dedup`` on the increment first, then
    ``append_minhash_index`` the survivors). ``verify_kwargs`` pass
    through to :func:`neardup_join_index` (e.g. ``verify="exact",
    corpus_df=...``)."""
    matches = neardup_join_index(
        spark, path, query_df, text_col, id_col, threshold,
        **verify_kwargs,
    ).select(id_col).distinct()
    return query_df.join(matches, id_col, "left_anti")


def neardup_matches_stream(
    spark,
    path: str,
    stream: DataFrame,
    text_col: str,
    id_col: str,
    ts_col: str,
    threshold: float = 0.7,
    watermark: str = "10 minutes",
    match_col: str = "match_id",
    score_col: str = "est_jaccard",
) -> DataFrame:
    """Streaming probe: verified corpus near-dup matches for a LIVE
    feed — (ts, id, match, score), one row per (stream doc, corpus doc)
    pair. The pipeline is the batch probe re-expressed in stream-legal
    operators: map-side signature + band explode (pure Column exprs),
    a STREAM-STATIC inner join against the persisted ``buckets`` table,
    a second static join for the candidate's stored signature, the
    agreement filter, and ``dropDuplicatesWithinWatermark`` to collapse
    the multi-band hits of one pair (bounded state, watermark-evicted;
    the same chained-stateful pattern as ``streaming_neardup_minhash``).

    The static sides are CACHED (``persist()``, MEMORY_AND_DISK — Spark
    spills or recomputes what exceeds memory), so each micro-batch pays
    the join probe, not a corpus re-read. Spark's cache manager owns the
    copy: repeat calls for the same path (e.g. a restart loop) persist
    an equal read, which is one entry, not a stacked copy, and a new
    SparkContext starts without it. Call
    :func:`release_stream_index_cache` when done with an index to
    unpersist it eagerly. Consequence of the snapshot: rows added by
    ``append_minhash_index`` AFTER setup are invisible to a running
    probe — release the cache and restart the query to pick them up.

    GATING (keep only novel rows) is intentionally not a pure-stream
    op here: "no verified match for this row" is a per-row aggregation
    over its band hits, i.e. more watermark state for strictly less
    information. The gate shape for pipelines is ``foreachBatch`` +
    :func:`dedup_against_index` per micro-batch — the batch operator
    verbatim, with the sink's replay story handled exactly as in
    ``streaming/index_sink.py``.
    """
    if not stream.isStreaming:
        raise ValueError(
            "neardup_matches_stream expects a streaming DataFrame; "
            "use neardup_join_index for batches")
    meta = read_minhash_meta(spark, path)
    _check_cols(stream, text_col, id_col, "neardup_matches_stream")
    n_hashes = meta["n_hashes"]
    from lotus_spark.functions.dedup import minhash_band_keys, minhash_expr

    sigd = stream.withColumn(
        "__qsig", minhash_expr(F.col(text_col), n_hashes,
                               meta["shingle_n"]))
    band_keys = minhash_band_keys(F.col("__qsig"), n_hashes,
                                  meta["bands"])
    banded = sigd.select(
        F.col(ts_col), F.col(id_col), F.col("__qsig"),
        F.explode(F.array(*band_keys)).alias("band"),
    )
    corpus_buckets, raw_sigs = (
        df.persist() for df in _tables(spark, path, meta))
    corpus_sigs = raw_sigs.select(
        F.col("id").alias(match_col), F.col("minhash").alias("__msig"))
    agree = F.size(F.filter(
        F.zip_with("__qsig", "__msig", lambda a, b: a == b),
        lambda x: x,
    ))
    matches = (
        banded.join(corpus_buckets.withColumnRenamed("id", match_col),
                    "band")
        .join(corpus_sigs, match_col)
        .withColumn(score_col,
                    agree.cast("double") / F.lit(float(n_hashes)))
        .filter(F.col(score_col) >= threshold)
        .select(ts_col, id_col, match_col, score_col)
        .withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark([id_col, match_col])
    )
    return matches


def embedding_neardup_index(
    spark,
    index_path: str,
    query_df: DataFrame,
    id_col: str,
    emb_col: str,
    index_id_col: str,
    index_emb_col: str,
    threshold: float = 0.9,
    n_probe: int = 8,
    k: int = 10,
    rerank_k: int | None | str = "auto",
    match_col: str = "match_id",
    score_col: str = "score",
) -> DataFrame:
    """Embedding-space twin of :func:`neardup_join_index`: which indexed
    corpus vectors does each query row near-duplicate by cosine? Probes
    a persisted IVF-PQ index (``ann.write_ivfpq_index`` — grown
    incrementally by ``append_ivfpq_index`` / the streaming sink) via
    :func:`~lotus_spark.functions.ann.ann_join_ivfpq` ``prebuilt=`` and
    keeps exact-reranked matches with cosine >= ``threshold``. Returns
    (id_col, match_col, score_col).

    APPROXIMATE like any IVF probe: a near-dup hiding in an unprobed
    cell is missed — raise ``n_probe`` (recall curves:
    ``BENCH_joinrecall.json``), and size ``k`` to the duplicate
    multiplicity you need surfaced (at most ``k`` matches per query row
    are checked against the threshold). ``rerank_k`` (r12) is the ADC
    shortlist budget forwarded to the join — default ``"auto"`` rides
    ``auto_rerank_k(k, join=True)`` = max(32k, 320); callers needing
    exact-cosine coverage of the whole probed mass at scale (e.g. the
    cluster-assign batch-equality contract) raise it instead of
    dropping to ``ann_join_ivfpq`` directly. The MinHash index is the
    text twin with the same write/append/probe lifecycle."""
    from lotus_spark.functions.ann import ann_join_ivfpq, read_ivfpq_index
    from lotus_spark.functions.index_commit import _fs_read_json

    if rerank_k is None:
        raise ValueError(
            "embedding_neardup_index: rerank_k=None (raw-ADC opt-out) "
            "would leave no cosine score to threshold on — pass an int "
            "or 'auto'")
    stored, cents, books, cell_col = read_ivfpq_index(spark, index_path)
    # the sidecar pins which column holds the PQ codes — an index written
    # with a non-default code_col must probe under that name, exactly as
    # append_ivfpq_index honors it
    meta = _fs_read_json(spark, f"{index_path}/_ivfpq_meta.json") or {}
    out = ann_join_ivfpq(
        query_df, None, id_col, emb_col, index_id_col, index_emb_col,
        K=k, n_probe=n_probe, rerank_k=rerank_k,
        prebuilt=(stored, cents, books),
        cell_col=cell_col, id_out=match_col, score_out=score_col,
        code_col=meta.get("code_col", "pq_codes"),
    )
    return (out.filter(F.col(score_col) >= threshold)
            .select(id_col, match_col, score_col))

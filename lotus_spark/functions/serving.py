"""Serve hybrid (lexical + vector) retrieval from the PERSISTED indexes.

``functions/bm25.py::rrf_fuse`` fuses in-hand ranked lists; this module
is the SERVING composition over the two stored index layouts — the
query path a retrieval deployment actually runs all day:

- lexical: ``bm25_store.bm25_search_index`` — the query terms' bucket
  directories prune the postings scan (|terms|/n_buckets of the index);
- vector: ``ann.read_ivfpq_index`` + ``ann.knn_topk_ivfpq`` — n_probe
  cell directories prune the codes scan, ADC orders them, the exact
  rerank reads ``rerank_k`` embeddings;
- fusion: reciprocal-rank (``bm25.rrf_fuse``) — rank fusion sidesteps
  calibrating the incomparable BM25/cosine scales.

Per-query cost is BOUNDED BY THE INDEX GEOMETRY, not the corpus: a
query touches |terms| postings buckets + n_probe cells + the sidecar
literals, nothing else — at 100 TB that is the difference between a
serving path and a batch job. Both indexes are maintained by the same
lifecycle verbs (write/append/compact + CDC delete/upsert in
``functions/index_cdc.py``), so the fused answer tracks the corpus as
snapshots roll.

The reference's retrieval surface is embedding-only
(``lotus/sem_ops/sem_search.py``); the lexical tier and the fusion are
the production-stack extension, same rationale as ``functions/bm25.py``.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def hybrid_search_index(
    spark,
    bm25_path: str,
    ivfpq_path: str,
    query_text: str,
    query_vec: list[float],
    k: int = 10,
    lexical_k: int = 20,
    vector_k: int = 20,
    n_probe: int = 8,
    rerank_k: int | str = "auto",
    rrf_k: int = 60,
    k1: float = 1.2,
    b: float = 0.75,
    vector_id_col: str = "vec_id",
) -> DataFrame:
    """One hybrid query against the two persisted indexes → top-``k``
    ``(id, rrf_score)``. The id column is the BM25 sidecar's pinned
    ``id_col``; ``vector_id_col`` names the stored IVF-PQ index's id
    column (the two corpora must share the id space — build both
    indexes over the same document set). ``rerank_k=None`` is rejected:
    RRF needs a rank order, and raw ADC distances rank differently per
    probe geometry (pass an int to bound the exact rerank instead)."""
    from lotus_spark.functions.ann import (
        _read_ivfpq_index_with_meta, knn_topk_ivfpq,
    )
    from lotus_spark.functions.bm25 import rrf_fuse
    from lotus_spark.functions.bm25_store import (
        _bm25_search_index, read_bm25_meta,
    )

    if rerank_k is None:
        raise ValueError(
            "hybrid_search_index: rerank_k=None (raw-ADC opt-out) has no "
            "cosine score to rank for fusion — pass an int or 'auto'")
    bm25_meta = read_bm25_meta(spark, bm25_path)
    out_id = bm25_meta["id_col"]
    lex = _bm25_search_index(spark, bm25_path, bm25_meta, query_text,
                             lexical_k, k1, b)

    stored, meta = _read_ivfpq_index_with_meta(spark, ivfpq_path)
    vec = knn_topk_ivfpq(
        stored, meta["centroids"], meta["codebooks"], query_vec,
        k=vector_k, n_probe=n_probe,
        id_col=vector_id_col, cell_col=meta["cell_col"],
        code_col=meta.get("code_col", "pq_codes"), rerank_k=rerank_k,
    ).select(F.col(vector_id_col).alias(out_id), "score")

    return rrf_fuse([lex, vec], out_id, k=k, rrf_k=rrf_k)


def hybrid_search_index_batch(
    spark,
    bm25_path: str,
    ivfpq_path: str,
    queries: dict,
    k: int = 10,
    lexical_k: int = 20,
    vector_k: int = 20,
    n_probe: int = 8,
    rerank_k: int | str = "auto",
    rrf_k: int = 60,
    k1: float = 1.2,
    b: float = 0.75,
    vector_id_col: str = "vec_id",
    query_col: str = "query_id",
) -> DataFrame:
    """Batched hybrid serving: answer MANY hybrid queries against the
    two persisted indexes in ONE plan of six Spark jobs whatever the
    batch size, once the query terms' buckets are cached (measured on
    the 16-query ``index_serving`` benchmark batch; AQE runs each
    exchange and each broadcast as its own job): the term-df broadcast
    and ONE query-keyed exchange for the lexical pass over the union of
    the batch's term buckets, ONE query-keyed exchange for the ADC
    ranking over the union of the probed cells, the rerank shortlist
    broadcast and ONE query-keyed rerank exchange, then the result
    stage, where the per-query RRF fusion and top-k run with no
    exchange (the two lists share their hash partitioning by the query
    id). ``queries`` maps a query id to ``(query_text, query_vec)``;
    returns ``(query_col, id, rrf_score)`` with top-``k`` rows per
    query — per query VALUE-IDENTICAL to :func:`hybrid_search_index`
    with the same knobs (parity-pinned in tests/test_serving.py and
    hash-pinned by the ``hybrid_search_stored_batch`` oracle row; job
    count and plan pinned in tests/test_serving.py and
    tests/test_plan_shapes.py).

    Why this exists: BENCH_serving.json showed the warm stored query at
    sf0.1 spending ~3× the in-hand wall despite reading 3–4× fewer
    bytes — the gap is FIXED per-query job overhead (bucket lookup,
    postings read, cell probes, rerank as separate little Spark jobs),
    which is exactly what a deployment amortizes by batching its query
    traffic. The vector side already had the batched shape
    (``ann.knn_topk_ivfpq_batch``); this is the hybrid composition over
    its lexical twin ``bm25_store.bm25_search_index_batch`` and the
    per-query fusion ``bm25.rrf_fuse_batch``. Per-query BYTES stay
    bounded by index geometry; per-query WALL now amortizes with the
    batch size (BENCH_serving.json ``batch`` rows)."""
    from lotus_spark.functions.ann import (
        _read_ivfpq_index_with_meta, knn_topk_ivfpq_batch,
    )
    from lotus_spark.functions.bm25 import rrf_fuse_batch
    from lotus_spark.functions.bm25_store import (
        _bm25_search_index_batch, read_bm25_meta,
    )

    if rerank_k is None:
        raise ValueError(
            "hybrid_search_index_batch: rerank_k=None (raw-ADC opt-out) "
            "has no cosine score to rank for fusion — pass an int or "
            "'auto'")
    if not queries:
        raise ValueError("queries must be non-empty")
    for qid, tv in queries.items():
        if not (isinstance(tv, (tuple, list)) and len(tv) == 2):
            raise ValueError(
                f"query {qid!r}: expected (query_text, query_vec), "
                f"got {type(tv).__name__}")
    bm25_meta = read_bm25_meta(spark, bm25_path)
    out_id = bm25_meta["id_col"]
    lex = _bm25_search_index_batch(
        spark, bm25_path, bm25_meta,
        {qid: tv[0] for qid, tv in queries.items()},
        lexical_k, k1, b, query_col)

    stored, meta = _read_ivfpq_index_with_meta(spark, ivfpq_path)
    vec = knn_topk_ivfpq_batch(
        stored, meta["centroids"], meta["codebooks"],
        {qid: tv[1] for qid, tv in queries.items()},
        k=vector_k, n_probe=n_probe, id_col=vector_id_col,
        cell_col=meta["cell_col"],
        code_col=meta.get("code_col", "pq_codes"),
        rerank_k=rerank_k, query_col=query_col,
    ).select(query_col, F.col(vector_id_col).alias(out_id), "score")

    return rrf_fuse_batch([lex, vec], out_id, query_col=query_col,
                          k=k, rrf_k=rrf_k)

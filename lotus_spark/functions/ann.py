"""Approximate-nearest-neighbor search over embedding columns.

Two tiers (SURVEY north-star: similarity search as a first-class component):
- ``knn_topk`` — exact brute-force cosine top-K: JVM-side fold arithmetic +
  ``orderBy(desc).limit`` (TakeOrderedAndProject: K rows per partition cross
  the shuffle, never the data). The correctness tier and the oracle.
- ``lsh_bucket`` / ``knn_topk_lsh`` — random-hyperplane LSH: deterministic
  seeded planes → sign-bit bucket id; candidate set = query's bucket (plus
  optional multi-probe neighbors), exact rerank inside. The scale tier: the
  bucket id is a plain column, so a 100 TB embedding table can be written
  partitioned/bucketed by it and a query touches one partition.

Planes are derived from a seeded counter hash (not RNG state), so Spark and
any oracle implementation generate bit-identical buckets.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from lotus_spark.functions.index_commit import _fs_read_json, _fs_write_json
from lotus_spark.functions.vectors import query_cosine  # noqa: F401


def _plane_value(seed: int, plane: int, dim: int) -> float:
    """Deterministic pseudo-gaussian-ish value in [-1, 1) from a counter hash."""
    h = hashlib.blake2b(f"{seed}:{plane}:{dim}".encode(), digest_size=8).digest()
    v = int.from_bytes(h, "big")
    return (v / 2**63) - 1.0


def hyperplanes(n_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    return [
        [_plane_value(seed, p, d) for d in range(dim)] for p in range(n_planes)
    ]


def lsh_bucket(emb: Column, planes: list[list[float]]) -> Column:
    """Bucket id = Σ_p (dot(emb, plane_p) > 0) << p  — a plain long column.

    Vectorized pandas UDF; per-plane dots accumulate dimension-by-dimension,
    reproducing the sequential fold's op order bit-for-bit (the bucket id is
    a sum of integer bits, so the plane summation order is exact anyway).
    """
    P = np.asarray(planes, dtype=np.float64)  # n_planes x dim
    weights = (1 << np.arange(P.shape[0])).astype(np.int64)

    @F.pandas_udf("long")
    def _udf(embs: pd.Series) -> pd.Series:
        valid = embs.notna().to_numpy()
        out = np.zeros(len(embs), dtype=np.float64)
        if valid.any():
            V = np.stack(embs[valid].to_numpy()).astype(np.float64)
            acc = np.zeros((V.shape[0], P.shape[0]))
            for j in range(V.shape[1]):
                acc = acc + V[:, j : j + 1] * P[:, j]
            out[valid] = ((acc > 0.0) * weights).sum(axis=1)
        res = pd.Series(out).astype("int64")
        return res.where(pd.Series(valid), None)

    return _udf(emb.cast("array<double>"))


def knn_topk(
    df: DataFrame,
    emb_col: str,
    query_vec: list[float],
    k: int = 10,
    id_col: str | None = None,
    score_col: str = "score",
) -> DataFrame:
    """Exact cosine top-K of ``query_vec`` over ``emb_col``."""
    from lotus_spark.functions.vectors import query_cosine

    scored = df.withColumn(score_col, query_cosine(F.col(emb_col), query_vec))
    order = [F.desc(score_col)] + ([F.asc(id_col)] if id_col else [])
    return scored.orderBy(*order).limit(k)


def knn_topk_lsh(
    df: DataFrame,
    emb_col: str,
    query_vec: list[float],
    k: int = 10,
    n_planes: int = 8,
    seed: int = 42,
    id_col: str | None = None,
    score_col: str = "score",
    bucket_col: str | None = None,
) -> DataFrame:
    """LSH-bucketed ANN: prune to the query's hyperplane bucket, exact rerank.

    ``bucket_col``: reuse a precomputed bucket column (e.g. the table is
    stored partitioned by it) — then the scan prunes partitions natively and
    only the query's partition is read + exactly reranked.

    Without a precomputed bucket the whole table must be scanned once; that
    scan runs as ONE fused ``mapInPandas`` kernel (bucket → in-kernel prune →
    fold-exact cosine) emitting only the query-bucket rows with their score:
    the embedding column crosses the Arrow boundary once instead of twice
    (separate bucket + cosine UDF stages), and non-matching rows (all but
    ~1/2^n_planes) never leave Python. Values are bit-identical to
    ``lsh_bucket`` + ``query_cosine`` (same dim-ordered accumulation).
    """
    from lotus_spark.functions.vectors import _fold_dot_norm

    dim = len(query_vec)
    planes = hyperplanes(n_planes, dim, seed)
    qbucket = 0
    for p, plane in enumerate(planes):
        if sum(a * b for a, b in zip(query_vec, plane)) > 0.0:
            qbucket += 1 << p
    if bucket_col is not None:
        pruned = df.filter(F.col(bucket_col) == qbucket)
        return knn_topk(pruned, emb_col, query_vec, k, id_col, score_col)

    from pyspark.sql.types import DoubleType, StructField, StructType

    P = np.asarray(planes, dtype=np.float64)
    weights = (1 << np.arange(P.shape[0])).astype(np.int64)
    q = [float(v) for v in query_vec]
    nq_acc = 0.0
    for v in q:
        nq_acc = nq_acc + v * v
    nq = float(np.sqrt(nq_acc))
    qa = np.asarray(q, dtype=np.float64)
    out_schema = StructType(
        df.schema.fields + [StructField(score_col, DoubleType())]
    )
    emb_name = emb_col

    def gen(batches):
        for pdf in batches:
            embs = pdf[emb_name]
            valid = embs.notna().to_numpy()
            if not valid.any():
                continue
            V = np.stack(embs[valid].to_numpy()).astype(np.float64)
            acc = np.zeros((V.shape[0], P.shape[0]))
            for j in range(V.shape[1]):
                acc = acc + V[:, j : j + 1] * P[:, j]
            bucket = ((acc > 0.0) * weights).sum(axis=1).astype(np.int64)
            hit = bucket == qbucket
            if not hit.any():
                continue
            W = V[hit]
            accd = np.zeros(W.shape[0])
            for j in range(W.shape[1]):
                accd = accd + W[:, j] * qa[j]
            na = np.sqrt(_fold_dot_norm(W, np))
            scores = np.where((na == 0.0) | (nq == 0.0), 0.0, accd / (na * nq))
            out = pdf.iloc[np.nonzero(valid)[0][hit]].copy()
            out[score_col] = scores
            yield out

    scored = df.mapInPandas(gen, schema=out_schema)
    order = [F.desc(score_col)] + ([F.asc(id_col)] if id_col else [])
    return scored.orderBy(*order).limit(k)


def _resolve_train_filter(
    df: DataFrame,
    id_col: str,
    seed: int,
    train_sample: tuple[int, int] | None,
    max_train_rows: int | None,
    n_rows: int | None = None,
):
    """Training-sample predicate for quantizer fitting (FAISS practice:
    codebooks/centroids train on a bounded sample; only the map-only
    encode touches every row). ``train_sample=(seed, threshold)`` pins
    an explicit hash sample — SQL-replayable via ``train_sample_where``,
    so sampled training stays oracle-checkable. Otherwise, when the
    table exceeds ``max_train_rows``, an auto sample targeting that many
    rows is derived (one count, then a pure map-side predicate). Returns
    None to train on everything."""
    from lotus_spark.functions.kmeans import train_sample_predicate
    from lotus_spark.functions.text import MOD

    if train_sample is not None:
        sseed, threshold = train_sample
        return train_sample_predicate(id_col, sseed, threshold)
    if max_train_rows is not None:
        n = n_rows if n_rows is not None else df.select(F.lit(1)).count()
        if n > max_train_rows:
            import math

            threshold = math.ceil(MOD * max_train_rows / n)
            return train_sample_predicate(id_col, seed, threshold)
    return None


def ivf_index(
    df: DataFrame,
    emb_col: str,
    n_cells: int | str = 64,
    seed: int = 42,
    cell_col: str = "__ivf_cell",
    method: str = "mllib",
    id_col: str | None = None,
    train_sample: tuple[int, int] | None = None,
    max_train_rows: int | None = 1_000_000,
) -> tuple[DataFrame, list[list[float]]]:
    """IVF (inverted-file) coarse quantizer: KMeans centroids + cell ids.

    Returns (df + cell column, centroids). The scale pattern: write the
    table partitioned by ``cell_col`` once; each query then scans only
    ``n_probe`` cells — the Spark analog of a FAISS IVF list scan, with
    partition pruning doing the inverted-list lookup.

    ``n_cells="auto"`` sizes the cell count to the DATA: ceil(sqrt(n))
    clamped to [4, 65536] — the standard IVF sizing (FAISS guideline:
    ~sqrt(n) lists), keeping BOTH mean cell size and cell count growing
    as sqrt(n) so per-query probe work scales sub-linearly as the corpus
    grows. A fixed ``n_cells`` means cells grow linearly with the data —
    same growth trap as a fixed LSH bucket count
    (``dedup.lsh_candidate_pairs``).

    ``method="deterministic"`` uses the integer-quantized Lloyd's
    (``functions/kmeans.py``; requires ``id_col``): centroids are then
    returned in the *quantized integer* domain and cell-probing must use
    :func:`rank_cells_quantized` — reproducible across engines.

    Centroid TRAINING is sample-bounded (``train_sample`` /
    ``max_train_rows``, see :func:`_resolve_train_filter`): Lloyd's
    iterations aggregate over a pinned hash sample instead of the full
    corpus — at 100 TB the iters×full-scan training cost would dominate
    the build, while cell assignment (which must see every row) stays a
    single map-only pass either way.
    """
    n_known = None
    if n_cells == "auto":
        import math

        n_known = df.select(F.lit(1)).count()
        n_cells = min(65536, max(4, math.ceil(math.sqrt(n_known))))
    if method == "deterministic":
        from lotus_spark.functions.kmeans import deterministic_kmeans

        if id_col is None:
            raise ValueError("method='deterministic' requires id_col")
        out, cent = deterministic_kmeans(
            df, emb_col, id_col, n_cells, iters=3, seed=seed,
            cluster_col=cell_col,
            train_filter=_resolve_train_filter(
                df, id_col, seed, train_sample, max_train_rows,
                n_rows=n_known),
        )
        return out, [list(map(int, c)) for c in cent]
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    vecs = df.withColumn("__ivf_vec", array_to_vector(F.col(emb_col).cast("array<double>")))
    train_vecs = vecs
    if id_col is not None:
        # mllib tier trains sample-bounded too (same predicate family);
        # without an id there is no deterministic sample — train on all
        tf = _resolve_train_filter(df, id_col, seed, train_sample,
                                   max_train_rows, n_rows=n_known)
        if tf is not None:
            train_vecs = vecs.filter(tf)
    elif train_sample is not None:
        raise ValueError("train_sample requires id_col")
    km = KMeans(k=n_cells, seed=seed, featuresCol="__ivf_vec",
                predictionCol=cell_col)
    model = km.fit(train_vecs)
    out = model.transform(vecs).drop("__ivf_vec")
    centroids = [c.tolist() for c in model.clusterCenters()]
    return out, centroids


def rank_cells_quantized(
    centroids: list[list[int]], query_vec: list[float], n_probe: int
) -> list[int]:
    """Probe-cell choice for deterministic-IVF: integer L2 distance of the
    quantized query to each integer centroid, ties to the smaller cell id —
    exactly reproducible in SQL."""
    from lotus_spark.functions.kmeans import quantize_vector

    qq = quantize_vector(query_vec)
    dists = [
        (sum((x - c) * (x - c) for x, c in zip(qq, cent)), i)
        for i, cent in enumerate(centroids)
    ]
    return [i for _, i in sorted(dists)[: max(1, n_probe)]]


def knn_topk_ivf(
    indexed_df: DataFrame,
    centroids: list[list[float]],
    emb_col: str,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str | None = None,
    score_col: str = "score",
    cell_col: str = "__ivf_cell",
    probe_method: str = "cosine",
) -> DataFrame:
    """ANN over an IVF-indexed table: probe the ``n_probe`` cells whose
    centroids are nearest the query (driver-side — centroids are tiny),
    exact cosine rerank inside. Cell filter is a plain predicate → partition
    pruning when the table is stored partitioned by ``cell_col``.

    ``probe_method="cosine"`` for float (MLlib) centroids;
    ``"quantized"`` for deterministic-tier integer centroids."""
    import math

    if probe_method not in ("cosine", "quantized"):
        # a typo silently ranking integer centroids with float cosine
        # would probe the wrong cells — degraded recall with no signal
        raise ValueError(
            f"probe_method must be 'cosine' or 'quantized', "
            f"got {probe_method!r}")
    if probe_method == "quantized":
        probe = rank_cells_quantized(centroids, query_vec, n_probe)
    else:
        def cos(a, b):
            d = sum(x * y for x, y in zip(a, b))
            na = math.sqrt(sum(x * x for x in a)) or 1.0
            nb = math.sqrt(sum(y * y for y in b)) or 1.0
            return d / (na * nb)

        ranked = sorted(range(len(centroids)),
                        key=lambda c: -cos(query_vec, centroids[c]))
        probe = ranked[:max(1, n_probe)]
    pruned = indexed_df.filter(F.col(cell_col).isin(probe))
    return knn_topk(pruned, emb_col, query_vec, k, id_col, score_col)


def pq_index(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    m: int = 8,
    nbits: int = 4,
    seed: int = 42,
    code_col: str = "pq_codes",
    train_sample: tuple[int, int] | None = None,
    max_train_rows: int | None = 1_000_000,
    n_rows: int | None = None,
) -> tuple[DataFrame, list[list[list[int]]]]:
    """Product-quantization encoder (FAISS PQ / Jégou et al. 2011): split
    each d-dim vector into ``m`` subvectors and vector-quantize every
    subspace against its own ``2**nbits``-centroid codebook → each
    vector compresses to ``m`` small code ids. THE memory-scale path for
    ANN over billions of embeddings: a 64-dim float vector (256 B)
    becomes m=8 4-bit codes (4 B), so the scan relation fits in a
    fraction of the storage/shuffle the raw vectors need; IVF handles
    which rows to scan, PQ handles how cheaply each row is scored.

    Codebooks train with the integer-quantized deterministic Lloyd's
    (``functions/kmeans.py``, seed offset per subspace) — reproducible
    across engines, so the ENTIRE train → encode → ADC-scan pipeline is
    DuckDB-oracle-checkable. Returns (df + ``code_col`` array<int>,
    codebooks[m][2**nbits][d/m] in the quantized-integer domain).

    Scale: training runs ONE grouped Lloyd's loop over the (subspace,
    subvector) explosion of a SAMPLE-BOUNDED input (``train_sample`` /
    ``max_train_rows``, see :func:`_resolve_train_filter` and
    ``kmeans.pq_train_codebooks``) — the sample is scanned ``iters + 1``
    times total, NOT ``m × (iters + 1)`` as independent per-subspace
    runs would (value-identical to those; parity-pinned in tests).
    Codebooks need a representative sample, not the corpus (FAISS
    trains PQ codebooks on a bounded sample for the same reason). The
    driver holds m * 2**nbits * d/m ints; encoding is map-only (the
    per-subspace assignment UDF over every row); nothing shuffles but
    the grouped KMeans update aggregates over the sample.
    """
    from lotus_spark.functions.kmeans import pq_train_codebooks

    # (n, d) probes that never scan the embedding column (r14, 2nd
    # cut): n prunes to the narrowest input columns (a metadata-cheap
    # scan), d reads ONE non-null row. The former fused aggregate
    # computed min(size(emb)) over every row — a full pass of the
    # heaviest column just to learn its dimension, which at corpus
    # scale costs more than the training it feeds.
    n_total = df.count() if n_rows is None else n_rows
    if not n_total:
        raise ValueError("empty input")
    drow = (df.select(F.size(emb_col).alias("__d"))
            .filter(F.col("__d").isNotNull()).first())
    if drow is None:
        raise ValueError("empty input")  # no non-NULL embeddings to train
    d = drow["__d"]
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by m={m}")
    sub = d // m
    k = 2 ** nbits
    train_filter = _resolve_train_filter(
        df, id_col, seed, train_sample, max_train_rows, n_rows=n_total)
    cents = pq_train_codebooks(
        df, emb_col, id_col, m, sub, k, iters=3, seed=seed,
        train_filter=train_filter,
    )
    codebooks = [[[int(x) for x in c] for c in cents[s]] for s in range(m)]
    return _pq_encode_with(df, emb_col, cents, sub, code_col), codebooks


def _pq_encode_with(
    df: DataFrame, emb_col: str, cents, sub: int, code_col: str
) -> DataFrame:
    """The encode half of :func:`pq_index`: ONE lazy map-only pass —
    quantize once, assign EVERY subspace in one fused pandas UDF
    (``kmeans.pq_codes_expr``; r14 replaced the m per-subspace
    ``quantized_assign_expr`` columns — one Arrow crossing instead of
    m). Factored out so a caller that trained codebooks on one frame
    can encode another (``ann_join_ivfpq`` trains the two quantizers
    concurrently and encodes the cell-assigned frame after both
    finish)."""
    from lotus_spark.functions.kmeans import (
        pq_codes_expr,
        quantize_embedding,
    )

    return df.withColumn(
        code_col,
        pq_codes_expr(np.asarray(cents, dtype=np.int64))(
            quantize_embedding(F.col(emb_col))),
    )


def _sql_long_array(xs) -> str:
    """SQL text of a literal ``array<bigint>`` — the parse-once
    building block of :func:`_lit_long_array` and the batched-serving
    SQL assembly (r14 2nd cut)."""
    return "array(" + ",".join(f"{int(x)}L" for x in xs) + ")"


def _sql_double_array(xs) -> str:
    """SQL text of a literal ``array<double>``. ``repr(float)`` is the
    shortest round-trip decimal form, and Spark parses double literals
    with Java's ``parseDouble`` — bit-exact for every finite value."""
    return ("array(" + ",".join(f"CAST({float(x)!r} AS DOUBLE)" for x in xs)
            + ")")


def _sql_str(x) -> str:
    """SQL text of a string literal (single-quoted, escaped)."""
    return "'" + str(x).replace("\\", "\\\\").replace("'", "\\'") + "'"


def _sql_in(col: str, values, lit=str) -> str:
    """SQL text of ``col IN (v, ...)`` with each value rendered by
    ``lit``: ONE ``F.expr`` parse where ``F.col(col).isin(values)``
    pays a py4j round trip per literal (the r14 parse-once idiom). It
    parses to the same ``In`` over the same literals, so partition
    pruning and the pushed scan filter are unchanged (PartitionFilters
    pins in tests/test_plan_shapes.py and tests/test_bm25_store.py)."""
    return f"`{col}` IN ({', '.join(lit(v) for v in values)})"


def _lit_long_array(xs) -> Column:
    """A literal ``array<bigint>`` built with ONE py4j round trip
    (r14): ``F.array(*[F.lit(x) for x in xs])`` costs 2+ gateway calls
    per element, and the ADC lookup tables build m × 2**nbits of them
    per query — measured seconds of driver-side PLAN time per batched
    serving call. ``F.expr`` parses the whole literal list in one call;
    the resulting Literal values are identical."""
    return F.expr(_sql_long_array(xs))


def _lit_double_array(xs) -> Column:
    """Literal ``array<double>`` twin of :func:`_lit_long_array`."""
    return F.expr(_sql_double_array(xs))


def _adc_dist_sql(
    codebooks: list[list[list[int]]], qq: list[int], code_col: str
) -> str:
    """SQL text of the ADC score for ONE quantized query: per subspace,
    the L2 distance to every codebook centroid is precomputed
    driver-side and baked in as a literal lookup array; the row score is
    ``m`` array lookups + adds. Emitted as TEXT so a whole serving
    batch parses in one py4j round trip (r14 2nd cut: the per-Column
    assembly spent ~0.6s/query in gateway chatter — profiled, ~650
    socket round trips per query); :func:`_adc_dist_expr` wraps it for
    single-expression callers, so the arithmetic (and the SQL oracles
    replaying it) still has exactly one source."""
    m = len(codebooks)
    sub = len(codebooks[0][0])
    parts = []
    for s in range(m):
        qsub = qq[s * sub:(s + 1) * sub]
        table = [
            sum((a - b) * (a - b) for a, b in zip(qsub, cent))
            for cent in codebooks[s]
        ]
        parts.append(
            f"element_at({_sql_long_array(table)}, `{code_col}`[{s}] + 1)")
    return "(" + " + ".join(parts) + ")"


def _adc_dist_expr(
    codebooks: list[list[list[int]]], qq: list[int], code_col: str
) -> Column:
    """:func:`_adc_dist_sql` as a Column — ONE parse per query."""
    return F.expr(_adc_dist_sql(codebooks, qq, code_col))


def knn_topk_pq(
    encoded_df: DataFrame,
    codebooks: list[list[list[int]]],
    query_vec: list[float],
    k: int = 10,
    id_col: str = "vec_id",
    code_col: str = "pq_codes",
    rerank_k: int | None = None,
    emb_col: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: the query stays
    full-precision; per subspace the L2 distance to every codebook
    centroid is precomputed DRIVER-SIDE (m * 2**nbits ints) and baked
    into the plan as literal lookup tables, so the scan scores each row
    with ``m`` array lookups + adds — no vector math per row, no UDF,
    whole-stage codegen, and a TakeOrderedAndProject top-k (ties to the
    smaller id). Returns (id_col, pq_dist) with the approximate integer
    squared distance.

    ``rerank_k`` composes the standard IVF-PQ final step (the reference
    analog is ``sem_search``'s rerank stage,
    ``lotus/sem_ops/sem_search.py:148-155``; FAISS: refine/RFlat): take
    the ADC top ``rerank_k`` (≥ k) as a shortlist, join those ids back
    to ``emb_col`` for FOLD-EXACT cosine, and return the exact-ordered
    top ``k`` as (id_col, score_col). The shortlist is tiny by
    construction, so the join broadcasts: one more codegen scan over the
    (already cell-pruned, under IVF) relation + an exact rerank of
    ``rerank_k`` rows — final-order exactness at ~zero extra cost.
    """
    from lotus_spark.functions.kmeans import quantize_vector

    if encoded_df is None:
        raise ValueError("encoded_df is None")
    m = len(codebooks)
    if m == 0:
        raise ValueError("empty codebooks")
    sub = len(codebooks[0][0])
    qq = quantize_vector(query_vec)
    if len(qq) != m * sub:
        raise ValueError(
            f"query dim {len(qq)} != m*sub = {m * sub}")
    total = _adc_dist_expr(codebooks, qq, code_col)
    if rerank_k is not None and rerank_k < k:
        raise ValueError(f"rerank_k={rerank_k} must be >= k={k}")
    adc = (
        encoded_df.withColumn("pq_dist", total)
        .orderBy(F.asc("pq_dist"), F.asc(id_col))
        .limit(rerank_k if rerank_k is not None else k)
    )
    if rerank_k is None:
        return adc.select(id_col, "pq_dist")
    shortlist = adc.select(id_col)
    exact = (
        encoded_df.select(id_col, emb_col)
        .join(F.broadcast(shortlist), id_col)
        .withColumn(score_col, query_cosine(F.col(emb_col), query_vec))
    )
    return (
        exact.orderBy(F.desc(score_col), F.asc(id_col))
        .limit(k)
        .select(id_col, score_col)
    )


def write_ivfpq_index(
    indexed_df: DataFrame,
    path: str,
    centroids: list[list[int]],
    codebooks: list[list[list[int]]],
    cell_col: str = "__ivf_cell",
    mode: str = "error",
    code_col: str = "pq_codes",
) -> None:
    """Persist an IVF-PQ index as an engine-portable parquet layout
    (the ANN analog of ``sem_index``'s parquet persistence): the
    encoded table written ``partitionBy(cell_col)`` — so any later
    probe's cell predicate becomes parquet PARTITION PRUNING (the
    FAISS inverted-list lookup, done by the storage layer; pinned by
    ``tests/test_plan_shapes.py::test_ivf_partitioned_table_prunes_
    cells_at_scan``) — plus a tiny ``_ivfpq_meta.json`` sidecar with
    the integer centroids/codebooks (driver-scale: k·d + m·2^nbits·d/m
    ints). Written through the Hadoop FileSystem API, so hdfs:///s3a://
    paths work like local ones.

    At 100 TB this is the index build's ONLY full-data write; queries
    after it read n_probe directories of PQ codes, never the corpus.
    """
    indexed_df.write.partitionBy(cell_col).mode(mode).parquet(path)
    meta = {
        "cell_col": cell_col,
        "code_col": code_col,
        "centroids": [[int(x) for x in c] for c in centroids],
        "codebooks": [
            [[int(x) for x in cent] for cent in book] for book in codebooks
        ],
        # the layout's exact read schema (captured by inference ONCE
        # here) so every probe can skip the per-query footer-inference
        # job (guide §7.3 fixed driver latency). Appends/compaction/CDC
        # preserve the schema and carry or copy the sidecar; pre-r14
        # sidecars lack the field and readers fall back to inference.
        "table_schema":
            indexed_df.sparkSession.read.parquet(path).schema.json(),
    }
    _fs_write_json(indexed_df.sparkSession, f"{path}/_ivfpq_meta.json", meta)


def read_ivfpq_index(
    spark, path: str
) -> tuple[DataFrame, list[list[int]], list[list[list[int]]], str]:
    """Load an index written by :func:`write_ivfpq_index`: returns
    (encoded df incl. the partition cell column, centroids, codebooks,
    cell_col). The scan stays partition-prunable — compose directly
    with :func:`knn_topk_ivfpq`."""
    df, meta = _read_ivfpq_index_with_meta(spark, path)
    return df, meta["centroids"], meta["codebooks"], meta["cell_col"]


def _read_ivfpq_index_with_meta(spark, path: str) -> tuple[DataFrame, dict]:
    """:func:`read_ivfpq_index`'s core, returning the RAW meta dict
    alongside the frame: the serving paths also need ``code_col``, and
    re-reading the sidecar (centroids + codebooks ride in it) costs
    ~50ms of py4j byte transfer per query. The scan schema is PINNED
    from the sidecar when recorded (``write_ivfpq_index``) so the read
    skips the footer-inference job; partition discovery (cell pruning)
    is unchanged, and pre-r14 sidecars fall back to inference."""
    meta = _fs_read_json(spark, f"{path}/_ivfpq_meta.json")
    if meta is None:
        raise FileNotFoundError(f"{path}/_ivfpq_meta.json")
    sch = meta.get("table_schema")
    reader = spark.read
    if sch:
        import json as _json

        from pyspark.sql.types import StructType

        reader = reader.schema(StructType.fromJson(_json.loads(sch)))
    return reader.parquet(path), meta


def encode_ivfpq(
    df: DataFrame,
    emb_col: str,
    centroids: list[list[int]],
    codebooks: list[list[list[int]]],
    cell_col: str = "__ivf_cell",
    code_col: str = "pq_codes",
) -> DataFrame:
    """Map-only IVF-PQ encode of rows against EXISTING quantizers: assign
    each row's coarse cell (nearest integer centroid) and its per-subspace
    PQ codes with the same deterministic arithmetic the build used
    (``kmeans.quantized_assign_expr``) — no training, no shuffle, one
    codegen+Arrow pass. This is the half of the index build that must see
    every row, factored out so increments can reuse trained codebooks
    (:func:`append_ivfpq_index`).

    NULL embeddings encode as NULL cell/codes (they are not indexable);
    callers decide whether to drop or surface them.
    """
    from lotus_spark.functions.kmeans import (
        pq_codes_expr,
        quantize_embedding,
        quantized_assign_expr,
    )

    m = len(codebooks)
    if m == 0:
        raise ValueError("empty codebooks")
    sub = len(codebooks[0][0])
    cents = np.asarray(centroids, dtype=np.int64)
    if cents.shape[1] != m * sub:
        raise ValueError(
            f"centroid dim {cents.shape[1]} != m*sub = {m * sub}")
    out = df.withColumn("__xq", quantize_embedding(F.col(emb_col)))
    out = out.withColumn(cell_col, quantized_assign_expr(cents)(F.col("__xq")))
    out = out.withColumn(
        code_col,
        pq_codes_expr(np.asarray(codebooks, dtype=np.int64))(F.col("__xq")))
    return out.drop("__xq")


def append_ivfpq_index(
    spark, path: str, new_df: DataFrame, emb_col: str = "embedding"
) -> None:
    """Incremental index maintenance: encode ``new_df`` with the index's
    EXISTING quantizers (coarse centroids + PQ codebooks from the
    ``_ivfpq_meta.json`` sidecar) and append the encoded rows to the
    partitioned parquet layout — no retraining, no touch of the already-
    indexed data. This is how a 100 TB index absorbs increments: codebooks
    train once on a representative sample and stay valid (FAISS `add`
    after `train` works the same way); each increment costs ONE map-only
    encode pass over the new rows plus a partitioned append, and every
    subsequent probe prunes to n_probe cell directories across old + new
    rows alike. Encoding with pinned codebooks is deterministic, so the
    grown index is bit-identical to a from-scratch encode of the union
    with the same codebooks (parity-pinned in tests; oracle row
    ``ivfpq_incremental`` replays train-on-initial-half → encode-all in
    SQL).

    ``new_df`` must carry every non-derived column of the stored index
    (the id/embedding/payload columns); rows with NULL ``emb_col`` are
    rejected loudly — they can never match a probe, so appending them
    would only corrupt the layout with a null-partition directory.
    """
    stored, centroids, codebooks, cell_col = read_ivfpq_index(spark, path)
    meta = _fs_read_json(spark, f"{path}/_ivfpq_meta.json") or {}
    # the meta sidecar RECORDS which column holds the codes (since r8);
    # older sidecars without it fall back to the single-missing-column
    # inference. Never guess when the meta is explicit: inferring from a
    # column-set difference can silently write code arrays into a missing
    # PAYLOAD column if the increment happens to carry a code column.
    code_col = meta.get("code_col")
    if code_col is None:
        derived = [
            c for c in stored.columns
            if c not in new_df.columns and c != cell_col
        ]
        if len(derived) > 1:
            raise ValueError(
                f"append_ivfpq_index: new_df lacks index columns "
                f"{derived} — only the derived code column may be absent")
        code_col = derived[0] if derived else "pq_codes"
    missing = [
        c for c in stored.columns
        if c not in new_df.columns and c not in (cell_col, code_col)
    ]
    if missing:
        raise ValueError(
            f"append_ivfpq_index: new_df lacks index payload columns "
            f"{missing}")
    n_null = new_df.filter(F.col(emb_col).isNull()).count()
    if n_null:
        raise ValueError(
            f"append_ivfpq_index: {n_null} rows have NULL {emb_col!r} — "
            "drop them before appending (NULL embeddings are not indexable)")
    enc = encode_ivfpq(
        new_df, emb_col, centroids, codebooks,
        cell_col=cell_col, code_col=code_col,
    ).select(*stored.columns)
    enc.write.partitionBy(cell_col).mode("append").parquet(path)


def compact_ivfpq_index(spark, path: str) -> None:
    """Small-files maintenance for a persisted IVF-PQ index: every
    append (batch ``append_ivfpq_index`` or a micro-batch of
    ``streaming/index_sink.py``) adds new files under each touched cell
    directory, and a long-lived index degrades into thousands of tiny
    parquet files per cell — the classic streaming-sink pathology (scan
    cost becomes file-open bound, not byte bound). This rewrites the
    index so each cell holds ONE file: hash-repartition by the cell id
    (each cell lands in exactly one task) and re-write the partitioned
    layout to a sibling directory, then commit it with the sidecars
    (``_ivfpq_meta.json`` + ``_stream_batches.json`` if present) carried
    over. Single-writer; crash window: ``index_commit``'s docstring.

    Refuses to run while a crashed stream's epoch is unacknowledged
    (``index_commit._assert_no_unacked_stream_epochs``): restart the
    stream, let it replay and drain (``available_now=True``
    suffices), then compact.
    """
    from lotus_spark.functions.index_commit import (
        STAGED_COMPACT,
        _assert_no_unacked_stream_epochs,
        commit_rewrite,
        sibling,
    )

    stored, centroids, codebooks, cell_col = read_ivfpq_index(spark, path)
    _assert_no_unacked_stream_epochs(spark, path, "compact_ivfpq_index")

    n_before = stored.count()
    tmp = sibling(path, STAGED_COMPACT)
    (
        stored.repartition(F.col(cell_col))
        .write.partitionBy(cell_col).parquet(tmp)
    )
    commit_rewrite(spark, path, tmp, "compact_ivfpq_index",
                   expect={"": n_before},
                   carry=("_ivfpq_meta.json", "_stream_batches.json"))


def auto_rerank_k(k: int, join: bool = False) -> int:
    """The ONE definition of the ``rerank_k="auto"`` ADC-shortlist size,
    shared by every IVF-PQ tier (single-query, batch serving, K-NN join)
    so a recall-tuning round moves all tiers together (r9 carried three
    drifting copies of the literal).

    Single-query/batch tiers: ``max(8k, 80)`` — the measured knee of the
    recall-vs-budget curve on the testdata embeddings
    (``BENCH_annrecall.json``: 4k left 0.43@10 where 8k reaches ~0.72).

    Join tier (``join=True``): ``max(32K, 320)`` — the join reranks per
    LEFT ROW, and the r10 sweep (``BENCH_joinrecall.json``) shows the
    join wall is ADC-dominated and FLAT in the budget (17.1s at 80 vs
    16.7s at 320 at n_probe=8) while recall climbs 0.574 → 0.78 (ceiling
    0.826 = the IVF probe recall at those knobs); 32K buys ~95% of the
    recoverable recall without the 64K budget's 2x shortlist-shuffle
    volume (0.821 at 640 — raise ``rerank_k`` yourself for the last few
    points). Cost stays k-proportional per left row, never
    corpus-proportional.
    """
    return max(32 * k, 320) if join else max(8 * k, 80)


def knn_topk_ivfpq(
    indexed_df: DataFrame,
    centroids: list[list[int]],
    codebooks: list[list[list[int]]],
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    cell_col: str = "__ivf_cell",
    code_col: str = "pq_codes",
    rerank_k: int | None | str = "auto",
    emb_col: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """The full FAISS-IVFPQ query shape, composed from the two verified
    halves: IVF decides WHICH rows to look at (``n_probe`` nearest cells
    by quantized centroid distance — a plain predicate, so a table
    written ``partitionBy(cell_col)`` prunes partitions at the scan),
    and PQ decides how cheaply each row is scored (ADC literal-lookup
    sum over the codes — no vector read at all in the hot path). This is
    the standard billion-vector architecture: scan work shrinks ~k/cells
    from IVF, bytes-per-row shrinks ~64x from PQ, and the plan is a
    pruned scan + codegen map + TakeOrderedAndProject. Deterministic
    (both quantizers are the integer Lloyd's), so the whole composition
    is SQL-oracle-checkable. ``rerank_k`` appends the standard exact
    final step: ADC shortlists ``rerank_k`` ids, then a broadcast join
    back to ``emb_col`` within the probed cells orders the top ``k`` by
    fold-exact cosine (see ``knn_topk_pq``).

    ``indexed_df`` must carry BOTH columns: build with
    ``ivf_index(method="deterministic")`` then ``pq_index``.

    **Recall contract**: raw ADC ordering at low m/nbits can rank badly
    on weakly-structured vectors (measured recall@20 of 0.25 on uniform
    synthetic data, ``BENCH_pqtrain.json``), so the exact rerank is ON
    by default — ``rerank_k="auto"`` shortlists ``max(8*k, 80)`` ADC
    candidates before the exact top-k (raised from ``max(4*k, 40)`` in
    r9: at m=8/nbits=4 the ADC ordering is coarse enough that the 4k
    shortlist left recall at ~0.43@10 on structured vectors where the
    8k budget reaches ~0.7 — see ``BENCH_annrecall.json``; the rerank
    itself stays a broadcast join over the probed cells, so the extra
    cost is k-proportional, not corpus-proportional). Pass ``rerank_k=None``
    to explicitly opt out and get the raw ADC ordering (returns
    ``pq_dist`` instead of ``score_col``), or an int to size the
    shortlist yourself.

    **Sizing m / nbits** (per-subspace codebooks = ``2**nbits`` entries,
    code payload = ``m * nbits / 8`` bytes/row): the defaults used by
    the oracle rows — m=8, nbits=4 on 64-dim vectors — are the
    AGGRESSIVE end (8-dim subspaces, 16 centroids each, 4 bytes/row,
    128x compression); they keep the oracle SQL tractable but cost ADC
    ordering quality on weakly-clustered data. Measured@k=10, n_probe=8
    (``BENCH_annrecall.json``): near-uniform testdata embeddings —
    adc 0.22 / auto-rerank 0.40; the same knobs on a 16-cluster
    mixture of Gaussians recover far higher recall (see the
    ``clustered_mog`` row) because ADC ordering is informative when the
    corpus HAS structure. Guidance:

    ======================  =========================================
    regime                  sizing
    ======================  =========================================
    default (FAISS-like)    m = dim/8, nbits = 8 (1 byte/subspace;
                            256-entry codebooks)
    tight memory            m = dim/8, nbits = 4 — halve payload
                            before shrinking m
    weak/unknown structure  raise m (more, smaller subspaces) before
                            raising nbits; keep the auto rerank ON
    recall-critical         rerank_k = 2*auto and/or n_probe up; the
                            rerank_all_probed artifact row bounds what
                            rerank can recover at a given n_probe
    ======================  =========================================
    """
    if isinstance(rerank_k, str):
        if rerank_k != "auto":
            raise ValueError(
                f"rerank_k={rerank_k!r}: the only string sentinel is "
                "'auto' (auto_rerank_k(k)); pass an int to size the ADC "
                "shortlist or None to opt out of the exact rerank"
            )
        rerank_k = auto_rerank_k(k)
    probe = rank_cells_quantized(centroids, query_vec, n_probe)
    pruned = indexed_df.filter(F.expr(_sql_in(cell_col, probe)))
    return knn_topk_pq(
        pruned, codebooks, query_vec, k, id_col=id_col, code_col=code_col,
        rerank_k=rerank_k, emb_col=emb_col, score_col=score_col,
    )


def knn_topk_ivfpq_batch(
    indexed_df: DataFrame,
    centroids: list[list[int]],
    codebooks: list[list[list[int]]],
    queries: dict,
    k: int = 10,
    n_probe: int = 4,
    id_col: str = "vec_id",
    cell_col: str = "__ivf_cell",
    code_col: str = "pq_codes",
    rerank_k: int | None | str = "auto",
    emb_col: str = "embedding",
    score_col: str = "score",
    query_col: str = "query_id",
) -> DataFrame:
    """Batched IVF-PQ serving: answer MANY queries in ONE pass over the
    union of their probed cells, per-query identical to
    :func:`knn_topk_ivfpq` (parity-pinned). ``queries`` maps a query id
    (stringified into ``query_col``) to its vector; returns
    (query_col, id_col, score_col) — or ``pq_dist`` under
    ``rerank_k=None`` — with ``k`` rows per query.

    Why batch: a query's marginal cost at scale is dominated by the
    scan of its probed cells, and concurrent queries' probe sets
    overlap heavily (popular cells). One scan of the UNION serves the
    whole batch: each scanned row computes, in the same codegen stage,
    the literal ADC lookup of only the queries that probe its cell (a
    ``CASE`` per query — the other queries' entries are NULL and
    dropped), so I/O is paid once — the standard ANN serving shape
    (FAISS also batches query matrices for exactly this reason). The
    job count does not grow with Q: the ADC ranking is one exchange
    keyed by the query id, and the rerank adds the shortlist broadcast
    and one more query-keyed exchange — four jobs per batch with the
    caller's action (two under ``rerank_k=None``), since AQE runs each
    exchange and each broadcast as its own job. The output is
    hash-partitioned by ``query_col``, which ``bm25.rrf_fuse_batch``
    fuses on without a further exchange.

    Shape caveat: the per-query top-k uses a window keyed on the query
    id (Q-way parallel, one task per query). For a LARGE single query
    over a huge probed set, the single-query :func:`knn_topk_ivfpq`'s
    TakeOrdered plan is the better shape; this API optimizes the
    many-small-queries serving batch.
    """
    from pyspark.sql import Window

    from lotus_spark.functions.kmeans import quantize_vector

    if not queries:
        raise ValueError("queries must be non-empty")
    # query ids land in query_col STRINGIFIED; distinct dict keys that
    # stringify equal (1 and "1") would silently merge candidate pools
    # under rerank_k=None and fail with an opaque DUPLICATE_MAP_KEY
    # under rerank — reject the collision up front instead.
    if len({str(qid) for qid in queries}) != len(queries):
        raise ValueError(
            "knn_topk_ivfpq_batch: query ids collide after str() — "
            f"{sorted(str(q) for q in queries)}; use distinct string ids")
    if isinstance(rerank_k, str):
        if rerank_k != "auto":
            raise ValueError(
                f"rerank_k={rerank_k!r}: the only string sentinel is "
                "'auto'")
        rerank_k = auto_rerank_k(k)
    if rerank_k is not None and rerank_k < k:
        raise ValueError(f"rerank_k={rerank_k} must be >= k={k}")
    m = len(codebooks)
    if m == 0:
        raise ValueError("empty codebooks")
    sub = len(codebooks[0][0])

    # The whole batch's per-query entries (ADC lookup tables, probed-
    # cell guards) and the query-vector map assemble as SQL TEXT and
    # parse in ONE py4j round trip each (r14 2nd cut): the per-Column
    # assembly paid ~650 gateway round trips PER QUERY (profiled at
    # ~1.2 ms each — seconds of driver latency per batch before any job
    # ran). The parsed Literal/In/element_at trees are identical.
    probes, entry_sqls, qvec_sqls = {}, [], []
    for qid, vec in queries.items():
        qq = quantize_vector(vec)
        if len(qq) != m * sub:
            raise ValueError(
                f"query {qid!r} dim {len(qq)} != m*sub = {m * sub}")
        probes[qid] = rank_cells_quantized(centroids, vec, n_probe)
        # a query's ADC sum is computed only on rows of ITS probed
        # cells: the CASE short-circuits, and on the other cells it
        # yields a NULL entry, dropped right after the explode
        entry_sqls.append(
            f"CASE WHEN {_sql_in(cell_col, probes[qid])} THEN "
            f"named_struct({_sql_str(query_col)}, {_sql_str(qid)}, "
            f"'pq_dist', {_adc_dist_sql(codebooks, qq, code_col)}) END")
        qvec_sqls += [_sql_str(qid), _sql_double_array(vec)]

    all_cells = sorted({c for p in probes.values() for c in p})
    pruned = indexed_df.filter(F.expr(_sql_in(cell_col, all_cells)))
    cand = (
        pruned.select(
            id_col,
            F.explode(F.expr("array(" + ",".join(entry_sqls) + ")"))
            .alias("__e"))
        .filter(F.col("__e").isNotNull()).select(id_col, "__e.*")
    )
    w = Window.partitionBy(query_col).orderBy(
        F.asc("pq_dist"), F.asc(id_col))
    ranked = cand.withColumn("__rk", F.row_number().over(w))
    if rerank_k is None:
        return (ranked.filter(F.col("__rk") <= k)
                .select(query_col, id_col, "pq_dist"))
    shortlist = ranked.filter(F.col("__rk") <= rerank_k) \
                      .select(query_col, id_col)
    from lotus_spark.functions.vectors import pair_cosine

    qv = F.element_at(
        F.expr("map(" + ",".join(qvec_sqls) + ")"), F.col(query_col))
    # rerank over the probed-cells union (`pruned`), NOT the full index:
    # every shortlist id comes from `pruned`, so the output is identical,
    # and the rerank scan inherits the same cell partition-pruning the
    # ADC pass already paid for — otherwise the default batch path would
    # re-scan the ENTIRE index once per batch, erasing the amortization
    # this API exists for.
    exact = (
        pruned.select(id_col, emb_col)
        .join(F.broadcast(shortlist), id_col)
        .withColumn(score_col, pair_cosine(F.col(emb_col), qv))
    )
    w2 = Window.partitionBy(query_col).orderBy(
        F.desc(score_col), F.asc(id_col))
    return (
        exact.withColumn("__rk", F.row_number().over(w2))
        .filter(F.col("__rk") <= k)
        .select(query_col, id_col, score_col)
    )


def probe_cells_expr(centroids, n_probe: int):
    """Column factory: the ``n_probe`` nearest IVF cells per embedding
    row — integer quantized L2 to each integer centroid, ties to the
    smaller cell id: the per-row vectorization of
    :func:`rank_cells_quantized`, value-identical (and SQL-replayable,
    which is why it quantizes rather than using float distance). The
    centroid matrix is tiny (n_cells x d ints) and ships in the UDF
    closure — map-only, no join, no shuffle."""
    from lotus_spark.functions.kmeans import QUANT, SHIFT

    C = np.asarray(centroids, dtype=np.int64).copy()
    npq = max(1, min(int(n_probe), len(C)))

    @F.pandas_udf("array<int>")
    def _probe(emb_s: pd.Series) -> pd.Series:
        # NULL embeddings probe no cells (None → explode drops the row),
        # matching the exact tiers' NULL-tolerant semantics instead of
        # crashing the batch in np.stack
        valid = emb_s.notna().to_numpy()
        out = [None] * len(emb_s)
        if valid.any():
            X = np.stack(emb_s[valid].to_numpy()).astype(np.float64)
            XQ = np.floor((X + SHIFT) * float(QUANT)).astype(np.int64)
            d = ((XQ[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            # stable argsort on equal distances keeps ascending cell
            # order — the (dist, cell_id) tie rule of
            # rank_cells_quantized
            order = np.argsort(d, axis=1, kind="stable")[:, :npq]
            for i, row in zip(np.nonzero(valid)[0], order):
                out[i] = row.astype("int32").tolist()
        return pd.Series(out, dtype=object)

    return _probe


def ann_join_ivf(
    left: DataFrame,
    right: DataFrame,
    left_id_col: str,
    left_emb_col: str,
    right_id_col: str,
    right_emb_col: str,
    K: int,
    n_cells: int | str = 64,
    n_probe: int = 8,
    seed: int = 42,
    train_sample: tuple[int, int] | None = None,
    max_train_rows: int | None = 1_000_000,
    id_out: str = "match_id",
    score_out: str = "_scores",
    tie_col: str | None = None,
    prebuilt: tuple[DataFrame, list[list[int]]] | None = None,
    cell_col: str = "__ivf_cell",
) -> DataFrame:
    """K-NN join where NEITHER side broadcasts — the tier above
    ``ann_join_pq`` in the ladder: broadcast_exact (raw fits) →
    broadcast_pq (codes fit) → **ivf_cells** (nothing fits; this) →
    crossjoin (exact fallback). The standard cell-partitioned
    distributed ANN join:

    1. IVF-index the right side (deterministic integer Lloyd's,
       sample-bounded training — ``ivf_index``); every right row gets a
       cell id in one map-only pass.
    2. Each left row picks its ``n_probe`` nearest cells against the
       BROADCAST centroid matrix (n_cells x d ints — always tiny), then
       explodes to (cell, left row): map-only, ``n_probe``x the left
       rows, never |L|x|R|.
    3. ONE equi-join on the cell id co-partitions the sides; exact
       cosine within each (left row, probed cell) group and a
       per-left-id ``row_number`` keeps the top ``K``. Per-pair work is
       bounded by n_probe x mean cell size; with ``n_cells="auto"``
       (~sqrt(n) cells) that is ~n_probe*sqrt(|R|) candidates per left
       row. Hot cells are a plain skewed equi-join — AQE skew-split
       handles them (no window on the cell key; the rank window keys on
       the unique left id).

    ``tie_col`` (a RIGHT-side column) customizes the rank tie order —
    equal rounded scores rank by (tie_col ASC, id ASC) instead of id
    alone; it rides the cell join as one extra narrow column (same
    contract as ``ann_join_pq``).

    Returns left columns + (id_out, score_out, _rank). APPROXIMATE like
    any IVF probe: recall rises with ``n_probe``/``n_cells``; results
    are deterministic (both quantizers integer) and SQL-replayable —
    the ``ann_join_ivf`` oracle row replays the whole composition.
    Reference analog: ``lotus/sem_ops/sem_sim_join.py`` over a
    FAISS-IVF vector store.

    ``prebuilt=(indexed_df, centroids)`` joins against an EXISTING
    cell-assigned right side — e.g. a persisted index reloaded with
    ``read_ivfpq_index`` (pass its ``cell_col``) — skipping training and
    assignment entirely; ``right``/``n_cells``/``seed``/``train_*`` are
    then ignored. The repeat-join shape at 100 TB: the index is built
    (and incrementally grown) once, every join against the static corpus
    is probe + ONE cell equi-join over a table already LAID OUT by the
    join key (partitionBy(cell) storage).
    """
    from pyspark.sql import Window

    from lotus_spark.functions.vectors import pair_cosine

    if prebuilt is not None:
        indexed, cents = prebuilt
        if cell_col != "__ivf_cell":
            indexed = indexed.withColumnRenamed(cell_col, "__ivf_cell")
        missing = [c for c in (right_id_col, right_emb_col, "__ivf_cell")
                   if c not in indexed.columns]
        if missing:
            raise ValueError(
                f"ann_join_ivf(prebuilt=...): indexed df lacks {missing}")
    else:
        indexed, cents = ivf_index(
            right, right_emb_col, n_cells=n_cells, seed=seed,
            method="deterministic", id_col=right_id_col,
            train_sample=train_sample, max_train_rows=max_train_rows,
        )
    # candidate stages carry ONLY (left id, left emb) — r9: the left
    # table's payload columns (document text bodies etc.) must not
    # multiply by n_probe x cell size through the cell join and rank
    # window; they rejoin once at the end, K rows per left row
    lq = left.select(left_id_col, left_emb_col)
    lx = (
        lq.withColumn(
            "__probe",
            probe_cells_expr(cents, n_probe)(
                F.col(left_emb_col).cast("array<double>")),
        )
        .withColumn("__ivf_probe_cell", F.explode("__probe"))
        .drop("__probe")
    )
    right_cols = [
        F.col("__ivf_cell").alias("__ivf_probe_cell"),
        F.col(right_id_col).alias(id_out),
        F.col(right_emb_col).alias("__ivf_r_emb"),
    ]
    if tie_col is not None:
        right_cols.append(F.col(tie_col).alias("__ivf_tie"))
    right_sel = indexed.select(*right_cols)
    pairs = (
        lx.join(right_sel, "__ivf_probe_cell")
        .withColumn(
            score_out,
            F.round(pair_cosine(F.col(left_emb_col),
                                F.col("__ivf_r_emb")), 6),
        )
        .drop("__ivf_r_emb", "__ivf_probe_cell")
    )
    order = [F.desc(score_out)]
    if tie_col is not None:
        order.append(F.asc("__ivf_tie"))
    order.append(F.asc(id_out))
    w = Window.partitionBy(left_id_col).orderBy(*order)
    topk = (
        pairs.withColumn("_rank", F.row_number().over(w))
        .filter(F.col("_rank") <= K)
        .select(left_id_col, id_out, score_out, "_rank")
    )
    return left.join(topk, left_id_col)


def ann_join_ivfpq(
    left: DataFrame,
    right: DataFrame,
    left_id_col: str,
    left_emb_col: str,
    right_id_col: str,
    right_emb_col: str,
    K: int,
    n_cells: int | str = 64,
    n_probe: int = 8,
    m: int = 8,
    nbits: int = 4,
    seed: int = 42,
    pq_seed: int = 101,
    train_sample: tuple[int, int] | None = None,
    max_train_rows: int | None = 1_000_000,
    rerank_k: int | None | str = "auto",
    id_out: str = "match_id",
    score_out: str = "_scores",
    prebuilt: tuple[DataFrame, list[list[int]], list[list[list[int]]]] | None = None,
    cell_col: str = "__ivf_cell",
    code_col: str = "pq_codes",
) -> DataFrame:
    """K-NN join combining BOTH index halves — the top of the join
    ladder for a right side whose raw vectors are too big even to ship
    through a cell equi-join:

    - ``ann_join_ivf`` prunes WHICH right rows each left row meets (ONE
      cell equi-join, nothing broadcast) but ships the full right
      embedding as join payload — d*8 bytes/row through the shuffle.
    - ``ann_join_pq`` shrinks the payload to m codes but broadcasts the
      whole code table to every left task — caps at driver/executor
      memory.
    - **This** does both with neither cap: the cell equi-join carries
      (right id, m-byte codes) — 64x less right payload than
      ``ann_join_ivf`` at d=64/m=8 — and nothing broadcasts but the
      centroid/codebook literals (a few KB). Scoring inside each
      (left row, probed cell) group is asymmetric-distance (ADC): an
      Arrow-batched numpy gather over the codebook array, integer-exact
      (same arithmetic as ``_adc_dist_expr``, vectorized over pairs
      because the query varies per row — a literal LUT only works for
      ONE query). The ADC top ``rerank_k`` per left row then joins back
      to the right embeddings BY ID (narrow relation, ``rerank_k`` rows
      per left row crossing the shuffle) for the fold-exact cosine top
      ``K`` — the standard IVFPQ+refine join, FAISS's shape for
      billion-to-billion joins, expressed as two bounded shuffles.

    Windows key on the UNIQUE ``left_id_col`` (bounded, skew-free); the
    hot-cell join is a plain skewed equi-join AQE can split. The left
    table's payload columns never enter the candidate stages — only
    (id, embedding) rides the cell join and rank window (plan-pinned);
    everything else rejoins once at the end, K rows per left row. Recall
    follows the single-query ladder: raise ``n_probe`` / ``rerank_k``
    (default ``"auto"`` = ``auto_rerank_k(K, join=True)`` =
    ``max(32K, 320)`` — the r10 sweep showed the join wall is
    ADC-dominated and flat in the rerank budget while recall climbs
    0.574→0.78 at n_probe=8, see ``BENCH_joinrecall.json``) for recall,
    exactness at full probe + ``rerank_k >= |cells scanned|``
    (parity-pinned in tests).
    Deterministic end-to-end (integer Lloyd's both quantizers), so the
    whole composition is SQL-oracle-replayable.

    ``prebuilt=(indexed_df, centroids, codebooks)`` joins against an
    EXISTING encoded right side — e.g. ``read_ivfpq_index`` output
    (pass its ``cell_col``) — skipping training/assign/encode: the
    repeat-join shape where the index is built once, grown
    incrementally, and every join is probe + one cell equi-join over a
    table already laid out by the join key.

    Returns left columns + (``id_out``, ``score_out``, ``_rank``) — or
    (``id_out``, ``pq_dist``, ``_rank``) under ``rerank_k=None`` (the
    explicit raw-ADC opt-out).
    """
    from pyspark.sql import Window
    from pyspark.sql.types import LongType, StructField, StructType

    from lotus_spark.functions.kmeans import QUANT, SHIFT
    from lotus_spark.functions.vectors import pair_cosine

    if isinstance(rerank_k, str):
        if rerank_k != "auto":
            raise ValueError(
                f"rerank_k={rerank_k!r}: the only string sentinel is "
                "'auto' (auto_rerank_k(K, join=True)); int to size the "
                "shortlist, None for raw ADC")
        rerank_k = auto_rerank_k(K, join=True)
    if rerank_k is not None and rerank_k < K:
        raise ValueError(f"rerank_k={rerank_k} must be >= K={K}")

    if prebuilt is not None:
        indexed, cents, books = prebuilt
        if cell_col != "__ivf_cell":
            indexed = indexed.withColumnRenamed(cell_col, "__ivf_cell")
        missing = [c for c in (right_id_col, right_emb_col, code_col,
                               "__ivf_cell") if c not in indexed.columns]
        if missing:
            raise ValueError(
                f"ann_join_ivfpq(prebuilt=...): indexed df lacks {missing}")
    else:
        # r14 (guide §2.6, overlap independent jobs): the coarse-quantizer
        # Lloyd's loop and the PQ-codebook Lloyd's loop are independent —
        # both train from (right id, right emb) only; the cell column the
        # old sequential shape threaded through pq_index was never read by
        # training. Run them concurrently so one loop's driver barriers
        # (init + per-iteration collects) back-fill the other's idle
        # executors; the map-only PQ encode of the cell-assigned frame
        # happens after both, exactly as before. Codebooks trained on
        # ``right`` are value-identical to codebooks trained on the
        # cell-assigned frame (same rows, same ids, same sample filter),
        # so every downstream value is unchanged.
        from concurrent.futures import ThreadPoolExecutor

        from pyspark import inheritable_thread_target

        sess = right.sparkSession

        @inheritable_thread_target(sess)
        def _train_ivf():
            return ivf_index(
                right, right_emb_col, n_cells=n_cells, seed=seed,
                method="deterministic", id_col=right_id_col,
                train_sample=train_sample, max_train_rows=max_train_rows,
            )

        @inheritable_thread_target(sess)
        def _train_pq():
            from lotus_spark.functions.kmeans import pq_train_codebooks

            # same narrow (n, d) probes as pq_index (r14, 2nd cut):
            # never scan the embedding column to learn its dimension
            n_total = right.count()
            if not n_total:
                raise ValueError("empty input")
            drow = (right.select(F.size(right_emb_col).alias("__d"))
                    .filter(F.col("__d").isNotNull()).first())
            if drow is None:
                raise ValueError("empty input")
            d = drow["__d"]
            if d % m != 0:
                raise ValueError(f"dim {d} not divisible by m={m}")
            sub = d // m
            tf = _resolve_train_filter(
                right, right_id_col, pq_seed, train_sample,
                max_train_rows, n_rows=n_total)
            pq_cents = pq_train_codebooks(
                right, right_emb_col, right_id_col, m, sub, 2 ** nbits,
                iters=3, seed=pq_seed, train_filter=tf,
            )
            return pq_cents, sub

        with ThreadPoolExecutor(max_workers=2) as pool:
            f_ivf = pool.submit(_train_ivf)
            f_pq = pool.submit(_train_pq)
            coarse, cents = f_ivf.result()
            pq_cents, sub = f_pq.result()
        books = [[[int(x) for x in c] for c in pq_cents[s]]
                 for s in range(m)]
        indexed = _pq_encode_with(
            coarse, right_emb_col, pq_cents, sub, code_col)

    cb = np.asarray(books, dtype=np.int64)        # [m, 2**nbits, sub]
    n_sub, _, sub_d = cb.shape
    d_total = n_sub * sub_d

    # Candidate stages carry ONLY (left id, left emb): the emb must ride
    # per pair (ADC needs it, and at 128 codebook entries a per-query LUT
    # would be BIGGER than the vector), but the left table's payload
    # columns — documents bring whole text bodies — must not multiply by
    # n_probe x cell size through the cell join and rank window. They
    # rejoin once at the end, K (or rerank_k) rows per left row.
    lq = left.select(left_id_col, left_emb_col)
    lx = (
        lq.withColumn(
            "__probe",
            probe_cells_expr(cents, n_probe)(
                F.col(left_emb_col).cast("array<double>")),
        )
        .withColumn("__ivfpq_cell", F.explode("__probe"))
        .drop("__probe")
    )
    right_sel = indexed.select(
        F.col("__ivf_cell").alias("__ivfpq_cell"),
        F.col(right_id_col).alias(id_out),
        F.col(code_col).alias("__pq_codes"),
    )
    # PREBUILT path: keep the cell id on each candidate — the rerank
    # stage joins the right embeddings back on (cell, id) so the scan
    # of the stored index inherits the ADC pass's cell pruning (dynamic
    # partition pruning on a write_ivfpq_index layout) instead of
    # re-scanning the full index per join; one extra int through the
    # rank window. NON-prebuilt path (r15, guide §1.2): there is no
    # partitioned layout to prune, so carrying the cell would only
    # force a SECOND quantize+assign pass over the full right side (the
    # rerank source would have to recompute `indexed`'s cell column) —
    # rerank joins the RAW right table by id alone instead; ids are
    # unique (the join contract), so the matched rows are identical.
    keep_cell = prebuilt is not None
    pairs = lx.join(right_sel, "__ivfpq_cell")

    out_fields = StructType(
        pairs.schema.fields + [StructField("pq_dist", LongType())])

    def adc(it):
        sub_idx = np.arange(n_sub)[None, :]
        for pdf in it:
            if not len(pdf):
                continue
            q = np.stack(pdf[left_emb_col].map(np.asarray).to_list())
            if q.shape[1] != d_total:
                raise ValueError(
                    f"ann_join_ivfpq: left dim {q.shape[1]} != "
                    f"m*sub = {d_total}")
            # same float64 op order as kmeans.quantize_vector, vectorized
            qq = np.floor((q.astype(np.float64) + SHIFT)
                          * float(QUANT)).astype(np.int64)
            codes = np.stack(
                pdf["__pq_codes"].map(np.asarray).to_list()).astype(np.int64)
            gathered = cb[sub_idx, codes]           # [N, m, sub]
            diff = qq.reshape(len(pdf), n_sub, sub_d) - gathered
            pdf = pdf.copy()
            pdf["pq_dist"] = (diff * diff).sum(axis=(1, 2))  # int64-exact
            yield pdf

    cell_cols = ["__ivfpq_cell"] if keep_cell else []
    scored = pairs.mapInPandas(adc, schema=out_fields).select(
        left_id_col, id_out, *cell_cols,
        "pq_dist")   # narrow into the rank window (ids [+ one int cell])
    w = Window.partitionBy(left_id_col).orderBy(
        F.asc("pq_dist"), F.asc(id_out))
    ranked = scored.withColumn("_rank", F.row_number().over(w))
    if rerank_k is None:
        return left.join(
            ranked.filter(F.col("_rank") <= K).drop(*cell_cols),
            left_id_col)
    shortlist = ranked.filter(F.col("_rank") <= rerank_k) \
                      .select(left_id_col, id_out, *cell_cols)
    if keep_cell:
        # rerank source = the probed-cell subset of the stored layout:
        # every shortlist id came from a probed cell, so joining on
        # (cell, id) is exact and lets the indexed-side scan prune to
        # those cells (DPP) — the same pruning the ADC pass already paid.
        remb = indexed.select(
            F.col("__ivf_cell").alias("__ivfpq_cell"),
            F.col(right_id_col).alias(id_out),
            F.col(right_emb_col).alias("__r_emb"),
        )
        rejoined = shortlist.join(
            remb, ["__ivfpq_cell", id_out]).drop("__ivfpq_cell")
    else:
        # no stored layout to prune: fetch embeddings from the RAW right
        # table by id — no recompute of the cell-assign pass (see above)
        remb = right.select(
            F.col(right_id_col).alias(id_out),
            F.col(right_emb_col).alias("__r_emb"),
        )
        rejoined = shortlist.join(remb, id_out)
    exact = (
        rejoined
        .join(lq, left_id_col)
        .withColumn(
            score_out,
            F.round(pair_cosine(F.col(left_emb_col), F.col("__r_emb")), 6),
        )
        .drop("__r_emb")
    )
    w2 = Window.partitionBy(left_id_col).orderBy(
        F.desc(score_out), F.asc(id_out))
    topk = (
        exact.withColumn("_rank", F.row_number().over(w2))
        .filter(F.col("_rank") <= K)
        .select(left_id_col, id_out, score_out, "_rank")
    )
    return left.join(topk, left_id_col)

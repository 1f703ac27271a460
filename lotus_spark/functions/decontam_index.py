"""Persisted eval-set n-gram index: training-data decontamination.

The GPT-3/Dolma decontamination shape (Brown et al. 2020 Appendix C;
the reference's ``contamination`` analysis op is the in-hand twin —
``functions/dedup.py::contamination_overlap``): the EVAL SUITE is fixed
and tiny, the training corpus is 100 TB and arrives in increments, and
the question for every increment is "does any training document contain
an n-gram from the eval suite?" — asked forever, against the same eval
set. Recomputing the eval postings per increment is cheap, but shipping
eval TEXT around pipelines is not (eval sets leak); this module
persists the eval suite's HASHED n-gram postings once and answers
increments from the index alone:

- ``write_ngram_index`` — one pass over the eval set writes two parquet
  tables: ``ngrams`` (one row per DISTINCT (doc, n-gram hash)) and
  ``sizes`` (one row per doc: its distinct n-gram count, the overlap
  denominator). ``ngram_n`` and the id column pin in a
  ``_ngram_meta.json`` sidecar so every later writer/prober uses
  bit-identical expressions (the ``_minhash_meta.json`` contract).
  Only 8-byte hashes are stored — the index never contains eval text.
- ``append_ngram_index`` — add new eval docs with the PINNED n.
- ``contamination_against_index`` — the probe: hash the increment's
  n-grams (map-only), ONE equi-join against ``ngrams`` on the hash
  (the eval index is small by nature, so Catalyst broadcasts it and
  the increment scan is a single map-side pass — the same plan
  ``contamination_overlap`` gets), then per (train doc, eval doc)
  report the hit count and the fraction of the eval doc's n-grams hit.
- ``decontaminate_against_index`` — drop every increment row with
  ``min_hits`` or more eval n-gram hits (the standard "any 13-gram
  collision" rule is ``min_hits=1`` at ``ngram_n=13``).

Same single-writer and maintenance contracts as the MinHash and IVF-PQ
indexes (``functions/dedup_index.py``, ``functions/ann.py``);
``compact_ngram_index`` is the small-files maintenance op for
daily-append indexes (``compact_minhash_index``'s recipe over the two
narrow tables + sidecar).

Hash collisions: n-grams compare by the seeded polynomial hash
(``text.shingle_hash``, mod 1e9+7) — a collision can only ADD a
spurious hit (decon errs safe, toward dropping), and the DuckDB oracle
replays the identical hash so cross-engine parity is exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_META = "_ngram_meta.json"


def _check_cols(df: DataFrame, text_col: str, id_col: str, who: str) -> None:
    missing = [c for c in (text_col, id_col) if c not in df.columns]
    if missing:
        raise ValueError(f"{who}: input lacks columns {missing}")


def _postings(df: DataFrame, text_col: str, id_col: str,
              ngram_n: int) -> DataFrame:
    """(id, sh) — one row per DISTINCT hashed n-gram per doc; the single
    encode definition shared by write/append/probe.

    Built with the Arrow-batched posting generator
    (``dedup._shingle_postings_pandas`` — vectorized numpy hashing, same
    values as ``explode(array_distinct(transform(word_shingles(..),
    shingle_hash)))``), NOT the Catalyst higher-order-function
    expression: the probe side of this runs over every 100 TB increment
    forever, and interpreted HOF evaluators degrade badly in long
    sessions (megamorphic call sites — the measured pathology that moved
    ``ngram_stats`` and the LSH posting builder to this exact shape).
    The DuckDB oracle replays the identical polynomial hash, so
    cross-engine parity is unchanged (pinned in
    ``tests/test_decontam_index.py``)."""
    from lotus_spark.functions.dedup import (
        _shingle_postings_pandas, ensure_parallelism,
    )

    if not df.isStreaming:
        df = ensure_parallelism(df)
    return _shingle_postings_pandas(
        df.select(id_col, text_col), text_col, id_col, ngram_n, None)


def write_ngram_index(
    df: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    ngram_n: int = 13,
    mode: str = "error",
) -> None:
    """Persist the eval suite's hashed n-gram postings (``{path}/ngrams``)
    and per-doc distinct counts (``{path}/sizes``) plus the parameter
    sidecar. ``mode="overwrite"`` is not atomic across tables — rebuild
    to a fresh path and swap, as with the other indexes."""
    if ngram_n < 1:
        raise ValueError(f"ngram_n must be >= 1, got {ngram_n}")
    _check_cols(df, text_col, id_col, "write_ngram_index")
    posts = _postings(df, text_col, id_col, ngram_n)
    posts.write.mode(mode).parquet(f"{path}/ngrams")
    (posts.groupBy("id").agg(F.count("*").alias("n_ngrams"))
     .write.mode(mode).parquet(f"{path}/sizes"))
    from lotus_spark.functions.index_commit import _fs_write_json

    _fs_write_json(df.sparkSession, f"{path}/{_META}", {
        "ngram_n": int(ngram_n), "id_col": id_col,
    })


def read_ngram_meta(spark, path: str) -> dict:
    from lotus_spark.functions.index_commit import _fs_read_json

    meta = _fs_read_json(spark, f"{path}/{_META}")
    if meta is None:
        raise FileNotFoundError(
            f"no {_META} sidecar at {path} — not an n-gram index "
            "(write_ngram_index creates it)")
    return meta


def append_ngram_index(
    spark, path: str, new_df: DataFrame, text_col: str, id_col: str,
) -> None:
    """Grow the eval index with new docs under the PINNED ``ngram_n``
    (a benchmark suite gains tasks; the training pipeline keeps
    probing). Grown index == from-scratch write of the union, row for
    row (parity-pinned in tests). NULL ids rejected loudly, and so are
    ids ALREADY IN THE INDEX: re-appending a doc would duplicate its
    postings and its ``sizes`` row, fanning out every later probe's
    (doc, match) pairs with inconsistent ``eval_frac`` — the
    append==fresh-write parity this docstring promises would silently
    break. The overlap check is one broadcast semi-join against the
    tiny ``sizes`` table (eval suites are small by nature)."""
    meta = read_ngram_meta(spark, path)
    _check_cols(new_df, text_col, id_col, "append_ngram_index")
    n_null = new_df.filter(F.col(id_col).isNull()).count()
    if n_null:
        raise ValueError(
            f"append_ngram_index: {n_null} rows have NULL {id_col!r}")
    existing = spark.read.parquet(f"{path}/sizes").select("id")
    dup = [r["id"] for r in (
        new_df.select(F.col(id_col).alias("id")).distinct()
        .join(existing, "id").limit(5).collect()
    )]
    if dup:
        raise ValueError(
            f"append_ngram_index: ids already present in the index "
            f"(e.g. {dup}) — re-appending duplicates postings and sizes "
            "rows (probe fan-out); write new ids only, or rebuild the "
            "index from scratch")
    posts = _postings(new_df, text_col, id_col, meta["ngram_n"])
    posts.write.mode("append").parquet(f"{path}/ngrams")
    (posts.groupBy("id").agg(F.count("*").alias("n_ngrams"))
     .write.mode("append").parquet(f"{path}/sizes"))


def compact_ngram_index(
    spark, path: str, target_file_bytes: int = 128 << 20,
) -> None:
    """Small-files maintenance twin of
    :func:`~lotus_spark.functions.dedup_index.compact_minhash_index`
    (the same body): every ``append_ngram_index`` adds parquet files to
    ``ngrams/`` and ``sizes/``, and a long-lived index fragments until
    scans are file-open bound. Rewrites each table to ``ceil(bytes /
    target_file_bytes)`` files and commits the rewrite (crash window:
    ``index_commit``'s docstring). Single-writer — do not run
    concurrently with an appender."""
    from lotus_spark.functions.dedup_index import _compact_tables

    _compact_tables(spark, path, ("ngrams", "sizes"), _META,
                    read_ngram_meta(spark, path), target_file_bytes,
                    "compact_ngram_index")


def contamination_against_index(
    spark,
    path: str,
    query_df: DataFrame,
    text_col: str,
    id_col: str,
    min_hits: int = 1,
    match_col: str = "match_id",
) -> DataFrame:
    """Per (training doc, eval doc) contamination: hash the increment's
    n-grams map-side, ONE equi-join against the index's ``ngrams`` table
    on the 8-byte hash (the eval side is small → broadcast; the
    increment scan is one map-side pass), count joint hits, and attach
    the eval doc's coverage fraction. Returns
    (``id_col``, ``match_col``, ``n_hits``, ``eval_frac``) — one row per
    pair with ``n_hits >= min_hits``; ``eval_frac`` = hits / |eval doc's
    distinct n-grams| (the ``contamination_overlap`` metric, now
    per-pair)."""
    meta = read_ngram_meta(spark, path)
    _check_cols(query_df, text_col, id_col, "contamination_against_index")
    if min_hits < 1:
        raise ValueError(f"min_hits must be >= 1, got {min_hits}")
    q = _postings(query_df, text_col, id_col, meta["ngram_n"]) \
        .withColumnRenamed("id", "__qid")
    idx = spark.read.parquet(f"{path}/ngrams") \
        .withColumnRenamed("id", match_col)
    sizes = spark.read.parquet(f"{path}/sizes") \
        .withColumnRenamed("id", match_col)
    hits = (
        q.join(idx, "sh")
        .groupBy("__qid", match_col)
        .agg(F.count("*").alias("n_hits"))
        .filter(F.col("n_hits") >= min_hits)
    )
    return (
        hits.join(sizes, match_col)
        .select(
            F.col("__qid").alias(id_col),
            match_col,
            "n_hits",
            F.round(F.col("n_hits").cast("double")
                    / F.col("n_ngrams").cast("double"), 6)
            .alias("eval_frac"),
        )
    )


def decontaminate_against_index(
    spark,
    path: str,
    query_df: DataFrame,
    text_col: str,
    id_col: str,
    min_hits: int = 1,
) -> DataFrame:
    """Keep only increment rows with NO eval contamination at the
    ``min_hits`` rule — the training-pipeline gate (``min_hits=1`` at
    ``ngram_n=13`` is the GPT-3 "any 13-gram collision" rule). An
    anti-join against the flagged ids; streaming increments gate via
    ``foreachBatch`` + this operator, like ``dedup_against_index``."""
    flagged = contamination_against_index(
        spark, path, query_df, text_col, id_col, min_hits,
    ).select(id_col).distinct()
    return query_df.join(flagged, id_col, "left_anti")

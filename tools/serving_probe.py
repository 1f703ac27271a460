"""Hybrid stored-serving cost (functions/serving.py): what does ONE
hybrid query (persisted BM25 + persisted IVF-PQ + RRF) cost at sf0.1 —
wall AND bytes — against the in-hand plan that re-scans the corpus and
re-ranks the full embedding table per query?

Two axes, because one is hardware-honest and one is design-honest
(same split as BENCH_bm25.json):

- WALL: every stored query takes the same path (the query terms'
  buckets fold into the plan, so a never-seen term costs no extra
  job). At sf0.1 (50k docs) on an idle 32-core box the stored path's
  fixed per-job overhead (several small jobs: postings read, cell
  probes, rerank) EXCEEDS the page-cached in-hand scan — recorded
  as-is; walls at small scale do not separate the designs (BENCH_bm25
  measured the same at 10x).
- BYTES per query: the stored path reads its query terms' postings
  buckets + termdf/doclens + the n_probe probed cell directories +
  KB sidecars; the in-hand plan reads documents.parquet AND
  embeddings.parquet in full. Bytes are what a 1000x scale-up bills
  (object-store scans), and the stored path's bytes are bounded by
  index GEOMETRY, not corpus size.

Protocol: build both stores once (wall recorded), one unmeasured warm
query, then 3 interleaved rounds over 6 distinct corpus-derived
queries, min per query. In-hand contrast: same queries, 2 rounds, min
per query.

BATCH AMORTIZATION (r14): the single-query stored wall is dominated by
FIXED per-query job overhead (several small Spark jobs per query) —
exactly what a deployment amortizes by batching its query traffic.
``hybrid_search_index_batch`` answers Q queries in six jobs (one
bucket-union lexical pass, one cell-union ADC pass, the rerank and the
fusion); the
probe times batches of Q = 1/2/3/6 over the same 6 queries (3 repeats,
min) and records wall-per-query vs Q — the row the r13 verdict asked
for ("amortize the per-query job overhead across a query batch").

Usage: python tools/serving_probe.py [sf_dir]   (default sf0.1, ~7 min)
Writes BENCH_serving.json at the repo root.
"""
from __future__ import annotations

import json
import os
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

N_QUERIES = 6


def _du(path: str) -> int:
    """Bytes under a parquet file OR directory (testdata tables are
    bare files; index layouts are directories)."""
    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(dirpath, f))
                     for f in files if not f.startswith(("_", ".")))
    return total


def main() -> None:
    import shutil

    from pyspark.sql import functions as F

    from lotus_spark.functions.ann import (
        ivf_index, knn_topk, pq_index, probe_cells_expr,
        write_ivfpq_index,
    )
    from lotus_spark.functions.bm25 import bm25_search, rrf_fuse
    from lotus_spark.functions.ann import _sql_str
    from lotus_spark.functions.bm25_store import (
        _bucket_sql, read_bm25_meta, write_bm25_index,
    )
    from lotus_spark.functions.serving import hybrid_search_index
    from lotus_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else (
        os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(master=f"local[{cpus}]",
                      shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding")

    # 6 deterministic queries drawn from the corpus itself: the first 4
    # whitespace tokens of docs 1..6, paired with vectors 1..6
    # the batch curve extends past the single-query set with DISTINCT
    # queries (docs/vecs 1..N_BATCH_MAX) — cycling 6 texts would overlap
    # term buckets more than real traffic and flatter the amortization
    N_BATCH_MAX = 24
    qrows = (docs.filter(F.col("doc_id").between(1, N_BATCH_MAX))
             .orderBy("doc_id").collect())
    qtexts = [" ".join(r["text"].split()[:4]) for r in qrows]
    vrows = (emb.filter(F.col("vec_id").between(1, N_BATCH_MAX))
             .orderBy("vec_id").collect())
    qvecs = [[float(x) for x in r["embedding"]] for r in vrows]

    N_PROBE = 8
    work = tempfile.mkdtemp(prefix="serving_probe_")
    rec: dict = {"metric": "hybrid_serving_probe", "sf_dir": sf_dir,
                 "n_queries": N_QUERIES, "n_probe": N_PROBE}
    try:
        bm_path, iv_path = f"{work}/bm", f"{work}/iv"
        t0 = time.time()
        write_bm25_index(docs, bm_path, "text", "doc_id", n_buckets=64)
        indexed, cents = ivf_index(emb, "embedding", n_cells=64, seed=42,
                                   method="deterministic",
                                   id_col="vec_id")
        encoded, books = pq_index(indexed, "embedding", "vec_id",
                                  m=8, nbits=4, seed=101)
        write_ivfpq_index(encoded, iv_path, cents, books)
        rec["build_sec"] = round(time.time() - t0, 2)

        def stored_one(i: int) -> float:
            t = time.time()
            hybrid_search_index(spark, bm_path, iv_path, qtexts[i],
                                qvecs[i], k=10, n_probe=N_PROBE).collect()
            return time.time() - t

        stored_one(0)  # unmeasured warm: JVM/codegen one-time costs
        stored: dict[int, list[float]] = {i: [] for i in range(N_QUERIES)}
        for _rnd in range(3):
            for i in range(N_QUERIES):
                stored[i].append(stored_one(i))

        def inhand_one(i: int) -> float:
            t = time.time()
            lex = bm25_search(docs, "text", "doc_id", qtexts[i], k=10)
            vec = knn_topk(emb, "embedding", qvecs[i], k=10,
                           id_col="vec_id").withColumnRenamed(
                               "vec_id", "doc_id")
            rrf_fuse([lex, vec.select("doc_id", "score")], "doc_id",
                     k=10).collect()
            return time.time() - t

        inhand_one(0)  # unmeasured warm
        inhand: dict[int, list[float]] = {i: [] for i in range(N_QUERIES)}
        for _rnd in range(2):
            for i in range(N_QUERIES):
                inhand[i].append(inhand_one(i))

        # batched stored serving: wall per query amortizes with Q
        from lotus_spark.functions.serving import hybrid_search_index_batch

        def stored_batch(q: int) -> float:
            t = time.time()
            hybrid_search_index_batch(
                spark, bm_path, iv_path,
                {f"q{i}": (qtexts[i], qvecs[i]) for i in range(q)},
                k=10, n_probe=N_PROBE).collect()
            return time.time() - t

        stored_batch(N_QUERIES)  # unmeasured warm (codegen for the shape)
        batch_rows = {}
        for q in (1, 2, 3, N_QUERIES, 12, N_BATCH_MAX):
            walls = [stored_batch(q) for _ in range(3)]
            batch_rows[str(q)] = {
                "batch_wall_min": round(min(walls), 3),
                "per_query_min": round(min(walls) / q, 3),
            }

        # BYTES per query — the scale-honest axis. Stored: exactly what
        # bm25_search_index + knn_topk_ivfpq scan — the query terms'
        # bucket partitions of postings AND termdf (both bucket-pruned;
        # doclens is maintenance-only and never read per query) + the
        # n_probe probed cell dirs + KB sidecars. In-hand: both corpus
        # tables, in full, every query.
        meta = read_bm25_meta(spark, bm_path)
        probe = probe_cells_expr(cents, N_PROBE)
        stored_bytes = []
        for i in range(N_QUERIES):
            terms = sorted(set(qtexts[i].split()))
            # the writer's bucket rule, evaluated by the same JVM hash
            buckets = set(spark.sql("SELECT " + ", ".join(
                _bucket_sql(_sql_str(t), meta["n_buckets"])
                for t in terms)).first())
            b = sum(_du(f"{bm_path}/postings/bucket={bk}")
                    + _du(f"{bm_path}/termdf/bucket={bk}")
                    for bk in buckets)
            cells = spark.createDataFrame(
                [(qvecs[i],)], "v array<double>").select(
                    probe(F.col("v")).alias("c")).first()["c"]
            b += sum(_du(f"{iv_path}/__ivf_cell={c}") for c in cells)
            stored_bytes.append(b)
        inhand_bytes = (_du(f"{sf_dir}/documents.parquet")
                        + _du(f"{sf_dir}/embeddings.parquet"))

        stored_mins = sorted(round(min(v), 3) for v in stored.values())
        inhand_mins = sorted(round(min(v), 3) for v in inhand.values())
        rec.update({
            "stored_min_per_query": stored_mins,
            "stored_median": stored_mins[len(stored_mins) // 2],
            "inhand_min_per_query": inhand_mins,
            "inhand_median": inhand_mins[len(inhand_mins) // 2],
            "stored_read_mb_per_query": sorted(
                round(b / 1e6, 3) for b in stored_bytes),
            "inhand_read_mb_per_query": round(inhand_bytes / 1e6, 2),
            "index_total_mb": round(
                (_du(bm_path) + _du(iv_path)) / 1e6, 2),
            "bytes_saved_per_query": round(
                inhand_bytes / max(max(stored_bytes), 1), 1),
            # r14: hybrid_search_index_batch — batch wall and wall per
            # query by batch size Q (min of 3 repeats). The per-query
            # read stays geometry-bounded; the fixed job overhead is
            # paid once per BATCH instead of once per query.
            "stored_batch_by_q": batch_rows,
            "note": ("At sf0.1 on an idle 32-core box the "
                     "stored path's fixed multi-job overhead exceeds the "
                     "page-cached in-hand scan — walls do NOT separate "
                     "the designs at small scale (BENCH_bm25 measured "
                     "the same at 10x); the bytes columns are the "
                     "scale-honest comparison, and the stored path's "
                     "bytes are bounded by index geometry, not corpus "
                     "size"),
        })
    finally:
        shutil.rmtree(work, ignore_errors=True)

    with open(os.path.join(ROOT, "BENCH_serving.json"), "w") as f:
        json.dump(rec, f, indent=1)
    print(json.dumps(rec, indent=1))


if __name__ == "__main__":
    main()

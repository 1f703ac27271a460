"""Runnable walkthrough: the IVF-PQ index lifecycle on lotus_spark.

Build an ANN index over an embedding table, persist it, grow it with an
increment (no retraining), compact the layout, and serve single /
batched / join queries against it — the full set of moves a production
corpus index needs. Runs locally against the test data:

    python examples/index_serving.py [sf_dir]   # default sf0.001

Every stage here is oracle- or parity-verified in tests/; this file is
the user-facing composition.
"""

from __future__ import annotations

import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from pyspark.sql import functions as F

    from lotus_spark.functions.ann import (
        ann_join_ivf,
        append_ivfpq_index,
        compact_ivfpq_index,
        ivf_index,
        knn_topk_ivfpq,
        knn_topk_ivfpq_batch,
        pq_index,
        read_ivfpq_index,
        write_ivfpq_index,
    )
    from lotus_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    initial = emb.filter("vec_id % 2 = 0")      # day 0 of the corpus
    increment = emb.filter("vec_id % 2 = 1")    # tomorrow's arrivals

    # 1. BUILD: coarse quantizer (IVF cells) + PQ codebooks, both trained
    # on a bounded sample of the initial corpus only.
    indexed, cents = ivf_index(initial, "embedding", n_cells=16, seed=42,
                               method="deterministic", id_col="vec_id")
    encoded, books = pq_index(indexed, "embedding", "vec_id",
                              m=8, nbits=4, seed=101)

    with tempfile.TemporaryDirectory(prefix="ivfpq_demo_") as d:
        path = f"{d}/index"

        # 2. PERSIST: partitioned-by-cell parquet + integer-codebook
        # sidecar. Probes after this are partition-pruned scans.
        write_ivfpq_index(encoded, path, cents, books)

        # 3. GROW: the increment encodes with the EXISTING codebooks —
        # one map-only pass, no retraining. (Streaming twin:
        # lotus_spark.streaming.index_sink.stream_append_ivfpq.)
        append_ivfpq_index(spark, path, increment)

        # 4. COMPACT: collapse the append's small files to one per cell.
        compact_ivfpq_index(spark, path)

        stored, cents2, books2, cell_col = read_ivfpq_index(spark, path)
        print(f"index rows: {stored.count()}  (initial + increment)")

        # 5a. SINGLE query: exact-reranked by default.
        q = [float(x) for x in
             emb.filter("vec_id = 1").first()["embedding"]]
        top = knn_topk_ivfpq(stored, cents2, books2, q, k=5, n_probe=8,
                             id_col="vec_id", cell_col=cell_col)
        print("single query top-5:",
              [(r["vec_id"], round(r["score"], 4)) for r in top.collect()])

        # 5b. BATCH serving: many queries, ONE scan of the probed-cell
        # union.
        queries = {
            f"q{r['vec_id']}": [float(x) for x in r["embedding"]]
            for r in emb.filter("vec_id in (1, 2, 3)").collect()
        }
        batch = knn_topk_ivfpq_batch(stored, cents2, books2, queries,
                                     k=3, n_probe=8, cell_col=cell_col)
        print("batched top-3 per query:")
        batch.orderBy("query_id", F.desc("score")).show(truncate=False)

        # 5c. K-NN JOIN against the prebuilt index: every row of a left
        # table gets its neighbors, no per-query loop, no index rebuild.
        left = (emb.limit(4)
                .select(F.col("vec_id").alias("qid"),
                        F.col("embedding").alias("lemb")))
        joined = ann_join_ivf(left, None, "qid", "lemb",
                              "vec_id", "embedding", K=3, n_probe=8,
                              prebuilt=(stored, cents2),
                              cell_col=cell_col)
        print("join matches:",
              joined.select("qid", "match_id").count())

        # 5d. Same join one tier up the ladder (ann_join_ivfpq): the
        # cell equi-join ships the m-byte PQ codes instead of full
        # vectors and reranks the ADC shortlist through a narrow by-id
        # join — the shape for right sides whose raw vectors are too
        # wide even for a cell join's shuffle payload.
        from lotus_spark.functions.ann import ann_join_ivfpq

        joined_pq = ann_join_ivfpq(left, None, "qid", "lemb",
                                   "vec_id", "embedding", K=3, n_probe=8,
                                   prebuilt=(stored, cents2, books2),
                                   cell_col=cell_col)
        print("ivfpq join matches:",
              joined_pq.select("qid", "match_id").count())

        # 6. HYBRID serving (r12): add the lexical tier — a persisted
        # BM25 index over the documents table (doc_id ≡ vec_id in the
        # test data) — and answer ONE query from both stores fused by
        # reciprocal rank. Per-query reads stay bounded by the index
        # geometry: |terms| postings buckets + n_probe cells.
        from lotus_spark.functions.bm25_store import write_bm25_index
        from lotus_spark.functions.serving import hybrid_search_index

        docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
            "doc_id", "text")
        bm_path = f"{d}/bm25"
        write_bm25_index(docs, bm_path, "text", "doc_id", n_buckets=16)
        fused = hybrid_search_index(
            spark, bm_path, path, "spark window merge join", q,
            k=5, n_probe=8)
        print("hybrid top-5 (RRF):",
              [(r["doc_id"], round(r["rrf_score"], 4))
               for r in fused.collect()])

        # 6b. BATCHED hybrid serving (r14): a deployment's query traffic
        # arrives in batches — answer Q hybrid queries in six Spark jobs
        # whatever Q (one bucket-union lexical pass and one cell-union
        # ADC+rerank pass, each reaching its per-query lists through an
        # exchange keyed by the query id, fused with no exchange)
        # instead of Q job ladders; per query identical to 6.
        from lotus_spark.functions.serving import hybrid_search_index_batch

        texts = {r["doc_id"]: " ".join(r["text"].split()[:4])
                 for r in docs.filter("doc_id in (1, 2, 3)").collect()}
        hq = {f"q{i}": (texts[i], queries[f"q{i}"]) for i in (1, 2, 3)}
        fused_batch = hybrid_search_index_batch(
            spark, bm_path, path, hq, k=3, n_probe=8)
        print("batched hybrid top-3 per query:")
        fused_batch.orderBy("query_id", F.desc("rrf_score")).show(
            truncate=False)

        # 7. FSCK (r13): after any maintenance — append, compact, CDC —
        # run the read-only validate_index before trusting the store.
        # It is bounded (sidecar reads + directory listings + narrow
        # aggregates) and returns a report instead of raising.
        from lotus_spark.functions.index_admin import validate_index

        for p, kind in ((path, "ivfpq"), (bm_path, "bm25")):
            rep = validate_index(spark, p, kind)
            assert rep["ok"], rep["checks"]
        print("validate_index: ivfpq + bm25 stores fsck clean after "
              "append/compact")

        # what a crashed maintenance swap looks like: the leftover
        # sibling is the crash evidence, and the fsck names the recovery
        os.makedirs(f"{path}.compact-crashed")
        rep = validate_index(spark, path, "ivfpq")
        bad = [c for c in rep["checks"] if not c["ok"]]
        assert not rep["ok"] and bad
        print("planted crashed-swap leftover caught by fsck:",
              bad[0]["detail"])
        os.rmdir(f"{path}.compact-crashed")

        # 8. GEOMETRY (r14): index_stats is the capacity-planning
        # converse of the fsck — bucket/cell fill and skew from the
        # layout's own tables, the numbers the re-bucket / re-train /
        # compact decisions read. A max_* metric far above the mean is
        # tomorrow's straggler task.
        from lotus_spark.functions.index_admin import index_stats

        st = {(r["layout"], r["metric"]): r["value"]
              for r in index_stats(spark, path).unionByName(
                  index_stats(spark, bm_path)).collect()}
        print("index_stats: ivfpq cells "
              f"{st[('ivfpq', 'n_cells_occupied')]}/"
              f"{st[('ivfpq', 'n_cells_total')]} occupied, "
              f"max {st[('ivfpq', 'max_cell_rows')]} rows/cell; bm25 "
              f"{st[('bm25', 'n_buckets_occupied')]}/"
              f"{st[('bm25', 'n_buckets_total')]} buckets, max "
              f"{st[('bm25', 'max_bucket_postings')]} postings/bucket")


if __name__ == "__main__":
    main()

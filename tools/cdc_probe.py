"""CDC index-maintenance scaling (functions/index_cdc.py): what does a
daily snapshot upsert cost as the corpus grows, and how does it compare
to the alternative (rebuilding the index from the new snapshot)?

Three load-bearing claims measured here:

1. **IVF-PQ delete is partition-pruned**: a delete whose ids are
   LOCALIZED in embedding space (the realistic shape — a site vanishing
   removes a content cluster) rewrites only its hit cells, so its wall
   stays far below a uniform delete that touches every cell.
2. **Uniform deletes degrade to a compaction-grade rewrite, never
   worse**: the adversarial case (ids spread over all cells) costs
   about one full-index rewrite — the same write the rebuild pays, but
   WITHOUT the rebuild's quantizer retraining and full-corpus re-encode.
3. **MinHash upsert beats rebuild by the corpus-scan term**: the
   filtered-compaction delete rides the NARROW index tables
   (16 longs + band strings per doc); a rebuild re-shingles and
   re-hashes every surviving document's TEXT. As the corpus grows the
   rebuild grows with corpus text bytes, the upsert with index bytes.

Corpora are synthesized (deterministic seeds) at 1x and 10x; the day's
delta is FIXED (~1% of 1x) at both scales, matching the daily-pipeline
shape. Per-query adjacent measurement, best-of-2, warm plan shapes —
the NOTES round-5 probe methodology.

Usage: python tools/cdc_probe.py        (~5-10 min, local[32])
Writes BENCH_cdc.json at the repo root.
"""
from __future__ import annotations

import json
import os
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

N1_VEC = 100_000       # 1x vector corpus
N1_DOC = 20_000        # 1x text corpus
DELTA = 1_000          # fixed daily-delta rows per class basis
DIM = 32
N_CELLS = 64


def _vectors(spark, n, seed_shift=0):
    """Deterministic synthetic embeddings: hash-derived pseudo-random
    components (no Python RNG on the hot path — pure codegen)."""
    from pyspark.sql import functions as F

    df = spark.range(n).select(F.col("id").alias("vec_id"))
    comps = [
        (F.pmod(F.xxhash64(F.col("vec_id") + seed_shift, F.lit(j)),
                F.lit(2000)) / 1000.0 - 1.0).alias(f"c{j}")
        for j in range(DIM)
    ]
    return df.select("vec_id", F.array(*[c for c in comps]).alias(
        "embedding"))


def _docs(spark, n):
    from pyspark.sql import functions as F

    words = [f"tok{i}" for i in range(50)]
    df = spark.range(n).select(F.col("id").alias("doc_id"))
    parts = [
        F.element_at(
            F.array(*[F.lit(w) for w in words]),
            (F.pmod(F.xxhash64(F.col("doc_id"), F.lit(j)), F.lit(50)) + 1
             ).cast("int"))
        for j in range(30)
    ]
    return df.select("doc_id", F.concat_ws(" ", *parts).alias("text"))


def _best2(fn):
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return round(best, 3)


def main() -> None:
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from lotus_spark.functions.ann import (
        ivf_index, pq_index, read_ivfpq_index, write_ivfpq_index,
    )
    from lotus_spark.functions.dedup_index import write_minhash_index
    from lotus_spark.functions.index_cdc import (
        apply_snapshot_to_ivfpq_index, apply_snapshot_to_minhash_index,
        delete_from_ivfpq_index,
    )
    from lotus_spark.functions.snapshot import snapshot_diff
    from lotus_spark.session import get_spark

    spark = get_spark(master="local[32]", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")

    out = {"metric": "cdc_probe", "unit": "sec", "scales": {}}
    work = tempfile.mkdtemp(prefix="cdc_probe_")
    try:
        for scale in (1, 10):
            n_vec, n_doc = N1_VEC * scale, N1_DOC * scale
            rows = {}

            # ---------------- IVF-PQ side ----------------
            emb = _vectors(spark, n_vec).persist()
            emb.count()
            t0 = time.time()
            indexed, cents = ivf_index(
                emb, "embedding", n_cells=N_CELLS, seed=42,
                method="deterministic", id_col="vec_id",
                max_train_rows=50_000)
            encoded, books = pq_index(indexed, "embedding", "vec_id",
                                      m=8, nbits=4, seed=101,
                                      max_train_rows=50_000)
            path = f"{work}/ivfpq_{scale}"
            write_ivfpq_index(encoded, path, cents, books)
            rows["ivfpq_build"] = round(time.time() - t0, 3)

            stored, cents2, books2, cell_col = read_ivfpq_index(spark, path)

            # localized delete: every id of 2 of the 64 cells (the
            # vanished-content-cluster shape)
            cells2 = [r[cell_col] for r in
                      stored.groupBy(cell_col).count()
                      .orderBy(cell_col).limit(2).collect()]
            local_ids = stored.filter(
                F.col(cell_col).isin(cells2)).select("vec_id")
            n_local = local_ids.count()

            def _del_localized():
                delete_from_ivfpq_index(spark, path, local_ids, "vec_id")

            rows["ivfpq_delete_localized"] = _timed_once_with_restore(
                spark, path, work, _del_localized)
            rows["ivfpq_delete_localized_rows"] = n_local

            # uniform delete: same ROW COUNT spread over every cell
            uni_ids = stored.select("vec_id").orderBy(
                F.pmod(F.xxhash64("vec_id"), F.lit(997))).limit(n_local)
            uni_ids = spark.createDataFrame(
                [(r["vec_id"],) for r in uni_ids.collect()],
                "vec_id long")

            def _del_uniform():
                delete_from_ivfpq_index(spark, path, uni_ids, "vec_id")

            rows["ivfpq_delete_uniform"] = _timed_once_with_restore(
                spark, path, work, _del_uniform)

            # full snapshot apply (fixed daily delta) vs rebuild
            t1 = emb.filter(F.col("vec_id") % (n_vec // DELTA) != 0) \
                .unionByName(_vectors(spark, DELTA, seed_shift=7)
                             .select((F.col("vec_id") + 2_000_000_000)
                                     .alias("vec_id"), "embedding"))

            def _apply():
                diff = snapshot_diff(emb, t1, "vec_id")
                apply_snapshot_to_ivfpq_index(spark, path, diff, t1)

            rows["ivfpq_apply_snapshot"] = _timed_once_with_restore(
                spark, path, work, _apply)

            def _rebuild():
                idx2, c2 = ivf_index(t1, "embedding", n_cells=N_CELLS,
                                     seed=42, method="deterministic",
                                     id_col="vec_id",
                                     max_train_rows=50_000)
                enc2, b2 = pq_index(idx2, "embedding", "vec_id", m=8,
                                    nbits=4, seed=101,
                                    max_train_rows=50_000)
                rb = f"{work}/ivfpq_rb_{scale}"
                shutil.rmtree(rb, ignore_errors=True)
                write_ivfpq_index(enc2, rb, c2, b2)

            rows["ivfpq_rebuild"] = _best2(_rebuild)
            emb.unpersist()

            # ---------------- MinHash side ----------------
            docs = _docs(spark, n_doc).persist()
            docs.count()
            mh = f"{work}/mh_{scale}"
            t0 = time.time()
            write_minhash_index(docs, mh, "text", "doc_id",
                                n_hashes=16, bands=4)
            rows["mh_build"] = round(time.time() - t0, 3)

            dt1 = docs.filter(F.col("doc_id") % (n_doc // DELTA) != 0) \
                .unionByName(
                    _docs(spark, DELTA).select(
                        (F.col("doc_id") + 2_000_000_000).alias("doc_id"),
                        F.concat(F.col("text"), F.lit(" fresh"))
                        .alias("text")))

            def _mh_apply():
                diff = snapshot_diff(docs, dt1, "doc_id")
                apply_snapshot_to_minhash_index(spark, mh, diff, dt1,
                                                "text")

            rows["mh_apply_snapshot"] = _timed_once_with_restore(
                spark, mh, work, _mh_apply)

            def _mh_rebuild():
                rb = f"{work}/mh_rb_{scale}"
                shutil.rmtree(rb, ignore_errors=True)
                write_minhash_index(dt1, rb, "text", "doc_id",
                                    n_hashes=16, bands=4)

            rows["mh_rebuild"] = _best2(_mh_rebuild)
            docs.unpersist()

            out["scales"][str(scale)] = rows
            print(f"# scale {scale}: {rows}", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    s1, s10 = out["scales"]["1"], out["scales"]["10"]
    out["ratios_10x"] = {
        k: round(s10[k] / s1[k], 2)
        for k in s1 if not k.endswith("_rows") and s1[k] > 0
    }
    out["value"] = s10["ivfpq_apply_snapshot"]
    with open(os.path.join(ROOT, "BENCH_cdc.json"), "w") as f:
        json.dump(out, f, indent=1)
    print(json.dumps(out))


def _timed_once_with_restore(spark, path, work, fn):
    """Time a MUTATING maintenance op best-of-2, restoring the index
    from a pristine copy between runs (filesystem copy, untimed)."""
    import shutil

    snap = f"{path}.pristine"
    if not os.path.exists(snap):
        shutil.copytree(path, snap)
    best = float("inf")
    for _ in range(2):
        shutil.rmtree(path, ignore_errors=True)
        shutil.copytree(snap, path)
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    # leave a pristine state for the next op
    shutil.rmtree(path, ignore_errors=True)
    shutil.copytree(snap, path)
    return round(best, 3)


if __name__ == "__main__":
    main()

"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on local[N].

Prints ONE JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}. The driver records this as BENCH_r{N}.json.

Query set = the oracle-checked inventory from __spark_entry__ minus the
iterative connected-component dedups (minhash_lsh_dedup, sem_dedup — their
convergence loops dominate wall-clock without exercising anything the
thresholded pair queries don't already cover) and the composed
pipeline_pack / pipeline_curate (they embed the dedup stages plus
per-run checkpoint parquet writes; their stages are all individually
benched) and knn_pq / knn_ivfpq (their wall-clock is quantizer TRAINING — 8 subspace
KMeans runs, a once-per-corpus offline cost; the per-query ADC scan
path they exist for is the same codegen map + TakeOrdered shape the
knn_* entries already time). Each query is timed as
plan-build + execute-to-count (results are not collected; Spark keeps the
aggregation distributed).

Measurement protocol (r12): the official per-query number is the
MEDIAN of 3 interleaved full sweeps (one contended trial cannot become
the round's record); the per-query MIN rides in ``queries_min`` (the
plan-cost estimator under one-sided contention noise, and the
comparator against the min-based r<=11 history). Structured-Streaming
rows run in their own phase after the batch sweeps. A regression flag
requires the MIN to exceed 1.5x the previous round — i.e. all three
sweeps reproduced the slowdown.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import __spark_entry__ as entry  # noqa: E402
from lotus_spark.session import get_spark  # noqa: E402

BENCH_QUERIES = [
    "pricing_summary",
    "top_revenue",
    "region_revenue",
    "customers_no_orders",
    "top3_orders_per_customer",
    "events_hourly",
    "part_brand_stats",
    "sem_filter",
    "sem_map",
    "sem_extract",
    "sem_join",
    "sem_agg",
    "sem_topk",
    "knn_bruteforce",
    "bm25_search",
    "hybrid_search",
    "asof_join",
    "range_join",
    "time_rollup",
    "pack_sequences",
    "knn_lsh",
    "sem_sim_join",
    "exact_dedup",
    "minhash_signature",
    "simhash",
    "jaccard_pairs",
    "text_stats",
    "orders_rollup",
    "supplier_intersect",
    "embedding_neardup",
    "sem_search_rerank",
    "sessionize",
    "ngram_stats",
    "paragraph_dedup",
    "quantile_filter",
    "cap_per_key",
    "dedupe_doc_units",
    "sem_pipeline",
    "filter_reorder",
    "span_dedup",
    "strip_boilerplate",
    "perplexity_bucket",
    "hash_split",
    "mix_to_weights",
    # round 7
    "weighted_sample",
    "ann_join_pq",
    "ann_join_ivf",
    "answer_cache_map",
    # round 8 (the cascade rows stay out for the same reason as
    # minhash_lsh_dedup: their wall is calibration/oracle-labeling
    # machinery on a deliberately small pair space, not a data-scaling
    # path; streaming_neardup_minhash's wall is the same fixed
    # micro-batch machinery streaming_neardup already times)
    "sem_topk_quicksem",
    "agentic_mapreduce",
    "shard_for_training",
    # bucketed_join / ivfpq_incremental stay out for the knn_pq reason:
    # their wall is one-time build cost (bucketed table writes; quantizer
    # training + index write/append) — the recurring query paths they
    # enable are the shapes pricing_summary / knn_ivfpq already time
    # round 9: ivfpq_compacted / write_shards / bucketed_join_coalesced
    # stay out for the same reason — all three are one-time maintenance/
    # materialization compositions (append+compact; one-file-per-shard
    # export; a second bucketed-table write) whose recurring paths are
    # already timed above
    # round 10: the ladder-top K-NN join is a recurring query path like
    # ann_join_pq/ann_join_ivf above; the four index rows
    # (neardup_index / _stream / _lifecycle, embedding_neardup_index)
    # stay out — their wall is index write/append (one-time build) or
    # streaming/CC machinery already timed by streaming_neardup and the
    # pair queries
    "ann_join_ivfpq",
    # round 13: the STORED-index variant of the row above — the index
    # is built once per process (__spark_entry__._ivfpq_join_index
    # memo, so only sweep 1 pays quantizer training + the write) and
    # every timed call is probe + cell join + rerank over the
    # partitioned layout. This is the recurring serving number;
    # ann_join_ivfpq keeps timing the cold build for history (it has
    # flagged spuriously three rounds running because the one-time
    # build dominates its wall).
    "ann_join_ivfpq_stored",
    # round 14: BATCHED hybrid serving from the persisted BM25 + IVF-PQ
    # indexes (3 queries per call; one bucket-union lexical pass + one
    # cell-union ADC pass + one fusion). Build is memoized per process
    # (__spark_entry__._hybrid_stored_indexes) so only sweep 1 pays the
    # two index writes; the timed steady state is the recurring batch —
    # the serving number BENCH_serving.json's amortization rows expand.
    "hybrid_search_stored_batch",
    # round 11: url_canonicalize is the recurring map-only crawl path
    # (pure codegen expressions — belongs in the sweep);
    # minhash_dedup_keepbest / leakage_safe_split stay out for the
    # minhash_lsh_dedup reason (their wall is the same CC convergence
    # loop; the survivor/split policies add two hash aggregates and a
    # map-side label — nothing the banded pair queries don't time);
    # contamination_index / neardup_index_compacted / warc_roundtrip /
    # pipeline_ingest and the multimodal rows are build/synthesis
    # compositions whose recurring probes are timed by mhindex_probe /
    # decontam_probe and the standalone feature stages
    "url_canonicalize",
]

# Structured-Streaming rows run in their OWN phase after the batch
# sweeps (r11 verdict): their micro-batch scheduler threads + state
# store churn have flagged spuriously in three separate rounds when
# interleaved with the batch queries; isolating them keeps one
# contended interleave from becoming the round's official number.
STREAMING_QUERIES = [
    "streaming_sessions",
    "streaming_neardup",
]


def bench_streaming(spark, sf_dir: str) -> int:
    """Structured Streaming micro-bench: file-source stream over the
    documents table → watermarked windowed corpus stats → memory sink,
    Trigger.AvailableNow (bounded, deterministic). Times the full
    plan-build + all micro-batches."""
    import uuid

    from pyspark.sql import functions as F

    from lotus_spark.streaming.ops import (
        read_parquet_stream,
        state_sized_session,
        windowed_doc_stats,
    )

    # the stream's own session, its state-partition count derived from
    # the input, same as the oracle row (q_streaming_doc_stats): every
    # micro-batch commits every state partition, so the count must
    # track data, not cores (guide §2.2)
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
    qname = f"bench_stream_{uuid.uuid4().hex[:8]}"
    q = (
        stats.writeStream.format("memory").queryName(qname)
        .outputMode("complete").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    return child.table(qname).count()


_PROBE_INDEX: dict = {}


def bench_index_probe(spark, sf_dir: str) -> int:
    """Time ONE corpus-index probe (the recurring daily-pipeline path):
    the MinHash index over the even documents is built once per bench
    session (setup, untimed — the one-time cost BENCH_mhindex.json
    measures separately) and each call times signature + band equi-join
    + estimator verify of a 10% "daily increment" slice
    (doc_id % 10 == 1) against it."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from lotus_spark.functions.dedup_index import (
        neardup_join_index, write_minhash_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    if sf_dir not in _PROBE_INDEX:
        d = tempfile.mkdtemp(prefix="bench_mhidx_")
        write_minhash_index(docs.filter(F.col("doc_id") % 2 == 0),
                            f"{d}/idx", "text", "doc_id",
                            n_hashes=16, bands=4)
        _PROBE_INDEX[sf_dir] = d
        import atexit

        atexit.register(shutil.rmtree, d, ignore_errors=True)
    path = f"{_PROBE_INDEX[sf_dir]}/idx"
    return neardup_join_index(
        spark, path, docs.filter(F.col("doc_id") % 10 == 1),
        "text", "doc_id", threshold=0.5,
    ).count()


_DECONTAM_INDEX: dict = {}


def bench_decontam_probe(spark, sf_dir: str) -> int:
    """Time ONE decontamination probe (the other recurring daily path,
    r11): the eval-set n-gram index over the ``doc_id % 50 == 0`` docs
    (2% — eval suites are small by nature) is built once per bench
    session (setup, untimed; BENCH_decontam.json measures write cost
    and scale laws separately) and each call times the increment-side
    n-gram hashing (Arrow mapInPandas) + the broadcast hash equi-join +
    per-pair hit aggregation of the 10% "daily increment" slice
    (doc_id % 10 == 1), at the GPT-3 13-gram rule."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from lotus_spark.functions.decontam_index import (
        contamination_against_index, write_ngram_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    if sf_dir not in _DECONTAM_INDEX:
        d = tempfile.mkdtemp(prefix="bench_ngidx_")
        write_ngram_index(docs.filter(F.col("doc_id") % 50 == 0),
                          f"{d}/idx", "text", "doc_id", ngram_n=13)
        _DECONTAM_INDEX[sf_dir] = d
        import atexit

        atexit.register(shutil.rmtree, d, ignore_errors=True)
    path = f"{_DECONTAM_INDEX[sf_dir]}/idx"
    return contamination_against_index(
        spark, path, docs.filter(F.col("doc_id") % 10 == 1),
        "text", "doc_id", min_hits=1,
    ).count()


_CLUSTER_INDEX: dict = {}


def bench_cluster_assign(spark, sf_dir: str) -> int:
    """Time ONE incremental cluster assignment (the recurring daily
    path of functions/cluster_index.py): the cluster index over the
    even documents is built once per bench session (setup, untimed —
    BENCH_sfscale's cluster_assign_incremental row times the full
    lifecycle) and each call times self-cluster + index probe
    (estimator tier, the daily default) + the day-bounded merge CC for
    the 10% increment slice."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from lotus_spark.functions.cluster_index import (
        assign_clusters_against_index, build_cluster_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text")
    if sf_dir not in _CLUSTER_INDEX:
        d = tempfile.mkdtemp(prefix="bench_clidx_")
        build_cluster_index(
            spark, docs.filter(F.col("doc_id") % 2 == 0), f"{d}/idx",
            "text", "doc_id", n_hashes=16, bands=4, shingle_n=2,
            jaccard_threshold=0.5)
        _CLUSTER_INDEX[sf_dir] = d
        import atexit

        atexit.register(shutil.rmtree, d, ignore_errors=True)
    assignments, _remap = assign_clusters_against_index(
        spark, f"{_CLUSTER_INDEX[sf_dir]}/idx",
        docs.filter(F.col("doc_id") % 10 == 1), "text", "doc_id")
    return assignments.count()


def bench_cdc_apply(spark, sf_dir: str) -> tuple[int, float]:
    """Time ONE snapshot-CDC apply against the persisted IVF-PQ index
    (functions/index_cdc.py, r11): diff T0→T1 (~1% removed, ~1%
    changed, ~1% added) and apply it — partition-pruned cell-rewrite
    deletes + pinned-codebook append. The apply MUTATES the index, so
    each call rebuilds a pristine T0 index first (setup, inside this
    function, excluded from the returned timing — BENCH_cdc.json
    measures build cost and the apply-vs-rebuild trade separately);
    returns (rows touched, apply seconds)."""
    import shutil
    import tempfile
    import time as _time

    from pyspark.sql import functions as F

    from lotus_spark.functions.ann import (
        ivf_index, pq_index, write_ivfpq_index,
    )
    from lotus_spark.functions.index_cdc import apply_snapshot_to_ivfpq_index
    from lotus_spark.functions.snapshot import snapshot_diff

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding")
    t0 = emb
    t1 = emb.filter("vec_id % 97 != 0").withColumn(
        "embedding",
        F.when(F.col("vec_id") % 89 == 1, F.reverse(F.col("embedding")))
        .otherwise(F.col("embedding"))
    ).unionByName(
        emb.filter("vec_id % 83 = 2").select(
            (F.col("vec_id") + F.lit(1_000_000_000)).alias("vec_id"),
            F.reverse(F.col("embedding")).alias("embedding"))
    )
    d = tempfile.mkdtemp(prefix="bench_cdc_")
    try:
        path = f"{d}/idx"
        indexed, cents = ivf_index(t0, "embedding", n_cells=16, seed=42,
                                   method="deterministic", id_col="vec_id")
        encoded, books = pq_index(indexed, "embedding", "vec_id", m=8,
                                  nbits=4, seed=101)
        write_ivfpq_index(encoded, path, cents, books)
        t_start = _time.time()
        diff = snapshot_diff(t0, t1, "vec_id")
        stats = apply_snapshot_to_ivfpq_index(spark, path, diff, t1)
        wall = _time.time() - t_start
        return stats["deleted"] + stats["upserted"], wall
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _timed(fn, spark, sf_dir) -> tuple[int, float]:
    """(rows, wall) for a micro-bench callable returning a row count."""
    t0 = time.time()
    n = fn(spark, sf_dir)
    return int(n), time.time() - t0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]

    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=int(cpus))
    spark.sparkContext.setLogLevel("ERROR")

    # warm the JVM + parquet footers + Python worker pool so query 1 isn't
    # charged ~4s of one-time startup (workers persist per session)
    from pyspark.sql import functions as F  # noqa: PLC0415

    _warm = F.pandas_udf(lambda s: s, "long")
    spark.range(1_000_000).repartition(int(cpus)).select(
        F.sum(_warm("id"))
    ).collect()
    spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(1).count()

    qs = entry.queries()

    # One warm pass at the smallest sf: the first execution of a query shape
    # pays one-time driver-side costs that are data-size independent —
    # Catalyst analysis/optimizer JIT on large expression trees and C2
    # compilation of interpreted higher-order-function evaluators (measured
    # ~9s cold vs ~1.5s steady-state for the shingle-hash fold plans, at
    # sf0.001 and sf0.1 alike). Steady-state is what a long-running cluster
    # job sees; the warm pass costs bench wall-clock but keeps the reported
    # per-query numbers meaningful.
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in BENCH_QUERIES + STREAMING_QUERIES:
        try:
            qs[name](spark, warm_dir).count()
        except Exception as exc:  # warm-up must never fail the bench
            print(f"# warm {name} failed: {exc}", file=sys.stderr)
    # drop the warm pass's cached relations/broadcasts so the timed runs
    # don't contend with them for storage memory
    spark.catalog.clearCache()

    # MEDIAN-of-3 is the official per-query number (r11 verdict: one
    # contended trial must not become the round's record — a median
    # flips only if >=2 of 3 sweeps move together). The min of the same
    # samples is kept in a side field: host contention on this shared
    # box is one-sided (only ever ADDS time; NOTES.md rounds 1+4), so
    # min estimates the PLAN's cost and is the apples-to-apples
    # comparator against the min-based r<=11 history.
    #
    # The 3 repeats run as FULL SWEEPS over the query list (pass 1 all
    # queries, pass 2 all queries, ...), not back-to-back per query: a
    # contention burst lasting a few minutes then corrupts the same
    # query in at most one pass, whereas consecutive repeats all sit
    # inside the burst (round-5 measured sem_filter 1.59s best-of-3
    # consecutive vs 0.57s isolated — all three repeats were inflated).
    samples: dict[str, list[float]] = {}
    rows: dict[str, int] = {}
    for sweep in range(3):
        for name in BENCH_QUERIES:
            fn = qs[name]
            t0 = time.time()
            try:
                df = fn(spark, sf_dir)
                rows[name] = df.count()
            except Exception as exc:  # keep sweeping; report and move on
                print(f"# sweep{sweep} {name} FAILED: {exc}",
                      file=sys.stderr)
                continue
            dt = time.time() - t0
            samples.setdefault(name, []).append(dt)
            if sweep == 0:
                # incremental line per query so a mid-run crash still
                # leaves a usable partial record on stderr
                print(f"# sweep0 {name}: {rows[name]} rows in {dt:.2f}s",
                      file=sys.stderr)

    # streaming rows: their own phase, 3 consecutive repeats each (the
    # batch sweeps are done — nothing left to interleave against)
    for name in STREAMING_QUERIES:
        for rep in range(3):
            t0 = time.time()
            try:
                rows[name] = qs[name](spark, sf_dir).count()
            except Exception as exc:
                print(f"# stream rep{rep} {name} FAILED: {exc}",
                      file=sys.stderr)
                continue
            samples.setdefault(name, []).append(time.time() - t0)

    def med(xs: list[float]) -> float:
        # with the full 3 samples this is the true median; with only 2
        # survivors (a sweep failed) sorted()[len//2] would pick the
        # LARGER sample — biased high by exactly the one-sided
        # contention noise the median protocol suppresses — so fall
        # back to min, the documented contention-robust estimator
        if len(xs) >= 3:
            return sorted(xs)[len(xs) // 2]
        return min(xs)

    timings: dict[str, float] = {}
    timings_min: dict[str, float] = {}
    n_samples: dict[str, int] = {}
    for name in BENCH_QUERIES + STREAMING_QUERIES:
        if name not in samples:
            continue  # failed in every sweep; already reported
        timings[name] = round(med(samples[name]), 3)
        timings_min[name] = round(min(samples[name]), 3)
        n_samples[name] = len(samples[name])
        print(f"# {name}: {rows[name]} rows in {timings[name]:.2f}s "
              f"(median; min {timings_min[name]:.2f}s)", file=sys.stderr)

    # micro-bench phase (streaming sink + the four daily index probes):
    # 3 repeats each, taken as ROUND-ROBIN ROUNDS over the whole set —
    # consecutive per-probe repeats let one tail-of-session contention
    # burst corrupt all three samples of the same probe (r12: the
    # decontam_probe flag that did not reproduce in isolation), whereas
    # a round-robin separates a probe's samples by the full round.
    # Correctness lives in the oracle rows; this phase is timing only.
    # Rows documented per probe: streaming_doc_stats = windowed corpus
    # stats over a file-source stream (no batch oracle — rows-only);
    # mhindex/decontam/cluster_assign = one increment probe against the
    # session-built index (build untimed, amortized-by-design);
    # cdc_apply = one snapshot upsert (pristine rebuild per call is
    # setup inside the function, excluded from its returned wall).
    micro = {
        "streaming_doc_stats": lambda: _timed(bench_streaming, spark,
                                              sf_dir),
        "mhindex_probe": lambda: _timed(bench_index_probe, spark, sf_dir),
        "decontam_probe": lambda: _timed(bench_decontam_probe, spark,
                                         sf_dir),
        "cluster_assign_probe": lambda: _timed(bench_cluster_assign,
                                               spark, sf_dir),
        "cdc_apply": lambda: bench_cdc_apply(spark, sf_dir),
    }
    msamples: dict[str, list[float]] = {}
    mrows: dict[str, int] = {}
    failed: set = set()
    for _ in range(3):
        for name, fn in micro.items():
            if name in failed:
                continue
            try:
                n, wall = fn()
            except Exception as exc:  # a probe must not fail the bench
                print(f"# {name} failed: {exc}", file=sys.stderr)
                failed.add(name)
                continue
            mrows[name] = n
            msamples.setdefault(name, []).append(wall)
    for name, xs in msamples.items():
        timings[name] = round(med(xs), 3)
        timings_min[name] = round(min(xs), 3)
        n_samples[name] = len(xs)
        print(f"# {name}: {mrows[name]} rows in {timings[name]:.2f}s "
              f"(median; min {timings_min[name]:.2f}s)", file=sys.stderr)

    total = round(sum(timings.values()), 3)

    # round-over-round delta: compare against the newest BENCH_r*.json so
    # per-query regressions are visible in the output, not just the total
    prev_name, regressions = None, {}
    comparable = {}
    try:
        import glob
        import re

        here = os.path.dirname(os.path.abspath(__file__))
        benches = sorted(
            glob.glob(os.path.join(here, "BENCH_r*.json")),
            key=lambda p: int(re.search(r"_r(\d+)", p).group(1)),
        )
        for path in reversed(benches):
            with open(path) as f:
                rec = json.load(f)
            parsed = rec.get("parsed") or rec
            prev_q = parsed.get("queries")
            if prev_q:
                prev_name = os.path.basename(path)
                # prior to r12 the recorded numbers WERE the per-query
                # min; from r12 on "queries" is the median and
                # "queries_min" carries the min — compare min-to-min
                prev_min = parsed.get("queries_min") or prev_q
                # a flag requires the MIN of 3 interleaved sweeps to
                # exceed 1.5x — i.e. every sweep reproduced the
                # slowdown; a single contended trial can no longer flag
                for k, v in timings_min.items():
                    p = prev_min.get(k)
                    if p and p > 0.05 and v > 1.5 * p:
                        regressions[k] = {"prev": p, "now_min": v,
                                          "now_median": timings.get(k)}
                # comparable-subset totals: newly added queries must not
                # mask round-over-round wins/losses in the headline total
                shared = [k for k in timings if k in prev_q]
                comparable = {
                    "n_queries": len(shared),
                    "total_now": round(sum(timings[k] for k in shared), 3),
                    "total_prev": round(sum(prev_q[k] for k in shared), 3),
                    "total_now_min": round(
                        sum(timings_min.get(k, timings[k])
                            for k in shared), 3),
                    "total_prev_min": round(
                        sum(prev_min.get(k, prev_q[k]) for k in shared), 3),
                }
                if comparable["total_prev"] > 0:
                    comparable["ratio"] = round(
                        comparable["total_now"] / comparable["total_prev"], 3
                    )
                if comparable["total_prev_min"] > 0:
                    comparable["ratio_min"] = round(
                        comparable["total_now_min"]
                        / comparable["total_prev_min"], 3
                    )
                break
    except Exception as exc:
        print(f"# bench-delta failed: {exc}", file=sys.stderr)

    record = {
        "metric": "headline_queries_total_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "queries_min": timings_min,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "prev_bench": prev_name,
        "regressions_vs_prev": regressions,
        "comparable_subset": comparable,
    }
    # The one-line contract must fit the driver's line-capture buffer:
    # r13's line overran it (BENCH_r13.json parsed:null — the whole
    # round-over-round comparison was lost), so the per-query sample
    # counts (r13 ADVICE: med() falls back to min below 3 samples —
    # rows with n_samples < 3 mix estimators and must be read as mins)
    # move to a sidecar artifact instead of riding the line. Same
    # measurements, same queries/queries_min keys on the line (r15;
    # documented in OPTIMIZATION_r15.md).
    try:
        here = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(here, "BENCH_details.json"), "w") as f:
            json.dump(dict(record, queries_n_samples=n_samples), f,
                      indent=1)
    except Exception as exc:  # the sidecar must never fail the bench
        print(f"# sidecar write failed: {exc}", file=sys.stderr)
    print(json.dumps(record))


if __name__ == "__main__":
    main()

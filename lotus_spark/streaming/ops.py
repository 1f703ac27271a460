"""Semantic + training-pipeline operators on Structured Streaming.

The reference is batch-only (SURVEY §1.1: "No streams"), so this module is
the Spark-native extension the task calls for: the same semantic operators
expressed over unbounded data. Three tiers:

1. **Stateless semantic stages** — ``sem_map``/``sem_filter`` are single
   Arrow-batched ``pandas_udf`` projections/predicates, which Structured
   Streaming supports as-is; the wrappers only reject batch-only options
   (cascades calibrate with actions; examples come from a batch df).
2. **Watermarked windowed aggregation** — per-window document statistics
   (docs/sec, token throughput, mean quality) with late-data handling.
3. **Custom stateful operator** — per-key running corpus statistics via
   ``applyInPandasWithState`` (the pattern for operators Spark lacks).

Scale notes: all stages are shuffle-free except the keyed/windowed aggs,
which shuffle on (key|window) exactly once; state is per-key-bounded and
checkpointed by the engine. Dedup state is bounded by the watermark via
``dropDuplicatesWithinWatermark``.
"""

from __future__ import annotations

import math
from typing import Any, Iterator, Optional, Tuple

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from lotus_spark.functions import text as T


def read_parquet_stream(
    spark: SparkSession,
    path: str,
    schema: Any,
    max_files_per_trigger: Optional[int] = None,
    glob: Optional[str] = None,
) -> DataFrame:
    """File-based streaming source over a parquet directory (the standard
    ingest shape for a training-data pipeline: files land, Spark picks
    them up incrementally). ``glob`` filters file names within the
    directory (Spark's file source requires a directory path)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    if glob is not None:
        reader = reader.option("pathGlobFilter", glob)
    return reader.parquet(path)


def _require_streaming(df: DataFrame, op: str) -> None:
    if not df.isStreaming:
        raise ValueError(f"{op} expects a streaming DataFrame; "
                         f"use the batch operator for batch inputs")


def state_sized_session(
    spark: SparkSession,
    *paths: str,
    target_bytes: int = 32 << 20,
    floor: int | None = None,
    cap: int = 8192,
) -> SparkSession:
    """A child session of ``spark`` to build, start and read ONE stateful
    stream on, with its state-store / shuffle partition count derived
    from the stream's input (optimization guide §2.2: size shuffle
    partitions to the data, never to the core count). Build the source
    (``read_parquet_stream(child, ...)``), start the sink and read a
    memory sink (``child.table(name)``) all on the returned session.

    ``spark.newSession()`` shares the SparkContext and the cache manager
    but owns its SQL conf and temp views, so the caller's session is
    never written: a batch query another thread plans on it while the
    stream starts keeps its own partition count, and the memory sink's
    view lives on the child only. A new session starts from the
    SparkContext's conf, dropping what the caller set at runtime (its
    time zone, say), so every modifiable SQL conf that differs is
    copied over first.

    Structured Streaming pins ``spark.sql.shuffle.partitions`` at first
    query start as the state-store partition count for the checkpoint's
    lifetime, and EVERY micro-batch commits EVERY state partition (one
    delta file + store bookkeeping per partition per batch) even when a
    partition holds a handful of keys. A count inherited from the batch
    session — sized to the core count — therefore buys pure per-partition
    commit overhead on small per-trigger inputs: the 8-core bench run was
    measurably FASTER than the 32-core run on every stateful row
    (PERF_r14 scaling block, ratios 0.42-0.76). One partition per
    ``target_bytes`` of the bytes under ``paths`` keeps the commit count
    proportional to data — the same scale-adaptive sizing pattern as
    ``kmeans._bound_train_partitions`` — while the map-side work (the
    expensive fingerprint/token expressions run BEFORE the state
    exchange) keeps its scan/repartition parallelism. ``cap`` bounds
    the derived count; missing paths count zero bytes.

    ``floor`` picks the small-input regime by the state operator's
    per-partition COMPUTE, not its commit cost (measured sweep at sf0.1,
    OPTIMIZATION_r15.md): the default ``None`` = ``min(8,
    defaultParallelism)`` suits operators that do O(rows) work inside
    each state partition per micro-batch — session-window sort-merge,
    per-key ``applyInPandasWithState`` functions, stream-static joins
    planned under the same conf — which serialize on one core below it
    (streaming_sessions measured 2.4s at 1 partition vs 1.6s at 4-8).
    Pass ``floor=1`` for O(1)-per-row state lookups
    (``dropDuplicatesWithinWatermark``), where extra partitions are pure
    commit overhead (streaming_neardup measured 2.0s at 1 vs 3.0s at 8)
    and the expensive fingerprint expressions run map-side BEFORE the
    state exchange anyway.
    """
    if floor is None:
        floor = max(1, min(8, spark.sparkContext.defaultParallelism))
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    total = 0
    for p in paths:
        hp = jvm.org.apache.hadoop.fs.Path(p)
        fs = hp.getFileSystem(conf)
        if fs.exists(hp):
            total += int(fs.getContentSummary(hp).getLength())
    derived = math.ceil(total / target_bytes) if total else floor

    child = spark.newSession()
    mine, theirs = spark.conf.getAll, child.conf.getAll
    for k in set(mine) | set(theirs):
        if mine.get(k) != theirs.get(k) and spark.conf.isModifiable(k):
            if k in mine:
                child.conf.set(k, mine[k])
            else:
                child.conf.unset(k)
    child.conf.set("spark.sql.shuffle.partitions",
                   str(max(floor, min(cap, derived))))
    return child


def sem_map_stream(
    df: DataFrame,
    user_instruction: str,
    lm: Any = None,
    suffix: str = "_map",
    system_prompt: Optional[str] = None,
    fmt: Optional[str] = None,
    **model_kwargs: Any,
) -> DataFrame:
    """Per-row LLM transform on a stream — the stateless subset of
    ``sem_map`` (no examples df / cascades, which need batch actions)."""
    from lotus_spark.nl_expression import nle2str, parse_cols
    from lotus_spark.operators.sem_map import _resolve_lm, build_map_udf
    from lotus_spark.session import settings

    _require_streaming(df, "sem_map_stream")
    cols = parse_cols(user_instruction)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in stream: {missing}")
    instr = nle2str(user_instruction, cols)
    udf = build_map_udf(
        _resolve_lm(lm), instr, cols, None, None, system_prompt,
        fmt or settings.serialization_format, **model_kwargs,
    )
    struct = F.struct(*[F.col(f"`{c}`") for c in cols])
    return (df.withColumn("__m", udf(struct))
              .withColumn(suffix.lstrip("_") if not suffix.startswith("_")
                          else cols[0] + suffix, F.col("__m.answer"))
              .drop("__m"))


def sem_filter_stream(
    df: DataFrame,
    user_instruction: str,
    lm: Any = None,
    default: bool = True,
    output_tokens: Tuple[str, str] = ("True", "False"),
    system_prompt: Optional[str] = None,
    fmt: Optional[str] = None,
    **model_kwargs: Any,
) -> DataFrame:
    """NL predicate on a stream — stateless subset of ``sem_filter``."""
    from lotus_spark.nl_expression import nle2str, parse_cols
    from lotus_spark.operators.sem_filter import build_filter_udf
    from lotus_spark.operators.sem_map import _resolve_lm
    from lotus_spark.session import settings

    _require_streaming(df, "sem_filter_stream")
    cols = parse_cols(user_instruction)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns not in stream: {missing}")
    instr = nle2str(user_instruction, cols)
    udf = build_filter_udf(
        _resolve_lm(lm), instr, cols, default, output_tokens, None, None,
        system_prompt, fmt or settings.serialization_format, **model_kwargs,
    )
    struct = F.struct(*[F.col(f"`{c}`") for c in cols])
    return df.withColumn("__f", udf(struct)).filter(F.col("__f.label")).drop("__f")


def streaming_dedup(
    df: DataFrame,
    cols: list[str],
    ts_col: str,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup with bounded state: duplicates arriving within
    the watermark horizon are dropped; older state is evicted."""
    _require_streaming(df, "streaming_dedup")
    return df.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(cols)


def windowed_doc_stats(
    df: DataFrame,
    text_col: str,
    ts_col: str,
    window: str = "1 minute",
    slide: Optional[str] = None,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Watermarked per-window corpus statistics (docs, tokens, mean quality).

    One shuffle on the window key; partial aggregation is map-side. Late
    rows beyond the watermark are dropped (append-mode emittable)."""
    _require_streaming(df, "windowed_doc_stats")
    win = (F.window(ts_col, window, slide) if slide
           else F.window(ts_col, window))
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(win.alias("win"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(T.token_count(F.col(text_col))).alias("n_tokens"),
            F.avg(T.quality_score(F.col(text_col))).alias("avg_quality"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_docs", "n_tokens", "avg_quality",
        )
    )


_RUN_STATE = StructType([
    StructField("n_docs", LongType()),
    StructField("n_tokens", LongType()),
    StructField("quality_sum", DoubleType()),
])

_RUN_OUT = StructType([
    StructField("key", StringType()),
    StructField("n_docs", LongType()),
    StructField("n_tokens", LongType()),
    StructField("avg_quality", DoubleType()),
])


def running_doc_stats(
    df: DataFrame,
    key_col: str,
    text_col: str,
) -> DataFrame:
    """Custom stateful operator: per-key *running* corpus statistics,
    updated every micro-batch via ``applyInPandasWithState``.

    This is the template for operators Spark lacks (task brief: "custom
    stateful operators"): per-key state is a tiny fixed-size tuple, so state
    size is O(#distinct keys) regardless of stream length."""
    _require_streaming(df, "running_doc_stats")

    def update(key: Tuple[str], pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        if state.exists:
            n_docs, n_tokens, q_sum = state.get
        else:
            n_docs, n_tokens, q_sum = 0, 0, 0.0
        for pdf in pdfs:
            texts = pdf[text_col].astype(str)
            n_docs += len(pdf)
            # same whitespace tokenization as functions.text.tokens
            n_tokens += int(texts.str.split().map(len).sum())
            qs = texts.map(_py_quality)
            q_sum += float(qs.sum())
        state.update((n_docs, n_tokens, q_sum))
        yield pd.DataFrame({
            "key": [key[0]],
            "n_docs": [n_docs],
            "n_tokens": [n_tokens],
            "avg_quality": [q_sum / n_docs if n_docs else 0.0],
        })

    return (
        df.select(F.col(key_col).cast("string").alias("key"), text_col)
        .groupBy("key")
        .applyInPandasWithState(
            update, _RUN_OUT, _RUN_STATE, "update",
            GroupStateTimeout.NoTimeout,
        )
    )


def sessionized_stats(
    df: DataFrame,
    ts_col: str,
    key_col: str,
    gap: str = "30 minutes",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming gap sessionization via Spark's native ``session_window``
    — the canonical stateful-streaming operator (batch twin:
    ``functions.timeseries.sessionize``). Emits one row per closed
    (key, session): start, end (last event + gap), event count.

    State is per-open-session bounded and evicted by the watermark:
    in append mode a session row is emitted only once its window end
    falls at or before the current watermark (max event time seen minus
    ``watermark``) — sessions still inside the lateness horizon stay in
    state. One shuffle on (key, session-window); partials merge map-side.
    """
    _require_streaming(df, "sessionized_stats")
    win = F.session_window(F.col(ts_col), gap)
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(F.col(key_col), win.alias("sess"))
        .agg(F.count("*").alias("n_events"))
        .select(
            key_col,
            F.col("sess.start").alias("session_start"),
            F.col("sess.end").alias("session_end"),
            "n_events",
        )
    )


def _py_quality(text: str) -> float:
    """Python twin of ``functions.text.quality_score`` for the stateful path
    (kept in lockstep by a parity test in test_streaming):
    0.4*min(stopword_ratio*5, 1) + 0.4*alpha_ratio + 0.2*len_ok, rounded 4."""
    s = str(text)
    toks = [t for t in s.strip().lower().split()]
    n = len(toks)
    sw = (sum(1 for t in toks if t in T.STOPWORDS) / n) if n else 0.0
    length = len(s)
    alpha = sum(1 for ch in s if ("a" <= ch <= "z") or ("A" <= ch <= "Z"))
    al = (alpha / length) if length else 0.0
    atl = (sum(len(t) for t in toks) / n) if n else 0.0
    len_ok = 1.0 if 3.0 <= atl <= 10.0 else 0.0
    return round(0.4 * min(sw * 5.0, 1.0) + 0.4 * al + 0.2 * len_ok, 4)


def gate_stream_by_thresholds(
    stream: DataFrame,
    thresholds: DataFrame,
    key: str,
    score: "F.Column",
    score_col: str = "quality",
    cutoff_col: str = "cutoff",
    keep_unknown_keys: bool = False,
) -> DataFrame:
    """Stream-STATIC join quality gate: score each streaming document with
    a per-row expression and keep it only if it clears its key's cutoff
    from a BATCH-computed thresholds table (e.g. per-language quality
    quantiles from ``quantile_filter``'s calibration run). This is the
    production shape for gating a live crawl: thresholds are recomputed
    offline on a schedule, the stream just joins them — Structured
    Streaming re-reads the static side per micro-batch, so replacing the
    thresholds table re-tunes the gate without restarting the query.

    The static side is broadcast (per-key cutoffs are tiny by
    construction — one row per language/source), so the stream stays
    shuffle-free: score projection + broadcast hash join + filter, all
    inside the micro-batch's map stage. Keys absent from ``thresholds``
    drop their docs unless ``keep_unknown_keys`` (explicit beats a NULL
    comparison silently deciding).
    """
    _require_streaming(stream, "gate_stream_by_thresholds")
    cols = set(thresholds.columns)
    if key not in cols or cutoff_col not in cols:
        raise ValueError(
            f"thresholds must have columns ({key!r}, {cutoff_col!r}); "
            f"got {sorted(cols)}"
        )
    clash = {score_col, cutoff_col} & set(stream.columns)
    if clash:
        raise ValueError(
            f"stream already has column(s) {sorted(clash)}; pass a "
            f"different score_col/cutoff_col (a silent overwrite or an "
            f"ambiguous join reference would corrupt the gate)"
        )
    scored = stream.withColumn(score_col, score)
    joined = scored.join(
        F.broadcast(thresholds.select(key, cutoff_col)), key, "left"
    )
    passed = F.col(score_col) >= F.col(cutoff_col)
    if keep_unknown_keys:
        keep = F.col(cutoff_col).isNull() | passed
    else:
        keep = F.col(cutoff_col).isNotNull() & passed
    return joined.filter(keep).drop(cutoff_col)


def streaming_neardup(
    df: DataFrame,
    col: str,
    ts_col: str,
    watermark: str = "10 minutes",
    bits: int = 16,
    n_bits: int = 30,
) -> DataFrame:
    """Streaming NEAR-duplicate drop: documents whose SimHash agrees on
    the low ``bits`` of ``n_bits`` within the watermark horizon are
    treated as near-duplicates and only the first survives — the
    streaming tier of the dedup ladder (``streaming_dedup`` = exact
    match; batch ``minhash_lsh_dedup`` = the precise version for the
    backfill path). Coarser ``bits`` = more aggressive merging; the
    trade is explicit and the fingerprint is the same deterministic
    ``functions.dedup.simhash`` the batch side uses, so a batch replay
    with the same key agrees row-for-row.

    State is one key per surviving bucket, watermark-evicted
    (``dropDuplicatesWithinWatermark``); the fingerprint itself is a
    pure map-side expression — no shuffle beyond the dedup state
    exchange.
    """
    from lotus_spark.functions.dedup import simhash_expr

    _require_streaming(df, "streaming_neardup")
    if not (1 <= bits <= n_bits):
        raise ValueError("bits must be in [1, n_bits]")
    if n_bits > 30:
        # token hashes are polynomial folds mod 1e9+7 < 2^30, so
        # fingerprint bits >= 30 are constant zero; silently counting
        # them as signal would weaken the bucket (bits=2 over the top
        # of a 32-bit print would collapse the whole stream into ONE
        # bucket and drop everything after the first doc)
        raise ValueError(
            "n_bits must be <= 30: the underlying token hash is < 2^30, "
            "so higher fingerprint bits carry no signal"
        )
    fp = simhash_expr(F.col(col), n_bits=n_bits)
    # bucket on the LOW `bits` (pmod): genuine signal at every width
    bucket = F.pmod(fp, F.lit(2 ** bits)).cast("long")
    return (
        df.withWatermark(ts_col, watermark)
        .withColumn("__nd_bucket", bucket)
        .dropDuplicatesWithinWatermark(["__nd_bucket"])
        .drop("__nd_bucket")
    )


def mg_merge(counters: dict, batch: dict, capacity: int) -> dict:
    """Weighted Misra–Gries merge of ``batch`` term counts into a
    summary of at most ``capacity`` counters (mutates and returns
    ``counters``). Invariants (property-tested in
    ``tests/test_properties.py``): len <= capacity; estimates never
    OVERcount; each estimate undercounts by at most
    total_weight/ (capacity+1); any term with true frequency above that
    bound is present. Deterministic: batch terms merge in sorted order."""
    for t, w in sorted(batch.items()):
        if t in counters:
            counters[t] += w
        elif len(counters) < capacity:
            counters[t] = w
        else:
            d = min(min(counters.values()), w)
            for kk in list(counters):
                counters[kk] -= d
                if counters[kk] == 0:
                    del counters[kk]
            w -= d
            if w > 0 and len(counters) < capacity:
                counters[t] = w
    return counters


_HH_STATE = StructType([
    StructField("terms", ArrayType(StringType())),
    StructField("counts", ArrayType(LongType())),
])

_HH_OUT = StructType([
    StructField("window_start", TimestampType()),
    StructField("term", StringType()),
    StructField("est_count", LongType()),
    StructField("rank", LongType()),
])


def streaming_heavy_hitters(
    df: DataFrame,
    text_col: str,
    ts_col: str,
    window: str = "1 minute",
    capacity: int = 64,
    k: int = 10,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Per-window heavy-hitter terms in BOUNDED memory — the streaming
    "what is trending in the crawl right now" operator. A plain
    windowed ``groupBy(term).count()`` keeps one state row per DISTINCT
    term per window (the vocabulary — unbounded); this keeps at most
    ``capacity`` counters per window via the Misra–Gries summary, the
    deterministic heavy-hitters algorithm: every term with true
    frequency > n/capacity is guaranteed present, and each estimate
    undercounts by at most n/capacity. With ``capacity`` >= the
    window's distinct-term count the summary is EXACT (the parity test
    pins this against batch counts).

    Emits the current top ``k`` (estimate DESC, term ASC) per window on
    every update (update output mode). State = one
    (terms[], counts[]) pair per ACTIVE window, evicted by event-time
    timeout once the watermark passes the window end — total state is
    O(active_windows x capacity), stream-length-independent.

    Template notes: this is the ``applyInPandasWithState`` pattern for
    sketch-backed operators Spark lacks natively (count-min, space
    saving, quantile sketches slot into the same shape).

    Boundary gotcha (applies to every ``applyInPandasWithState`` op,
    unlike windowed aggregations): rows whose event time equals the
    INITIAL watermark (epoch 0) are filtered as late before reaching
    the state function — a windowed ``groupBy().count()`` keeps them
    because its late filter compares the window END to the watermark.
    Real event times are never epoch 0; synthetic ts columns derived
    from ids must offset away from 0 (see the oracle row in
    ``__spark_entry__.q_streaming_heavy_hitters``).
    """
    _require_streaming(df, "streaming_heavy_hitters")
    if capacity < 1 or k < 1:
        raise ValueError("capacity and k must be >= 1")
    win = F.window(F.col(ts_col).cast("timestamp"), window)
    toks = (
        df.withWatermark(ts_col, watermark)
        # the watermarked event-time column must FLOW INTO the stateful
        # op (event-time timeout needs it) — keep it alongside the
        # window bounds and the exploded terms
        .select(F.col(ts_col), win.alias("__w"),
                F.col(text_col).alias("__t"))
        .select(
            F.col(ts_col),
            F.col("__w.start").alias("wstart"),
            F.col("__w.end").alias("wend"),
            F.explode(F.split(F.trim(F.col("__t")), r"\s+")).alias("term"),
        )
        .filter(F.length("term") > 0)
    )

    def update(key, pdfs: Iterator[pd.DataFrame],
               state: GroupState) -> Iterator[pd.DataFrame]:
        empty = pd.DataFrame({
            "window_start": pd.Series([], dtype="datetime64[us]"),
            "term": pd.Series([], dtype=object),
            "est_count": pd.Series([], dtype="int64"),
            "rank": pd.Series([], dtype="int64"),
        })
        if state.hasTimedOut:
            state.remove()
            yield empty
            return
        wstart, wend = key
        c: dict[str, int] = {}
        if state.exists:
            terms, counts = state.get
            c = dict(zip(terms, counts))
        batch: dict[str, int] = {}
        for pdf in pdfs:
            for t, n in pdf["term"].value_counts().items():
                batch[t] = batch.get(t, 0) + int(n)
        c = mg_merge(c, batch, capacity)
        state.update((list(c.keys()), [int(v) for v in c.values()]))
        # evict once the watermark passes this window's end
        state.setTimeoutTimestamp(int(pd.Timestamp(wend).value // 1_000_000))
        top = sorted(c.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        if not top:
            yield empty
            return
        yield pd.DataFrame({
            "window_start": [pd.Timestamp(wstart)] * len(top),
            "term": [t for t, _ in top],
            "est_count": [int(v) for _, v in top],
            "rank": list(range(1, len(top) + 1)),
        })

    return toks.groupBy("wstart", "wend").applyInPandasWithState(
        update, _HH_OUT, _HH_STATE, "update",
        GroupStateTimeout.EventTimeTimeout,
    )


def streaming_neardup_minhash(
    df: DataFrame,
    col: str,
    ts_col: str,
    watermark: str = "10 minutes",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
) -> DataFrame:
    """Streaming MinHash-band near-duplicate drop — the streaming twin of
    batch ``minhash_lsh_dedup``, bucketing with the SAME signature and
    band-key expressions (``dedup.minhash_expr`` /
    ``minhash_band_keys``), so the two tiers of the dedup ladder agree
    on what a candidate duplicate is. A document is dropped when ANY of
    its ``bands`` band keys was emitted by an earlier survivor within
    the watermark horizon — the batch candidate rule (P[share a band] ≈
    1-(1-J^(n/bands))^bands), minus the exact-Jaccard verify: streaming
    is the conservative online tier; run the batch verifier on the
    backfill path when false merges matter.

    Plan: the signature and band keys are pure map-side expressions;
    the drop is a CHAIN of ``bands`` ``dropDuplicatesWithinWatermark``
    stateful operators (append-mode-compatible chaining, Spark ≥ 3.5) —
    each holds one watermark-evicted key per surviving document, so
    total state is ``bands`` keys per survivor, and rows eliminated at
    band i never reach (or grow) band i+1's state. One shuffle per band
    on the band key. Note the chaining asymmetry vs batch: a document
    dropped at band i does not register its later bands, so a third
    document colliding with the DROPPED one's band j>i (but not with
    the survivor's) passes — the batch tier's connected components
    would have merged it transitively. Acceptable for the online
    candidate filter; the backfill verifier restores exactness.
    """
    from lotus_spark.functions.dedup import minhash_band_keys, minhash_expr

    _require_streaming(df, "streaming_neardup_minhash")
    if bands < 1 or n_hashes % bands != 0:
        raise ValueError(
            f"bands={bands} must be >= 1 and divide n_hashes={n_hashes}")
    sig = minhash_expr(F.col(col), n_hashes=n_hashes, shingle_n=shingle_n)
    out = df.withWatermark(ts_col, watermark).withColumn("__mh_sig", sig)
    keys = minhash_band_keys(F.col("__mh_sig"), n_hashes, bands)
    for i, key in enumerate(keys):
        out = (
            out.withColumn(f"__mh_band{i}", key)
            .dropDuplicatesWithinWatermark([f"__mh_band{i}"])
        )
    return out.drop("__mh_sig", *[f"__mh_band{i}" for i in range(bands)])

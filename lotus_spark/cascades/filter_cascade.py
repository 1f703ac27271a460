"""Filter cascade: helper-LM proxy scores + learned thresholds + oracle gray zone.

Reference flow (``lotus/sem_ops/sem_filter.py:394-603``):
1. score every row with the cheap helper LM's True/False logprobs,
   normalized P(pos)/(P(pos)+P(neg)) (``lm.py:580-611``), quantile-calibrated
2. importance-sample a slice, label it with the oracle LM
3. learn (τ⁺, τ⁻) meeting recall/precision targets at failure probability
4. route: score ≥ τ⁺ accept, ≤ τ⁻ reject, else oracle LM

Spark design: the proxy pass is one Arrow-batched UDF over all rows; the
sample is the only ``collect``; routing is a pair of native filters + one
oracle UDF pass over the gray-zone partition + ``unionByName``. The expensive
oracle therefore touches only the gray zone — the cascade's entire point at
100 TB scale.
"""

from __future__ import annotations

import math
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType

from lotus_spark.cascades.utils import CascadeArgs, learn_filter_thresholds
from lotus_spark.models.lm import call_distinct
from lotus_spark.operators import prompts
from lotus_spark.operators.postprocessors import parse_bool
from lotus_spark.partitioning import ensure_parallelism
from lotus_spark.serialization import docs_from_pdf
from lotus_spark.session import settings

PROXY_SCORE_COL = "__proxy_score"


def proxy_score_udf(helper_lm: Any, instruction: str, cols: list[str],
                    output_tokens: tuple[str, str], fmt: str):
    """P(positive) from the helper LM's first-token logprobs; falls back to
    1.0/0.0 from the parsed answer when the model exposes no logprobs."""

    @F.pandas_udf(DoubleType())
    def _score(batch: pd.DataFrame) -> pd.Series:
        docs = docs_from_pdf(batch, cols, fmt)
        msgs = [prompts.filter_messages(d, instruction, output_tokens) for d in docs]
        out = call_distinct(helper_lm, msgs, logprobs=True)
        pos_tok, neg_tok = output_tokens
        scores = []
        for i, ans in enumerate(out.outputs):
            lp = out.logprobs[i] if out.logprobs else None
            if lp and pos_tok in lp and neg_tok in lp:
                p_pos = math.exp(lp[pos_tok])
                p_neg = math.exp(lp[neg_tok])
                scores.append(p_pos / (p_pos + p_neg) if (p_pos + p_neg) > 0 else 0.5)
            else:
                scores.append(1.0 if parse_bool(ans, False, output_tokens) else 0.0)
        return pd.Series(scores, index=batch.index)

    return _score


def _score_frozen(df: DataFrame, helper_lm: Any, instruction: str,
                  cols: list[str], output_tokens: tuple[str, str],
                  fmt: str) -> DataFrame:
    """Proxy-score every row with the helper LM and freeze the result, so
    calibration, sampling and routing all read one set of scores. A
    few-partition input is spread first: the checkpoint keeps its layout,
    so every LM stage downstream of the cascade inherits it."""
    return ensure_parallelism(df).withColumn(
        PROXY_SCORE_COL,
        proxy_score_udf(helper_lm, instruction, cols, output_tokens, fmt)(
            F.struct(*[F.col(f"`{c}`") for c in cols])
        ),
    ).localCheckpoint()


def _bucketize(scored: DataFrame, n_q: int) -> DataFrame:
    """Distributed quantile calibration: approxQuantile boundaries → bucket
    index column (bucket k ⇔ calibrated score (k+1)/n_q). No full collect."""
    probs = [i / n_q for i in range(1, n_q)]
    boundaries = scored.approxQuantile(PROXY_SCORE_COL, probs, 0.001)
    bucket_expr = F.lit(0)
    for b, edge in enumerate(boundaries):
        bucket_expr = F.when(F.col(PROXY_SCORE_COL) > edge, b + 1).otherwise(bucket_expr)
    return scored.withColumn("__bucket", bucket_expr)


def _sample_and_learn(
    bucketed: DataFrame,
    n_total: int,
    cols: list[str],
    instruction: str,
    oracle_lm: Any,
    default: bool,
    output_tokens: tuple[str, str],
    cascade_args: CascadeArgs,
    fmt: str,
    store: Any = None,
    store_key: str | None = None,
    **model_kwargs: Any,
) -> tuple[float, float]:
    """Stratified-sample buckets ∝ √score (defensive uniform mixing), label
    the sample with the oracle, learn (τ⁺, τ⁻). Only the sample is collected.

    ``store``/``store_key`` (a ``plans.optimizers.CalibrationStore``)
    record the labeled sample's importance-weighted selectivity so other
    optimize-time consumers (FilterReorderOptimizer) reuse this oracle
    pass instead of labeling their own sample."""
    n_q = cascade_args.cascade_num_calibration_quantiles
    target = int(
        np.clip(
            round(n_total * cascade_args.sampling_percentage),
            min(cascade_args.min_sample_size, n_total),
            min(cascade_args.max_sample_size, n_total),
        )
    )
    w = cascade_args.cascade_IS_weight
    bucket_scores = np.array([(b + 1) / n_q for b in range(n_q)])
    prop = np.sqrt(bucket_scores) / np.sqrt(bucket_scores).sum()
    mix = w * prop + (1.0 - w) / n_q
    per_bucket_n = n_total / n_q  # quantile buckets are ~equal-sized
    fractions = {
        b: float(min(1.0, target * mix[b] / max(per_bucket_n, 1.0)))
        for b in range(n_q)
    }
    sample_pdf = (
        bucketed.sampleBy("__bucket", fractions, seed=42)
        .select("__bucket", *cols)
        .toPandas()
    )
    if len(sample_pdf) == 0:
        sample_pdf = bucketed.select("__bucket", *cols).limit(
            cascade_args.min_sample_size
        ).toPandas()

    docs = docs_from_pdf(sample_pdf, cols, fmt)
    msgs = [prompts.filter_messages(d, instruction, output_tokens) for d in docs]
    oracle_out = call_distinct(oracle_lm, msgs, **model_kwargs).outputs
    labels = np.array([parse_bool(o, default, output_tokens) for o in oracle_out])

    cal_sample = (sample_pdf["__bucket"].to_numpy() + 1) / n_q
    corr = np.array(
        [1.0 / max(fractions.get(int(b), 1.0), 1e-9) for b in sample_pdf["__bucket"]]
    )
    if store is not None and store_key is not None:
        store.put_labels(store_key, labels, corr)
    return learn_filter_thresholds(
        cal_sample, labels, corr,
        cascade_args.recall_target,
        cascade_args.precision_target,
        cascade_args.failure_probability,
    )


def learn_taus_on(train_df: DataFrame, instruction: str, kwargs: dict,
                  store: Any = None) -> tuple[float, float]:
    """Prewarm entry point (CascadePrewarmOptimizer): run the cascade's
    calibrate→sample→label→learn phase on train data, return (τ⁺, τ⁻) in
    calibrated space (transferable across datasets via quantile calibration).
    ``store`` shares the oracle labeling with other optimizers (keyed by
    the RAW instruction — the same key FilterReorderOptimizer uses)."""
    from lotus_spark.nl_expression import nle2str, parse_cols
    from lotus_spark.operators.sem_map import _resolve_lm

    cols = parse_cols(instruction)
    instr = nle2str(instruction, cols)
    cascade_args: CascadeArgs = kwargs["cascade_args"]
    oracle = _resolve_lm(kwargs.get("lm"))
    helper = kwargs.get("helper_lm") or settings.helper_lm
    output_tokens = kwargs.get("output_tokens", ("True", "False"))
    fmt = settings.serialization_format
    scored = _score_frozen(train_df, helper, instr, cols, output_tokens, fmt)
    bucketed = _bucketize(scored, cascade_args.cascade_num_calibration_quantiles)
    return _sample_and_learn(
        bucketed, scored.count(), cols, instr, oracle,
        kwargs.get("default", True), output_tokens, cascade_args, fmt,
        store=store, store_key=instruction,
    )


def sem_filter_cascade(
    df: DataFrame,
    instruction: str,
    cols: list[str],
    oracle_lm: Any,
    default: bool,
    suffix: str,
    return_all: bool,
    output_tokens: tuple[str, str],
    cascade_args: CascadeArgs,
    fmt: str,
    helper_lm: Any = None,
    **model_kwargs: Any,
) -> DataFrame:
    from lotus_spark.operators.sem_filter import build_filter_udf

    helper = helper_lm if helper_lm is not None else settings.helper_lm
    if helper is None:
        raise ValueError("filter cascade needs a helper_lm (settings.helper_lm)")

    # 1) proxy-score all rows (cheap model), freeze for consistent sampling
    scored = _score_frozen(df, helper, instruction, cols, output_tokens, fmt)

    n_q = cascade_args.cascade_num_calibration_quantiles
    bucketed = _bucketize(scored, n_q)

    # 2) thresholds: pre-warmed (pinned by CascadePrewarmOptimizer) or learned
    #    now on a stratified oracle-labeled sample
    if cascade_args.tau_pos is not None and cascade_args.tau_neg is not None:
        tau_pos, tau_neg = cascade_args.tau_pos, cascade_args.tau_neg
    else:
        tau_pos, tau_neg = _sample_and_learn(
            bucketed, scored.count(), cols, instruction, oracle_lm, default,
            output_tokens, cascade_args, fmt, **model_kwargs,
        )
    # 3) route on the calibrated bucket index: bucket k has calibrated score
    # (k+1)/n_q, so cal ≥ τ⁺ ⟺ k ≥ ceil(τ⁺·n_q)−1 and cal ≤ τ⁻ ⟺ k < τ⁻·n_q.
    k_accept = int(np.ceil(tau_pos * n_q)) - 1 if tau_pos <= 1.0 else n_q + 1
    k_reject = int(np.floor(tau_neg * n_q)) - 1 if tau_neg > 0.0 else -1
    k_reject = min(k_reject, k_accept - 1)

    accepted = bucketed.filter(F.col("__bucket") >= k_accept).withColumn(
        suffix, F.lit(True)
    )
    rejected = bucketed.filter(F.col("__bucket") <= k_reject).withColumn(
        suffix, F.lit(False)
    )
    gray = bucketed.filter(
        (F.col("__bucket") > k_reject) & (F.col("__bucket") < k_accept)
    )
    oracle_udf = build_filter_udf(
        oracle_lm, instruction, cols, default, output_tokens, None, None, None, fmt,
        **model_kwargs,
    )
    gray_labeled = gray.withColumn(
        "__o", oracle_udf(F.struct(*[F.col(f"`{c}`") for c in cols]))
    ).withColumn(suffix, F.col("__o.label")).drop("__o")

    out = accepted.unionByName(rejected).unionByName(gray_labeled)
    out = out.drop(PROXY_SCORE_COL, "__bucket")
    if return_all:
        return out
    return out.filter(F.col(f"`{suffix}`")).drop(suffix)

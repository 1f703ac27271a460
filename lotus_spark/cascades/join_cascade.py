"""Join cascade: proxy-scored pairs + learned thresholds + oracle gray zone.

Reference flow (``lotus/sem_ops/sem_join.py:180-341,424-544``): instead of
evaluating the LM on the full |L×R| product, score every pair with a cheap
proxy, learn (τ⁺, τ⁻) on an oracle-labeled sample, accept the confident
pairs and route only the gray zone through the oracle LM. Two candidate
plans (``:376-421,505-544``):

- ``search_filter`` — proxy = embedding similarity of the joined columns;
- ``map_search_filter`` — first ``sem_map`` each *distinct* left value to
  its likely right-side counterpart ("Given {left}, identify the most
  relevant {right}…"), then proxy = similarity of the *mapped* left text to
  the right column. Wins when the raw columns live in different vocabulary
  spaces (symptoms ↔ diagnoses, queries ↔ titles).

With ``cascade_args.join_cascade_strategy`` unset, BOTH plans are learned
and the one needing fewer oracle calls (smaller gray zone) runs — the
reference's plan-cost analysis. Note (faithful to the reference): the
chooser compares gray zones only; the learning cost of the losing plan is
sunk, so forcing a known-good strategy is cheaper than auto when you have
one. The activation size gate lives in ``sem_join``
(``min_join_cascade_size``).

Caveat shared with the reference: the recall certificate is only as strong
as the number of *positive* pairs in the labeled sample — for needle-in-
haystack joins (positive rate ≪ 1/sample size) raise
``sampling_percentage``/``min_sample_size`` or force
``join_cascade_strategy`` with pinned thresholds.

Spark design: pair scoring is a broadcast pair join + JVM-side cosine — no
Python per pair. The plan-B map runs once per distinct left value (bounded
by |distinct L|, not |L×R|). Sampling/threshold learning mirror the filter
cascade (quantile buckets, stratified sample, Hoeffding-corrected search);
only the sampled slices and the plan decision touch the driver.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lotus_spark.cascades.utils import CascadeArgs, learn_filter_thresholds
from lotus_spark.functions.vectors import pair_cosine
from lotus_spark.models.lm import call_distinct
from lotus_spark.operators import prompts
from lotus_spark.operators.postprocessors import parse_bool
from lotus_spark.serialization import docs_from_pdf
from lotus_spark.operators.sem_index import _resolve_rm, with_embeddings

SCORE = "__pair_score"

PLANS = ("search_filter", "map_search_filter")


@dataclass
class _PlanEval:
    name: str
    bucketed: DataFrame
    k_accept: int
    k_reject: int
    gray_count: int


def _default_map_instruction(lcol: str, rcol: str) -> str:
    # reference default (sem_join.py:407-409)
    return (
        f"Given {{{lcol}}}, identify the most relevant {rcol}. Always write "
        f"your answer as a list of 2-10 comma-separated {rcol}."
    )


def _score_pairs(
    left: DataFrame,
    right: DataFrame,
    plan: str,
    lcols: list[str],
    rcols: list[str],
    instruction: str,
    oracle_lm,
    rm,
    map_instruction: Optional[str],
    **model_kwargs,
) -> DataFrame:
    """All (left × right) pairs with a proxy score column for ``plan``."""
    if plan == "map_search_filter":
        from lotus_spark.operators.sem_map import sem_map

        lcol = lcols[0]
        distinct_l = left.select(lcol).distinct()
        instr = map_instruction or _default_map_instruction(lcol, rcols[0])
        mapped = sem_map(distinct_l, instr, lm=oracle_lm,
                         suffix="__mapped_l", **model_kwargs)
        l = left.join(F.broadcast(mapped), lcol, "left")
        l = with_embeddings(l, "__mapped_l", rm, "__le").drop("__mapped_l")
    else:
        l = with_embeddings(left, lcols[0], rm, "__le")
    r = with_embeddings(right, rcols[0], rm, "__re")
    pairs = l.crossJoin(F.broadcast(r))
    pairs = pairs.withColumn(SCORE, pair_cosine(F.col("__le"), F.col("__re")))
    return pairs.drop("__le", "__re")


def thresholds_to_buckets(tau_pos: float, tau_neg: float,
                          n_q: int) -> tuple[int, int]:
    """Map learned (τ⁺, τ⁻) onto quantile-bucket cutoffs: accept buckets
    ``>= k_accept``, reject buckets ``<= k_reject``, gray in between.
    Pure arithmetic shared by :func:`_evaluate_plan` and the plan-choice
    property test (tests/test_cascades.py) so the test exercises the
    operator's real routing math, not a re-derivation."""
    k_accept = int(np.ceil(tau_pos * n_q)) - 1 if tau_pos <= 1.0 else n_q + 1
    k_reject = int(np.floor(tau_neg * n_q)) - 1 if tau_neg > 0.0 else -1
    return k_accept, min(k_reject, k_accept - 1)


def _evaluate_plan(
    pairs: DataFrame,
    plan: str,
    doc_cols: list[str],
    oracle_label,
    cascade_args: CascadeArgs,
) -> _PlanEval:
    """Bucketize scores, importance-sample, oracle-label, learn thresholds;
    report the plan's gray-zone size (= its oracle cost)."""
    pairs = pairs.localCheckpoint()
    n_total = pairs.count()
    n_q = cascade_args.cascade_num_calibration_quantiles
    qs = [i / n_q for i in range(1, n_q)]
    boundaries = pairs.approxQuantile(SCORE, qs, 0.001)
    bucket_expr = F.lit(0)
    for b, edge in enumerate(boundaries):
        bucket_expr = F.when(F.col(SCORE) > edge, b + 1).otherwise(bucket_expr)
    bucketed = pairs.withColumn("__bucket", bucket_expr)

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
    per_bucket_n = n_total / n_q
    fractions = {
        b: float(min(1.0, target * mix[b] / max(per_bucket_n, 1.0)))
        for b in range(n_q)
    }
    sample_pdf = (
        bucketed.sampleBy("__bucket", fractions, seed=42)
        .select("__bucket", *doc_cols)
        .toPandas()
    )
    if len(sample_pdf) == 0:
        sample_pdf = bucketed.select("__bucket", *doc_cols).limit(
            cascade_args.min_sample_size
        ).toPandas()

    labels = np.array(oracle_label(sample_pdf))
    cal_sample = (sample_pdf["__bucket"].to_numpy() + 1) / n_q
    corr = np.array(
        [1.0 / max(fractions.get(int(b), 1.0), 1e-9)
         for b in sample_pdf["__bucket"]]
    )
    tau_pos, tau_neg = learn_filter_thresholds(
        cal_sample, labels, corr,
        cascade_args.recall_target,
        cascade_args.precision_target,
        cascade_args.failure_probability,
    )
    k_accept, k_reject = thresholds_to_buckets(tau_pos, tau_neg, n_q)
    gray = bucketed.filter(
        (F.col("__bucket") > k_reject) & (F.col("__bucket") < k_accept)
    ).count()
    return _PlanEval(plan, bucketed, k_accept, k_reject, gray)


def sem_join_cascade(
    left: DataFrame,
    right: DataFrame,
    instruction: str,
    lcols: list[str],
    rcols: list[str],
    rename_map: dict[str, str],
    oracle_lm,
    cascade_args: CascadeArgs,
    fmt: str,
    rm=None,
    map_instruction: Optional[str] = None,
    route_col: Optional[str] = None,
    **model_kwargs,
) -> DataFrame:
    """``route_col``: when set, the output carries a column naming which
    cascade partition produced each row — ``'accept'`` (proxy-confident,
    no oracle call) or ``'gray'`` (oracle-verified). Rows the proxy
    rejected never appear. Lets callers (and the driver's value-hash
    gate) verify the ROUTING, not just the final membership."""
    model_rm = _resolve_rm(rm)
    doc_cols = lcols + rcols

    def serialize(pdf: pd.DataFrame) -> list[str]:
        disp = pdf.rename(columns=rename_map)
        dcols = [rename_map.get(c, c) for c in doc_cols]
        return docs_from_pdf(disp, dcols, fmt)

    def oracle_label(pdf: pd.DataFrame) -> list[bool]:
        docs = serialize(pdf)
        msgs = [prompts.filter_messages(d, instruction, ("True", "False"))
                for d in docs]
        outs = call_distinct(oracle_lm, msgs, **model_kwargs).outputs
        return [parse_bool(o, False) for o in outs]

    strategy = getattr(cascade_args, "join_cascade_strategy", None)
    if strategy is not None and strategy not in PLANS:
        raise ValueError(f"unknown join_cascade_strategy {strategy!r}; "
                         f"pick from {PLANS}")
    plans = [strategy] if strategy else list(PLANS)
    evals: list[_PlanEval] = []
    for plan in plans:
        pairs = _score_pairs(left, right, plan, lcols, rcols, instruction,
                             oracle_lm, model_rm, map_instruction,
                             **model_kwargs)
        evals.append(
            _evaluate_plan(pairs, plan, doc_cols, oracle_label, cascade_args)
        )
    best = min(evals, key=lambda e: e.gray_count)  # fewest oracle calls wins

    accepted = best.bucketed.filter(F.col("__bucket") >= best.k_accept)
    gray = best.bucketed.filter(
        (F.col("__bucket") > best.k_reject) & (F.col("__bucket") < best.k_accept)
    )

    from lotus_spark.operators.sem_filter import _OUT_SCHEMA

    @F.pandas_udf(_OUT_SCHEMA)
    def _oracle_udf(batch: pd.DataFrame) -> pd.DataFrame:
        docs = serialize(batch)
        msgs = [prompts.filter_messages(d, instruction, ("True", "False"))
                for d in docs]
        raw = call_distinct(oracle_lm, msgs, **model_kwargs).outputs
        return pd.DataFrame(
            {
                "label": [parse_bool(o, False) for o in raw],
                "explanation": [None] * len(raw),
                "raw": raw,
            }
        )

    struct_col = F.struct(*[F.col(f"`{c}`") for c in doc_cols])
    gray_kept = (
        gray.withColumn("__o", _oracle_udf(struct_col))
        .filter(F.col("__o.label"))
        .drop("__o")
    )
    if route_col is not None:
        accepted = accepted.withColumn(route_col, F.lit("accept"))
        gray_kept = gray_kept.withColumn(route_col, F.lit("gray"))
    return accepted.unionByName(gray_kept).drop(SCORE, "__bucket")

"""sem_filter — per-row NL predicate.

Semantics from the reference (``lotus/sem_ops/sem_filter.py:24-136`` core,
``:348-669`` accessor): serialize referenced ``{columns}``, claim-verification
prompt, parse True/False (configurable ``output_tokens``, ``default`` on parse
failure), keep True rows — or with ``return_all=True`` keep everything and add
the boolean label column. Supports few-shot examples, CoT, and model cascades
(proxy scoring + learned thresholds; see ``lotus_spark.cascades``).

Spark design: ``df.filter(bool_udf(struct(cols)))`` — a single Arrow-batched
pandas_udf. The predicate composes with native filters: apply cheap native
filters *before* sem_filter so Catalyst prunes rows ahead of the expensive
LLM stage (the reference's predicate-pushdown rewrite, by construction).
"""

from __future__ import annotations

from typing import Any, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StringType, StructField, StructType

from lotus_spark.models.lm import call_distinct
from lotus_spark.nl_expression import nle2str, parse_cols
from lotus_spark.operators import prompts
from lotus_spark.operators.postprocessors import parse_bool, split_cot
from lotus_spark.operators.sem_map import _collect_examples, _resolve_lm
from lotus_spark.serialization import docs_from_pdf
from lotus_spark.session import settings

_OUT_SCHEMA = StructType(
    [
        StructField("label", BooleanType()),
        StructField("explanation", StringType()),
        StructField("raw", StringType()),
    ]
)


def build_filter_udf(
    lm: Any,
    instruction: str,
    cols: list[str],
    default: bool,
    output_tokens: tuple[str, str],
    examples,
    strategy: Optional[str],
    system_prompt: Optional[str],
    fmt: str,
    **model_kwargs: Any,
):
    @F.pandas_udf(_OUT_SCHEMA)
    def _filter_udf(batch: pd.DataFrame) -> pd.DataFrame:
        docs = docs_from_pdf(batch, cols, fmt)
        msgs = [
            prompts.filter_messages(
                d, instruction, output_tokens, examples, strategy, system_prompt
            )
            for d in docs
        ]
        raw = call_distinct(lm, msgs, **model_kwargs).outputs
        labels = [parse_bool(r, default, output_tokens) for r in raw]
        expl = [split_cot(r).explanation for r in raw]
        return pd.DataFrame({"label": labels, "explanation": expl, "raw": raw})

    return _filter_udf


def sem_filter(
    df: DataFrame,
    user_instruction: str,
    lm: Any = None,
    default: bool = True,
    suffix: str = "_filter",
    examples=None,
    strategy: Optional[str] = None,
    return_all: bool = False,
    return_explanations: bool = False,
    return_raw_outputs: bool = False,
    output_tokens: tuple[str, str] = ("True", "False"),
    system_prompt: Optional[str] = None,
    cascade_args: Any = None,
    **model_kwargs: Any,
) -> DataFrame:
    model = _resolve_lm(lm)
    cols = parse_cols(user_instruction)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns referenced in instruction not in DataFrame: {missing}")
    instr = nle2str(user_instruction, cols)
    fmt = settings.serialization_format
    from lotus_spark.estimate import maybe_report_safe_mode
    maybe_report_safe_mode(df, cols, instr, model, "sem_filter")

    if cascade_args is not None:
        from lotus_spark.cascades.filter_cascade import sem_filter_cascade

        return sem_filter_cascade(
            df,
            instruction=instr,
            cols=cols,
            oracle_lm=model,
            default=default,
            suffix=suffix,
            return_all=return_all,
            output_tokens=output_tokens,
            cascade_args=cascade_args,
            fmt=fmt,
            **model_kwargs,
        )

    udf = build_filter_udf(
        model, instr, cols, default, output_tokens,
        _collect_examples(examples), strategy, system_prompt, fmt, **model_kwargs
    )
    from lotus_spark.partitioning import ensure_parallelism

    struct_col = F.struct(*[F.col(f"`{c}`") for c in cols])
    out = ensure_parallelism(df).withColumn("__sem_filter_out", udf(struct_col))
    out = out.withColumn(suffix, F.col("__sem_filter_out.label"))
    if return_explanations:
        out = out.withColumn(f"explanation{suffix}", F.col("__sem_filter_out.explanation"))
    if return_raw_outputs:
        out = out.withColumn(f"raw_output{suffix}", F.col("__sem_filter_out.raw"))
    out = out.drop("__sem_filter_out")
    if return_all:
        return out
    keep_extra = return_explanations or return_raw_outputs
    filtered = out.filter(F.col(f"`{suffix}`"))
    if not keep_extra:
        filtered = filtered.drop(suffix)
    return filtered

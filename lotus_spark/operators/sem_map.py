"""sem_map — per-row LLM transform.

Semantics from the reference (``lotus/sem_ops/sem_map.py:14-118`` core,
``:121-279`` accessor): serialize each row's referenced ``{columns}``, build a
map prompt (optional few-shot examples, CoT strategy), one LM call per row,
append ``{suffix}`` output column (default ``_map``) plus optional
``explanation{suffix}`` / ``raw_output{suffix}`` columns.

Spark design: a single Arrow-batched pandas_udf over ``struct(referenced
cols)`` returning ``struct<answer, explanation, raw>``. Catalyst prunes the
scan to the referenced columns; the LM client fans out concurrently inside
each batch, so cluster-wide concurrency = partitions × per-batch fan-out.
No driver materialization at any size.
"""

from __future__ import annotations

from typing import Any, Callable, Optional

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from lotus_spark.models.lm import call_distinct
from lotus_spark.nl_expression import nle2str, parse_cols
from lotus_spark.operators import prompts
from lotus_spark.operators.postprocessors import split_cot
from lotus_spark.serialization import docs_from_pdf
from lotus_spark.session import settings

_OUT_SCHEMA = StructType(
    [
        StructField("answer", StringType()),
        StructField("explanation", StringType()),
        StructField("raw", StringType()),
    ]
)


def _resolve_lm(lm: Any):
    model = lm if lm is not None else settings.lm
    if model is None:
        raise ValueError(
            "no LM configured: pass lm= or set lotus_spark.settings.lm"
        )
    return model


def _collect_examples(examples) -> Optional[list[tuple[str, str, Optional[str]]]]:
    """Few-shot examples: DataFrame (with Answer / optional Reasoning columns,
    like the reference) or a pre-built list of (doc, answer, reasoning)."""
    if examples is None:
        return None
    if isinstance(examples, list):
        return examples
    pdf = examples.toPandas()
    if "Answer" not in pdf.columns:
        raise ValueError("examples DataFrame must have an 'Answer' column")
    doc_cols = [c for c in pdf.columns if c not in ("Answer", "Reasoning")]
    out = []
    for _, row in pdf.iterrows():
        doc = "".join(f"[{c}]: «{row[c]}»\n" for c in doc_cols)
        out.append((doc, str(row["Answer"]), row.get("Reasoning")))
    return out


def build_map_udf(
    lm: Any,
    instruction: str,
    cols: list[str],
    examples: Optional[list[tuple[str, str, Optional[str]]]],
    strategy: Optional[str],
    system_prompt: Optional[str],
    fmt: str,
    postprocessor: Optional[Callable[[list[str]], list[str]]] = None,
    **model_kwargs: Any,
):
    @F.pandas_udf(_OUT_SCHEMA)
    def _map_udf(batch: pd.DataFrame) -> pd.DataFrame:
        docs = docs_from_pdf(batch, cols, fmt)
        msgs = [
            prompts.map_messages(d, instruction, examples, strategy, system_prompt)
            for d in docs
        ]
        raw = call_distinct(lm, msgs, **model_kwargs).outputs
        if postprocessor is not None:
            raw = postprocessor(raw)
        parsed = [split_cot(r) for r in raw]
        return pd.DataFrame(
            {
                "answer": [p.answer for p in parsed],
                "explanation": [p.explanation for p in parsed],
                "raw": raw,
            }
        )

    return _map_udf


def sem_map(
    df: DataFrame,
    user_instruction: str,
    lm: Any = None,
    suffix: str = "_map",
    examples=None,
    strategy: Optional[str] = None,
    return_explanations: bool = False,
    return_raw_outputs: bool = False,
    system_prompt: Optional[str] = None,
    postprocessor: Optional[Callable[[list[str]], list[str]]] = None,
    response_format: Any = None,
    split_fields_into_cols: bool = True,
    **model_kwargs: Any,
) -> DataFrame:
    """``response_format`` (reference ``sem_agg.py:471-484`` /
    ``llm_as_judge.py:16-115``, Spark spelling per SURVEY §1.2): a
    pydantic model class, JSON-schema dict, Spark StructType, or DDL
    string. It is forwarded to the LM call, the ``{suffix}`` column
    keeps the raw JSON answer, and with ``split_fields_into_cols`` each
    schema field lands as a typed column via ``from_json`` (malformed
    JSON → NULL fields, like the reference's warn-and-continue parse).
    CoT strategies are rejected with it, as in the reference — put a
    reasoning field in the response format instead."""
    model = _resolve_lm(lm)
    if response_format is not None:
        if strategy in ("cot", "zs-cot"):
            raise ValueError(
                "response_format is not supported with CoT strategies — "
                "add a reasoning field to the response format instead "
                "(reference llm_as_judge.py:92-95)")
        from lotus_spark.operators.structured import (
            response_format_lm_kwarg, response_format_schema,
        )

        response_format_schema(response_format)  # validate EARLY
        model_kwargs = dict(
            model_kwargs,
            response_format=response_format_lm_kwarg(response_format))
    cols = parse_cols(user_instruction)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns referenced in instruction not in DataFrame: {missing}")
    instr = nle2str(user_instruction, cols)
    fmt = settings.serialization_format
    from lotus_spark.estimate import maybe_report_safe_mode
    maybe_report_safe_mode(df, cols, instr, model, "sem_map")
    udf = build_map_udf(
        model, instr, cols, _collect_examples(examples), strategy,
        system_prompt, fmt, postprocessor, **model_kwargs
    )
    from lotus_spark.partitioning import ensure_parallelism

    struct_col: Column = F.struct(*[F.col(f"`{c}`") for c in cols])
    out = ensure_parallelism(df).withColumn("__sem_map_out", udf(struct_col))
    out = out.withColumn(suffix, F.col("__sem_map_out.answer"))
    if return_explanations:
        out = out.withColumn(f"explanation{suffix}", F.col("__sem_map_out.explanation"))
    if return_raw_outputs:
        out = out.withColumn(f"raw_output{suffix}", F.col("__sem_map_out.raw"))
    out = out.drop("__sem_map_out")
    if response_format is not None and split_fields_into_cols:
        from lotus_spark.operators.structured import split_fields

        out = split_fields(out, suffix, response_format, "sem_map")
    return out

"""sem_join — natural-language θ-join.

Semantics from the reference (``lotus/sem_ops/sem_join.py:16-177`` nested
loop, ``:623-844`` accessor): evaluate the join instruction on every
(left, right) pair — logically a nested-loop product — keeping pairs the LM
judges True. Inner join only (``sem_join.py:713-714``). ``{col:left}`` /
``{col:right}`` tags disambiguate shared column names (``:716-747``); pair
evaluation delegates to the filter prompt over the merged document
(``:128-147``). The cascade variant (``:180-341``) replaces the full product
with an embedding sim-join prefilter + threshold routing — see
``lotus_spark.cascades.join_cascade``.

Spark design: ``left.crossJoin(right)`` (broadcast hint on the smaller side)
→ Arrow-batched bool UDF filter. At scale the plain product explodes —
callers should pass ``cascade_args`` above ~10⁴ pairs, which turns the plan
into an ANN prefilter + gray-zone oracle (SURVEY §4.2); the full product is
the correctness tier, as in the reference.
"""

from __future__ import annotations

from typing import Any, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from lotus_spark.models.lm import call_distinct
from lotus_spark.nl_expression import nle2str, parse_cols_sided
from lotus_spark.operators import prompts
from lotus_spark.operators.postprocessors import parse_bool
from lotus_spark.operators.sem_filter import _OUT_SCHEMA
from lotus_spark.operators.postprocessors import split_cot
from lotus_spark.operators.sem_map import _resolve_lm
from lotus_spark.session import settings


def _resolve_sides(left_cols, right_cols, unsided, left: DataFrame, right: DataFrame):
    """Assign unsided {col} references to left if present there, else right
    (the reference resolves tags the same way)."""
    lc, rc = list(left_cols), list(right_cols)
    for c in unsided:
        if c in left.columns:
            lc.append(c)
        elif c in right.columns:
            rc.append(c)
        else:
            raise ValueError(f"column {c!r} not found in either side")
    return lc, rc


def sem_join(
    left: DataFrame,
    right: DataFrame,
    join_instruction: str,
    lm: Any = None,
    default: bool = False,
    strategy: Optional[str] = None,
    broadcast_right: bool = True,
    return_explanations: bool = False,
    cascade_args: Any = None,
    **model_kwargs: Any,
) -> DataFrame:
    model = _resolve_lm(lm)
    lcols_t, rcols_t, unsided = parse_cols_sided(join_instruction)
    lcols, rcols = _resolve_sides(lcols_t, rcols_t, unsided, left, right)
    for c in lcols:
        if c not in left.columns:
            raise ValueError(f"left column {c!r} not found")
    for c in rcols:
        if c not in right.columns:
            raise ValueError(f"right column {c!r} not found")
    instr = nle2str(join_instruction, lcols + rcols)
    fmt = settings.serialization_format
    from lotus_spark.estimate import maybe_report_safe_mode
    maybe_report_safe_mode(left, lcols, instr, model, "sem_join", right_df=right)

    # rename colliding right columns to "col:right" (reference tag convention)
    collisions = [c for c in right.columns if c in left.columns]
    right_sel = right
    rename_map = {}  # actual name in crossed df -> display name
    for c in collisions:
        right_sel = right_sel.withColumnRenamed(c, f"{c}:right")
        rename_map[f"{c}:right"] = c
    r_actual = [f"{c}:right" if c in collisions else c for c in rcols]

    if cascade_args is not None:
        # the cascade only pays off above a minimum pair count (reference
        # ``sem_join.py:761-775``, ``types.py:182``). Gate with BOUNDED
        # counts — scan at most ceil(min_size) rows per side instead of
        # executing both full subtrees just to compare against a constant
        # (full counts here were a full-pipeline run per side at scale)
        min_size = max(int(cascade_args.min_join_cascade_size), 1)
        nl = left.limit(min_size).count()
        nr = right_sel.limit(min_size).count()
        n_pairs = nl * nr
        if n_pairs >= min_size:
            from lotus_spark.cascades.join_cascade import sem_join_cascade

            return sem_join_cascade(
                left, right_sel, instr, lcols, r_actual, rename_map,
                oracle_lm=model, cascade_args=cascade_args, fmt=fmt,
                **model_kwargs
            )

    from lotus_spark.partitioning import ensure_parallelism

    # the pair-evaluation UDF's wall-clock is (pairs / cores); a
    # single-partition left side would serialize every LM call onto one core
    crossed = ensure_parallelism(left).crossJoin(
        F.broadcast(right_sel) if broadcast_right else right_sel
    )

    @F.pandas_udf(_OUT_SCHEMA)
    def _join_udf(batch: pd.DataFrame) -> pd.DataFrame:
        display = batch.rename(columns=rename_map)
        docs_l = [
            "".join(f"[{c}]: «{'' if v is None else v}»\n" for c, v in zip(lcols, row))
            for row in display[lcols].itertuples(index=False, name=None)
        ]
        rdisp = [rename_map.get(c, c) for c in r_actual]
        docs_r = [
            "".join(f"[{c}]: «{'' if v is None else v}»\n" for c, v in zip(rdisp, row))
            for row in display[rdisp].itertuples(index=False, name=None)
        ]
        msgs = [
            prompts.filter_messages(dl + dr, instr, ("True", "False"), None, strategy)
            for dl, dr in zip(docs_l, docs_r)
        ]
        raw = call_distinct(model, msgs, **model_kwargs).outputs
        labels = [parse_bool(r, default) for r in raw]
        expl = [split_cot(r).explanation for r in raw]
        return pd.DataFrame({"label": labels, "explanation": expl, "raw": raw})

    cols_needed = lcols + r_actual
    struct_col = F.struct(*[F.col(f"`{c}`") for c in cols_needed])
    out = crossed.withColumn("__sem_join_out", _join_udf(struct_col))
    result = out.filter(F.col("__sem_join_out.label"))
    if return_explanations:
        result = result.withColumn("explanation_join", F.col("__sem_join_out.explanation"))
    return result.drop("__sem_join_out")

"""Pre-run cost estimation + safe mode (reference ``lm.py:642-650``,
``lotus/utils.py:123-135``).

The reference's ``safe_mode`` prints an LM-call/token estimate before every
semantic operator and gives the user an abort window. On Spark the estimate
comes from a driver-side ``count()`` plus a *sampled* slice of serialized
docs (never a full materialization): calls × (avg prompt tokens + expected
completion) at the operator's call multiplicity.

``settings.safe_mode = True`` makes ``sem_map``/``sem_filter``/``sem_join``
log the estimate to stderr before launching the distributed stage.
"""

from __future__ import annotations

import sys
from typing import Any, Optional

from pyspark.sql import DataFrame

from lotus_spark.serialization import docs_from_pdf

# template + system-prompt overhead added to every serialized doc
PROMPT_OVERHEAD_TOKENS = 60


def estimate_semantic_cost(
    df: DataFrame,
    cols: list[str],
    instruction: str,
    lm: Any,
    op: str = "sem_map",
    right_df: Optional[DataFrame] = None,
    sample_rows: int = 200,
    price_per_1k_prompt: Optional[float] = None,
    price_per_1k_completion: Optional[float] = None,
    fmt: str = "default",
) -> dict:
    """Estimate LM calls / tokens / (optionally) dollars for a semantic op.

    Upper bounds on the call count per op (identical prompts within one
    Arrow batch are answered by a single call, ``models.lm.call_distinct``,
    so repetitive columns cost less):
    - sem_map / sem_filter / sem_extract / judges: one call per row
    - sem_join: one per (left × right) pair (the non-cascade nested loop)
    - sem_agg: ~n / rows-per-fold-batch, geometric tail ≈ ×1.5
    """
    n = df.count()
    n_right = right_df.count() if right_df is not None else None

    sample = df.select(*[f"`{c}`" for c in cols]).limit(sample_rows).toPandas()
    docs = docs_from_pdf(sample, cols, fmt) if len(sample) else [""]
    avg_doc_tokens = (
        sum(lm.count_tokens(d) for d in docs) / max(len(docs), 1)
    )
    instr_tokens = lm.count_tokens(instruction)
    per_call_prompt = avg_doc_tokens + instr_tokens + PROMPT_OVERHEAD_TOKENS

    if op == "sem_join":
        if n_right is None:
            raise ValueError("sem_join estimate needs right_df")
        calls = n * n_right
        per_call_prompt += avg_doc_tokens  # both sides serialized per pair
        per_call_completion = 8.0
    elif op == "sem_agg":
        batch = max(1, int((lm.max_ctx_len - lm.max_tokens)
                           / max(per_call_prompt, 1)))
        calls = int(-(-n // batch) * 1.5) or 1  # fold rounds, geometric tail
        per_call_prompt *= min(batch, n)
        per_call_completion = float(lm.max_tokens)
    elif op in ("sem_filter", "sem_topk_compare"):
        calls = n
        per_call_completion = 8.0  # True/False or "Document N"
    else:  # sem_map, sem_extract, judges
        calls = n
        per_call_completion = float(lm.max_tokens) / 4

    est = {
        "op": op,
        "rows": n,
        **({"right_rows": n_right} if n_right is not None else {}),
        "lm_calls": int(calls),
        "est_prompt_tokens": int(calls * per_call_prompt),
        "est_completion_tokens": int(calls * per_call_completion),
    }
    if price_per_1k_prompt is not None:
        est["est_cost_usd"] = round(
            est["est_prompt_tokens"] / 1000 * price_per_1k_prompt
            + est["est_completion_tokens"] / 1000
            * (price_per_1k_completion or price_per_1k_prompt),
            4,
        )
    return est


def maybe_report_safe_mode(
    df: DataFrame,
    cols: list[str],
    instruction: str,
    lm: Any,
    op: str,
    right_df: Optional[DataFrame] = None,
) -> Optional[dict]:
    """When ``settings.safe_mode`` is on, estimate + log before running.

    Returns the estimate dict (or None when safe mode is off) so callers and
    tests can inspect it."""
    from lotus_spark.session import settings

    if not getattr(settings, "safe_mode", False):
        return None
    est = estimate_semantic_cost(df, cols, instruction, lm, op=op,
                                 right_df=right_df,
                                 fmt=settings.serialization_format)
    print(f"[lotus_spark safe_mode] {est}", file=sys.stderr)
    return est

"""sem_agg — LLM aggregation ("semantic reduce").

Reference semantics (``lotus/sem_ops/sem_agg.py:62-235`` core, ``:238-487``
accessor): hierarchical fold — pack serialized rows into context-bounded
batches (budget = ``max_ctx_len - max_tokens``, ``sem_agg.py:187``),
summarize each batch, repeat over the summaries until one remains. Distinct
leaf vs node prompts (``:14-59``); ``group_by`` aggregates per group;
partition-aware fold ordering via ``_lotus_partition_id`` (``:432-436``);
oversized docs handled by TRUNCATE/CHUNK (``long_context_strategy.py``).

Spark design:
- grouped: repartition on the keys + ONE ``mapInPandas`` task per
  partition driving every co-resident group's fold generator in LOCKSTEP
  (r10): each global round batches all active groups' fold-level messages
  into one LM call, so a partition's round trips are the MAX fold depth,
  not the sum over groups (previously one ``applyInPandas`` task per
  group re-paid the protocol per group). Groups still run in parallel
  across the cluster.
- global: a treeAggregate-shaped loop — each round packs rows per partition
  into token-budgeted batches and summarizes them with ``mapInPandas``;
  rounds repeat (shrinking partition count) until ≤1 row remains. No driver
  materialization of documents at any scale; only the final answer.
"""

from __future__ import annotations

from typing import Any, Iterator, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from lotus_spark.models.lm import call_distinct
from lotus_spark.nl_expression import nle2str, parse_cols
from lotus_spark.operators import prompts
from lotus_spark.operators.sem_map import _resolve_lm
from lotus_spark.operators.sem_partition_by import PARTITION_COL
from lotus_spark.serialization import docs_from_pdf
from lotus_spark.session import settings

AGG_COL = "_output"


def _pack(docs: list[str], lm: Any, budget: int,
          strategy: str = "truncate") -> list[list[str]]:
    """Greedy packing of docs into batches whose token total fits budget.

    Oversized docs are bounded by the LongContextStrategy (SURVEY §2.6,
    ``lotus/long_context_strategy.py``): TRUNCATE cuts token-targeted with
    an ellipsis; CHUNK splits into budget-sized pieces that flow into the
    fold as additional documents (nothing is dropped).
    """
    from lotus_spark.long_context import split_tokenwise, truncate_doc

    batches: list[list[str]] = []
    cur: list[str] = []
    cur_tokens = 0
    for d in docs:
        if strategy == "chunk":
            pieces = split_tokenwise(d, lm, budget)
        else:
            pieces = [truncate_doc(d, lm, budget)]
        for piece in pieces:
            t = lm.count_tokens(piece)
            if cur and cur_tokens + t > budget:
                batches.append(cur)
                cur, cur_tokens = [], 0
            cur.append(piece)
            cur_tokens += t
    if cur:
        batches.append(cur)
    return batches


def _fold_once_msgs(docs: list[str], lm: Any, instruction: str, leaf: bool,
                    strategy: str = "truncate") -> list:
    """One fold level's LM messages (pack + prompt-format, no call)."""
    budget = max(1024, lm.max_ctx_len - lm.max_tokens)
    batches = _pack(docs, lm, budget, strategy)
    fmt = prompts.agg_leaf_messages if leaf else prompts.agg_node_messages
    msgs = []
    for batch in batches:
        block = "\n".join(
            f"\tDocument {i + 1}:\n{d}" for i, d in enumerate(batch)
        )
        msgs.append(fmt(block, instruction))
    return msgs


def _fold_once(docs: list[str], lm: Any, instruction: str, leaf: bool,
               strategy: str = "truncate", **kw) -> list[str]:
    return call_distinct(
        lm, _fold_once_msgs(docs, lm, instruction, leaf, strategy), **kw
    ).outputs


def _fold_to_one_gen(docs: list[str], lm: Any, instruction: str,
                     strategy: str = "truncate"):
    """:func:`fold_to_one` as a GENERATOR: each yield is one fold
    level's message batch; driven alone it is the classic hierarchical
    fold, driven in lockstep (grouped path) sibling groups' levels
    share one LM round trip."""
    if not docs:
        return ""
    level = yield _fold_once_msgs(docs, lm, instruction, True, strategy)
    while len(level) > 1:
        # summaries are model-bounded; truncate guards the rare overflow
        level = yield _fold_once_msgs(level, lm, instruction, False)
    return level[0]


def fold_to_one(docs: list[str], lm: Any, instruction: str,
                strategy: str = "truncate", **kw) -> str:
    """Full hierarchical fold of a doc list down to a single answer."""
    gen = _fold_to_one_gen(docs, lm, instruction, strategy)
    payload = None
    while True:
        try:
            msgs = gen.send(payload)
        except StopIteration as e:
            return e.value
        payload = call_distinct(lm, msgs, **kw).outputs


def _lockstep_folds(gens: list, lm: Any, **kw) -> list[str]:
    """Drive many fold generators in lockstep (r10, the sem_topk
    ``_drive_lockstep`` pattern): each global round concatenates every
    still-active group's fold-level messages into ONE LM call, so a
    partition's round trips collapse from sum-over-groups of fold
    depths to the max depth. Per-message outputs are positionally
    routed back, so every group's answer is identical to folding it
    alone."""
    active = dict(enumerate(gens))
    payload: dict[int, list] = {}
    results: dict[int, str] = {}
    while active:
        spans, batch = [], []
        for i in list(active):
            try:
                msgs = active[i].send(payload.get(i))
            except StopIteration as e:
                results[i] = e.value
                del active[i]
                continue
            spans.append((i, len(batch), len(batch) + len(msgs)))
            batch.extend(msgs)
        outs = call_distinct(lm, batch, **kw).outputs if batch else []
        payload = {i: outs[lo:hi] for i, lo, hi in spans}
    return [results[i] for i in range(len(gens))]


def sem_agg(
    df: DataFrame,
    user_instruction: str,
    lm: Any = None,
    group_by: Optional[list[str]] = None,
    suffix: str = AGG_COL,
    long_context_strategy: str = "truncate",
    response_format: Any = None,
    split_fields_into_cols: bool = True,
    **model_kwargs: Any,
) -> DataFrame:
    """``response_format`` (reference ``sem_agg.py:471-484``): forwarded
    to every fold call; the ``{suffix}`` column keeps the raw JSON and
    ``split_fields_into_cols`` expands each schema field into a typed
    column via ``from_json`` — for grouped aggregation that is one row
    per group with the fields alongside the group keys, exactly the
    reference's ``pd.DataFrame([output])`` shape distributed."""
    if long_context_strategy not in ("truncate", "chunk"):
        raise ValueError("long_context_strategy must be 'truncate' or 'chunk'")
    model = _resolve_lm(lm)
    if response_format is not None:
        from lotus_spark.operators.structured import (
            response_format_lm_kwarg, response_format_schema,
        )

        response_format_schema(response_format)  # validate EARLY
        model_kwargs = dict(
            model_kwargs,
            response_format=response_format_lm_kwarg(response_format))

    def _split(out_df: DataFrame) -> DataFrame:
        if response_format is None or not split_fields_into_cols:
            return out_df
        from lotus_spark.operators.structured import split_fields

        return split_fields(out_df, suffix, response_format, "sem_agg")
    cols = parse_cols(user_instruction)
    all_cols = "{all}" in user_instruction or not cols
    use_cols = [c for c in df.columns if not c.startswith("_")] if all_cols else cols
    missing = [c for c in use_cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns referenced in instruction not in DataFrame: {missing}")
    instr = nle2str(user_instruction.replace("{all}", "all columns"), cols)
    fmt = settings.serialization_format
    spark = df.sparkSession

    if group_by:
        out_schema = StructType(
            [df.schema[c] for c in group_by] + [StructField(suffix, StringType())]
        )
        group_cols = list(group_by)

        def fold_partition(batches: Iterator[pd.DataFrame]):
            # every group in this partition folds in LOCKSTEP: one LM
            # round trip per global fold level, not per group level
            # (r10 — the sem_topk lockstep applied to the fold; at
            # many-small-groups scale the per-group protocol multiplied
            # round trips by the group count)
            pdfs = list(batches)
            if not pdfs:
                return
            pdf = pd.concat(pdfs, ignore_index=True)
            if pdf.empty:
                return
            keys, gens = [], []
            for key, gpdf in pdf.groupby(group_cols, sort=False,
                                         dropna=False):
                if PARTITION_COL in gpdf.columns:
                    gpdf = gpdf.sort_values(PARTITION_COL)
                docs = docs_from_pdf(gpdf, use_cols, fmt)
                keys.append(key if isinstance(key, tuple) else (key,))
                gens.append(_fold_to_one_gen(
                    docs, model, instr, strategy=long_context_strategy))
            answers = _lockstep_folds(gens, model, **model_kwargs)
            yield pd.DataFrame(
                [list(k) + [a] for k, a in zip(keys, answers)],
                columns=group_cols + [suffix])

        return _split(df.repartition(*group_by).mapInPandas(
            fold_partition, schema=out_schema))

    # global aggregation: per-partition fold rounds until one row remains
    if PARTITION_COL in df.columns:
        df = df.repartition(F.col(PARTITION_COL)).sortWithinPartitions(PARTITION_COL)
    work = df
    leaf = True
    schema = StructType([StructField(suffix, StringType())])
    while True:
        is_leaf = leaf

        def fold_partition(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            docs: list[str] = []
            for pdf in it:
                if is_leaf:
                    docs.extend(docs_from_pdf(pdf, use_cols, fmt))
                else:
                    docs.extend(pdf[suffix].astype(str))
            if not docs:
                return
            outs = _fold_once(docs, model, instr, leaf=is_leaf,
                              strategy=long_context_strategy, **model_kwargs)
            while len(outs) > 1:
                outs = _fold_once(outs, model, instr, leaf=False, **model_kwargs)
            yield pd.DataFrame({suffix: outs})

        # localCheckpoint materializes the round once — the count and the next
        # round both read the checkpoint instead of re-running the LM stage
        work = work.mapInPandas(fold_partition, schema=schema).localCheckpoint()
        n = work.count()
        if n <= 1:
            return _split(work)
        # shrink towards a single partition as the data collapses
        work = work.coalesce(max(1, n // 8))
        leaf = False

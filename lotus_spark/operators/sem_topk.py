"""sem_topk — LLM-comparison top-K ranking.

Reference semantics (``lotus/sem_ops/sem_topk.py``): return the K rows that
best satisfy an NL criterion, using pairwise LLM comparisons
("Document 1 or 2" prompts, ``:16-80``). Methods:
- ``quick``  — quickselect-style: compare all candidates against a pivot,
  recurse only into the side containing rank K (``:347-488``)
- ``quick-sem`` — same but candidates pre-sorted by embedding similarity
  so pivots are informative early (``:407-423,782-788``)
- ``heap``   — heapq.nsmallest with LLM ``__lt__`` (``:491-621``)
- ``naive``  — all-pairs voting, O(n²) comparisons (``:276-344``)
``group_by`` ranks within each group (``:762-780``).

Spark design: grouped top-k repartitions on the group key and runs every
group's tournament in LOCKSTEP inside one ``mapInPandas`` task per
partition — each GLOBAL round batches all co-resident groups' pending
comparisons into ONE LM call (``_drive_lockstep``; r10 — previously one
``applyInPandas`` task per group multiplied round trips by the group
count). Global top-k over a big table first reduces the candidate pool
with an embedding prefilter (``orderBy(desc(sim)).limit(cK)``) — the
LLM tournament then runs on the bounded pool. Driver materialization is
bounded to the candidate pool (reference behavior is a full in-memory sort).
"""

from __future__ import annotations

import random
from typing import Any, Callable, Optional

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from lotus_spark.models.lm import call_distinct
from lotus_spark.nl_expression import nle2str, parse_cols
from lotus_spark.operators import prompts
from lotus_spark.operators.sem_map import _resolve_lm
from lotus_spark.serialization import docs_from_pdf
from lotus_spark.session import settings


def _parse_choice(output: str) -> int:
    """'Document 1' / 'Document 2' → 0 / 1 (default 0 on parse failure)."""
    if output:
        low = output.lower()
        i1, i2 = low.rfind("document 1"), low.rfind("document 2")
        if i2 > i1:
            return 1
    return 0


class BatchedComparator:
    """Batches pairwise comparisons of one tournament round into one LM call.

    Comparison cascade (reference ``sem_topk.py:176-273``): with a
    ``helper_lm`` and ``cascade_threshold``, every pair is first answered by
    the cheap helper; confidence = P(chosen doc-number token) normalized over
    {1, 2} from first-token logprobs. Pairs below the threshold (or with no
    logprobs) are re-asked to the oracle LM; the rest keep the helper's
    verdict. ``calls`` counts all comparisons, ``oracle_calls`` only the
    escalated ones.
    """

    def __init__(self, lm: Any, instruction: str,
                 helper_lm: Any = None,
                 cascade_threshold: Optional[float] = None, **kw: Any):
        self.lm = lm
        self.instruction = instruction
        self.helper_lm = helper_lm
        self.cascade_threshold = cascade_threshold
        self.kw = kw
        self.calls = 0          # pairwise comparisons answered
        self.rounds = 0         # LM ROUND-TRIPS (batched compare() calls)
        self.oracle_calls = 0

    def _ask(self, lm: Any, pairs: list[tuple[str, str]], logprobs: bool):
        msgs = [prompts.compare_messages(a, b, self.instruction) for a, b in pairs]
        return call_distinct(
            lm, msgs, **({"logprobs": True} if logprobs else {}), **self.kw)

    def compare(self, pairs: list[tuple[str, str]]) -> list[int]:
        """For each (doc_i, doc_j): 0 if doc_i wins else 1."""
        if not pairs:
            return []
        self.calls += len(pairs)
        self.rounds += 1
        if self.helper_lm is None or self.cascade_threshold is None:
            outs = self._ask(self.lm, pairs, logprobs=False).outputs
            self.oracle_calls += len(pairs)
            return [_parse_choice(o) for o in outs]

        import math

        helper_out = self._ask(self.helper_lm, pairs, logprobs=True)
        choices = [_parse_choice(o) for o in helper_out.outputs]
        escalate: list[int] = []
        for i in range(len(pairs)):
            lp = helper_out.logprobs[i] if helper_out.logprobs else None
            if lp and "1" in lp and "2" in lp:
                p1, p2 = math.exp(lp["1"]), math.exp(lp["2"])
                chosen = p1 if choices[i] == 0 else p2
                conf = chosen / (p1 + p2) if (p1 + p2) > 0 else 0.0
            else:
                conf = 0.0  # no confidence signal → never trust the helper
            if conf < self.cascade_threshold:
                escalate.append(i)
        if escalate:
            oracle_out = self._ask(
                self.lm, [pairs[i] for i in escalate], logprobs=False
            ).outputs
            self.oracle_calls += len(escalate)
            for j, i in enumerate(escalate):
                choices[i] = _parse_choice(oracle_out[j])
        return choices


def _drive(gen, cmp: BatchedComparator):
    """Run ONE tournament generator to completion: each yielded pair
    list becomes one batched ``cmp.compare`` round trip. The sync public
    algorithms (``quickselect_topk`` etc.) are thin wrappers over this —
    identical call counts to the pre-generator implementations."""
    payload = None
    while True:
        try:
            pairs = gen.send(payload)
        except StopIteration as e:
            return e.value
        payload = cmp.compare(pairs)


def _drive_lockstep(gens: list, cmp: BatchedComparator) -> list:
    """Run MANY tournament generators in lockstep (r9 verdict item 7):
    each global round concatenates every still-active tournament's
    pending pairs into ONE ``cmp.compare`` call and routes the verdicts
    back. LM round trips collapse from sum-over-tournaments to
    max-over-tournaments (pinned by a call-count test); comparison
    COUNT and every per-tournament result are identical to driving
    each generator alone — answers are per-pair, so batching siblings
    cannot change them."""
    active = dict(enumerate(gens))
    payload: dict[int, object] = {}
    results: dict[int, list[int]] = {}
    while active:
        spans: list[tuple[int, int, int]] = []
        batch: list[tuple[str, str]] = []
        for i in list(active):
            try:
                pairs = active[i].send(payload.get(i))
            except StopIteration as e:
                results[i] = e.value
                del active[i]
                continue
            spans.append((i, len(batch), len(batch) + len(pairs)))
            batch.extend(pairs)
        outs = cmp.compare(batch)
        payload = {i: outs[lo:hi] for i, lo, hi in spans}
    return [results[i] for i in range(len(gens))]


def _order_round_robin_gen(pool: list[int], docs: list[str]):
    """Rank the K quickselect winners best→worst with ONE batched all-pairs
    call (K is small — K(K-1)/2 comparisons, single LM round trip), instead
    of O(K²) serial one-pair calls. With a consistent comparator the wins
    counts are K-1, K-2, …, 0 — exactly the sorted order; under
    non-transitive answers ties break by pool position (deterministic)."""
    m = len(pool)
    if m <= 1:
        return list(pool)
    pairs = [(i, j) for i in range(m) for j in range(i + 1, m)]
    outs = yield [(docs[pool[i]], docs[pool[j]]) for i, j in pairs]
    wins = [0] * m
    for (i, j), w in zip(pairs, outs):
        wins[i if w == 0 else j] += 1
    return [pool[t] for t in sorted(range(m), key=lambda t: (-wins[t], t))]


def _quickselect_gen(
    docs: list[str],
    K: int,
    pivot_fn: Callable[[list[int]], int],
):
    """Shared quickselect body as a GENERATOR: each ``yield`` is one
    round's batched comparisons (partition against a pivot, recurse only
    into the side holding rank K, one round-robin batch for the
    winners). Driven alone (``_drive``) it is the classic protocol;
    driven with siblings (``_drive_lockstep``) its rounds share LM
    calls across tournaments."""

    def select(pool: list[int], k: int):
        if k <= 0:
            return []
        if len(pool) <= k:
            return pool
        pivot = pivot_fn(pool)
        others = [i for i in pool if i != pivot]
        wins = yield [(docs[i], docs[pivot]) for i in others]
        better = [i for i, w in zip(others, wins) if w == 0]  # doc_i beats pivot
        worse = [i for i, w in zip(others, wins) if w == 1]
        if len(better) == k:
            return better
        if len(better) == k - 1:
            return better + [pivot]
        if len(better) > k:
            return (yield from select(better, k))
        rest = yield from select(worse, k - len(better) - 1)
        return better + [pivot] + rest

    top = yield from select(list(range(len(docs))), K)
    return (yield from _order_round_robin_gen(top, docs))


def quickselect_topk(
    docs: list[str], K: int, cmp: BatchedComparator, seed: int = 42
) -> list[int]:
    """Indices of the top-K docs; pivot comparisons batched per round."""
    rng = random.Random(seed)
    return _drive(
        _quickselect_gen(docs, K, lambda pool: pool[rng.randrange(len(pool))]),
        cmp,
    )


def heap_topk(docs: list[str], K: int, cmp: BatchedComparator,
              batch_size: int = 16) -> list[int]:
    """Insertion-based top-K with LLM comparisons (reference 'heap'
    method, ``lotus/sem_ops/sem_topk.py:491-621``) — WAVE-BATCHED;
    sync wrapper over :func:`_heap_topk_gen`.

    The reference inserts docs one at a time, each binary-insertion step
    a separate LM round-trip (O(n log K) sequential calls: its LM client
    is per-call). Our LM client is batched, so sibling comparisons can
    share a call: docs arrive in waves of ``batch_size``, every wave
    member runs its binary search against the SAME snapshot of the kept
    list in lockstep — each search DEPTH is one batched compare() over
    all still-active members — then members landing in the same slot are
    ordered with one more batched round-robin call and the wave merges
    in. Round-trips drop from ``n·log2(K)`` to ``~(n/B)·(log2(K)+1)``
    (pinned by a call-count test) while the comparison COUNT stays the
    same order.

    Output equals the serial reference insertion under a consistent
    (total-order) comparator — both produce the globally sorted top-K:
    a binary search against the sorted snapshot gives each member its
    exact rank among snapshot elements, and the intra-slot round-robin
    gives distinct win counts that sort same-slot members exactly.
    (Under a non-transitive comparator neither serial nor batched
    insertion has a canonical answer; ties break deterministically by
    doc position, mirroring the serial arrival order.)"""
    if batch_size < 1:
        raise ValueError(f"batch_size must be >= 1, got {batch_size}")
    return _drive(_heap_topk_gen(docs, K, batch_size), cmp)


def _heap_topk_gen(docs: list[str], K: int, batch_size: int = 16):
    from collections import defaultdict

    top: list[int] = []  # kept sorted best→worst, at most K entries
    n = len(docs)
    start = 0
    while start < n:
        wave = list(range(start, min(start + batch_size, n)))
        start += len(wave)
        # lockstep binary search: one batched call per depth level
        lo = {c: 0 for c in wave}
        hi = {c: len(top) for c in wave}
        while True:
            active = [c for c in wave if lo[c] < hi[c]]
            if not active:
                break
            mid = {c: (lo[c] + hi[c]) // 2 for c in active}
            outs = yield [(docs[c], docs[top[mid[c]]]) for c in active]
            for c, w in zip(active, outs):
                if w == 0:
                    hi[c] = mid[c]
                else:
                    lo[c] = mid[c] + 1
        # order same-slot members: ALL slots' round-robin pairs in ONE call
        slots: dict[int, list[int]] = defaultdict(list)
        for c in wave:
            slots[lo[c]].append(c)
        rr_pairs, rr_idx = [], []
        for s, group in slots.items():
            for a in range(len(group)):
                for b in range(a + 1, len(group)):
                    rr_idx.append((s, a, b))
                    rr_pairs.append((docs[group[a]], docs[group[b]]))
        outs = yield rr_pairs
        wins: dict[int, list[int]] = {
            s: [0] * len(g) for s, g in slots.items()}
        for (s, a, b), w in zip(rr_idx, outs):
            wins[s][a if w == 0 else b] += 1
        ordered = {
            s: [g[t] for t in sorted(range(len(g)),
                                     key=lambda t: (-wins[s][t], t))]
            for s, g in slots.items()
        }
        merged: list[int] = []
        for pos in range(len(top) + 1):
            merged.extend(ordered.get(pos, ()))
            if pos < len(top):
                merged.append(top[pos])
        top = merged[:K]
    return top


def naive_topk(docs: list[str], K: int, cmp: BatchedComparator) -> list[int]:
    """All-pairs voting; single batched LM call for every pair."""
    return _drive(_naive_topk_gen(docs, K), cmp)


def _naive_topk_gen(docs: list[str], K: int):
    n = len(docs)
    pairs = [(i, j) for i in range(n) for j in range(i + 1, n)]
    outs = yield [(docs[i], docs[j]) for i, j in pairs]
    wins = [0] * n
    for (i, j), w in zip(pairs, outs):
        wins[i if w == 0 else j] += 1
    order = sorted(range(n), key=lambda i: (-wins[i], i))
    return order[:K]


def quicksem_topk(
    docs: list[str], K: int, cmp: BatchedComparator, sims: list[float]
) -> list[int]:
    """Quickselect with similarity-informed pivots (reference 'quick-sem',
    ``sem_topk.py:407-423``): instead of a random pivot, pick the pool
    element most similar to the query — likely near the top, so the first
    partition already discards most of the pool. Deterministic given sims."""
    return _drive(
        _quickselect_gen(docs, K,
                         lambda pool: max(pool, key=lambda i: (sims[i], -i))),
        cmp,
    )


def _instruction_sims(docs: list[str], instruction: str, rm: Any) -> list[float]:
    import numpy as np

    vecs = rm(docs)
    q = rm([instruction])[0]
    return [float(v) for v in np.asarray(vecs) @ np.asarray(q)]


_METHODS: dict[str, Callable] = {
    "quick": quickselect_topk,
    "quick-sem": quicksem_topk,
    "heap": heap_topk,
    "naive": naive_topk,
}


def sem_topk(
    df: DataFrame,
    user_instruction: str,
    K: int,
    lm: Any = None,
    method: str = "quick",
    group_by: Optional[list[str]] = None,
    prefilter_factor: Optional[int] = None,
    rm: Any = None,
    seed: int = 42,
    helper_lm: Any = None,
    cascade_threshold: Optional[float] = None,
    max_collect: int = 50_000,
    **model_kwargs: Any,
) -> DataFrame:
    """Top-K rows per the NL criterion. ``prefilter_factor=c > 0`` bounds the
    candidate pool to c*K rows by embedding similarity to the instruction
    (the 'quick-sem' idea) before the LLM tournament — globally, and (r10)
    PER GROUP under ``group_by``, so a huge group costs the LM O(cK)
    comparisons instead of O(|group|); same explicit-``rm`` opt-in both
    ways.

    Driver-collect bound (the LLM tournament is inherently driver-side, as
    in the reference — but the pool must not be the whole table at scale):
    ``prefilter_factor=None`` (default) auto-enables the embedding
    prefilter at c=10 only when the caller passes ``rm=`` EXPLICITLY (an
    ambient ``settings.rm`` never silently changes results vs the
    reference-exact full-table tournament); pass ``0`` to force the
    full-table pool (reference-exact). Whatever the pool, collecting more
    than ``max_collect`` rows raises instead of OOMing the driver — use a
    prefilter (pass ``rm=``), ``group_by``, or a pre-``filter`` to shrink
    the pool, or raise ``max_collect`` deliberately."""
    model = _resolve_lm(lm)
    cols = parse_cols(user_instruction)
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"columns referenced in instruction not in DataFrame: {missing}")
    instr = nle2str(user_instruction, cols)
    fmt = settings.serialization_format
    if method not in _METHODS:
        raise ValueError(f"unknown method {method!r}; pick from {sorted(_METHODS)}")
    algo = _METHODS[method]
    rm_obj = rm if rm is not None else settings.rm
    if method == "quick-sem" and rm_obj is None:
        raise ValueError("method='quick-sem' needs an rm (arg or settings.rm)")

    def run_algo(docs: list[str], cmp: BatchedComparator) -> list[int]:
        if method == "quick":
            return algo(docs, K, cmp, seed)
        if method == "quick-sem":
            return algo(docs, K, cmp, _instruction_sims(docs, instr, rm_obj))
        return algo(docs, K, cmp)

    def make_gen(docs: list[str]):
        """One tournament GENERATOR per group — result-identical to
        run_algo (same bodies, driven through yields) but composable
        into cross-group lockstep waves."""
        if method == "quick":
            rng = random.Random(seed)
            return _quickselect_gen(
                docs, K, lambda pool: pool[rng.randrange(len(pool))])
        if method == "quick-sem":
            sims = _instruction_sims(docs, instr, rm_obj)
            return _quickselect_gen(
                docs, K, lambda pool: max(pool, key=lambda i: (sims[i], -i)))
        if method == "heap":
            return _heap_topk_gen(docs, K)
        return _naive_topk_gen(docs, K)

    if prefilter_factor is None:
        # auto: bound the pool only when the caller passed an rm
        # explicitly — an ambient settings.rm must not silently change
        # results vs the reference-exact full-table tournament
        prefilter_factor = 10 if rm is not None else 0

    if group_by:
        out_schema = StructType(df.schema.fields + [StructField("_rank", LongType())])
        group_cols = list(group_by)
        pf_cap = prefilter_factor * K if prefilter_factor else 0

        def rank_partition(batches):
            # every group in this partition runs its tournament in
            # LOCKSTEP: one LM round trip per global round, not per
            # group round (r9 verdict item 7 — at many-small-groups
            # scale the per-group protocol multiplied round trips by
            # the group count). Memory bound = the partition's rows,
            # the same data a groupBy.applyInPandas partition holds.
            pdfs = list(batches)
            if not pdfs:
                return
            pdf = pd.concat(pdfs, ignore_index=True)
            if pdf.empty:
                return
            groups, gens = [], []
            for _, g in pdf.groupby(group_cols, sort=False, dropna=False):
                docs = docs_from_pdf(g, cols, fmt)
                # per-group embedding prefilter (r10): same opt-in
                # contract as the global path — with an EXPLICIT rm the
                # tournament pool is bounded to c*K rows by similarity
                # to the instruction, so a huge group costs the LM
                # O(cK) comparisons, not O(|group|)
                if pf_cap and rm_obj is not None and len(docs) > pf_cap:
                    sims = _instruction_sims(docs, instr, rm_obj)
                    order = sorted(range(len(docs)),
                                   key=lambda i: (-sims[i], i))[:pf_cap]
                    g = g.iloc[order]
                    docs = [docs[i] for i in order]
                groups.append(g)
                gens.append(make_gen(docs))
            cmp = BatchedComparator(model, instr, helper_lm=helper_lm,
                                    cascade_threshold=cascade_threshold,
                                    **model_kwargs)
            tops = _drive_lockstep(gens, cmp)
            outs = []
            for g, top in zip(groups, tops):
                o = g.iloc[top].copy()
                o["_rank"] = range(1, len(top) + 1)
                outs.append(o)
            yield pd.concat(outs, ignore_index=True)

        return df.repartition(*group_by).mapInPandas(
            rank_partition, schema=out_schema)

    pool_df = df
    if prefilter_factor and prefilter_factor > 0:
        from lotus_spark.operators.sem_search import sem_search

        pool_df = sem_search(
            df, cols[0], instr, K=prefilter_factor * K, rm=rm_obj,
            return_scores=False,
        )
    # single bounded execution: collect at most max_collect+1 rows — the
    # pool (not the input table) is what crosses to the driver, and the
    # size check reuses the same run (no double execution of the
    # embedding-scored subtree)
    pdf = pool_df.limit(max_collect + 1).toPandas()
    if len(pdf) > max_collect:
        raise ValueError(
            f"sem_topk would collect more than max_collect={max_collect} "
            "rows to the driver; pass rm= to enable the embedding "
            "prefilter, use group_by, pre-filter the input, or raise "
            "max_collect explicitly"
        )
    docs = docs_from_pdf(pdf, cols, fmt)
    cmp = BatchedComparator(model, instr, helper_lm=helper_lm,
                            cascade_threshold=cascade_threshold, **model_kwargs)
    top = run_algo(docs, cmp)
    out = pdf.iloc[top].copy()
    out["_rank"] = range(1, len(top) + 1)
    spark = df.sparkSession
    out_schema = StructType(df.schema.fields + [StructField("_rank", LongType())])
    return spark.createDataFrame(out, schema=out_schema)

"""semantic_batch: repeated passes of a LOTUS-style pipeline over a
generated corpus, with every LM behind a simulated endpoint.

One pass (the only operation type):
  1. ``LazyFrame`` sem_filter as a cascade (helper + oracle) -> native
     ``n_chars`` filter -> sem_map -> sem_extract, ``.optimize().execute()``,
     collected;
  2. ``sem_agg(group_by=["lang"])`` on a fixed slice, collected;
  3. ``sem_topk(method="quick")`` on a fixed slice, collected.
Every pass does the same work, so the prompts a pass sends repeat exactly.

It stresses operators, models, plans, cascades and partitioning and
touches no index code: the bypass side for every index change.

Reference answers come from DuckDB SQL over the same parquet file,
the SQL equivalents of the demo LMs (as ``__spark_entry__``'s oracles).
"""
from __future__ import annotations

import os
import time

import gen
from endpoint import Counters, SimulatedEndpoint
from harness import Workload, median

PARAMS = {
    "docs": 4000,
    "repeat_share": 0.2,      # docs whose text repeats an earlier doc
    "keyword_share": 0.25,    # distinct texts the semantic filter keeps
    "long_share": 0.8,        # docs the native filter keeps
    "min_chars": 100,         # the native filter, pushed below the LM stages
    "agg_slice_mod": 10,      # sem_agg runs on doc_id % 10 == 0
    "topk_slice_mod": 80,     # sem_topk runs on doc_id % 80 == 0
    "topk_k": 10,
    # simulated endpoints: one call of n prompts waits ceil(n/C) * L
    "oracle_latency_s": 0.3,
    "helper_latency_s": 0.06,
    "fanout": 256,
}
INSTR_FILTER = "{text} is about distributed computing"
INSTR_MAP = "state the language {lang} in uppercase"
INSTR_AGG = "Count the {text} documents"
INSTR_TOPK = "Rank documents by {n_chars} breaking ties by {doc_id}"
ENDPOINTS = ("filter_helper", "filter_oracle", "map", "extract", "agg", "topk")


class SemanticBatch(Workload):
    # One pass per cycle, so the warm-up is one pass (16-25 s cold, its
    # endpoints not waiting) and so is the timed phase, for the run-time
    # budget; warm passes are within ~10% of each other.
    CYCLE = ("pass",)

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.path = os.path.join(self.work, "documents.parquet")

    # -- set-up ------------------------------------------------------------

    def setup(self) -> dict:
        from lotus_spark.cascades.utils import CascadeArgs
        from lotus_spark.models.demo_lms import (
            CountingAggLM, FieldCompareLM, JSONExtractLM,
        )
        from lotus_spark.models.fake_lm import KeywordBoolLM, RegexMapLM

        p = PARAMS
        info = gen.semantic_corpus(self.seed, p["docs"], p["repeat_share"],
                                   p["keyword_share"], p["long_share"],
                                   p["topk_slice_mod"], self.path)
        self.expected = self._reference()
        sc = self.spark.sparkContext
        self.counters = {n: Counters(sc, self.tracer.enabled) for n in ENDPOINTS}

        def ep(name, inner, latency):
            return SimulatedEndpoint(name, inner, latency, p["fanout"],
                                     self.counters[name])

        agg_lm = CountingAggLM()
        agg_lm.max_ctx_len = 4096  # forces a multi-level fold
        lo, hi = p["oracle_latency_s"], p["helper_latency_s"]
        self.lms = {
            "filter_helper": ep("filter_helper", KeywordBoolLM(gen.KEYWORD), hi),
            "filter_oracle": ep("filter_oracle", KeywordBoolLM(gen.KEYWORD), lo),
            "map": ep("map", RegexMapLM(r"\[lang\]: «(\w+)»", "upper"), lo),
            "extract": ep("extract", JSONExtractLM("text"), lo),
            "agg": ep("agg", agg_lm, lo),
            "topk": ep("topk", FieldCompareLM("n_chars", "doc_id"), lo),
        }
        self.cascade_args = CascadeArgs(recall_target=0.8, precision_target=0.8)
        return info

    def _reference(self) -> dict:
        import duckdb

        p = PARAMS
        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{self.path}')")
        q = con.execute
        return {
            "pipeline": sorted(q(rf"""
                SELECT doc_id, upper(lang), split_part(trim(text), ' ', 1),
                  CAST(len(string_split_regex(trim(text), '\s+')) AS VARCHAR)
                FROM documents
                WHERE contains(lower(text), '{gen.KEYWORD}') AND n_chars >= {p['min_chars']}
            """).fetchall()),
            "agg": sorted(q(f"""
                SELECT lang, CAST(COUNT(*) AS VARCHAR) FROM documents
                WHERE doc_id % {p['agg_slice_mod']} = 0 GROUP BY lang
            """).fetchall()),
            "topk": q(f"""
                SELECT doc_id FROM documents WHERE doc_id % {p['topk_slice_mod']} = 0
                ORDER BY n_chars DESC, doc_id LIMIT {p['topk_k']}
            """).fetchall(),
        }

    def wrap_layers(self) -> None:
        """Traced run only: spans on the operators the plan layer resolves
        at execute time, and on the cascade. sem_agg and sem_topk are
        called here directly and spanned at the call."""
        t = self.tracer
        for op in ("sem_filter", "sem_map", "sem_extract"):
            t.wrap("lotus_spark", op, f"operators.{op}")
        t.wrap("lotus_spark.cascades.filter_cascade", "sem_filter_cascade",
               "cascades.sem_filter_cascade")

    # -- the operation ------------------------------------------------------

    def run(self, kind: str, i: int, warm: bool = False):
        """One pass. Returns its results, checked later by :meth:`check`."""
        from pyspark.sql import functions as F

        import lotus_spark as ls
        from lotus_spark.plans.lazyframe import LazyFrame

        p, lms, t = PARAMS, self.lms, self.tracer
        for lm in lms.values():
            lm.simulate = not warm
        s = time.perf_counter()
        docs = self.spark.read.parquet(self.path)
        lf = (
            LazyFrame()
            .sem_filter(INSTR_FILTER, lm=lms["filter_oracle"],
                        helper_lm=lms["filter_helper"],
                        cascade_args=self.cascade_args)
            .filter(f"n_chars >= {p['min_chars']}")
            .sem_map(INSTR_MAP, lm=lms["map"])
            .sem_extract(["text"], {"first_word": "the first word",
                                    "n_tokens": "number of tokens"},
                         lm=lms["extract"])
        )
        with t.span("plans.optimize"):
            plan = lf.optimize()
        with t.span("plans.execute") as sp:
            out = plan.execute(docs)
        with t.action(sp):
            rows = out.select("doc_id", "_map", "first_word", "n_tokens").collect()
        pipeline = sorted(tuple(r) for r in rows)
        self.last_steps = {"pipeline": time.perf_counter() - s}

        agg_in = docs.filter(F.col("doc_id") % p["agg_slice_mod"] == 0)
        with t.span("operators.sem_agg") as sp:
            agg = ls.sem_agg(agg_in, INSTR_AGG, lm=lms["agg"], group_by=["lang"])
        with t.action(sp):
            agg_rows = sorted(tuple(r) for r in agg.select("lang", "_output").collect())

        topk_in = docs.filter(F.col("doc_id") % p["topk_slice_mod"] == 0)
        with t.span("operators.sem_topk") as sp:
            top = ls.sem_topk(topk_in, INSTR_TOPK, K=p["topk_k"], lm=lms["topk"],
                              method="quick")
        with t.action(sp):
            top_rows = [(r["doc_id"],) for r in top.orderBy("_rank").collect()]
        return {"pipeline": pipeline, "agg": agg_rows, "topk": top_rows}

    def check(self, kind: str, i: int, result) -> bool:
        e = self.expected
        return (result["pipeline"] == e["pipeline"] and result["agg"] == e["agg"]
                and result["topk"] == e["topk"])

    # -- metrics ------------------------------------------------------------

    def counts(self) -> dict:
        out = {n: c.snapshot() for n, c in self.counters.items()}
        for n, lm in self.lms.items():
            out[n]["driver_prompts"] = lm.driver_prompts
        return out

    def begin_timed(self) -> None:
        self.start_counts = self.counts()
        self.passes = 0

    def after_cycle(self, records: list) -> None:
        self.end_counts = self.counts()
        self.passes += len(records)

    def per_pass(self) -> dict:
        """Endpoint counters over the timed phase, per pass."""
        a, b, passes = self.start_counts, self.end_counts, self.passes
        return {n: {f: (b[n][f] - a[n][f]) / passes for f in a[n]}
                for n in ENDPOINTS}

    def work_per_op(self) -> float:
        """LM prompts per pass, over every endpoint: the LLM bill."""
        return sum(u["prompts"] for u in self.per_pass().values())

    def end_to_end(self, records: list, cycle_walls: list, setup_s: float) -> dict:
        return {
            "setup_s": (setup_s, "s"),
            "wall_s": (median(cycle_walls), "s"),
            "op_p50_s": (median([r["s"] for r in records]), "s"),
            "op2_p50_s": (median([r["steps"].get("pipeline", r["s"])
                                  for r in records]), "s"),
            "work_per_op": (self.work_per_op(), "count"),
        }

    def layer_metrics(self, tracer) -> dict:
        out = {}
        for name, fields in (
            ("plans.execute", ("construct_s", "eager_jobs", "action_s", "jobs",
                               "stages", "tasks", "shuffle_write_bytes",
                               "executor_run_s", "executor_cpu_s", "gc_s")),
            ("operators.sem_filter", ("construct_s", "eager_jobs")),
            ("operators.sem_map", ("construct_s", "eager_jobs")),
            ("operators.sem_extract", ("construct_s", "eager_jobs")),
            ("operators.sem_agg", ("construct_s", "eager_jobs", "action_s",
                                   "jobs", "tasks")),
            ("operators.sem_topk", ("construct_s", "eager_jobs", "action_s",
                                    "jobs")),
            ("cascades.sem_filter_cascade", ("construct_s", "eager_jobs",
                                             "tasks")),
        ):
            med = tracer.field_medians(name)
            for f in fields:
                out[f"{name}.{f}"] = med[f]
        out["plans.optimize_s"] = tracer.field_medians("plans.optimize")["construct_s"]
        use = self.per_pass()
        for model, names in (("oracle", [n for n in ENDPOINTS if n != "filter_helper"]),
                             ("helper", ["filter_helper"])):
            prompts = sum(use[n]["prompts"] for n in names)
            calls = sum(use[n]["calls"] for n in names)
            out[f"models.{model}.prompts"] = prompts
            out[f"models.{model}.calls"] = calls
            out[f"models.{model}.prompts_per_call"] = prompts / calls if calls else 0.0
            out[f"models.{model}.wait_s"] = sum(use[n]["wait_s"] for n in names)
        gray = use["filter_oracle"]["prompts"] - use["filter_oracle"]["driver_prompts"]
        scored = use["filter_helper"]["prompts"]
        out["cascades.helper_resolved_ratio"] = 1.0 - gray / scored if scored else 0.0
        out["partitioning.lm_stage_tasks"] = sum(use[n]["tasks"] for n in ENDPOINTS)
        return out

    def describe(self, m: dict, info: dict) -> list:
        if "op_p50_s" not in m:
            return []
        return [
            f"semantic_batch setup_s {m['setup_s'][0]:.3f} s "
            f"(warm-up passes {info['warm_ops']})",
            f"semantic_batch wall_s {m['wall_s'][0]:.3f} s (one cycle: one pass)",
            f"semantic_batch pass_p50_s {m['op_p50_s'][0]:.3f} s",
            f"semantic_batch pipeline_p50_s {m['op2_p50_s'][0]:.3f} s "
            "(the LazyFrame stage of a pass)",
            f"semantic_batch lm_prompts {m['work_per_op'][0]:.0f} count per pass",
        ]

"""index_serving: hybrid top-k search over persisted IVF-PQ and BM25
indexes, judged by response time.

Set-up builds an IVF-PQ index (32 cells, m=8, nbits=4) and a BM25
index (16 buckets) over a generated corpus of 64-d embeddings drawn
from a 32-centroid mixture. One timed cycle is a fixed sequence of
single ``hybrid_search_index`` queries followed by one
``hybrid_search_index_batch`` of 16 queries. Query terms follow the
corpus's own Zipf law; set-up puts every term the run's queries use into
``bm25_store``'s process-wide term-bucket cache, as a long-running
server's traffic has, so every timed query does the same work.

It is read-only search whose latency is Spark's fixed per-job cost, uses
no LM, and is the bypass side for LM-path changes.

References, computed outside the timed window: the lexical list from
DuckDB SQL over the snapshot (the repo's BM25 oracle formula, which
``functions.bm25.bm25_search`` matches bit for bit) and exact cosine
similarities from NumPy over the snapshot's embeddings. See
:meth:`IndexServing.check` for what is compared.

The traced run also absorbs one daily increment into every index and
compacts them (:meth:`IndexServing.maintain`), so the maintenance
layers are measured too; the maintained indexes are then probed and
checked against the new snapshot.
"""
from __future__ import annotations

import os
import sys
import time
import traceback

import numpy as np

import gen
from harness import Workload, median

PARAMS = {
    "docs": 10000,
    "n_cells": 32, "pq_m": 8, "pq_nbits": 4, "bm25_buckets": 16,
    "k": 10, "lexical_k": 20, "vector_k": 20, "n_probe": 8, "rrf_k": 60,
    "single_per_cycle": 2, "batch_size": 16,
    "query_terms": 3, "query_zipf_a": gen.ZIPF_A,
}
# timed cycles whose query terms set-up puts in the term-bucket cache: a
# run times 2 cycles, or more only if cycles take under --seconds / 2
CACHED_CYCLES = 4
# the traced run's daily increment, as shares of the base corpus
# and the base docs the cluster/minhash index holds (the first ones by
# id): its build is the slowest step, and a traced run must end in 180 s
MAINTENANCE = {"added": 0.01, "changed": 0.005, "removed": 0.005, "probes": 3,
               "cluster_docs": 2500}
# Maintenance takes 35-40 s on a calm host and a run must end within
# 180 s: a traced run that reaches it later than this skips it.
MAINTAIN_BEFORE_S = 100.0
_WRITER = ("construct_s", "jobs", "bytes_written", "files_written")
# (span, fields) the traced run reports for the maintenance calls
MAINTENANCE_LAYERS = (
    ("index_cdc.apply_snapshot_to_ivfpq_index", _WRITER),
    ("index_cdc.apply_snapshot_to_bm25_index", _WRITER),
    ("ann.append_ivfpq_index", ("construct_s", "jobs")),
    ("bm25_store.append_bm25_index", ("construct_s", "jobs")),
    ("cluster_index.build_cluster_index", _WRITER),
    ("cluster_index.assign_clusters_against_index", ("construct_s", "eager_jobs")),
    ("cluster_index.apply_cluster_assignments", _WRITER),
    ("dedup_index.append_minhash_index", _WRITER),
    ("ann.compact_ivfpq_index", _WRITER),
    ("bm25_store.compact_bm25_index", _WRITER),
    ("serving.read_after_write", ("construct_s", "action_s", "jobs")),
)


class QueryStream:
    """Deterministic queries. Query ``u`` of the timed (or the warm-up)
    stream has ``query_terms`` distinct terms drawn by Zipf rank from the
    vocabulary, with the exponent the corpus texts use, and an embedding
    from the corpus mixture, all from an RNG keyed by (seed, stream, u):
    nothing depends on how many queries ran before."""

    def __init__(self, corpus: gen.IndexCorpus, seed: int) -> None:
        self.corpus, self.seed = corpus, seed

    def query(self, u: int, warm: bool):
        vocab, p = self.corpus.vocab, PARAMS
        rng = np.random.default_rng([self.seed, 4, int(warm), u])
        terms: list[str] = []
        while len(terms) < p["query_terms"]:
            w = vocab[int(gen.zipf_ranks(rng, 1, len(vocab), p["query_zipf_a"])[0])]
            if w not in terms:
                terms.append(w)
        vec = self.corpus.embeddings(rng, 1)[0]
        return " ".join(terms), [float(v) for v in vec]


class IndexServing(Workload):
    CYCLE = ("query",) * PARAMS["single_per_cycle"] + ("batch",)
    TIMED_CYCLES = 2

    def __init__(self, *args) -> None:
        super().__init__(*args)
        self.snap = os.path.join(self.work, "snapshot.parquet")
        self.ivf = os.path.join(self.work, "ivfpq")
        self.bm25 = os.path.join(self.work, "bm25")

    # -- set-up ------------------------------------------------------------

    def setup(self) -> dict:
        p = PARAMS
        self.corpus = gen.IndexCorpus(self.seed, p["docs"])
        self.corpus.write_snapshot(self.snap)
        self.stream = QueryStream(self.corpus, self.seed)
        t0 = time.perf_counter()
        self.build()
        build_s = time.perf_counter() - t0
        self.warm_term_cache()
        self._reference_setup()
        # the DAG scheduler numbers jobs as they are submitted
        self.dag = self.spark.sparkContext._jsc.sc().dagScheduler()
        return {"build_s": build_s, "cached_terms": self.cached_terms}

    def build(self) -> None:
        from lotus_spark.functions.ann import ivf_index, pq_index, write_ivfpq_index
        from lotus_spark.functions.bm25_store import write_bm25_index

        p, t = PARAMS, self.tracer
        docs = self.spark.read.parquet(self.snap)
        with t.span("ann.ivf_index"):
            cells, cents = ivf_index(
                docs.select("doc_id", "embedding"), "embedding",
                n_cells=p["n_cells"], seed=self.seed, method="deterministic",
                id_col="doc_id")
        with t.span("ann.pq_index"):
            enc, books = pq_index(cells, "embedding", "doc_id", m=p["pq_m"],
                                  nbits=p["pq_nbits"], seed=self.seed + 1)
        with t.span("ann.write_ivfpq_index", [self.ivf]):
            write_ivfpq_index(enc, self.ivf, cents, books)
        with t.span("bm25_store.write_bm25_index", [self.bm25]):
            write_bm25_index(docs.select("doc_id", "text"), self.bm25, "text",
                             "doc_id", n_buckets=p["bm25_buckets"])

    def warm_term_cache(self) -> None:
        """Put the terms of every query the run sends (the warm-up and up
        to ``CACHED_CYCLES`` timed cycles) into ``bm25_store``'s
        process-wide term-bucket cache, as a long-running server's cache
        already holds its traffic's words: one untimed lexical query over
        all of them builds the lookup (one job) and is not run. Every
        timed query is then a cache hit and does the same kind of work;
        left to chance, a query with a new term pays an extra job, and
        whether the median query did so changed with the seed."""
        from lotus_spark.functions.bm25_store import bm25_search_index

        terms: set = set()
        for warm, cycles in ((True, self.WARM_CYCLES), (False, CACHED_CYCLES)):
            for i in range(cycles * len(self.CYCLE)):
                members = ([-1] if self.CYCLE[i % len(self.CYCLE)] == "query"
                           else range(PARAMS["batch_size"]))
                for j in members:
                    terms |= set(self._query(i, j, warm)[0].split())
        # the traced run spans this call on its own, not as a query
        lexical = self.tracer.originals.get("bm25_store.bm25_search_index",
                                            bm25_search_index)
        with self.tracer.span("bm25_store.term_cache_warm"):
            lexical(self.spark, self.bm25, " ".join(sorted(terms)), k=1)
        self.cached_terms = len(terms)

    def _reference_setup(self, snap: str | None = None) -> None:
        import duckdb
        import pyarrow.parquet as pq

        snap = snap or self.snap
        tab = pq.read_table(snap)
        self.ids = tab["doc_id"].to_numpy()
        emb = np.stack(tab["embedding"].to_numpy(zero_copy_only=False)).astype(np.float64)
        self.emb = emb / np.linalg.norm(emb, axis=1, keepdims=True)
        con = duckdb.connect()
        con.execute(rf"""
            CREATE TABLE tok AS SELECT doc_id,
              unnest(string_split_regex(lower(trim(text)), '\s+')) AS term
            FROM read_parquet('{snap}');
            CREATE TABLE post AS SELECT term, doc_id, COUNT(*) AS tf FROM tok
              WHERE term != '' GROUP BY 1, 2;
            CREATE TABLE dlen AS SELECT doc_id, SUM(tf) AS dl FROM post GROUP BY 1;
            CREATE TABLE tdf AS SELECT term, COUNT(*) AS df FROM post GROUP BY 1;
            CREATE TABLE g AS SELECT COUNT(*) AS n,
              CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl FROM dlen;
        """)
        self.duck = con

    def lexical_reference(self, text: str) -> list:
        terms = sorted(set(text.lower().split()))
        lst = ", ".join(f"'{t}'" for t in terms)
        return self.duck.execute(f"""
            WITH part AS (
              SELECT p.doc_id, CAST(ROUND(
                ln(1 + (g.n - t.df + 0.5) / (t.df + 0.5)) * (p.tf * (1.0 + 1.2))
                / (p.tf + 1.2 * (1.0 - 0.75 + 0.75 * l.dl / g.avgdl)), 9)
                AS DECIMAL(28,10)) AS p
              FROM post p JOIN tdf t USING (term) JOIN dlen l USING (doc_id), g
              WHERE p.term IN ({lst}))
            SELECT doc_id FROM part GROUP BY doc_id
            ORDER BY CAST(SUM(p) AS DOUBLE) DESC, doc_id
            LIMIT {PARAMS['lexical_k']}
        """).fetchall()

    def wrap_layers(self) -> None:
        """Traced run only: ``hybrid_search_index`` imports its parts at
        call time, so spanning the module attributes spans its inner
        calls on the very queries it serves."""
        t = self.tracer
        t.wrap("lotus_spark.functions.bm25_store", "bm25_search_index",
               "bm25_store.bm25_search_index")
        t.wrap("lotus_spark.functions.bm25_store", "bm25_search_index_batch",
               "bm25_store.bm25_search_index_batch")
        t.wrap("lotus_spark.functions.ann", "knn_topk_ivfpq", "ann.knn_topk_ivfpq")
        t.wrap("lotus_spark.functions.ann", "knn_topk_ivfpq_batch",
               "ann.knn_topk_ivfpq_batch")
        t.wrap("lotus_spark.functions.bm25", "rrf_fuse", "bm25.rrf_fuse")
        t.wrap("lotus_spark.functions.bm25", "rrf_fuse_batch", "bm25.rrf_fuse_batch")

    # -- the operations ------------------------------------------------------

    def _query(self, i: int, member: int = -1, warm: bool = False):
        """Operation ``i``'s query, or member ``member`` of batch ``i``."""
        u = i * (PARAMS["batch_size"] + 1) + member + 1
        return self.stream.query(u, warm)

    def run(self, kind: str, i: int, warm: bool = False):
        from lotus_spark.functions.serving import (
            hybrid_search_index, hybrid_search_index_batch,
        )

        p, t = PARAMS, self.tracer
        knobs = dict(k=p["k"], lexical_k=p["lexical_k"], vector_k=p["vector_k"],
                     n_probe=p["n_probe"], rrf_k=p["rrf_k"], vector_id_col="doc_id")
        j0 = self.dag.numTotalJobs()
        if kind == "query":
            text, vec = self._query(i, warm=warm)
            s = time.perf_counter()
            with t.span("serving.hybrid_search_index") as sp:
                df = hybrid_search_index(self.spark, self.bm25, self.ivf, text, vec,
                                         **knobs)
            with t.action(sp):
                rows = df.collect()
            out = {(i, -1): [(r["doc_id"], r["rrf_score"]) for r in rows]}
        else:
            qs = {f"{i}.{j}": self._query(i, j, warm) for j in range(p["batch_size"])}
            s = time.perf_counter()
            with t.span("serving.hybrid_search_index_batch") as sp:
                df = hybrid_search_index_batch(self.spark, self.bm25, self.ivf, qs,
                                               **knobs)
            with t.action(sp):
                rows = df.collect()
            out = {q: [] for q in qs}
            for r in sorted(rows, key=lambda r: (-r["rrf_score"], r["doc_id"])):
                out[r["query_id"]].append((r["doc_id"], r["rrf_score"]))
        self.last_steps = {"s": time.perf_counter() - s,
                           "jobs": self.dag.numTotalJobs() - j0}
        return out

    def after_timed(self, elapsed_s: float) -> list:
        self.time_parts()
        if elapsed_s > MAINTAIN_BEFORE_S:
            print(f"perfbench: index maintenance skipped: the run is {elapsed_s:.0f} s "
                  f"old and must end within 180 s; its layers read 0", file=sys.stderr)
            return []
        return self.maintain()

    def time_parts(self) -> None:
        """The parts of ``hybrid_search_index``, each run to its own
        action on the first three timed single queries, for their action
        time and jobs (inside the hybrid query they share one action)."""
        from lotus_spark.functions.ann import read_ivfpq_index

        p, t = PARAMS, self.tracer
        lexical = t.originals["bm25_store.bm25_search_index"]
        vector = t.originals["ann.knn_topk_ivfpq"]
        fuse = t.originals["bm25.rrf_fuse"]
        t.active = True
        n = len(self.CYCLE)
        singles = [i for i in range(n * self.TIMED_CYCLES) if self.CYCLE[i % n] == "query"]
        for i in singles[:3]:
            text, vec = self._query(i)
            with t.operation(f"parts-{i}"):
                with t.span("bm25_store.bm25_search_index") as sp:
                    df = lexical(self.spark, self.bm25, text, k=p["lexical_k"])
                with t.action(sp):
                    lex = df.collect()
                stored, cents, books, cell_col = read_ivfpq_index(self.spark, self.ivf)
                with t.span("ann.knn_topk_ivfpq") as sp:
                    df = vector(stored, cents, books, vec, k=p["vector_k"],
                                n_probe=p["n_probe"], id_col="doc_id",
                                cell_col=cell_col)
                with t.action(sp):
                    vrows = df.select("doc_id", "score").collect()
                lists = [self.spark.createDataFrame(
                    [(r["doc_id"], float(r["score"])) for r in rows],
                    "doc_id long, score double") for rows in (lex, vrows)]
                with t.span("bm25.rrf_fuse") as sp:
                    df = fuse(lists, "doc_id", k=p["k"], rrf_k=p["rrf_k"])
                with t.action(sp):
                    df.collect()
        t.active = False

    def maintain(self) -> list:
        """One daily increment absorbed into every index, then one
        compaction of each; each call is spanned with the bytes and files
        it writes. The maintained indexes then answer read-after-write
        probes, checked against references over the new snapshot.
        Returns the check records (an exception is a failed check)."""
        t = self.tracer
        t.wrap("lotus_spark.functions.index_cdc", "append_ivfpq_index",
               "ann.append_ivfpq_index")
        t.wrap("lotus_spark.functions.bm25_store", "append_bm25_index",
               "bm25_store.append_bm25_index")
        t.active = True
        s, err = time.perf_counter(), None
        try:
            with t.operation("maintenance"):
                self.apply_increment()
        except Exception:  # noqa: BLE001 - a failed operation is counted, not fatal
            err = traceback.format_exc()
        records = [{"kind": "increment", "i": 0, "s": time.perf_counter() - s,
                    "result": None, "steps": {}, "error": err}]
        if err is None:
            records += self.probe_after_write()
        t.active = False
        return records

    def apply_increment(self) -> None:
        from lotus_spark.functions.ann import compact_ivfpq_index
        from lotus_spark.functions.bm25_store import compact_bm25_index
        from lotus_spark.functions.cluster_index import (
            apply_cluster_assignments, assign_clusters_against_index,
            build_cluster_index,
        )
        from lotus_spark.functions.dedup_index import append_minhash_index
        from lotus_spark.functions.index_cdc import (
            apply_snapshot_to_bm25_index, apply_snapshot_to_ivfpq_index,
        )
        from lotus_spark.functions.snapshot import snapshot_diff

        spark, t, m = self.spark, self.tracer, MAINTENANCE
        mh = os.path.join(self.work, "minhash")
        self.mh = mh
        base = (spark.read.parquet(self.snap).select("doc_id", "text")
                .filter(f"doc_id < {m['cluster_docs']}"))
        with t.span("cluster_index.build_cluster_index", [mh, mh + ".clusters"]):
            build_cluster_index(spark, base, mh, "text", "doc_id")
        self.base_ids = {int(d) for d in self.ids if d < m["cluster_docs"]}
        n = PARAMS["docs"]
        inc = self.corpus.next_day(np.random.default_rng([self.seed, 5]),
                                   added=int(n * m["added"]),
                                   changed=int(n * m["changed"]),
                                   removed=int(n * m["removed"]))
        self.snap1 = os.path.join(self.work, "snapshot-1.parquet")
        self.corpus.write_snapshot(self.snap1)
        self.added = os.path.join(self.work, "added-1.parquet")
        gen.write(gen.IndexCorpus.table(inc), self.added)
        self.added_ids = set(inc["doc_id"].tolist())
        # each probe asks for an added doc: its three rarest words (by
        # Zipf rank) and its embedding
        rank = {w: r for r, w in enumerate(self.corpus.vocab)}
        self.probes = [(" ".join(sorted(set(text.split()), key=rank.get)[-3:]),
                        [float(v) for v in emb])
                       for text, emb in zip(inc["text"][:m["probes"]],
                                            inc["embedding"][:m["probes"]])]
        old, new = spark.read.parquet(self.snap), spark.read.parquet(self.snap1)
        diff = snapshot_diff(old, new, "doc_id", ["text", "embedding"])
        with t.span("index_cdc.apply_snapshot_to_ivfpq_index", [self.ivf]):
            apply_snapshot_to_ivfpq_index(spark, self.ivf, diff,
                                          new.select("doc_id", "embedding"),
                                          emb_col="embedding", id_col="doc_id")
        with t.span("index_cdc.apply_snapshot_to_bm25_index", [self.bm25]):
            apply_snapshot_to_bm25_index(spark, self.bm25, diff,
                                         new.select("doc_id", "text"))
        add = spark.read.parquet(self.added).select("doc_id", "text")
        with t.span("cluster_index.assign_clusters_against_index"):
            assigned, remap = assign_clusters_against_index(
                spark, mh, add, "text", "doc_id", corpus_df=base)
        with t.span("cluster_index.apply_cluster_assignments", [mh + ".clusters"]):
            apply_cluster_assignments(spark, mh, assigned, remap, "doc_id")
        with t.span("dedup_index.append_minhash_index", [mh]):
            append_minhash_index(spark, mh, add, "text", "doc_id")
        self.files_per_cell = {"appended": self.ivf_files_per_cell()}
        with t.span("ann.compact_ivfpq_index", [self.ivf]):
            compact_ivfpq_index(spark, self.ivf)
        with t.span("bm25_store.compact_bm25_index", [self.bm25]):
            compact_bm25_index(spark, self.bm25)
        self.files_per_cell["compacted"] = self.ivf_files_per_cell()

    def ivf_files_per_cell(self) -> float:
        """Mean data files per IVF cell directory: what a probe opens."""
        counts = [sum(f.endswith(".parquet") for f in files)
                  for d, _, files in os.walk(self.ivf) if "=" in os.path.basename(d)]
        return sum(counts) / len(counts) if counts else 0.0

    def probe_after_write(self) -> list:
        """Hybrid probes for added docs on the maintained indexes,
        checked as timed queries are but against the new snapshot; then
        the cluster map must hold every base and added doc once."""
        from lotus_spark.functions.cluster_index import read_cluster_map
        from lotus_spark.functions.serving import hybrid_search_index

        p, t = PARAMS, self.tracer
        self._reference_setup(self.snap1)
        knobs = dict(k=p["k"], lexical_k=p["lexical_k"], vector_k=p["vector_k"],
                     n_probe=p["n_probe"], rrf_k=p["rrf_k"], vector_id_col="doc_id")
        records = []
        for j, query in enumerate(self.probes):
            s = time.perf_counter()
            with t.operation(f"probe-{j}"):
                with t.span("serving.read_after_write") as sp:
                    df = hybrid_search_index(self.spark, self.bm25, self.ivf, *query,
                                             **knobs)
                with t.action(sp):
                    rows = [(r["doc_id"], r["rrf_score"]) for r in df.collect()]
            ok = self.check_one(query, rows)
            records.append({"kind": "probe", "i": j, "s": time.perf_counter() - s,
                            "result": rows, "steps": {},
                            "error": None if ok else "result differs from the reference"})
        ids = [r["id"] for r in read_cluster_map(self.spark, self.mh).select("id").collect()]
        ok = len(ids) == len(set(ids)) and set(ids) == self.base_ids | self.added_ids
        records.append({"kind": "cluster_map", "i": 0, "s": 0.0, "result": len(ids),
                        "steps": {},
                        "error": None if ok else "cluster map ids differ from the corpus"})
        return records

    # -- checks ----------------------------------------------------------------

    def check(self, kind: str, i: int, result) -> bool:
        for qkey, rows in result.items():
            if isinstance(qkey, str):  # a batch member "<i>.<j>"
                qkey = tuple(int(x) for x in qkey.split("."))
            if not self.check_one(self._query(*qkey), rows):
                return False
        return True

    def check_one(self, query, rows) -> bool:
        """The fused top-k against independent references.

        - Lexical, exact: subtracting each row's reciprocal lexical rank
          (from the DuckDB reference) must leave either nothing or one
          reciprocal vector rank ``1/(rrf_k + r)``, ``r <= vector_k``;
          and no reference lexical hit that was left out may outscore
          the last row kept.
        - Vector, consistent: the vector ranks so implied must order the
          rows by exact cosine similarity (ties by id); the vector side
          is approximate (IVF probe, PQ shortlist), so membership is not
          compared.
        - Shape: ``k`` rows, ordered by fused score then id.
        """
        p = PARAMS
        text, vec = query
        rk = p["rrf_k"]
        lex = {d: r + 1 for r, (d,) in enumerate(self.lexical_reference(text))}
        if len(rows) != p["k"]:
            return False
        if rows != sorted(rows, key=lambda x: (-x[1], x[0])):
            return False
        inv = {1.0 / (rk + r): r for r in range(1, p["vector_k"] + 1)}
        vranks = {}
        for d, score in rows:
            rest = score - (1.0 / (rk + lex[d]) if d in lex else 0.0)
            if abs(rest) < 1e-12:
                continue
            r = [r for x, r in inv.items() if abs(rest - x) < 1e-12]
            if not r:
                return False
            vranks[d] = r[0]
        floor = rows[-1][1]
        kept = {d for d, _ in rows}
        if any(1.0 / (rk + r) > floor + 1e-12 for d, r in lex.items() if d not in kept):
            return False
        q = np.asarray(vec, dtype=np.float64)
        q /= np.linalg.norm(q)
        pos = {int(d): n for n, d in enumerate(self.ids)}
        if any(d not in pos for d in vranks):
            return False
        cos = {d: float(self.emb[pos[d]] @ q) for d in vranks}
        by_rank = sorted(vranks, key=lambda d: vranks[d])
        by_cos = sorted(vranks, key=lambda d: (-cos[d], d))
        return by_rank == by_cos

    # -- metrics ---------------------------------------------------------------

    def begin_timed(self) -> None:
        self.batch_jobs, self.query_jobs = [], []

    def after_cycle(self, records: list) -> None:
        for r in records:
            jobs = self.batch_jobs if r["kind"] == "batch" else self.query_jobs
            jobs.append(r["steps"]["jobs"])

    def work_per_op(self) -> float:
        """Spark jobs one 16-query batch submits (median over the run)."""
        return median(self.batch_jobs) if self.batch_jobs else 0.0

    def end_to_end(self, records: list, cycle_walls: list, setup_s: float) -> dict:
        single = [r for r in records if r["kind"] == "query"]
        batch = [r for r in records if r["kind"] == "batch"]
        return {
            "setup_s": (setup_s, "s"),
            "wall_s": (median(cycle_walls), "s"),
            "op_p50_s": (median([r["s"] for r in single]), "s"),
            "op2_p50_s": (median([r["s"] for r in batch]), "s"),
            "work_per_op": (self.work_per_op(), "count"),
        }

    def layer_metrics(self, tracer) -> dict:
        out = {}
        for name, fields in (
            ("serving.hybrid_search_index", ("construct_s", "eager_jobs", "action_s",
                                             "jobs", "stages", "tasks")),
            ("serving.hybrid_search_index_batch", ("construct_s", "eager_jobs",
                                                   "action_s", "jobs", "stages",
                                                   "tasks")),
            ("bm25_store.bm25_search_index", ("construct_s", "eager_jobs",
                                              "action_s", "jobs")),
            ("ann.knn_topk_ivfpq", ("construct_s", "eager_jobs", "action_s",
                                    "jobs")),
            ("bm25.rrf_fuse", ("construct_s", "action_s", "jobs")),
            ("ann.write_ivfpq_index", ("construct_s", "jobs", "bytes_written",
                                       "files_written")),
            ("bm25_store.write_bm25_index", ("construct_s", "jobs", "bytes_written",
                                             "files_written")),
        ):
            med = tracer.field_medians(name)
            for f in fields:
                out[f"{name}.{f}"] = med[f]
        for name in ("ann.ivf_index", "ann.pq_index"):
            out[f"{name}.construct_s"] = tracer.field_medians(name)["construct_s"]
        med = tracer.field_medians("bm25_store.term_cache_warm")
        for f in ("construct_s", "eager_jobs"):
            out[f"bm25_store.term_cache_warm.{f}"] = med[f]
        for name, fields in MAINTENANCE_LAYERS:
            med = tracer.field_medians(name)
            for f in fields:
                out[f"{name}.{f}"] = med[f]
        for when, v in getattr(self, "files_per_cell", {}).items():
            out[f"ann.ivfpq_files_per_cell.{when}"] = v
        return out

    def describe(self, m: dict, info: dict) -> list:
        if "op_p50_s" not in m:
            return []
        return [
            f"index_serving setup_s {m['setup_s'][0]:.3f} s (index builds "
            f"{info['build_s']:.1f} s, warm-up ops {info['warm_ops']}, terms put in "
            f"the term-bucket cache {info['cached_terms']})",
            f"index_serving wall_s {m['wall_s'][0]:.3f} s "
            f"({PARAMS['single_per_cycle']} queries + 1 batch)",
            f"index_serving query_p50_s {m['op_p50_s'][0]:.3f} s "
            f"({len(self.query_jobs)} queries, jobs per query "
            f"{sorted(set(self.query_jobs))})",
            f"index_serving batch_p50_s {m['op2_p50_s'][0]:.3f} s",
            f"index_serving jobs_per_batch {m['work_per_op'][0]:.0f} count",
        ]

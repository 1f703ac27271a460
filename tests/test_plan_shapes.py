"""Physical-plan shape regression tests.

The scale story rests on claims the unit tests cannot see — "this
shuffle carries only narrow columns", "this filter reaches the parquet
scan", "this dimension joins as a broadcast". These tests pin those
claims by inspecting ``explain``-formatted plans, so a future edit that
silently widens an exchange or breaks pushdown fails CI rather than a
100 TB run. Matching is intentionally loose (substring checks on the
formatted plan) to survive cosmetic Spark changes.
"""

import re

import pytest
from pyspark.sql import functions as F


def formatted_plan(df) -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"))


def exchanges(plan: str) -> list:
    """(arguments-line, input-columns) for every shuffle Exchange."""
    out = []
    for m in re.finditer(
            r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]\n"
            r"Arguments: ([^\n]*)", plan):
        out.append((m.group(2), m.group(1)))
    return out


def final_plan_above_union(df) -> str:
    """The operators above the first ``Union`` in ``df``'s executed plan
    (AQE's final plan once an action has run) — where an exchange would
    show if the union lost its children's common partitioning."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "== Final Plan ==" in plan:
        plan = plan.split("== Final Plan ==")[1].split(
            "== Initial Plan ==")[0]
    assert "Union" in plan, plan
    return plan[:plan.index("Union")]


@pytest.fixture(scope="module")
def docs(spark):
    rows = [(i, f"src{i % 3}", "en",
             " ".join(f"w{(i * 7 + j) % 50}" for j in range(20)))
            for i in range(200)]
    return spark.createDataFrame(rows, ["doc_id", "source", "lang", "text"])


def test_span_dedup_shuffles_are_narrow(spark, docs):
    """The dedup shuffles must carry fixed-width columns — never the
    gram string (hash mode) and never document text."""
    from lotus_spark.functions.dedup import span_dedup

    plan = formatted_plan(span_dedup(docs, "text", "doc_id", k=4))
    for args, cols in exchanges(plan):
        if "hashpartitioning(__k" in args:
            assert "__gram" not in cols and "text" not in cols, (args, cols)
        if "hashpartitioning(__did" in args:
            assert "text" not in cols, (args, cols)


def test_paragraph_dedup_shuffle_excludes_text(spark, docs):
    """Hash-keyed mode: the winner aggregate must shuffle (did, pos,
    hash) only — the round-4 verdict caught a docstring claiming this
    while the plan shuffled paragraph text; keep them honest."""
    from lotus_spark.functions.dedup import paragraph_dedup

    plan = formatted_plan(
        paragraph_dedup(docs, "text", "doc_id", sep=" "))
    for args, cols in exchanges(plan):
        if "hashpartitioning(__k" in args or "hashpartitioning(__para_key" in args:
            assert "__para" not in cols.replace("__para_key", ""), (args, cols)
            assert "text" not in cols, (args, cols)


def test_quality_filter_pushdown_reaches_scan(spark, tmp_path):
    """A native filter composed under the plan layer must reach the
    parquet scan as a PushedFilter, and pruning must shrink ReadSchema."""
    p = str(tmp_path / "docs.parquet")
    spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("body "), F.col("id").cast("string")).alias("text"),
        (F.col("id") % 5).alias("label"),
    ).write.parquet(p)
    df = (spark.read.parquet(p)
          .filter(F.col("label") == 3)
          .select("doc_id", "label"))
    plan = formatted_plan(df)
    assert "PushedFilters: [" in plan and "label" in plan.split(
        "PushedFilters:")[1].split("]")[0]
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "text" not in read_schema  # column pruning


def test_broadcast_dim_join_stays_broadcast(spark, docs):
    """A small dim marked broadcast must appear as a BroadcastHashJoin,
    not a shuffle join."""
    dim = spark.createDataFrame(
        [(f"src{i}", f"domain{i}") for i in range(3)], ["source", "dom"])
    plan = formatted_plan(docs.join(F.broadcast(dim), "source"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_minhash_signature_is_map_only(spark, docs):
    """Signature computation is a pure projection: no shuffle Exchange
    may appear beyond the parallelism round-robin."""
    from lotus_spark.functions.dedup import minhash_signature

    plan = formatted_plan(minhash_signature(docs, "text", n_hashes=4))
    for args, _ in exchanges(plan):
        assert "hashpartitioning" not in args, args


def test_hash_split_is_zero_shuffle(spark, docs):
    """The split label is a map-side expression: zero exchanges of any
    kind on a well-partitioned input."""
    from lotus_spark.functions.sampling import hash_split

    many = docs.repartition(64)  # above defaultParallelism: no round-robin
    plan = formatted_plan(hash_split(many, "doc_id", {"a": 0.5, "b": 0.5}))
    # the only Exchange is the repartition(64) in THIS test's input;
    # hash_split itself must add none
    assert plan.count(") Exchange") == 1
    assert "RoundRobinPartitioning(64)" in plan


def test_ivf_partitioned_table_prunes_cells_at_scan(spark, tmp_path):
    """THE IVF scale pattern the ann.py docstrings promise: write the
    indexed table ``partitionBy(cell_col)`` once, and a probe query's
    cell predicate becomes a PARTITION FILTER — the scan reads n_probe
    directories, never the corpus. Pin it: the parquet scan's partition
    filters mention the cell column, and only the probed cells' rows
    are read."""
    import numpy as np

    from lotus_spark.functions.ann import ivf_index, knn_topk

    rng = np.random.RandomState(5)
    vecs = rng.randn(120, 8).astype("float32")
    df = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(120)],
        ["vec_id", "embedding"])
    indexed, cents = ivf_index(df, "embedding", n_cells=4, seed=9,
                               method="deterministic", id_col="vec_id",
                               cell_col="ivf_cell")
    path = str(tmp_path / "ivf_table")
    indexed.write.partitionBy("ivf_cell").parquet(path)

    stored = spark.read.parquet(path)
    probe = [0, 2]
    pruned = stored.filter(F.col("ivf_cell").isin(probe))
    plan = formatted_plan(pruned)
    scan = plan[plan.index("Scan parquet"):]
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", scan)
    assert pf is not None and "ivf_cell" in pf.group(1)

    # end-to-end: top-k over the pruned scan touches only probed cells
    q = [float(x) for x in vecs[3]]
    got = knn_topk(pruned, "embedding", q, k=5, id_col="vec_id")
    cells = {r["vec_id"]: r["ivf_cell"] for r in stored.collect()}
    assert all(cells[r["vec_id"]] in probe for r in got.collect())


def test_ann_join_pq_candidates_are_zero_shuffle(spark):
    """The broadcast-PQ join's claims, pinned on the physical plan:
    candidate generation is a mapInPandas over the LEFT with no Exchange
    upstream of it (the codes ride a broadcast variable, invisible to
    the plan), and no shuffle in the whole plan ever carries an
    embedding column — only the narrow (left id, candidate id) relation
    plus scalar score/rank columns cross exchanges."""
    import numpy as np

    from lotus_spark.functions.ann import pq_index
    from lotus_spark.models.vs import BroadcastPQIndex, ann_join_pq

    rng = np.random.RandomState(2)
    vecs = rng.randn(60, 8).astype("float32")
    right = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(60)],
        ["vec_id", "embedding"])
    left = spark.createDataFrame(
        [(100 + j, [float(x) for x in vecs[j]], "z" * 50)
         for j in range(4)],
        ["qid", "lemb", "payload"])
    enc, books = pq_index(right, "embedding", "vec_id", m=4, nbits=2,
                          seed=5)
    ix = BroadcastPQIndex.build(enc, "vec_id", "pq_codes", books)
    out = ann_join_pq(left, right, ix, "qid", "lemb", "vec_id",
                      "embedding", K=3, candidates=60)
    plan = formatted_plan(out)
    # r9: wide left payload never rides the per-candidate stages — it
    # rejoins at the end, so no exchange carrying the score may carry it
    assert "payload" in out.columns
    for args, cols in exchanges(plan):
        if "_scores" in cols:
            assert "payload" not in cols, (args, cols)

    # no Exchange UPSTREAM of the candidate-generating python stage: in
    # the formatted tree, MapInPandas's inputs are the more-indented
    # lines below it — that subtree must be shuffle-free (the codes ride
    # a broadcast variable, not an exchange)
    def depth(ln):
        # ':' marks sibling branches at the same visual column; treat it
        # as indentation so nesting depth is the '+-' position
        return len(ln) - len(ln.replace(":", " ").lstrip())

    tree = plan.split("\n\n")[0].splitlines()
    idx = next(i for i, ln in enumerate(tree) if "MapInPandas" in ln)
    subtree = []
    for ln in tree[idx + 1:]:
        if ln.strip() and depth(ln) <= depth(tree[idx]):
            break
        subtree.append(ln)
    assert subtree, tree  # MapInPandas has an input subtree
    assert not any("Exchange" in ln for ln in subtree), subtree

    # the rerank join may shuffle the narrow candidate relation (left
    # payload x candidate id) and the right (id, embedding) relation
    # separately, but no SHUFFLE ever carries BOTH sides' embeddings —
    # the full-vector pair product never crosses an exchange
    for args, cols in exchanges(plan):
        assert not ("lemb" in cols and "embedding" in cols), (args, cols)


def test_ann_join_ivf_is_single_equi_join(spark):
    """The cell-partitioned ANN join's scale claims on the plan: the
    candidate stage is ONE equi-join on the cell id (hash or sort-merge
    — AQE-skew-splittable), with no BroadcastNestedLoopJoin and no
    CartesianProduct anywhere, and the right side's shuffle carries only
    (cell, id, embedding) — never left columns."""
    import numpy as np

    from lotus_spark.functions.ann import ann_join_ivf

    rng = np.random.RandomState(4)
    vecs = rng.randn(80, 8).astype("float32")
    right = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(80)],
        ["rid", "remb"])
    left = spark.createDataFrame(
        [(100 + j, [float(x) for x in vecs[j]], "y" * 50)
         for j in range(4)],
        ["qid", "lemb", "payload"])
    out = ann_join_ivf(left, right, "qid", "lemb", "rid", "remb",
                       K=3, n_cells=4, n_probe=2, seed=9)
    plan = formatted_plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Join") >= 1  # the cell equi-join is a real join
    assert "payload" in out.columns
    for args, cols in exchanges(plan):
        if "remb" in cols:
            assert "lemb" not in cols and "qid" not in cols, (args, cols)
        if "remb" in cols or "_scores" in cols:
            # r9: wide left payload never rides the candidate stages
            assert "payload" not in cols, (args, cols)


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """The bucketed-storage claim on the plan: two tables bucketed on
    the join key with equal bucket counts SortMergeJoin with ZERO
    Exchange on either side — the write-time shuffle is amortized across
    every later join. Also pins that sortBy makes the per-bucket Sort
    unnecessary only when Spark can prove one file per bucket; the
    no-Exchange property is the load-bearing one."""
    from lotus_spark.sources.bucketed import (
        drop_bucketed, read_bucketed, write_bucketed,
    )

    a = spark.createDataFrame(
        [(i, f"a{i}") for i in range(200)], ["k", "av"])
    b = spark.createDataFrame(
        [(i % 100, f"b{i}") for i in range(300)], ["k", "bv"])
    write_bucketed(a, "psb_a", "k", 4, sort_cols="k",
                   path=str(tmp_path / "a"))
    write_bucketed(b, "psb_b", "k", 4, sort_cols="k",
                   path=str(tmp_path / "b"))
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = read_bucketed(spark, "psb_a").join(
            read_bucketed(spark, "psb_b"), "k")
        plan = formatted_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert joined.count() == 300

        # groupBy on the bucket key also avoids the aggregate exchange:
        # partial and final aggregation collapse onto the bucketed read
        agg = read_bucketed(spark, "psb_b").groupBy("k").count()
        aplan = formatted_plan(agg)
        assert "Exchange" not in aplan, aplan

        # a plain path read of the same files does NOT know the layout —
        # the catalog carries the bucketing, so consumers must read the
        # table (documented contract of read_bucketed)
        raw = spark.read.parquet(str(tmp_path / "a")).join(
            spark.read.parquet(str(tmp_path / "b")), "k")
        assert "Exchange" in formatted_plan(raw)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        drop_bucketed(spark, "psb_a")
        drop_bucketed(spark, "psb_b")


def test_bucketed_join_coalesces_mismatched_bucket_counts(spark, tmp_path):
    """Integer-multiple bucket counts (8 vs 4) still join exchange-free
    under spark.sql.bucketing.coalesceBucketsInJoin — the larger side's
    buckets coalesce pairwise onto the smaller's. Matters operationally:
    re-bucketing a petabyte table to match every partner's count is
    exactly the shuffle bucketing exists to avoid."""
    from lotus_spark.sources.bucketed import (
        drop_bucketed, read_bucketed, write_bucketed,
    )

    a = spark.createDataFrame(
        [(i, f"a{i}") for i in range(200)], ["k", "av"])
    b = spark.createDataFrame(
        [(i % 100, f"b{i}") for i in range(300)], ["k", "bv"])
    write_bucketed(a, "cbj_a", "k", 8, sort_cols="k",
                   path=str(tmp_path / "a"))
    write_bucketed(b, "cbj_b", "k", 4, sort_cols="k",
                   path=str(tmp_path / "b"))
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    prev_co = spark.conf.get(
        "spark.sql.bucketing.coalesceBucketsInJoin.enabled")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set(
            "spark.sql.bucketing.coalesceBucketsInJoin.enabled", "true")
        joined = read_bucketed(spark, "cbj_a").join(
            read_bucketed(spark, "cbj_b"), "k")
        plan = formatted_plan(joined)
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, plan
        assert joined.count() == 300
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.conf.set(
            "spark.sql.bucketing.coalesceBucketsInJoin.enabled", prev_co)
        drop_bucketed(spark, "cbj_a")
        drop_bucketed(spark, "cbj_b")


def test_ann_join_ivfpq_cell_join_ships_codes_not_vectors(spark):
    """ann_join_ivfpq's scale claim on the plan: the candidate stage is
    ONE equi-join on the cell id with the right side contributing only
    (cell, id, codes) — the full right embedding must NOT cross the
    candidate shuffle (that is ann_join_ivf's payload; the whole point
    of the PQ tier is the m-byte code payload). The right embedding may
    only appear in the RERANK join, keyed by the match id, where the
    left embedding does not ride along with it."""
    import numpy as np

    from lotus_spark.functions.ann import ann_join_ivfpq

    rng = np.random.RandomState(6)
    vecs = rng.randn(80, 8).astype("float64")
    right = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(80)],
        ["rid", "remb"])
    left = spark.createDataFrame(
        [(100 + j, [float(x) for x in vecs[j]], "x" * 50)
         for j in range(4)],
        ["qid", "lemb", "payload"])
    out = ann_join_ivfpq(left, right, "qid", "lemb", "rid", "remb",
                         K=3, n_cells=4, n_probe=2, m=4, nbits=2,
                         seed=9, pq_seed=5)
    plan = formatted_plan(out)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "payload" in out.columns  # left payload survives to the output
    for args, cols in exchanges(plan):
        if "__pq_codes" in cols:
            # the candidate-side shuffle: codes yes, vectors no
            assert "remb" not in cols, (args, cols)
        if "remb" in cols:
            # the rerank-side shuffle: narrow (id, embedding) relation
            assert "lemb" not in cols and "__pq_codes" not in cols, \
                (args, cols)
        if "__pq_codes" in cols or "pq_dist" in cols:
            # wide left payload columns never ride the candidate stages
            assert "payload" not in cols, (args, cols)


def test_minhash_index_probe_shuffles_are_narrow(spark, tmp_path, docs):
    """The corpus-vs-increment probe's scale claim: the candidate
    equi-join on the band string shuffles only (band, id) rows — never
    document text and never signatures; signatures join by id after the
    candidate dedup, and text never leaves the map stage at all."""
    from lotus_spark.functions.dedup_index import (
        neardup_join_index, write_minhash_index,
    )

    path = str(tmp_path / "mhidx")
    write_minhash_index(docs, path, "text", "doc_id",
                        n_hashes=8, bands=2)
    out = neardup_join_index(spark, path, docs, "text", "doc_id",
                             threshold=0.5)
    plan = formatted_plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for args, cols in exchanges(plan):
        assert "text" not in cols, (args, cols)
        if "hashpartitioning(band" in args:
            assert "minhash" not in cols and "__qsig" not in cols \
                and "__msig" not in cols, (args, cols)


def test_minhash_index_exact_verify_text_only_in_id_join(
        spark, tmp_path, docs):
    """The r10 exact-verify tier's scale claim: corpus text enters the
    plan ONLY through the candidate-bounded by-id join — the band
    equi-join still shuffles nothing but (band, id), and no shingle
    arrays ride the band shuffle either (shingling happens after the
    candidate set is fixed)."""
    from lotus_spark.functions.dedup_index import (
        neardup_join_index, write_minhash_index,
    )

    path = str(tmp_path / "mhidx_exact")
    write_minhash_index(docs, path, "text", "doc_id",
                        n_hashes=8, bands=2)
    out = neardup_join_index(spark, path, docs, "text", "doc_id",
                             threshold=0.5, verify="exact",
                             corpus_df=docs)
    plan = formatted_plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for args, cols in exchanges(plan):
        if "hashpartitioning(band" in args:
            assert "text" not in cols, (args, cols)
            assert "__qsh" not in cols and "__csh" not in cols, (args, cols)


def test_ann_join_ivfpq_prebuilt_rerank_gets_dynamic_partition_pruning(
        spark, tmp_path):
    """The r10 probed-cell rerank claim, pinned at the plan level: with
    a persisted (partitionBy-cell) index, joining the rerank embeddings
    on (cell, id) — instead of re-scanning the full index by id — lets
    Catalyst attach dynamicpruningexpression(__ivf_cell IN ...) to the
    index-side scans, so the rerank inherits the ADC pass's cell
    pruning at the storage layer."""
    import numpy as np

    from lotus_spark.functions.ann import (
        ann_join_ivfpq, ivf_index, pq_index, read_ivfpq_index,
        write_ivfpq_index,
    )

    rng = np.random.RandomState(5)
    vecs = rng.randn(300, 8)
    right = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(300)],
        ["rid", "remb"])
    indexed, cents = ivf_index(right, "remb", n_cells=8, seed=9,
                               method="deterministic", id_col="rid")
    enc, books = pq_index(indexed, "remb", "rid", m=4, nbits=2, seed=5)
    path = str(tmp_path / "dppidx")
    write_ivfpq_index(enc, path, cents, books)
    stored, c2, b2, cell_col = read_ivfpq_index(spark, path)
    left = spark.createDataFrame(
        [(900 + j, [float(x) for x in vecs[j * 7]]) for j in range(5)],
        ["qid", "lemb"])
    out = ann_join_ivfpq(left, None, "qid", "lemb", "rid", "remb", K=3,
                         n_probe=2, prebuilt=(stored, c2, b2),
                         cell_col=cell_col)
    plan = formatted_plan(out)
    assert "dynamicpruningexpression(__ivf_cell" in plan


def test_ngram_index_probe_shuffles_only_hashes(spark, tmp_path, docs):
    """The decontamination probe's scale claim: the hash equi-join and
    the per-pair aggregate shuffle only (id, 8-byte hash) rows — train
    text never leaves the map stage, eval text is never stored at all
    (the index holds hashes)."""
    from lotus_spark.functions.decontam_index import (
        contamination_against_index, write_ngram_index,
    )

    path = str(tmp_path / "ngidx")
    write_ngram_index(docs, path, "text", "doc_id", ngram_n=3)
    out = contamination_against_index(spark, path, docs, "text",
                                      "doc_id", min_hits=1)
    plan = formatted_plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for args, cols in exchanges(plan):
        assert "text" not in cols, (args, cols)


def test_jaccard_block_path_single_shingle_pass(spark, docs):
    """The block-local jaccard plan must hash shingles in ONE map pass:
    emitting the L/R chunk-pair sides as a union would reference the
    posting subtree twice (Catalyst plans are trees), running the
    corpus-wide shingle pass once per branch — the r14 fix emits both
    sides from a single explode."""
    from lotus_spark.functions.dedup import jaccard_sim_pairs

    out = jaccard_sim_pairs(docs, "text", "doc_id", shingle_n=2,
                            threshold=0.3, block_col="lang",
                            algorithm="block", chunks=4)
    plan = formatted_plan(out)
    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1, plan
    assert "Union" not in plan, plan


def test_lsh_self_join_exchanges_exclude_shingles(spark, docs):
    """The r14 ``_rep_components`` restructure: banded-LSH candidate
    generation self-joins NARROW (band, id) rows and dedupes pairs as
    two longs; shingle arrays and signatures join back candidate-
    bounded BY ID from the per-rep cache — so no exchange in the edge
    plan may carry ``__shingles``, ``minhash`` or document text."""
    from lotus_spark.functions.dedup import _rep_edges

    edges, sigd = _rep_edges(docs, "text", "doc_id",
                             n_hashes=8, bands=2, shingle_n=3,
                             jaccard_threshold=0.5)
    try:
        plan = formatted_plan(edges)
        assert "CartesianProduct" not in plan
        for args, cols in exchanges(plan):
            assert "__shingles" not in cols, (args, cols)
            assert "minhash" not in cols, (args, cols)
            assert "text" not in cols, (args, cols)
    finally:
        sigd.unpersist(False)


def test_hybrid_batch_fuses_without_exchange_or_outer_join(
        spark, tmp_path):
    """hybrid_search_index_batch's plan: each side reaches its per-query
    top list through ONE exchange keyed by the query id (lexical: the
    scored hits; vector: the ADC ranking, then the rerank), and the RRF
    fusion is a union of the two query-partitioned lists — no full
    outer join, and no exchange between the union and the final top-k
    window (Spark keeps a union's common hash partitioning; if an
    upgrade drops it, this pin fails)."""
    from lotus_spark.functions.serving import hybrid_search_index_batch
    from tests.test_serving import batch_queries, build_indexes

    bm_path, iv_path, vecs = build_indexes(spark, tmp_path)
    out = hybrid_search_index_batch(
        spark, bm_path, iv_path, batch_queries(vecs), k=6, lexical_k=5,
        vector_k=5, n_probe=2, rerank_k=8, vector_id_col="doc_id")
    out.collect()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FullOuter" not in plan
    above = final_plan_above_union(out)
    assert "Exchange" not in above and "Window" in above
    final = plan.split("== Initial Plan ==")[0]
    shuffles = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", final)
    assert len(shuffles) == 3, shuffles
    assert all(re.fullmatch(r"query_id#\d+, \d+", s) for s in shuffles), \
        shuffles

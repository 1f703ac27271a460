"""Incremental near-duplicate CLUSTER assignment against the persisted
MinHash-LSH corpus index — stable cluster ids across days.

``dedup_against_index`` answers "is this new doc a near-dup?";
``minhash_clusters`` answers "which cluster is every doc in?" but only
BATCH-wide, recomputing the whole corpus. Real pipelines need both at
once, daily: each increment doc must receive the SAME cluster id a
full-batch re-clustering would give it, without re-reading the corpus
— cluster ids feed survivor policies, leakage-safe splits, and
per-cluster bookkeeping that must stay stable as the corpus grows.

The incremental algebra (equality with the batch result is the
module's contract, pinned in tests and the ``cluster_assign_incremental``
oracle row):

1. the increment self-clusters (``minhash_clusters`` under the index's
   sidecar-pinned parameters) → local cluster ids (min member id);
2. the increment probes the index (``neardup_join_index``, exact-verify
   tier when the corpus table is in hand) → (inc doc, corpus doc)
   edges under the same banding + threshold;
3. edges lift to CLUSTER nodes (local cluster ↔ matched corpus
   cluster) — a graph bounded by the DAY's matches, never the corpus —
   and connected components over it compute the merges: a new doc
   bridging two old clusters merges them, exactly as a batch run would;
4. final id = min over the merged component = min member doc id —
   byte-equal to ``minhash_clusters`` over corpus ∪ increment, because
   every batch edge class is covered: within-increment (step 1),
   increment↔corpus (step 2; same band keys, same exact-Jaccard
   verify), within-corpus (already folded into the stored map).

Maintenance: ``apply_cluster_assignments`` rewrites the narrow
``clusters`` table (remapped merges + appended assignments,
verify-then-swap); compose with ``append_minhash_index`` for the LSH
state itself. Caveat shared with the verify tiers: with
``corpus_df=None`` the probe uses the signature-agreement ESTIMATOR,
so edge membership near the threshold can differ from a batch run
(recall at τ=0.9 measured 0.949 — BENCH_mhindex.json); pass the corpus
for exact equality.
"""
from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from lotus_spark.functions.dedup import minhash_clusters
from lotus_spark.functions.dedup_index import (
    neardup_join_index,
    read_minhash_meta,
    write_minhash_index,
)
from lotus_spark.functions.index_commit import (
    STAGED_REWRITE,
    _fs_read_json,
    _fs_write_json,
    commit_rewrite,
    sibling,
)

_CMETA = "_cluster_meta.json"

_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def _require_integral_id(df: DataFrame, id_col: str, who: str) -> None:
    """Cluster ids are min-member DOC ids cast to long (and the CC core
    emits ``id long, component long``), so a non-integral id column
    would silently write an all-NULL cluster map instead of failing —
    raise up front with the remedy."""
    dtype = dict(df.dtypes).get(id_col)
    if dtype is None:
        raise ValueError(f"{who}: no column {id_col!r} "
                         f"(columns: {df.columns})")
    if dtype not in _INTEGRAL:
        raise ValueError(
            f"{who}: id column {id_col!r} has type {dtype!r}, but cluster "
            "ids are min-member doc ids and require an integral id column "
            "— derive one first (e.g. xxhash64(string_id) or a dense key) "
            "and keep the mapping alongside the corpus")


def _require_disjoint_increment(
    increment_ids: DataFrame, cmap: DataFrame, id_col: str, who: str,
) -> None:
    """An increment id already present in the cluster map would
    self-match via the probe, collide the local/corpus node namespaces
    in the merge graph, and yield silently wrong assignments — fail
    BEFORE the merge graph is built (the late
    ``apply_cluster_assignments`` dup check would only fire after the
    assignments may have been consumed). Changed docs must be deleted
    from the index + map first (CDC discipline)."""
    dup = (
        increment_ids.select(F.col(id_col).alias("id"))
        .join(cmap.select("id"), "id", "semi").limit(3).collect()
    )
    if dup:
        raise ValueError(
            f"{who}: increment ids already in the cluster map "
            f"(e.g. {[r['id'] for r in dup]}) — an increment must be "
            "disjoint from the indexed corpus; delete changed docs from "
            "the index and map first (functions/index_cdc.py)")


def build_cluster_index(
    spark,
    corpus: DataFrame,
    path: str,
    text_col: str,
    id_col: str,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
    jaccard_threshold: float = 0.7,
) -> None:
    """Day 0: persist the LSH state (``write_minhash_index``) plus the
    corpus's cluster map at the SIBLING directory ``{path}.clusters``
    ((id, cluster) + the threshold sidecar inside it) — one corpus read
    for the index tables, one ``minhash_clusters`` pass for the map.

    Layout note (r12, was ``{path}/clusters`` in r11): the map must NOT
    live inside the MinHash index directory — the index's own
    maintenance (``delete_from_minhash_index`` /
    ``compact_minhash_index``) rewrites that directory with a
    whole-dir verify-then-swap that carries only the index's tables and
    sidecar, so a co-located map was silently DESTROYED by the first
    routine delete or compaction. The sibling placement matches the
    embedding twin (which chose it for the cell-partitioned layout's
    sake) and makes both twins maintenance-safe; the swaps now also
    REFUSE unknown entries rather than dropping them."""
    _require_integral_id(corpus, id_col, "build_cluster_index")
    write_minhash_index(corpus, path, text_col, id_col,
                        n_hashes=n_hashes, bands=bands,
                        shingle_n=shingle_n)
    cl = minhash_clusters(corpus, text_col, id_col, n_hashes=n_hashes,
                          bands=bands, shingle_n=shingle_n,
                          jaccard_threshold=jaccard_threshold)
    (cl.select(F.col(id_col).alias("id"),
               F.col("cluster_id").cast("long").alias("cluster"))
     .write.parquet(f"{path}.clusters"))
    _fs_write_json(spark, f"{path}.clusters/{_CMETA}",
                   {"jaccard_threshold": float(jaccard_threshold)})


def read_cluster_map(spark, path: str) -> DataFrame:
    """The persisted (id, cluster) map (``{path}.clusters`` sibling)."""
    return spark.read.parquet(f"{path}.clusters")


def assign_clusters_against_index(
    spark,
    path: str,
    increment: DataFrame,
    text_col: str,
    id_col: str,
    corpus_df: DataFrame | None = None,
    cluster_col: str = "cluster",
) -> tuple[DataFrame, DataFrame]:
    """Day N: assign every increment doc its batch-equal cluster id.
    Returns ``(assignments, corpus_remap)``:

    - ``assignments`` — ``(id_col, cluster_col)``, one row per
      increment doc;
    - ``corpus_remap`` — ``(old_cluster, new_cluster)``, the EXISTING
      corpus clusters this increment merged (bridged by a new doc
      matching both) — usually empty or tiny; feed both to
      :func:`apply_cluster_assignments`.

    Pass ``corpus_df`` (the indexed corpus table) to probe with the
    exact-Jaccard tier — required for strict batch equality; without it
    the estimator tier is used (see module docstring).

    Plan shape (r15, guide §1.2): ONE connected-components round over
    [increment rep-pair edges ∪ (rep, corpus cluster) match edges]
    replaces the old two-round chain (the increment's self-clustering
    CC, then a second CC over lifted cluster↔cluster edges), the probe
    runs over the exact-collapse REPRESENTATIVES only (a duplicate text
    has its rep's signature, bands and matches, so its edges were
    redundant after the lift), and the reps' pinned signature cache
    feeds the probe (``query_sigs``) so the 16-hash shingle fold runs
    once per rep overall. Equality argument in :func:`_merge_assign`.

    Lifetime: ``assignments`` reads the exact-collapse frame, a lazy
    ``localCheckpoint`` (MEMORY_AND_DISK) that Spark's ContextCleaner
    frees once the caller drops the frames and the JVM collects them.
    It cuts lineage: losing an executor that holds its blocks fails a
    later read (checkpoint block not found) — re-run the assign."""
    from pyspark import StorageLevel

    from lotus_spark.functions.dedup import _rep_edges

    meta = read_minhash_meta(spark, path)
    cmeta = _fs_read_json(spark, f"{path}.clusters/{_CMETA}")
    if cmeta is None:
        raise FileNotFoundError(
            f"no {_CMETA} sidecar at {path}.clusters — not a cluster "
            "index (build_cluster_index creates it)")
    thr = float(cmeta["jaccard_threshold"])
    _require_integral_id(increment, id_col,
                         "assign_clusters_against_index")
    cmap = read_cluster_map(spark, path)
    _require_disjoint_increment(increment, cmap, id_col,
                                "assign_clusters_against_index")

    # exact-collapse prefix (the hot-bucket guard) — the same algebra
    # minhash_clusters runs: one aggregate + skew-splittable join, one
    # cached copy serving both the rep extraction and the final
    # member-expansion join; the returned assignments frame reads it
    # after return (an unpersist here would recompute the aggregate +
    # join inside the caller's action), hence the lazy local checkpoint
    grp = increment.groupBy(text_col).agg(F.min(id_col).alias("__rep"))
    tagged = increment.join(
        grp.withColumnRenamed(text_col, "__gcol"),
        F.col(text_col).eqNullSafe(F.col("__gcol")),
    ).drop("__gcol").localCheckpoint(
        eager=False, storageLevel=StorageLevel.MEMORY_AND_DISK)
    sigd = None
    try:
        reps = tagged.filter(F.col(id_col) == F.col("__rep")).drop("__rep")
        local_edges, sigd = _rep_edges(
            reps, text_col, id_col, meta["n_hashes"], meta["bands"],
            meta["shingle_n"], thr)
        # the probe reuses the rep signature cache _rep_edges pinned —
        # the shingle→hash fold runs once per rep across self-cluster
        # AND probe
        rep_sigs = sigd.select(F.col("__rid").alias(id_col), "minhash")
        matches = neardup_join_index(
            spark, path, reps, text_col, id_col, threshold=thr,
            verify="exact" if corpus_df is not None else "estimate",
            corpus_df=corpus_df, query_sigs=rep_sigs,
        ).select(F.col(id_col).alias("__node"),
                 F.col("match_id").alias("__mid"))

        members = tagged.select(F.col(id_col),
                                F.col("__rep").alias("__node"))
        out = _merge_assign(members, local_edges, matches, cmap,
                            id_col, cluster_col)
    finally:
        # on success the CC inside _merge_assign materialized the edge
        # union, so the signature cache has served all its consumers
        if sigd is not None:
            sigd.unpersist(False)
    return out


def _merge_assign(
    members: DataFrame, local_edges: DataFrame, matches: DataFrame,
    cmap: DataFrame, id_col: str, cluster_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared merge core for both modalities — ONE connected-components
    round (r15; was two: the increment self-clustering CC, then a second
    CC over lifted (local cluster ↔ corpus cluster) edges): the
    increment's verified pair edges and the (increment node ↔ corpus
    cluster) match edges union into a single graph and one CC computes
    every final id directly.

    Equality with the two-round shape: the old final id was the min over
    a merged component's local-cluster minima and corpus-cluster ids; a
    local cluster's minimum is itself the min of its member node ids, and
    the match edges connect exactly the same components (a member's
    matches are its representative's matches), so one CC over
    [node-pair edges ∪ (node, corpus-cluster) edges] yields the same min
    per component. Corpus-cluster ids are disjoint from increment ids by
    the disjointness guard, so the two node namespaces cannot collide.
    Singletons are absent from the CC output and coalesce to their own
    node id, exactly as before.

    ``members`` = (id_col, __node) mapping every increment row to its CC
    node — the exact-collapse representative for the text modality, the
    row id itself for the embedding modality; ``local_edges`` =
    (src, dst) node-pair edges within the increment; ``matches`` =
    (__node, __mid) verified index matches; ``cmap`` = the persisted
    (id, cluster) map."""
    from lotus_spark.operators.sem_dedup import connected_components_edges

    match_edges = (
        matches
        .join(cmap.select(F.col("id").alias("__mid"),
                          F.col("cluster").alias("dst")), "__mid")
        .select(F.col("__node").alias("src"), F.col("dst"))
        .distinct()
    )
    edges = local_edges.select("src", "dst").unionByName(match_edges)
    comps = connected_components_edges(edges)  # (id, component) of nodes

    assignments = (
        members.join(comps.withColumnRenamed("id", "__node"),
                     "__node", "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component"), F.col("__node"))
            .cast("long").alias(cluster_col),
        )
    )
    corpus_clusters = cmap.select(
        F.col("cluster").alias("id")).distinct()
    corpus_remap = (
        comps.join(corpus_clusters, "id", "semi")
        .filter(F.col("component") != F.col("id"))
        .select(F.col("id").alias("old_cluster"),
                F.col("component").alias("new_cluster"))
    )
    return assignments, corpus_remap


def apply_cluster_assignments(
    spark,
    path: str,
    assignments: DataFrame,
    corpus_remap: DataFrame,
    id_col: str,
    cluster_col: str = "cluster",
) -> None:
    """Fold a day's assignment into the persisted map: remap the merged
    corpus clusters (broadcast join over the tiny remap set) and append
    the increment rows, staged to a sibling and committed by
    ``index_commit.commit_rewrite`` (crash window: its docstring).
    Compose with ``append_minhash_index(increment)`` so the NEXT
    day's probe sees today's docs."""
    _apply_to_map(spark, f"{path}.clusters", assignments, corpus_remap,
                  id_col, cluster_col)


def _apply_to_map(
    spark, live: str, assignments: DataFrame, corpus_remap: DataFrame,
    id_col: str, cluster_col: str,
) -> None:
    old = spark.read.parquet(live)
    dup = (
        assignments.select(F.col(id_col).alias("id"))
        .join(old.select("id"), "id", "semi").limit(3).collect()
    )
    if dup:
        raise ValueError(
            f"apply_cluster_assignments: ids already in the cluster map "
            f"(e.g. {[r['id'] for r in dup]}) — a day must be applied "
            "once (re-applying would duplicate map rows)")
    n_expected = old.count() + assignments.count()
    remap = F.broadcast(corpus_remap)
    merged = (
        old.join(remap, old["cluster"] == corpus_remap["old_cluster"],
                 "left")
        .select(old["id"],
                F.coalesce(F.col("new_cluster"), old["cluster"])
                .alias("cluster"))
        .unionByName(assignments.select(
            F.col(id_col).alias("id"),
            F.col(cluster_col).cast("long").alias("cluster")))
    )

    tmp = sibling(live, STAGED_REWRITE)
    merged.write.parquet(tmp)
    # the threshold sidecar lives INSIDE the map dir — it must ride
    # every whole-dir rewrite or the next assign fails FileNotFoundError
    # (r12 fix: the first apply used to silently drop it)
    commit_rewrite(spark, live, tmp, "apply_cluster_assignments",
                   expect={"": n_expected}, carry=(_CMETA,))


def embedding_clusters(
    df: DataFrame,
    emb_col: str,
    id_col: str,
    threshold: float = 0.9,
    block_col: str | None = None,
    cluster_col: str = "cluster_id",
) -> DataFrame:
    """Batch embedding-cosine clustering: every row gets the min member
    id of its cosine-threshold connected component (singletons are their
    own cluster) — the embedding twin of :func:`~lotus_spark.functions.
    dedup.minhash_clusters`, built on :func:`~lotus_spark.functions.
    dedup.embedding_neardup_pairs` (block the pair space with
    ``block_col`` at scale; the exact tier's growth law and the LSH
    remedy are documented there)."""
    from lotus_spark.functions.dedup import embedding_neardup_pairs
    from lotus_spark.operators.sem_dedup import connected_components_edges

    pairs = embedding_neardup_pairs(df, emb_col, id_col,
                                    threshold=threshold,
                                    block_col=block_col)
    comps = connected_components_edges(
        pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")))
    return (
        df.join(comps.withColumnRenamed("id", id_col), id_col, "left")
        .withColumn(cluster_col,
                    F.coalesce(F.col("component"), F.col(id_col))
                    .cast("long"))
        .drop("component")
    )


def build_embedding_cluster_index(
    spark,
    corpus: DataFrame,
    path: str,
    emb_col: str,
    id_col: str,
    threshold: float = 0.9,
    n_cells: int = 16,
    m: int = 8,
    nbits: int = 4,
    seed: int = 42,
    pq_seed: int = 101,
    train_sample=None,
    block_col: str | None = None,
) -> None:
    """Day 0 for the EMBEDDING modality: persist the IVF-PQ index
    (``ann.write_ivfpq_index`` layout at ``path``) plus the corpus's
    cosine cluster map at the SIBLING directory ``{path}.clusters``
    (inside the index directory it would corrupt the cell-partitioned
    layout readers scan), with the threshold and column names pinned in
    the map's sidecar."""
    from lotus_spark.functions.ann import (
        ivf_index, pq_index, write_ivfpq_index)

    _require_integral_id(corpus, id_col, "build_embedding_cluster_index")
    indexed, cents = ivf_index(corpus, emb_col, n_cells=n_cells,
                               seed=seed, method="deterministic",
                               id_col=id_col, train_sample=train_sample)
    encoded, books = pq_index(indexed, emb_col, id_col, m=m, nbits=nbits,
                              seed=pq_seed, train_sample=train_sample)
    write_ivfpq_index(encoded, path, cents, books)
    cl = embedding_clusters(corpus, emb_col, id_col, threshold=threshold,
                            block_col=block_col)
    (cl.select(F.col(id_col).alias("id"),
               F.col("cluster_id").alias("cluster"))
     .write.parquet(f"{path}.clusters"))
    _fs_write_json(spark, f"{path}.clusters/{_CMETA}", {
        "threshold": float(threshold), "id_col": id_col,
        "emb_col": emb_col,
    })


def assign_embedding_clusters_against_index(
    spark,
    path: str,
    increment: DataFrame,
    emb_col: str,
    id_col: str,
    n_probe: int = 8,
    k: int = 10,
    rerank_k: int | None | str = "auto",
    block_col: str | None = None,
    cluster_col: str = "cluster",
) -> tuple[DataFrame, DataFrame]:
    """Day N for the EMBEDDING modality: the increment self-clusters
    exactly (:func:`embedding_clusters`), probes the persisted IVF-PQ
    index (``dedup_index.embedding_neardup_index`` — at most ``k``
    exact-reranked matches per row above the pinned threshold), and the
    match edges run through the shared merge core. Returns
    ``(assignments, corpus_remap)`` like the text twin.

    Equality with a batch re-clustering holds when the probe recalls
    every above-threshold edge: ``n_probe`` = the index's cell count,
    ``rerank_k`` covering the probed mass (r12: the ADC shortlist
    budget is now a real knob, threaded through
    ``embedding_neardup_index`` — default ``"auto"`` = max(32k, 320),
    which a corpus larger than that exceeds), and ``k`` at least the
    increment rows' match multiplicity. At daily defaults the probe is
    APPROXIMATE like every IVF tier (recall curves in
    BENCH_joinrecall.json) — missed edges mean a duplicate keeps its
    own cluster id, never a wrong merge. Pinned in
    tests/test_cluster_index.py under the full-recall knobs; the
    ``embedding_cluster_assign`` oracle row replays the DAILY path —
    IVF probe, per-pair ADC, the finite shortlist, exact rerank — in
    SQL, so the approximation itself is what gets verified."""
    from lotus_spark.functions.dedup_index import embedding_neardup_index

    from lotus_spark.functions.dedup import embedding_neardup_pairs

    cmeta = _fs_read_json(spark, f"{path}.clusters/{_CMETA}")
    if cmeta is None:
        raise FileNotFoundError(
            f"no {_CMETA} sidecar at {path}.clusters — not an embedding "
            "cluster index (build_embedding_cluster_index creates it)")
    thr = float(cmeta["threshold"])
    _require_integral_id(increment, id_col,
                         "assign_embedding_clusters_against_index")
    cmap = spark.read.parquet(f"{path}.clusters")
    _require_disjoint_increment(
        increment, cmap, id_col,
        "assign_embedding_clusters_against_index")

    # one CC round over [pair edges ∪ match edges] (r15, see
    # _merge_assign) — the embedding modality's CC node is the row id
    # itself (no exact-collapse prefix here)
    local_edges = embedding_neardup_pairs(
        increment, emb_col, id_col, threshold=thr, block_col=block_col,
    ).select(F.col("a").alias("src"), F.col("b").alias("dst"))

    matches = embedding_neardup_index(
        spark, path, increment, id_col, emb_col,
        index_id_col=cmeta["id_col"], index_emb_col=cmeta["emb_col"],
        threshold=thr, n_probe=n_probe, k=k, rerank_k=rerank_k,
    ).select(F.col(id_col).alias("__node"),
             F.col("match_id").alias("__mid"))

    members = increment.select(F.col(id_col),
                               F.col(id_col).alias("__node"))
    return _merge_assign(members, local_edges, matches, cmap,
                         id_col, cluster_col)


def apply_embedding_cluster_assignments(
    spark,
    path: str,
    assignments: DataFrame,
    corpus_remap: DataFrame,
    id_col: str,
    cluster_col: str = "cluster",
) -> None:
    """Fold a day into the embedding cluster map (sibling directory
    ``{path}.clusters``); compose with ``ann.append_ivfpq_index`` so
    the next day's probe sees today's vectors."""
    _apply_to_map(spark, f"{path}.clusters", assignments, corpus_remap,
                  id_col, cluster_col)

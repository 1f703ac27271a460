"""CDC-driven maintenance for the persisted corpus indexes: DELETE and
snapshot-upsert for the IVF-PQ vector index (``functions/ann.py``) and
the MinHash-LSH text index (``functions/dedup_index.py``).

The missing lifecycle verb. ``write → append → compact`` (r8-r10)
covers a corpus that only GROWS, but a real crawl snapshot also
shrinks and mutates: pages disappear, pages change. ``snapshot_diff``
(``functions/snapshot.py``) produces exactly the (added, removed,
changed) sets a daily pipeline needs; this module applies them to the
indexes so downstream probes never see deleted rows and always see the
CURRENT encoding of changed rows. Reference parity note: the reference
(lotus-data/lotus) has no index mutation at all — its ``sem_index``
persists FAISS state that must be rebuilt from scratch on any corpus
change (lotus/vector_store/faiss_vs.py); delete/upsert is a capability
a 100 TB daily pipeline cannot run without, so it is built here
Spark-first rather than ported.

Design, stated for the 100 TB reader:

- **IVF-PQ delete is partition-pruned**: the index layout is
  ``partitionBy(cell)`` parquet, so deleting ids rewrites ONLY the cell
  directories that contain them — one bounded ``groupBy(cell)`` over
  the narrow (id, cell) projection finds the hit cells (≤ n_cells rows
  collected), the survivor scan partition-prunes to those directories,
  and every untouched cell's files are never read or written. A day's
  removals touching 50 of 4096 cells rewrite ~1% of the index.
- **MinHash delete is a filtered compaction**: ``buckets``/``sigs`` are
  narrow unpartitioned tables (by design — see dedup_index.py's layout
  note), so a delete rewrites them wholesale with the ids anti-joined
  out, exactly the write-verify-swap discipline ``compact_minhash_index``
  already uses. Batch deletes daily (the CDC cadence) so the rewrite is
  paid once per day, and it doubles as that day's compaction.
- **Deletes are idempotent**: re-running the same delete converges (an
  anti-join against absent ids is a no-op), which is the recovery story
  for a crash mid-swap — re-run the job. Single-writer, like every
  other maintainer of these layouts.
- **Upsert = delete(removed ∪ changed) + append(added ∪ changed)**:
  appends encode with the index's PINNED quantizers/parameters
  (``append_ivfpq_index`` / ``append_minhash_index``), so the upserted
  index is row-identical to a from-scratch encode of the new snapshot
  with the same codebooks — the property the ``ivfpq_cdc`` /
  ``neardup_index_cdc`` oracle rows hash-check end to end.
"""
from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from lotus_spark.functions.ann import append_ivfpq_index, read_ivfpq_index
from lotus_spark.functions.dedup_index import (
    _META as _MH_META,
    append_minhash_index,
    read_minhash_meta,
    release_stream_index_cache,
)
from lotus_spark.functions.index_commit import (
    CELL_ASIDE,
    STAGED_DELETE,
    _assert_no_unacked_stream_epochs,
    _fs,
    _fs_read_json,
    _fs_write_json,
    commit_rewrite,
    sibling,
)

ADDED = "added"
REMOVED = "removed"
CHANGED = "changed"


def _ids_frame(ids: DataFrame, id_col: str, who: str) -> DataFrame:
    """Normalize the ids side: single (id_col) column, distinct, NULLs
    rejected loudly — a NULL id can never match a stored row, so a
    caller passing one is feeding the delete a diff it did not build
    with the snapshot contract (snapshot_diff never emits NULL-id
    removed/changed rows for non-NULL-keyed snapshots)."""
    if id_col not in ids.columns:
        raise ValueError(f"{who}: ids frame lacks column {id_col!r}")
    out = ids.select(id_col).distinct()
    if out.filter(F.col(id_col).isNull()).count():
        raise ValueError(f"{who}: NULL ids are not deletable")
    return out


def delete_from_ivfpq_index(
    spark, path: str, ids: DataFrame, id_col: str,
) -> int:
    """Delete rows by id from a persisted IVF-PQ index
    (``ann.write_ivfpq_index`` layout), rewriting ONLY the cell
    partitions that contain them. Returns the number of rows deleted.

    Plan shape (pinned in tests/test_plan_shapes.py): the hit-cell
    discovery is a column-pruned (id, cell) scan + broadcast semi-join +
    a ≤n_cells collect; the survivor rewrite scans with
    ``cell IN (hits)`` so parquet PartitionFilters prune every clean
    cell's directory at the source. Nothing proportional to index size
    crosses the driver or a shuffle.

    Swap per hit cell: the old directory is renamed aside (dot-prefixed
    name: Spark's file index hides it), the rewritten directory renamed
    in, asides deleted last — data is never destroyed before its
    replacement is installed. A cell whose every row is deleted is
    removed outright. Crash semantics, stated precisely: before the
    swap starts or after it completes, re-running the same delete
    converges (idempotent); a crash INSIDE the swap window (between a
    cell's aside rename and its install) leaves that cell's survivors
    at the ``.cdcdel-*`` sibling and its old rows at the ``.cdcold-*``
    aside — both preserved on disk, and the next delete call REFUSES to
    run until they are recovered by hand (renamed back or the install
    finished), because a blind re-run would not see the mid-swap cell.
    Single-writer: do not run concurrently with an appender or stream
    sink, and drain crashed streams first (same guard as
    ``compact_ivfpq_index``)."""
    # guard BEFORE any parquet read: an unacked epoch's files are the
    # stream's to clean up, and (unlike the sidecar JSON) reading the
    # data requires scanning them
    _assert_no_unacked_stream_epochs(spark, path, "delete_from_ivfpq_index")
    jvm0, fs0, p0 = _fs(spark, path)
    leftover = fs0.globStatus(p0(f"{path}/{CELL_ASIDE}*")) or []
    if leftover:
        raise RuntimeError(
            "delete_from_ivfpq_index: leftover mid-swap state from a "
            f"crashed delete at {[str(s.getPath()) for s in leftover]} — "
            "recover it (rename the aside back, or finish installing the "
            "matching .cdcdel-* cell) before deleting again")
    stored, _cents, _books, cell_col = read_ivfpq_index(spark, path)
    if id_col not in stored.columns:
        raise ValueError(
            f"delete_from_ivfpq_index: stored index has no column "
            f"{id_col!r} (columns: {stored.columns})")
    dids = _ids_frame(ids, id_col, "delete_from_ivfpq_index")

    # narrow (id, cell) projection; the ids side is a diff — tiny by
    # construction — so broadcast it. ONE aggregate pass (r14, was
    # three jobs: matched-per-cell count, full stored count, hit-cell
    # row count): a broadcast LEFT join marks dead rows, and per-cell
    # (total, dead) counts yield every number the guards need. Values
    # are identical for the unique-ids input the API requires; a
    # duplicate-ids call still fails loudly (the empty-index guard or
    # the rewrite verify), as before.
    cell_stats = (
        stored.select(id_col, cell_col)
        .join(F.broadcast(dids.withColumn("__dead", F.lit(1))),
              id_col, "left")
        .groupBy(cell_col)
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.count("__dead").alias("n_dead"))
        .collect()
    )
    per_cell_deleted = {r[cell_col]: r["n_dead"]
                        for r in cell_stats if r["n_dead"]}
    if not per_cell_deleted:
        return 0
    hit_cells = sorted(per_cell_deleted)
    n_deleted = sum(per_cell_deleted.values())

    if sum(r["n_rows"] for r in cell_stats) == n_deleted:
        raise ValueError(
            "delete_from_ivfpq_index: the delete would empty the index "
            "(an empty partitioned layout is unreadable) — drop the "
            "index directory instead")

    in_hits = F.col(cell_col).isin(hit_cells)
    n_hit_rows = sum(r["n_rows"] for r in cell_stats
                     if r[cell_col] in per_cell_deleted)
    survivors = (
        stored.filter(in_hits)
        .join(F.broadcast(dids), on=id_col, how="left_anti")
    )

    jvm, fs, p = _fs(spark, path)
    tmp = sibling(path, STAGED_DELETE)
    # (r14 note: a pre-write repartition(cell_col) — one file per
    # rewritten cell — was A/B-measured at ~+0.5s on the apply hot path
    # for a file-count benefit compact_ivfpq_index already owns; the
    # delete keeps the cheaper direct write.)
    survivors.write.partitionBy(cell_col).parquet(tmp)
    expected = n_hit_rows - n_deleted
    # every hit row deleted ⇒ the rewrite wrote no partition directories
    # (an empty partitioned dataset is unreadable — nothing to verify)
    n_after = spark.read.parquet(tmp).count() if expected else 0
    if n_after != expected:
        fs.delete(p(tmp), True)
        raise RuntimeError(
            f"delete_from_ivfpq_index: rewrite has {n_after} rows, "
            f"expected {expected}; index untouched")

    asides = []  # every entry is a FULLY swapped cell's old directory

    def _drop_completed_asides():
        for a in asides:
            fs.delete(a, True)

    for cell in hit_cells:
        live = p(f"{path}/{cell_col}={cell}")
        aside = p(sibling(f"{path}/", CELL_ASIDE) + f"-{cell}")
        if not fs.rename(live, aside):
            _drop_completed_asides()  # prior cells are consistent
            fs.delete(p(tmp), True)  # fully regenerated on re-run
            raise RuntimeError(
                f"delete_from_ivfpq_index: could not move cell directory "
                f"{live} aside — partially applied but consistent; "
                "re-run to converge")
        new = p(f"{tmp}/{cell_col}={cell}")
        if fs.exists(new):  # absent == the cell emptied out entirely
            if not fs.rename(new, live):
                ok = fs.rename(aside, live)  # restore — keep the old rows
                _drop_completed_asides()
                if ok:  # index consistent: a re-run regenerates tmp
                    fs.delete(p(tmp), True)
                raise RuntimeError(
                    f"delete_from_ivfpq_index: could not install rewritten "
                    f"cell {cell}" + (
                        "; original restored for that cell — re-run to "
                        "converge" if ok else
                        f" AND the restore failed — its old rows are at "
                        f"{aside}, its survivors at {new}; rename one "
                        f"back to {live} by hand"))
        asides.append(aside)
    _drop_completed_asides()
    fs.delete(p(tmp), True)
    return int(n_deleted)


def _filtered_rewrite_swap(
    spark, path: str, tables: tuple[str, ...], meta_name: str, meta: dict,
    dids: DataFrame, count_table: str, who: str,
) -> int:
    """Shared delete core for the two-narrow-table index layouts
    (MinHash ``buckets``/``sigs``, n-gram ``ngrams``/``sizes``):
    anti-join the ids out of every table into a staged copy and commit
    it (``index_commit.commit_rewrite`` — the ``compact_*_index``
    discipline, with the delete filter applied during the rewrite, so a
    daily CDC delete doubles as that day's compaction). Returns the
    number of ``count_table`` rows deleted (one per doc in both
    layouts)."""
    jvm, fs, p = _fs(spark, path)
    tmp = sibling(path, STAGED_DELETE)

    # ONE aggregate per table (r14, was a separate docs-deleted count
    # plus per-table before/match count pairs): a broadcast LEFT join
    # marks matching rows and a single (total, matched) aggregate
    # yields both guard numbers; ``count_table``'s matched count IS the
    # docs-deleted number, so the early-return probes one table only.
    def _table_counts(table: str) -> tuple[int, int]:
        r = (
            spark.read.parquet(f"{path}/{table}")
            .join(F.broadcast(dids.withColumn("__dead", F.lit(1))),
                  "id", "left")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.count("__dead").alias("n_match"))
            .first()
        )
        return r["n"], r["n_match"]

    counts = {count_table: _table_counts(count_table)}
    n_docs_deleted = counts[count_table][1]
    if n_docs_deleted == 0:
        return 0

    expected = {}
    for table in tables:
        src = f"{path}/{table}"
        df = spark.read.parquet(src)
        n_before, n_match = counts.get(table) or _table_counts(table)
        expected[table] = n_before - n_match
        n_bytes = fs.getContentSummary(p(src)).getLength()
        n_files = max(1, math.ceil(n_bytes / (128 << 20)))
        (
            df.join(F.broadcast(dids), on="id", how="left_anti")
            .select(*df.columns)  # keep the table's column order
            .repartition(n_files).write.parquet(f"{tmp}/{table}")
        )
    _fs_write_json(spark, f"{tmp}/{meta_name}", meta)
    commit_rewrite(spark, path, tmp, who, expect=expected)
    return int(n_docs_deleted)


def delete_from_minhash_index(spark, path: str, ids: DataFrame) -> int:
    """Delete docs by id from a persisted MinHash-LSH index
    (``dedup_index.write_minhash_index`` layout): anti-join the ids out
    of BOTH narrow tables (``buckets``: one row per (band, id);
    ``sigs``: one per id) and swap the rewrite in — the same
    write-verify-swap discipline as ``compact_minhash_index``, with the
    delete filter applied during the rewrite, so a daily CDC delete
    doubles as that day's compaction. Returns the number of DOCS
    deleted (sigs rows; bucket rows are bands × that).

    The id column is read from the index sidecar (the tables store it
    as ``id``). Idempotent; single-writer; releases the stream-probe
    cache after the swap (the cached frames snapshot the old files)."""
    meta = read_minhash_meta(spark, path)  # asserts this IS the layout
    dids = _ids_frame(ids, "id", "delete_from_minhash_index")
    n = _filtered_rewrite_swap(
        spark, path, ("buckets", "sigs"), _MH_META, meta, dids,
        count_table="sigs", who="delete_from_minhash_index")
    if n:
        release_stream_index_cache(spark, path)
    return n


def delete_from_ngram_index(spark, path: str, ids: DataFrame) -> int:
    """Delete eval docs by id from a persisted n-gram decontamination
    index (``decontam_index.write_ngram_index`` layout: ``ngrams``
    postings + ``sizes`` counts) — the maintenance verb a REVISED eval
    suite needs (benchmarks version; stale questions must stop gating
    training docs). Same filtered-compaction rewrite as the MinHash
    delete; returns the number of eval DOCS deleted. Compose with
    ``append_ngram_index`` for replace-style updates (the append's
    already-indexed guard means a changed doc must be deleted first)."""
    from lotus_spark.functions.decontam_index import read_ngram_meta

    meta = read_ngram_meta(spark, path)
    dids = _ids_frame(ids, "id", "delete_from_ngram_index")
    return _filtered_rewrite_swap(
        spark, path, ("ngrams", "sizes"), "_ngram_meta.json", meta, dids,
        count_table="sizes", who="delete_from_ngram_index")


def delete_from_bm25_index(spark, path: str, ids: DataFrame) -> int:
    """Delete docs by id from a persisted BM25 index
    (``bm25_store.write_bm25_index`` layout). Postings are partitioned
    by TERM bucket, not doc id, so a delete touches every bucket a dead
    doc's terms hash into — in practice all of them; this is therefore a
    filtered full rewrite (doubling as compaction), with ``termdf``
    recomputed from the surviving postings and the sidecar stats
    refreshed, all written to a sibling directory, verified, and
    committed (``index_commit.commit_rewrite``). Batch deletes daily
    (the CDC cadence). Returns the number of DOCS deleted."""
    from lotus_spark.functions.bm25_store import (
        _META as _BM_META,
        _corpus_stats,
        _termdf,
        read_bm25_meta,
    )

    meta = read_bm25_meta(spark, path)
    dids = _ids_frame(ids, "id", "delete_from_bm25_index")
    # ONE (total, matched) aggregate per table (the r14
    # _filtered_rewrite_swap pattern — dids is distinct by _ids_frame,
    # so the broadcast LEFT join marks each stored row at most once):
    # the before/deleted guard pair costs one scan of each table
    # instead of two, which at corpus scale halves the pre-rewrite
    # read of the postings table — the index's dominant table.
    marked = F.broadcast(dids.withColumn("__dead", F.lit(1)))

    def _table_counts(df: DataFrame) -> tuple[int, int]:
        r = (df.join(marked, "id", "left")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.count("__dead").alias("n_match"))
             .first())
        return r["n"], r["n_match"]

    doclens = spark.read.parquet(f"{path}/doclens")
    n_dl_before, n_docs_deleted = _table_counts(doclens)
    if n_docs_deleted == 0:
        return 0

    tmp = sibling(path, STAGED_DELETE)

    postings = spark.read.parquet(f"{path}/postings")
    n_post_before, n_post_match = _table_counts(postings)
    if n_post_match == n_post_before:
        raise ValueError(
            "delete_from_bm25_index: the delete would empty the postings "
            "table (an empty partitioned layout is unreadable) — drop or "
            "rebuild the index instead")
    posts_new = (
        postings.join(F.broadcast(dids), on="id", how="left_anti")
        .select("term", "id", "tf", "dl", "bucket")
    ).persist()
    posts_new.write.partitionBy("bucket").parquet(f"{tmp}/postings")
    _termdf(posts_new).write.partitionBy("bucket") \
        .parquet(f"{tmp}/termdf")
    dl_new = doclens.join(F.broadcast(dids), on="id", how="left_anti") \
        .select(*doclens.columns)
    dl_new.write.parquet(f"{tmp}/doclens")

    posts_new.unpersist()
    # stats follow bm25_store's pinned convention (docs with >= 1 token);
    # the known schema spares a footer-inference job
    n_docs, total_dl = _corpus_stats(
        spark.read.schema(doclens.schema).parquet(f"{tmp}/doclens"))
    meta = dict(meta, n_docs=n_docs, total_dl=total_dl)
    _fs_write_json(spark, f"{tmp}/{_BM_META}", meta)
    commit_rewrite(spark, path, tmp, "delete_from_bm25_index", expect={
        "postings": n_post_before - n_post_match, "termdf": None,
        "doclens": n_dl_before - n_docs_deleted})
    return int(n_docs_deleted)


def apply_snapshot_to_bm25_index(
    spark,
    path: str,
    diff: DataFrame,
    new_snapshot: DataFrame,
    text_col: str | None = None,
    change_col: str = "change",
) -> dict:
    """Apply a ``snapshot_diff`` to a persisted BM25 index: delete
    removed+changed docs (one filtered rewrite), then append
    added+changed from ``new_snapshot`` under the sidecar-pinned
    tokenization — the maintained index answers every query identically
    to a fresh build of the new snapshot (pinned in tests and the
    ``bm25_index_search`` oracle row's append parity). Returns
    ``{"deleted": n, "upserted": n}``."""
    from lotus_spark.functions.bm25_store import (
        append_bm25_index, read_bm25_meta,
    )

    meta = read_bm25_meta(spark, path)
    id_col = meta["id_col"]
    if id_col not in diff.columns:
        raise ValueError(
            f"apply_snapshot_to_bm25_index: diff lacks the index id "
            f"column {id_col!r}")
    dead, fresh = _split_diff(diff, id_col, change_col)
    n_deleted = delete_from_bm25_index(
        spark, path, dead.withColumnRenamed(id_col, "id"))
    rows = new_snapshot.join(F.broadcast(fresh), on=id_col, how="semi")
    n_up = rows.count()
    if n_up:
        append_bm25_index(spark, path, rows,
                          text_col=text_col or meta["text_col"])
    return {"deleted": n_deleted, "upserted": int(n_up)}


def apply_snapshot_to_ngram_index(
    spark,
    path: str,
    diff: DataFrame,
    new_snapshot: DataFrame,
    text_col: str,
    change_col: str = "change",
) -> dict:
    """Apply a ``snapshot_diff`` of an eval suite to its persisted
    n-gram decontamination index: delete removed+changed eval docs, then
    append added+changed under the sidecar-pinned ``ngram_n``. The
    delete-before-append order matters — ``append_ngram_index`` rejects
    already-indexed ids by design, so a changed doc must leave first.
    Returns ``{"deleted": n, "upserted": n}``."""
    from lotus_spark.functions.decontam_index import (
        append_ngram_index, read_ngram_meta,
    )

    meta = read_ngram_meta(spark, path)
    id_col = meta["id_col"]
    if id_col not in diff.columns:
        raise ValueError(
            f"apply_snapshot_to_ngram_index: diff lacks the index id "
            f"column {id_col!r}")
    dead, fresh = _split_diff(diff, id_col, change_col)
    n_deleted = delete_from_ngram_index(
        spark, path, dead.withColumnRenamed(id_col, "id"))
    rows = new_snapshot.join(F.broadcast(fresh), on=id_col, how="semi")
    n_up = rows.count()
    if n_up:
        append_ngram_index(spark, path, rows, text_col, id_col)
    return {"deleted": n_deleted, "upserted": int(n_up)}


def _split_diff(diff: DataFrame, id_col: str, change_col: str):
    vals = {
        r[change_col]
        for r in diff.select(change_col).distinct().collect()
    }
    unknown = vals - {ADDED, REMOVED, CHANGED, "unchanged"}
    if unknown:
        raise ValueError(
            f"diff has unknown {change_col!r} labels {sorted(unknown)} — "
            "expected snapshot_diff output")
    dead = diff.filter(F.col(change_col).isin([REMOVED, CHANGED]))
    fresh = diff.filter(F.col(change_col).isin([ADDED, CHANGED]))
    return dead.select(id_col), fresh.select(id_col)


def _dead_set_sync_guard(who: str, map_ids: DataFrame, idx_ids: DataFrame,
                         dead_ids: DataFrame) -> None:
    """Pre-mutation map/index sync check over the DEAD set, with
    crash-convergent subset semantics. The cluster applies delete the
    MAP first, then the index, so a crash between the two leaves dead
    ids absent from the map but still present in the index — a state a
    plain re-run HEALS (the map delete no-ops, the index delete
    completes; both are idempotent), so it PASSES. The opposite
    direction — a dead id holding a map row but NO index row — cannot
    arise from any crash of this code path (the index is never deleted
    first, and every indexed doc holds exactly one map row) and raises
    as a genuine desync. ``map_ids``/``idx_ids``/``dead_ids`` are
    single-``id``-column frames."""
    dead = F.broadcast(dead_ids.select("id").distinct())
    map_hit = map_ids.join(dead, "id", "semi").distinct()
    idx_hit = idx_ids.join(dead, "id", "semi").distinct()
    n_orphan = map_hit.join(idx_hit, "id", "left_anti").count()
    if n_orphan:
        raise RuntimeError(
            f"{who}: {n_orphan} dead id(s) hold cluster-map rows but no "
            "index rows — the stores are out of sync in a direction no "
            "crash of this apply can produce (the map is always deleted "
            "first); rebuild the cluster index, or delete those ids "
            "from the map and re-run")


def apply_snapshot_to_ivfpq_index(
    spark,
    path: str,
    diff: DataFrame,
    new_snapshot: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    change_col: str = "change",
) -> dict:
    """Apply a ``snapshot_diff`` to a persisted IVF-PQ index: delete the
    removed and changed ids (partition-pruned cell rewrites), then
    append the added and changed rows from ``new_snapshot`` encoded with
    the index's EXISTING quantizers (``append_ivfpq_index`` — map-only,
    no retraining). After this the index is row-identical to a
    from-scratch encode of ``new_snapshot``'s corpus state with the
    same codebooks — hash-checked end to end by the ``ivfpq_cdc``
    oracle row. Returns ``{"deleted": n, "upserted": n}``.

    Codebook drift is the operator's call, not this function's: if the
    snapshot's embedding distribution has drifted far from the training
    sample, rebuild (write_ivfpq_index on the new snapshot) instead of
    upserting — the same train-once/add-many judgment FAISS users make.
    """
    # the diff lineage is a full snapshot join — persist it once (r14)
    # instead of recomputing it for the label scan, the delete's
    # broadcast side and the fresh-rows semi-join
    diff = diff.persist()
    try:
        dead, fresh = _split_diff(diff, id_col, change_col)
        n_deleted = delete_from_ivfpq_index(spark, path, dead, id_col)
        rows = new_snapshot.join(F.broadcast(fresh), on=id_col, how="semi")
        n_up = rows.count()
        if n_up:
            append_ivfpq_index(spark, path, rows, emb_col=emb_col)
        return {"deleted": n_deleted, "upserted": int(n_up)}
    finally:
        diff.unpersist(False)


def apply_snapshot_to_minhash_index(
    spark,
    path: str,
    diff: DataFrame,
    new_snapshot: DataFrame,
    text_col: str,
    change_col: str = "change",
) -> dict:
    """Apply a ``snapshot_diff`` to a persisted MinHash-LSH index:
    delete removed+changed ids (one filtered-compaction rewrite of the
    narrow tables), then append added+changed rows encoded with the
    sidecar-pinned parameters. The grown index is row-identical to a
    fresh ``write_minhash_index`` of the new snapshot — hash-checked by
    the ``neardup_index_cdc`` oracle row. The snapshot's id column is
    the one recorded in the index sidecar. Returns
    ``{"deleted": n, "upserted": n}``."""
    meta = read_minhash_meta(spark, path)
    id_col = meta["id_col"]
    if id_col not in diff.columns:
        raise ValueError(
            f"apply_snapshot_to_minhash_index: diff lacks the index id "
            f"column {id_col!r}")
    # same diff persist as the ivfpq apply (r14): one snapshot join,
    # three consumers
    diff = diff.persist()
    try:
        dead, fresh = _split_diff(diff, id_col, change_col)
        n_deleted = delete_from_minhash_index(
            spark, path, dead.withColumnRenamed(id_col, "id"))
        rows = new_snapshot.join(F.broadcast(fresh), on=id_col, how="semi")
        n_up = rows.count()
        if n_up:
            append_minhash_index(spark, path, rows, text_col, id_col)
        return {"deleted": n_deleted, "upserted": int(n_up)}
    finally:
        diff.unpersist(False)


def delete_from_cluster_map(spark, map_dir: str, ids: DataFrame) -> int:
    """Delete dead docs' assignment rows from a persisted ``(id,
    cluster)`` map (the ``{path}/clusters`` / ``{path}.clusters`` table
    the cluster indexes maintain) — the map-side half of re-crawl CDC;
    compose with ``delete_from_minhash_index`` /
    ``delete_from_ivfpq_index`` so the probe state shrinks in step.

    STABILITY SEMANTICS, stated precisely: surviving members KEEP their
    cluster ids. A from-scratch re-clustering would (a) RENUMBER a
    cluster whose min-member doc was deleted (ids are min member ids)
    and (b) SPLIT a component whose bridge doc was deleted (the map
    stores no edges, so splits are undetectable without re-scoring).
    Stable ids are this module's contract — they feed split labels and
    per-cluster bookkeeping that must not churn — so the divergence is
    BY DESIGN and pinned in tests; rebuild from scratch when renumber/
    split semantics are required.

    Staged rewrite of the narrow table, committed by
    ``index_commit.commit_rewrite``; a ``_cluster_meta`` sidecar living
    inside the directory (the embedding twin's layout) rides along.
    Returns rows deleted. Idempotent; single-writer."""
    dids = _ids_frame(ids, "id", "delete_from_cluster_map")
    old = spark.read.parquet(map_dir)
    # one (total, matched) aggregate — same fused-guard shape as the
    # other delete paths: one scan of the map, not two
    r = (old.join(F.broadcast(dids.withColumn("__dead", F.lit(1))),
                  "id", "left")
         .agg(F.count(F.lit(1)).alias("n"),
              F.count("__dead").alias("n_match"))
         .first())
    n_before, n_match = r["n"], r["n_match"]
    if n_match == 0:
        return 0

    tmp = sibling(map_dir, STAGED_DELETE)
    (old.join(F.broadcast(dids), on="id", how="left_anti")
        .select(*old.columns).write.parquet(tmp))
    commit_rewrite(spark, map_dir, tmp, "delete_from_cluster_map",
                   expect={"": n_before - n_match},
                   carry=("_cluster_meta.json",))
    return int(n_match)


def apply_snapshot_to_cluster_index(
    spark,
    path: str,
    diff: DataFrame,
    new_snapshot: DataFrame,
    text_col: str,
    corpus_df: DataFrame | None = None,
    change_col: str = "change",
) -> dict:
    """Apply a ``snapshot_diff`` to a TEXT cluster index
    (``cluster_index.build_cluster_index`` layout: MinHash-LSH state +
    the ``{path}.clusters`` sibling map): delete removed+changed ids from BOTH
    the map and the LSH tables, then run the daily assignment recipe
    for added+changed rows — ``assign_clusters_against_index`` (the
    probe sees the post-delete corpus, so a changed doc re-enters as a
    fresh increment and the r12 disjointness guard passes) →
    ``apply_cluster_assignments`` → ``append_minhash_index``. The id
    column comes from the index sidecar; ``text_col`` names the
    snapshot's text column (like ``apply_snapshot_to_minhash_index``).
    Returns ``{"deleted": n, "upserted": n, "merged_clusters": n}``.

    Crash/retry: the map/index sync is checked BEFORE any mutation with
    crash-convergent SUBSET semantics — the map is deleted first, so
    the state a mid-delete crash leaves (dead ids gone from the map but
    still indexed) passes the guard and the idempotent re-run completes
    the index delete; only the impossible direction (dead ids holding
    map rows but no index rows) raises. A crash AFTER the assignments
    were applied but
    before ``append_minhash_index`` makes the re-run fail loudly on the
    assign disjointness guard — recovery is deleting the increment's
    ids from the map and index (this module's delete verbs) and
    re-running.

    Inherits :func:`delete_from_cluster_map`'s stability semantics:
    surviving docs keep their cluster ids; a changed doc is assigned
    exactly as a NEW doc with its new text would be (it may rejoin its
    old cluster, join another, or found its own). Pass ``corpus_df``
    (the POST-delete snapshot, e.g. ``new_snapshot`` minus nothing —
    it IS the post-delete state) for the exact-verify probe tier."""
    from lotus_spark.functions.cluster_index import (
        apply_cluster_assignments,
        assign_clusters_against_index,
    )
    from lotus_spark.functions.dedup_index import (
        append_minhash_index as _append_mh,
        read_minhash_meta as _read_mh_meta,
    )

    meta = _read_mh_meta(spark, path)
    id_col = meta["id_col"]
    if id_col not in diff.columns:
        raise ValueError(
            f"apply_snapshot_to_cluster_index: diff lacks the index id "
            f"column {id_col!r}")
    dead, fresh = _split_diff(diff, id_col, change_col)
    dead_ids = dead.withColumnRenamed(id_col, "id")
    # sync check BEFORE any mutation, with crash-convergent SUBSET
    # semantics (see _dead_set_sync_guard): the map-already-deleted
    # state a mid-delete crash leaves passes and is healed by the
    # idempotent re-run; only map-rows-without-index-rows raises
    _dead_set_sync_guard(
        "apply_snapshot_to_cluster_index",
        spark.read.parquet(f"{path}.clusters").select("id"),
        spark.read.parquet(f"{path}/sigs").select("id"),
        dead_ids)
    n_map = delete_from_cluster_map(spark, f"{path}.clusters", dead_ids)
    n_idx = delete_from_minhash_index(spark, path, dead_ids)
    inc = new_snapshot.join(F.broadcast(fresh), on=id_col, how="semi")
    n_up = inc.count()
    n_merged = 0
    if n_up:
        assigns, remap = assign_clusters_against_index(
            spark, path, inc, text_col, id_col, corpus_df=corpus_df)
        remap = remap.localCheckpoint(eager=True)
        n_merged = remap.count()
        apply_cluster_assignments(spark, path, assigns, remap, id_col)
        _append_mh(spark, path, inc, text_col, id_col)
    return {"deleted": int(n_idx), "upserted": int(n_up),
            "merged_clusters": int(n_merged)}


def apply_snapshot_to_embedding_cluster_index(
    spark,
    path: str,
    diff: DataFrame,
    new_snapshot: DataFrame,
    n_probe: int = 8,
    k: int = 10,
    rerank_k: int | str = "auto",
    block_col: str | None = None,
    change_col: str = "change",
) -> dict:
    """EMBEDDING twin of :func:`apply_snapshot_to_cluster_index`
    (``cluster_index.build_embedding_cluster_index`` layout: IVF-PQ
    index at ``path`` + the ``{path}.clusters`` sibling map): delete
    removed+changed ids from the map and the index (partition-pruned
    cell rewrites) with the same desync guard, then run the daily
    embedding assignment recipe for added+changed rows. The id and
    embedding column names come from the map's sidecar; the probe knobs
    are the daily approximate tier (full-recall knobs documented on
    ``assign_embedding_clusters_against_index``). Same stability
    semantics: surviving vectors keep their cluster ids."""
    from lotus_spark.functions.cluster_index import (
        apply_embedding_cluster_assignments,
        assign_embedding_clusters_against_index,
    )

    cmeta = _fs_read_json(spark, f"{path}.clusters/_cluster_meta.json")
    if cmeta is None:
        raise FileNotFoundError(
            f"no _cluster_meta.json sidecar at {path}.clusters — not an "
            "embedding cluster index (build_embedding_cluster_index "
            "creates it)")
    id_col, emb_col = cmeta["id_col"], cmeta["emb_col"]
    if id_col not in diff.columns:
        raise ValueError(
            f"apply_snapshot_to_embedding_cluster_index: diff lacks the "
            f"index id column {id_col!r}")
    dead, fresh = _split_diff(diff, id_col, change_col)
    dead_ids = dead.withColumnRenamed(id_col, "id").distinct()
    stored, _c, _b, _cc = read_ivfpq_index(spark, path)
    # sync check BEFORE any mutation, with crash-convergent subset
    # semantics — see _dead_set_sync_guard
    _dead_set_sync_guard(
        "apply_snapshot_to_embedding_cluster_index",
        spark.read.parquet(f"{path}.clusters").select("id"),
        stored.select(F.col(id_col).alias("id")),
        dead_ids)
    n_map = delete_from_cluster_map(spark, f"{path}.clusters",
                                    dead_ids)
    n_idx = delete_from_ivfpq_index(spark, path, dead, id_col)
    inc = new_snapshot.join(F.broadcast(fresh), on=id_col, how="semi")
    n_up = inc.count()
    n_merged = 0
    if n_up:
        assigns, remap = assign_embedding_clusters_against_index(
            spark, path, inc, emb_col, id_col, n_probe=n_probe, k=k,
            rerank_k=rerank_k, block_col=block_col)
        remap = remap.localCheckpoint(eager=True)
        n_merged = remap.count()
        apply_embedding_cluster_assignments(spark, path, assigns, remap,
                                            id_col)
        append_ivfpq_index(spark, path, inc, emb_col=emb_col)
    return {"deleted": int(n_idx), "upserted": int(n_up),
            "merged_clusters": int(n_merged)}

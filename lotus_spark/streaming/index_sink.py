"""Streaming maintenance of a persisted IVF-PQ index.

Completes the train-once/add-many story (`ann.append_ivfpq_index`) for
the ingest path: files land, Structured Streaming picks them up, and
every micro-batch is encoded with the index's EXISTING quantizers and
appended to the partitioned layout — the index stays queryable and
fresh without retraining or rebuilding, which is how a 100 TB corpus
index actually absorbs a live feed.

Lives in its own module (not ``streaming/ops.py``) so the streaming
operators' registry rotation state is untouched this round.

Exactly-once: ``foreachBatch`` replays a failed epoch with the SAME
batch_id, so the sink records committed batch ids in a
``_stream_batches.json`` sidecar next to the index metadata and skips
any batch id at or below the high-water mark — a replayed epoch appends
nothing twice. Single-writer (one streaming query per index path), the
normal topology for an index feed. The sidecar write goes through
``index_commit._fs_write_json`` (temp + rename), so a crash mid-write
leaves it missing-or-previous, never truncated mid-json — a consumer
can always parse what it finds.

Contract boundaries, stated plainly:

- **Batch ids are checkpoint-scoped.** With the SAME checkpoint dir,
  ids increase monotonically across restarts and the sidecar gives
  exactly-once. Starting a FRESH checkpoint re-reads the source from
  scratch with ids restarting at 0 — safe as a full-replay backfill
  (every low id is an already-appended epoch, skipped), but NOT safe
  if the source also gained NEW files since the original run: their
  epochs would reuse low ids and be wrongly skipped. Resuming with new
  data means reusing the original checkpoint (the normal operation) or
  deleting the sidecar alongside the checkpoint.
- **Replayed epochs are IDEMPOTENT, not just skipped.** Each epoch is
  written to a staging dir (``_staging/batch-<id>`` — an ``_``-prefixed
  sibling Spark's file index ignores), then its data files are renamed
  into the live cell directories with a ``batch<id>-`` filename prefix,
  and only then does the sidecar high-water mark advance. A crash
  anywhere in that window leaves ``batch_id`` above the high-water
  mark, so the checkpoint replays the epoch — and the replay FIRST
  deletes every live file carrying its own ``batch<id>-`` prefix plus
  any stale staging dir before re-appending. The crashed attempt's
  partial (or complete-but-unacknowledged) output is removed before the
  redo, so recovery leaves no duplicate codes and needs no downstream
  dedup (exactly-once for the data, pinned by an injected-crash test).
- **Compaction after a crash**: ``ann.compact_ivfpq_index`` rewrites
  data files, erasing the ``batch<id>-`` prefixes the replay cleanup
  enumerates. It REFUSES to run while any live file's batch id exceeds
  the sidecar high-water mark (the crashed-commit-window state) —
  restart the stream and drain it (``available_now=True``) before
  compacting, so the replay re-commits those epochs first.
- **Object stores**: on s3a:// a "rename" is copy+delete — per-object
  atomic (a reader never sees a partial file) but not free, so each
  epoch pays one extra copy of its own files. The protocol stays
  CORRECT (cleanup enumerates by the batch<id>- prefix, which survives
  any crash point of a copy-based rename); on HDFS/local renames are
  metadata-only. For very high epoch rates on S3, compact more often or
  front the index with an HDFS/local staging tier.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def _read_high_water(spark, path: str) -> int:
    from lotus_spark.functions.index_commit import _fs_read_json

    meta = _fs_read_json(spark, f"{path}/_stream_batches.json")
    return -1 if meta is None else int(meta["last_batch_id"])


def _write_high_water(spark, path: str, batch_id: int) -> None:
    from lotus_spark.functions.index_commit import _fs_write_json

    _fs_write_json(spark, f"{path}/_stream_batches.json",
                   {"last_batch_id": int(batch_id)})


def _cleanup_crashed_epoch(fs, jvm, index_path: str, batch_id: int) -> None:
    """Remove every trace a crashed attempt of ``batch_id`` may have
    left: live data files carrying its ``batch<id>-`` prefix (a partial
    or complete-but-unacknowledged commit) and its staging directory.
    Run before re-appending a replayed epoch — this is what makes the
    replay idempotent instead of at-least-once."""
    Path = jvm.org.apache.hadoop.fs.Path
    stale = fs.globStatus(Path(f"{index_path}/*/batch{batch_id}-*"))
    for st in (stale or []):
        fs.delete(st.getPath(), False)
    staging = Path(f"{index_path}/_staging/batch-{batch_id}")
    if fs.exists(staging):
        fs.delete(staging, True)


def _commit_epoch(spark, enc: DataFrame, index_path: str, cell_col: str,
                  batch_id: int) -> None:
    """Stage-then-rename commit of one epoch's encoded rows into the
    live partitioned layout. The staged files are renamed into the cell
    directories under a ``batch<id>-`` prefix so a crashed attempt is
    enumerable (and removable) by its batch id alone; the high-water
    mark advances only after every rename has succeeded."""
    jvm = spark._jvm
    Path = jvm.org.apache.hadoop.fs.Path
    fs = Path(index_path).getFileSystem(spark._jsc.hadoopConfiguration())
    _cleanup_crashed_epoch(fs, jvm, index_path, batch_id)

    staging = f"{index_path}/_staging/batch-{batch_id}"
    enc.write.partitionBy(cell_col).mode("overwrite").parquet(staging)
    for cell_st in fs.listStatus(Path(staging)):
        if not cell_st.isDirectory():
            continue  # _SUCCESS marker
        cell_name = cell_st.getPath().getName()  # e.g. "__ivf_cell=3"
        dest_dir = Path(f"{index_path}/{cell_name}")
        fs.mkdirs(dest_dir)
        for f_st in fs.listStatus(cell_st.getPath()):
            name = f_st.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            dst = Path(f"{index_path}/{cell_name}/batch{batch_id}-{name}")
            if not fs.rename(f_st.getPath(), dst):
                raise IOError(
                    f"stream_append_ivfpq: could not commit {name} into "
                    f"{cell_name} for epoch {batch_id} — the epoch will "
                    "replay and clean up by its batch prefix")
    fs.delete(Path(staging), True)
    _write_high_water(spark, index_path, batch_id)


def stream_append_ivfpq(
    stream: DataFrame,
    index_path: str,
    emb_col: str = "embedding",
    checkpoint_dir: str | None = None,
    available_now: bool = False,
):
    """Start a streaming query that appends every micro-batch to the
    IVF-PQ index at ``index_path`` (which must already exist —
    ``write_ivfpq_index`` creates it; quantizers are never retrained
    here). Rows with NULL ``emb_col`` are dropped per batch (a stream
    must not crash on one bad row; the batch-path
    ``append_ivfpq_index`` raises instead — both documented).

    Hot-path cost: the quantizers/meta are read ONCE when the first
    batch arrives and cached in the closure (single-writer: nothing
    else mutates them mid-run; a compaction between runs preserves the
    sidecar, see ``compact_ivfpq_index``), so each epoch is one encode+
    append job over the micro-batch plus the sidecar write — no
    per-batch meta re-read, no redundant NULL recount.

    Returns the started ``StreamingQuery``. ``available_now=True``
    drains the current backlog and stops (the deterministic test/
    backfill trigger); otherwise the query runs until stopped.
    """
    from pyspark.sql import functions as F

    from lotus_spark.functions.ann import encode_ivfpq, read_ivfpq_index
    from lotus_spark.functions.index_commit import _fs_read_json

    if not stream.isStreaming:
        raise ValueError("stream_append_ivfpq expects a streaming "
                         "DataFrame; use append_ivfpq_index for batches")

    cached: dict = {}

    def _append(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_id <= _read_high_water(spark, index_path):
            return  # replayed epoch after failure: already appended
        if not cached:
            stored, cents, books, cell_col = read_ivfpq_index(
                spark, index_path)
            meta = _fs_read_json(
                spark, f"{index_path}/_ivfpq_meta.json") or {}
            cached.update(
                columns=stored.columns, cents=cents, books=books,
                cell_col=cell_col,
                code_col=meta.get("code_col", "pq_codes"))
        enc = encode_ivfpq(
            batch_df.filter(F.col(emb_col).isNotNull()),
            emb_col, cached["cents"], cached["books"],
            cell_col=cached["cell_col"], code_col=cached["code_col"],
        ).select(*cached["columns"])
        # staged commit: write to _staging/batch-<id>, rename the files
        # into the live cells under a batch<id>- prefix, THEN advance the
        # high-water mark — a crash anywhere in between replays the epoch
        # and the replay deletes its own prefix first (idempotent).
        _commit_epoch(spark, enc, index_path, cached["cell_col"], batch_id)

    w = stream.writeStream.foreachBatch(_append).outputMode("append")
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    if available_now:
        w = w.trigger(availableNow=True)
    return w.start()

"""How a persisted-index rewrite is committed — the one module that
knows it. Every whole-directory maintenance verb (``compact_*_index``,
the CDC deletes, ``append_bm25_index``'s termdf rewrite and the
cluster-map applies) writes its replacement to a staged sibling and
hands it to :func:`commit_rewrite`; the sidecar JSON writes
(:func:`_fs_write_json`) go through the same :func:`install` core.

The protocol, per rewrite:

1. **stage** — the caller writes the full replacement to
   ``{path}{STAGED_*}{8 hex}`` (:func:`sibling`);
2. **verify** — :func:`commit_rewrite` recounts every staged table
   against the rows the caller expects; a mismatch deletes the staged
   copy and raises "original untouched";
3. **carry** — sidecars that live inside the directory but are not
   rewritten (``_ivfpq_meta.json``, ``_cluster_meta.json``, ...) are
   copied into the staged copy;
4. **install** — rename ``path`` aside to ``{path}.old-*``, rename the
   staged copy to ``path`` (renaming the aside back if that fails),
   then delete the aside.

CRASH-WINDOW CONTRACT (stated once here; the verbs point to it). Data
is never deleted before its replacement is verified and installed. The
install is two renames, not one atomic step: a crash between them
leaves ``path`` missing with the original at ``{path}.old-*`` and the
verified rewrite at the staged sibling; a crash after them leaves only
the ``.old-*`` aside to delete. Every such state is recoverable by
hand — rename one sibling back to ``path`` — and ``validate_index``
reports it (``no_crashed_swap_leftovers``, whose globs are built from
:data:`LEFTOVER_PREFIXES`). A failed rename that the protocol can undo
is undone and reported; one it cannot undo raises naming both
siblings. Single-writer: no verb may run concurrently with another
writer of the same index.

Two commit protocols deliberately live elsewhere because their
rollback rules differ: ``index_cdc.delete_from_ivfpq_index``'s per-cell
swap (partial but consistent) and ``streaming/index_sink.py``'s staged
``batch<id>-`` epoch commit (replayed, not rolled back).
"""
from __future__ import annotations

import json
import re
import uuid

# sibling-name prefixes of in-flight maintenance state
STAGED_COMPACT = ".compact-"  # compact_*_index staged copy
STAGED_REWRITE = ".rw-"       # single-table rewrites (termdf, cluster map)
STAGED_DELETE = ".cdcdel-"    # CDC delete staged copy
ASIDE = ".old-"               # the live copy, moved aside by install
CELL_ASIDE = ".cdcold-"       # delete_from_ivfpq_index's per-cell aside
LEFTOVER_PREFIXES = (CELL_ASIDE, STAGED_DELETE, STAGED_COMPACT, ASIDE,
                     STAGED_REWRITE)
# name suffixes of an in-flight sidecar write (inside the index dir)
SIDECAR_STAGED = ".tmp-"      # the new content, before install
SIDECAR_ASIDE = ".bak-"       # the previous content, moved aside
SIDECAR_LEFTOVERS = (SIDECAR_STAGED, SIDECAR_ASIDE)


def sibling(path: str, prefix: str) -> str:
    """A fresh ``{path}{prefix}{8 hex}`` name for staged or aside state."""
    return f"{path}{prefix}{uuid.uuid4().hex[:8]}"


def _fs(spark, path: str):
    """``(jvm, fs, p)``: the Hadoop FileSystem serving ``path`` and a
    string → ``Path`` constructor."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()

    def p(s):
        return jvm.org.apache.hadoop.fs.Path(s)

    return jvm, p(path).getFileSystem(conf), p


def install(fs, p, live: str, staged: str, aside: str | None,
            who: str) -> None:
    """Put ``staged`` at ``live``: move ``live`` to ``aside`` (``None``
    when there is no live copy), rename ``staged`` in, roll back on
    failure, drop the aside. Raises ``RuntimeError`` on any failure; the
    staged copy is deleted whenever the original is known intact."""
    if aside is not None and not fs.rename(p(live), p(aside)):
        fs.delete(p(staged), True)
        raise RuntimeError(f"{who}: could not move {live} aside; "
                           "original untouched")
    if not fs.rename(p(staged), p(live)):
        if aside is not None and not fs.rename(p(aside), p(live)):
            raise RuntimeError(
                f"{who}: could not install {staged} AND the rollback "
                f"failed — data intact at {aside} (original) and {staged} "
                f"(rewrite); rename one back to {live} by hand")
        fs.delete(p(staged), True)
        raise RuntimeError(f"{who}: could not install {staged}"
                           + ("; original restored" if aside else ""))
    if aside is not None:
        fs.delete(p(aside), True)


def commit_rewrite(spark, path: str, tmp: str, who: str,
                   expect: dict[str, int | None],
                   carry: tuple[str, ...] = ()) -> None:
    """Verify the staged rewrite at ``tmp``, carry sidecars into it and
    install it at ``path`` (protocol and crash window: module
    docstring).

    ``expect`` maps each staged table — a subdirectory name, or ``""``
    for a single-table layout stored at the directory itself — to its
    expected row count; ``None`` names a table of the layout that is not
    recounted. A multi-table layout (no ``""`` key) first refuses when
    ``path`` holds entries outside ``expect`` (see
    :func:`_assert_no_unknown_siblings`). ``carry`` names files copied
    from ``path`` into ``tmp`` when present."""
    jvm, fs, p = _fs(spark, path)
    try:
        if "" not in expect:
            _assert_no_unknown_siblings(spark, path, tuple(expect), who)
        for table, want in expect.items():
            if want is None:
                continue
            got = spark.read.parquet(f"{tmp}/{table}".rstrip("/")).count()
            if got != want:
                raise RuntimeError(
                    f"{who}: staged {table or 'rewrite'} has {got} rows, "
                    f"expected {want}; original untouched")
    except Exception:
        fs.delete(p(tmp), True)
        raise
    conf = spark._jsc.hadoopConfiguration()
    for name in carry:
        src = p(f"{path}/{name}")
        if fs.exists(src):
            jvm.org.apache.hadoop.fs.FileUtil.copy(
                fs, src, fs, p(f"{tmp}/{name}"), False, conf)
    install(fs, p, path, tmp, sibling(path, ASIDE), who)


def unknown_siblings(spark, path: str, tables: tuple[str, ...]) -> list:
    """Entries of the index directory that are neither one of its
    ``tables`` nor Spark/sidecar metadata (``_*``, ``.*`` names)."""
    jvm, fs, p = _fs(spark, path)
    return [
        st.getPath().getName()
        for st in (fs.listStatus(p(path)) or [])
        if st.getPath().getName() not in tables
        and not st.getPath().getName().startswith(("_", "."))
    ]


def _assert_no_unknown_siblings(spark, path: str, tables: tuple[str, ...],
                                who: str) -> None:
    """A whole-directory rewrite carries ONLY the layout's known tables
    and sidecars into the replacement — anything else co-located in the
    index directory would be silently DESTROYED by the install (the
    text cluster index once co-located its ``clusters`` map there and
    lost it to the first routine delete). Refuse loudly instead; the
    remedy is the sibling-directory layout (``{path}.clusters``)."""
    extras = unknown_siblings(spark, path, tables)
    if extras:
        raise RuntimeError(
            f"{who}: unknown entries co-located in the index directory "
            f"{extras} — the whole-dir rewrite would destroy them; move "
            "them to sibling directories (the {path}.clusters pattern) "
            "before maintaining this index")


def _assert_no_unacked_stream_epochs(spark, path: str, who: str) -> None:
    """Refuse to rewrite an IVF-PQ index a stopped
    ``streaming/index_sink.py`` feed died inside of: epoch files fully
    renamed into the live cells under their ``batch<id>-`` prefix while
    the ``_stream_batches.json`` high-water mark had not yet advanced.
    On restart the checkpoint replays the epoch, and the replay's
    cleanup finds those rows BY that prefix; a rewrite would erase the
    prefixes (and keep the stale sidecar), so the replay would find
    nothing to delete and re-append the epoch as duplicates. Restart
    the stream and drain it (``available_now=True`` suffices) first."""
    jvm, fs, p = _fs(spark, path)
    sidecar = _fs_read_json(spark, f"{path}/_stream_batches.json")
    high_water = -1 if sidecar is None else int(sidecar["last_batch_id"])
    live = fs.globStatus(p(f"{path}/*/batch*-*")) or []
    unacked = sorted({
        int(m.group(1))
        for st in live
        for m in [re.match(r"batch(\d+)-", st.getPath().getName())]
        if m and int(m.group(1)) > high_water
    })
    if unacked:
        raise RuntimeError(
            f"{who}: live files from stream epoch(s) {unacked} exceed the "
            f"_stream_batches.json high-water mark ({high_water}) — a "
            "stream crashed inside its commit window; restart and drain it "
            "(available_now=True suffices), then retry")


def _fs_write_json(spark, path: str, obj) -> None:
    """JSON sidecar write through the Hadoop FS API (hdfs:// and s3a://
    like local): write a ``.tmp-`` sibling, then :func:`install` it with
    the previous content (if any) kept at a ``.bak-`` sibling until the
    new one is in (``validate_index`` reports both if a crash leaves
    them). The sidecar is never TRUNCATED mid-json (the failure mode
    that wedges a consumer on JSONDecodeError), and its previous
    content is never deleted first — for ``_ivfpq_meta.json`` it holds
    the trained centroids/codebooks. Single point of hardening for
    every index sidecar (meta, stream high-water)."""
    jvm, fs, p = _fs(spark, path)
    token = uuid.uuid4().hex[:8]
    tmp = f"{path}{SIDECAR_STAGED}{token}"
    out = fs.create(p(tmp), True)
    try:
        out.write(bytearray(json.dumps(obj).encode()))
    finally:
        out.close()
    bak = f"{path}{SIDECAR_ASIDE}{token}" if fs.exists(p(path)) else None
    install(fs, p, path, tmp, bak, "sidecar write")


def _fs_read_json(spark, path: str):
    """Read a JSON sidecar via the Hadoop FS API; returns None if the
    file does not exist."""
    jvm, fs, p = _fs(spark, path)
    src = p(path)
    if not fs.exists(src):
        return None
    stream = fs.open(src)
    try:
        baos = jvm.java.io.ByteArrayOutputStream()
        jvm.org.apache.hadoop.io.IOUtils.copyBytes(stream, baos, 65536, False)
        return json.loads(bytes(baos.toByteArray()).decode())
    finally:
        stream.close()

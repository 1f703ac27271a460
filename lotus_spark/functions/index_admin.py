"""Read-only integrity checking (fsck) for the persisted index layouts.

Five index families live on disk (MinHash-LSH, IVF-PQ, n-gram
decontamination, BM25, and the cluster maps riding the first two), all
maintained by verify-then-swap rewrites with documented crash windows.
``validate_index`` is the operator's converse: ONE read-only pass that
says whether an index is healthy, mid-recovery, or corrupt — run it
before a maintenance job, after a crash, or on a schedule. Every check
returns a row rather than raising, so a report covers everything at
once (the ``expectations.py`` report shape); ``ok`` is the AND of all
rows.

Checks by family (all bounded: sidecar reads, directory listings, and
narrow-column aggregates — never a full-payload scan):

- every family: sidecar present + required keys; leftover maintenance
  siblings (``.cdcold-*`` / ``.cdcdel-*`` / ``.compact-*`` / ``.old-*``
  / ``.rw-*`` — evidence of a crashed swap, with the recovery named;
  a crashed sidecar write's ``.tmp-*`` / ``.bak-*`` copies);
  unknown co-located entries (the whole-dir swaps refuse them; see
  ``index_commit._assert_no_unknown_siblings``). The leftover names
  are ``index_commit.LEFTOVER_PREFIXES``; the leftover check runs even
  when the index directory itself is missing (a crash between the
  commit's two renames).
- minhash: ``sigs`` ids unique; ``buckets`` rows == bands x sigs rows;
  the two tables cover the same id set.
- ivfpq: unacked stream epochs (``_stream_batches.json`` high-water);
  stored ids unique; every PQ code vector has length m.
- bm25: doclens ids unique; every postings id has a doclens row; the
  dl denormalized into posting rows (the serving copy) agrees with
  doclens (the maintenance copy); sidecar (n_docs, total_dl) equal a
  recount over doclens (dl > 0 convention).
- cluster / embedding_cluster: map ids unique; map id set == index id
  set (the sync invariant ``apply_snapshot_to_*_cluster_index`` checks
  before mutating); the MAP directory's own crashed-swap leftovers and
  unknown co-located entries (``_apply_to_map`` /
  ``delete_from_cluster_map`` are whole-dir swap-rewriters too).
"""
from __future__ import annotations

from typing import Any

from pyspark.sql import functions as F

from lotus_spark.functions.index_commit import (
    LEFTOVER_PREFIXES,
    SIDECAR_ASIDE,
    SIDECAR_LEFTOVERS,
    _assert_no_unacked_stream_epochs,
    _fs,
    _fs_read_json,
    unknown_siblings,
)

KINDS = ("minhash", "ivfpq", "ngram", "bm25", "cluster",
         "embedding_cluster")

_LEFTOVER_GLOBS = tuple(f"{s}*" for s in LEFTOVER_PREFIXES)


def _row(check: str, ok: bool, detail: str = "") -> dict:
    return {"check": check, "ok": bool(ok), "detail": detail}


def _sibling_leftovers(spark, path: str) -> list[str]:
    """Crashed-commit names: rewrite siblings and sidecar copies."""
    jvm, fs, p = _fs(spark, path)
    globs = [f"{path}{g}" for g in _LEFTOVER_GLOBS]
    globs += [f"{path}/{g}" for g in _LEFTOVER_GLOBS]
    globs += [f"{path}/*{s}*" for s in SIDECAR_LEFTOVERS]
    return [st.getPath().getName() for g in globs
            for st in (fs.globStatus(p(g)) or [])]


def _check_layout(spark, path: str, tables: tuple[str, ...],
                  meta_name: str, rows: list[dict]) -> dict | None:
    """Shared sidecar/leftover/unknown-sibling checks; returns the
    parsed sidecar (or None, with a failed row recorded)."""
    jvm, fs, p = _fs(spark, path)
    exists = fs.exists(p(path))
    rows.append(_row("exists", exists,
                     "" if exists else f"no directory at {path}"))
    left = _sibling_leftovers(spark, path)
    rows.append(_row(
        "no_crashed_swap_leftovers", not left,
        "" if not left else (
            f"maintenance leftovers {left} — a swap crashed mid-window; "
            "recover per the owning verb's docstring (rename the .old-* "
            "aside back, or finish installing the staged rewrite) "
            "before running maintenance")))
    if not exists:
        return None
    meta = _fs_read_json(spark, f"{path}/{meta_name}")
    bak = [n for n in left if n.startswith(f"{meta_name}{SIDECAR_ASIDE}")]
    rows.append(_row(
        "sidecar", meta is not None,
        "" if meta is not None else f"missing {meta_name}" + (
            f" — its write crashed: rename {bak[0]} back" if bak else "")))
    for t in tables:
        present = fs.exists(p(f"{path}/{t}"))
        rows.append(_row(f"table:{t}", present,
                         "" if present else "table directory missing"))
    extras = unknown_siblings(spark, path, tables)
    rows.append(_row(
        "no_unknown_siblings", not extras,
        "" if not extras else (
            f"unknown co-located entries {extras} — whole-dir "
            "maintenance swaps refuse these; move them to sibling "
            "directories")))
    return meta


def _ids_equal(a, b) -> int:
    """Rows by which two single-column id frames differ (0 == same set)."""
    return a.join(b, "id", "full_outer").filter(
        a["id"].isNull() | b["id"].isNull()).count()


_SIDECAR_KINDS = {
    "_minhash_meta.json": "minhash",
    "_ivfpq_meta.json": "ivfpq",
    "_ngram_meta.json": "ngram",
    "_bm25_meta.json": "bm25",
}


def detect_index_kind(spark, path: str) -> str:
    """Infer a persisted index's kind from its sidecar file; a
    ``{path}.clusters`` sibling map upgrades minhash/ivfpq to the
    cluster kinds. Raises with the candidate list when nothing at
    ``path`` looks like an index."""
    jvm, fs, p = _fs(spark, path)
    found = [k for name, k in _SIDECAR_KINDS.items()
             if fs.exists(p(f"{path}/{name}"))]
    if not found:
        raise ValueError(
            f"detect_index_kind: no index sidecar at {path} — looked "
            f"for {sorted(_SIDECAR_KINDS)}")
    if len(found) > 1:
        # e.g. an index written over a stale dir of another layout:
        # silently picking one would leave the other's corruption
        # unchecked — make the operator name the kind explicitly
        raise ValueError(
            f"detect_index_kind: AMBIGUOUS — {path} carries sidecars "
            f"for {sorted(found)}; pass kind= explicitly (and clean up "
            "the stale layout)")
    base = found[0]
    if base == "minhash" and fs.exists(p(f"{path}.clusters")):
        return "cluster"
    if base == "ivfpq" and fs.exists(p(f"{path}.clusters")):
        return "embedding_cluster"
    return base


def validate_index(spark, path: str, kind: str | None = None
                   ) -> dict[str, Any]:
    """Validate one persisted index; returns ``{"ok": bool, "kind":
    ..., "path": ..., "checks": [{check, ok, detail}, ...]}``. Read-only
    and side-effect free — safe to run against a live (single-writer)
    index between maintenance jobs.

    With ``kind=None`` the kind is inferred from the sidecar
    (:func:`detect_index_kind`), and a detected cluster kind validates
    BOTH stores — the backing index's checks plus the map's — in one
    report (the named-kind calls stay single-store for composability)."""
    if kind is None:
        kind = detect_index_kind(spark, path)
        if kind in ("cluster", "embedding_cluster"):
            base = "minhash" if kind == "cluster" else "ivfpq"
            rep_b = validate_index(spark, path, base)
            rep_m = validate_index(spark, path, kind)
            return {"ok": rep_b["ok"] and rep_m["ok"], "kind": kind,
                    "path": path,
                    "checks": rep_b["checks"] + rep_m["checks"]}
    if kind not in KINDS:
        raise ValueError(f"validate_index: unknown kind {kind!r} "
                         f"(one of {KINDS})")
    rows: list[dict] = []

    if kind == "minhash":
        meta = _check_layout(spark, path, ("buckets", "sigs"),
                             "_minhash_meta.json", rows)
        if meta is not None and all(r["ok"] for r in rows):
            sigs = spark.read.parquet(f"{path}/sigs")
            bks = spark.read.parquet(f"{path}/buckets")
            n_sigs, n_ids = sigs.count(), sigs.select("id").distinct().count()
            rows.append(_row("sigs_ids_unique", n_sigs == n_ids,
                             f"{n_sigs} rows / {n_ids} distinct ids"))
            n_b = bks.count()
            want = n_sigs * int(meta["bands"])
            rows.append(_row(
                "buckets_rows_eq_bands_x_sigs", n_b == want,
                f"{n_b} bucket rows, expected {want}"))
            d = _ids_equal(sigs.select("id"),
                           bks.select("id").distinct())
            rows.append(_row("tables_cover_same_ids", d == 0,
                             f"{d} ids present in only one table"))

    elif kind == "ivfpq":
        meta = _check_layout(spark, path, (), "_ivfpq_meta.json", rows)
        # the data itself is the partitioned layout at the root — check
        # the cell directories exist
        if meta is not None:
            try:
                _assert_no_unacked_stream_epochs(spark, path,
                                                 "validate_index")
                rows.append(_row("no_unacked_stream_epochs", True))
            except RuntimeError as e:
                rows.append(_row("no_unacked_stream_epochs", False,
                                 str(e)))
            if all(r["ok"] for r in rows):
                from lotus_spark.functions.ann import read_ivfpq_index

                stored, cents, books, cell_col = read_ivfpq_index(
                    spark, path)
                id_cols = [c for c in stored.columns
                           if c not in (cell_col,)]
                code_col = meta.get("code_col", "pq_codes")
                n = stored.count()
                m = len(books)
                bad_codes = stored.filter(
                    F.size(F.col(code_col)) != m).count()
                rows.append(_row(
                    "code_vectors_have_length_m", bad_codes == 0,
                    f"{bad_codes}/{n} rows with len(codes) != {m}"))
                cell_max = stored.agg(
                    F.max(cell_col).alias("m")).first()["m"]
                rows.append(_row(
                    "cells_within_centroid_range",
                    cell_max is not None and cell_max < len(cents),
                    f"max cell {cell_max}, {len(cents)} centroids"))

    elif kind == "ngram":
        _check_layout(spark, path, ("ngrams", "sizes"),
                      "_ngram_meta.json", rows)
        if all(r["ok"] for r in rows):
            sizes = spark.read.parquet(f"{path}/sizes")
            n_s = sizes.count()
            n_d = sizes.select("id").distinct().count()
            rows.append(_row("sizes_ids_unique", n_s == n_d,
                             f"{n_s} rows / {n_d} distinct ids"))

    elif kind == "bm25":
        meta = _check_layout(spark, path,
                             ("postings", "termdf", "doclens"),
                             "_bm25_meta.json", rows)
        if meta is not None and all(r["ok"] for r in rows):
            dl = spark.read.parquet(f"{path}/doclens")
            n_dl, n_ids = dl.count(), dl.select("id").distinct().count()
            rows.append(_row("doclens_ids_unique", n_dl == n_ids,
                             f"{n_dl} rows / {n_ids} distinct ids"))
            posts = spark.read.parquet(f"{path}/postings")
            orphans = posts.select("id").distinct().join(
                dl.select("id"), "id", "left_anti").count()
            rows.append(_row(
                "postings_ids_have_doclens", orphans == 0,
                f"{orphans} posting ids with no doclens row — a partial "
                "append (doclens-first ordering makes this impossible "
                "for crashes; see append_bm25_index)"))
            # dl is DENORMALIZED into posting rows (the query path never
            # reads doclens) — the two copies must agree, or serving
            # scores silently diverge from the maintenance tables
            dmism = (posts.select("id", "dl").distinct()
                     .join(dl.withColumnRenamed("dl", "dl2"), "id")
                     .filter(F.col("dl") != F.col("dl2"))
                     .select("id").distinct().count())
            rows.append(_row(
                "postings_dl_matches_doclens", dmism == 0,
                f"{dmism} ids whose posting dl disagrees with doclens — "
                "the serving copy diverged from the maintenance table; "
                "rebuild the index"))
            from lotus_spark.functions.bm25_store import _corpus_stats

            n_docs, total_dl = _corpus_stats(dl)
            stats_ok = (n_docs == int(meta["n_docs"])
                        and total_dl == int(meta["total_dl"]))
            rows.append(_row(
                "sidecar_stats_match_recount", stats_ok,
                f"sidecar ({meta['n_docs']}, {meta['total_dl']}) vs "
                f"recount ({n_docs}, {total_dl})"))

    else:  # cluster / embedding_cluster: the map + its backing index
        jvm, fs, p = _fs(spark, path)
        map_dir = f"{path}.clusters"
        if not fs.exists(p(map_dir)):
            rows.append(_row("map_exists", False,
                             f"no cluster map at {map_dir}"))
        else:
            rows.append(_row("map_exists", True))
            # the map dir has its own swap-rewriters (_apply_to_map,
            # delete_from_cluster_map) with the same crash windows as
            # the backing index — fsck ITS leftovers too, or the check
            # misses exactly the crash evidence these kinds exist for
            mleft = _sibling_leftovers(spark, map_dir)
            rows.append(_row(
                "map_no_crashed_swap_leftovers", not mleft,
                "" if not mleft else (
                    f"maintenance leftovers {mleft} beside/inside the "
                    "cluster map — a map swap crashed mid-window; "
                    "recover per the owning verb's docstring before "
                    "running maintenance")))
            mextras = [
                st.getPath().getName()
                for st in (fs.listStatus(p(map_dir)) or [])
                if not st.getPath().getName().startswith(
                    ("part-", "_", "."))
            ]
            rows.append(_row(
                "map_no_unknown_siblings", not mextras,
                "" if not mextras else (
                    f"unknown co-located entries {mextras} in the "
                    "cluster map dir — whole-dir map rewrites refuse "
                    "these; move them to sibling directories")))
            if mextras:
                # an unknown co-located file breaks the parquet read
                # below — report and stop (fsck never raises)
                return {"ok": False, "kind": kind, "path": path,
                        "checks": rows}
            cmeta = _fs_read_json(spark, f"{map_dir}/_cluster_meta.json")
            rows.append(_row("map_sidecar", cmeta is not None,
                             "" if cmeta else "missing _cluster_meta.json"))
            cmap = spark.read.parquet(map_dir)
            n_m = cmap.count()
            n_i = cmap.select("id").distinct().count()
            rows.append(_row("map_ids_unique", n_m == n_i,
                             f"{n_m} rows / {n_i} distinct ids"))
            if kind == "cluster":
                idx_ids = spark.read.parquet(f"{path}/sigs").select("id")
            else:
                from lotus_spark.functions.ann import read_ivfpq_index

                stored, _c, _b, _cc = read_ivfpq_index(spark, path)
                id_col = (cmeta or {}).get("id_col")
                if id_col is None or id_col not in stored.columns:
                    id_col = [c for c in stored.columns
                              if c not in (_cc, "pq_codes",
                                           "embedding")][0]
                idx_ids = stored.select(F.col(id_col).alias("id"))
            d = _ids_equal(cmap.select("id"), idx_ids.distinct())
            rows.append(_row(
                "map_and_index_in_sync", d == 0,
                f"{d} ids present in only one store — rebuild the "
                "cluster index or finish the crashed apply"))

    return {"ok": all(r["ok"] for r in rows), "kind": kind,
            "path": path, "checks": rows}


def index_stats(spark, path: str, kind: str | None = None):
    """Geometry / balance statistics for a persisted index layout — the
    capacity-planning converse of :func:`validate_index` (integrity).
    Returns a long-form DataFrame ``(layout string, metric string,
    value bigint)``; read-only and bounded: narrow-column aggregates
    over the layout's own tables (ids, cells, buckets, counts — never a
    payload or corpus scan).

    Why it exists: every layout's sizing doc says "grow the partition
    knob with the corpus" (``bm25_store``: a bucket should stay a few
    hundred MB; ``ann``: cells should stay balanced; ``dedup_index``: a
    hot LSH bucket is a candidate-pair hotspot) — this is the operator
    verb that SHOWS those numbers, so re-bucket / re-train / compact
    decisions come from measurement instead of guesswork. Skew metrics
    (``max_*`` vs total/occupied) are the 100 TB early-warning: a
    bucket or cell holding an outsized share of rows is tomorrow's
    straggler task.

    ``kind=None`` autodetects from the sidecar
    (:func:`detect_index_kind`); a detected cluster kind reports the
    map's stats plus its backing index's in one frame. Metrics are all
    integers so cross-engine oracle comparison is exact."""
    if kind is None:
        kind = detect_index_kind(spark, path)
    if kind not in KINDS:
        raise ValueError(f"index_stats: unknown kind {kind!r} "
                         f"(one of {KINDS})")
    out: list[tuple[str, str, int]] = []

    def _emit(layout: str, pairs: list[tuple[str, int | None]]) -> None:
        out.extend((layout, m, int(v if v is not None else 0))
                   for m, v in pairs)

    if kind == "minhash":
        meta = _fs_read_json(spark, f"{path}/_minhash_meta.json") or {}
        sigs = spark.read.parquet(f"{path}/sigs")
        bks = spark.read.parquet(f"{path}/buckets")
        a = bks.groupBy("band").count().agg(
            F.count("*").alias("occ"), F.max("count").alias("mx"),
            F.sum("count").alias("rows")).first()
        _emit("minhash", [
            ("n_docs", sigs.count()),
            ("n_hashes", meta.get("n_hashes", 0)),
            ("bands", meta.get("bands", 0)),
            ("n_bucket_rows", a["rows"]),
            ("n_band_buckets_occupied", a["occ"]),
            ("max_bucket_ids", a["mx"]),
        ])

    elif kind == "ivfpq":
        from lotus_spark.functions.ann import read_ivfpq_index

        stored, cents, books, cell_col = read_ivfpq_index(spark, path)
        a = stored.groupBy(cell_col).count().agg(
            F.count("*").alias("occ"), F.max("count").alias("mx"),
            F.min("count").alias("mn"), F.sum("count").alias("rows")
        ).first()
        _emit("ivfpq", [
            ("n_rows", a["rows"]),
            ("n_cells_total", len(cents)),
            ("n_cells_occupied", a["occ"]),
            ("max_cell_rows", a["mx"]),
            ("min_cell_rows", a["mn"]),
            ("m_subspaces", len(books)),
        ])

    elif kind == "ngram":
        posts = spark.read.parquet(f"{path}/ngrams")
        a = posts.groupBy("sh").count().agg(
            F.count("*").alias("dn"), F.max("count").alias("mx"),
            F.sum("count").alias("rows")).first()
        _emit("ngram", [
            ("n_docs", spark.read.parquet(f"{path}/sizes").count()),
            ("n_postings", a["rows"]),
            ("n_distinct_ngrams", a["dn"]),
            ("max_ngram_df", a["mx"]),
        ])

    elif kind == "bm25":
        meta = _fs_read_json(spark, f"{path}/_bm25_meta.json") or {}
        posts = spark.read.parquet(f"{path}/postings")
        tdf = spark.read.parquet(f"{path}/termdf")
        dl = spark.read.parquet(f"{path}/doclens")
        pb = posts.groupBy("bucket").count().agg(
            F.count("*").alias("occ"), F.max("count").alias("mx"),
            F.min("count").alias("mn"), F.sum("count").alias("rows")
        ).first()
        ta = tdf.agg(F.count("*").alias("n"),
                     F.max("df").alias("mx")).first()
        da = dl.agg(
            F.count("*").alias("rows"),
            F.sum(F.when(F.col("dl") > 0, 1).otherwise(0)).alias("ne"),
            F.coalesce(F.sum("dl"), F.lit(0)).alias("tdl")).first()
        _emit("bm25", [
            ("n_postings", pb["rows"]),
            ("n_terms", ta["n"]),
            ("max_term_df", ta["mx"]),
            ("n_docs_nonempty", da["ne"]),
            ("n_doclens_rows", da["rows"]),
            ("total_dl", da["tdl"]),
            ("n_buckets_total", meta.get("n_buckets", 0)),
            ("n_buckets_occupied", pb["occ"]),
            ("max_bucket_postings", pb["mx"]),
            ("min_bucket_postings", pb["mn"]),
        ])

    else:  # cluster / embedding_cluster: the map + its backing index
        cmap = spark.read.parquet(f"{path}.clusters")
        a = cmap.groupBy("cluster").count().agg(
            F.count("*").alias("nc"), F.max("count").alias("mx"),
            F.sum("count").alias("rows")).first()
        _emit("cluster_map", [
            ("n_ids", a["rows"]),
            ("n_clusters", a["nc"]),
            ("max_cluster_size", a["mx"]),
        ])
        base = "minhash" if kind == "cluster" else "ivfpq"
        return spark.createDataFrame(
            out, "layout string, metric string, value bigint",
        ).unionByName(index_stats(spark, path, base))

    return spark.createDataFrame(
        out, "layout string, metric string, value bigint")

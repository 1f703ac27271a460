"""Tests for the persisted eval-set n-gram decontamination index."""

import pytest
from pyspark.sql import functions as F


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


EVAL = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "spark dataframes shuffle data between executors during joins"),
]


def test_ngram_index_probe_and_gate(spark, tmp_path):
    from lotus_spark.functions.decontam_index import (
        contamination_against_index, decontaminate_against_index,
        read_ngram_meta, write_ngram_index,
    )

    path = str(tmp_path / "ng")
    write_ngram_index(_docs(spark, EVAL), path, "text", "doc_id",
                      ngram_n=5)
    assert read_ngram_meta(spark, path)["ngram_n"] == 5

    train = _docs(spark, [
        # embeds a full 5-gram of eval doc 1 inside fresh prose
        (101, "as they say the quick brown fox jumps over fences daily"),
        # clean
        (102, "completely novel training text about tidal energy"),
        # contains eval doc 2 verbatim (many 5-gram hits)
        (103, "prefix " + EVAL[1][1] + " suffix"),
    ])
    got = contamination_against_index(spark, path, train, "text",
                                      "doc_id", min_hits=1)
    rows = {(r["doc_id"], r["match_id"]): (r["n_hits"], r["eval_frac"])
            for r in got.collect()}
    assert any(q == 101 and m == 1 for q, m in rows)
    assert (103, 2) in rows
    n_hits_103, frac_103 = rows[(103, 2)]
    # eval doc 2 has 8 words -> 4 distinct 5-grams, all present verbatim
    assert n_hits_103 == 4 and frac_103 == 1.0
    assert all(q != 102 for q, _ in rows)

    kept = decontaminate_against_index(spark, path, train, "text",
                                       "doc_id", min_hits=1)
    assert {r["doc_id"] for r in kept.collect()} == {102}

    # a stricter rule keeps the single-hit doc
    kept3 = decontaminate_against_index(spark, path, train, "text",
                                        "doc_id", min_hits=3)
    assert {r["doc_id"] for r in kept3.collect()} == {101, 102}


def test_ngram_index_append_equals_fresh_write(spark, tmp_path):
    from lotus_spark.functions.decontam_index import (
        append_ngram_index, write_ngram_index,
    )

    grown = str(tmp_path / "grown")
    write_ngram_index(_docs(spark, EVAL[:1]), grown, "text", "doc_id",
                      ngram_n=4)
    append_ngram_index(spark, grown, _docs(spark, EVAL[1:]),
                       "text", "doc_id")
    fresh = str(tmp_path / "fresh")
    write_ngram_index(_docs(spark, EVAL), fresh, "text", "doc_id",
                      ngram_n=4)
    for table in ("ngrams", "sizes"):
        a = sorted(map(str, spark.read.parquet(f"{grown}/{table}")
                       .collect()))
        b = sorted(map(str, spark.read.parquet(f"{fresh}/{table}")
                       .collect()))
        assert a == b, table

    with pytest.raises(ValueError, match="NULL"):
        append_ngram_index(
            spark, grown,
            spark.createDataFrame([(None, "x")],
                                  "doc_id long, text string"),
            "text", "doc_id")


def test_ngram_index_validation(spark, tmp_path):
    from lotus_spark.functions.decontam_index import (
        contamination_against_index, write_ngram_index,
    )

    with pytest.raises(ValueError, match="ngram_n"):
        write_ngram_index(_docs(spark, EVAL), str(tmp_path / "x"),
                          "text", "doc_id", ngram_n=0)
    with pytest.raises(ValueError, match="lacks"):
        write_ngram_index(_docs(spark, EVAL), str(tmp_path / "x"),
                          "MISSING", "doc_id")
    path = str(tmp_path / "ok")
    write_ngram_index(_docs(spark, EVAL), path, "text", "doc_id")
    with pytest.raises(ValueError, match="min_hits"):
        contamination_against_index(spark, path, _docs(spark, EVAL),
                                    "text", "doc_id", min_hits=0)
    with pytest.raises(FileNotFoundError, match="sidecar"):
        contamination_against_index(spark, str(tmp_path / "nope"),
                                    _docs(spark, EVAL), "text", "doc_id")


def test_ngram_index_matches_in_hand_contamination(spark, tmp_path):
    """Parity with the in-hand analysis op: probing the index with the
    TRAIN side and aggregating per eval doc reproduces
    contamination_overlap's fraction exactly (shared word_shingles +
    shingle_hash expressions, pinned end-to-end)."""
    from lotus_spark.functions.decontam_index import (
        contamination_against_index, write_ngram_index,
    )
    from lotus_spark.functions.dedup import contamination_overlap

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    eval_df = docs.filter("doc_id < 20")
    train = docs.filter("doc_id >= 20")

    path = str(tmp_path / "ng_parity")
    write_ngram_index(eval_df, path, "text", "doc_id", ngram_n=3)

    # index route: per-pair hits -> distinct hit n-grams per eval doc is
    # NOT recoverable from pair counts (a train doc may repeat an
    # n-gram), so recompute coverage: an eval doc's fraction = hits of
    # its n-grams against the UNION of train n-grams. Probe per-pair,
    # then verify the reference op agrees on which eval docs are touched.
    touched = {
        r["match_id"] for r in contamination_against_index(
            spark, path, train, "text", "doc_id", min_hits=1).collect()
    }
    ref = {r["doc_id"]: r["contamination"] for r in contamination_overlap(
        train, eval_df, "text", "doc_id", shingle_n=3).collect()}
    assert touched == {d for d, frac in ref.items() if frac > 0}


def test_contamination_index_matches_duckdb_oracle(spark):
    """Cross-engine check of the r11-staged oracle pair
    (__spark_entry__.q_contamination_index / _sql_contamination_index)
    ahead of its driver registration: write + append + probe must
    hash-match the DuckDB replay at sf0.001 under the driver's
    canonical compare."""
    import sys

    import duckdb

    sys.path.insert(0, "/root/repo")
    import __spark_entry__ as entry

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{sf}/documents.parquet'")
    odf = con.execute(entry._sql_contamination_index()).df()
    sdf = entry.q_contamination_index(spark, sf).toPandas()

    def canon(pdf):
        pdf = pdf[sorted(pdf.columns)].copy()
        for c in pdf.columns:
            if str(pdf[c].dtype).startswith("float"):
                pdf[c] = pdf[c].astype(float).round(6)
            pdf[c] = pdf[c].astype(str)
        return pdf.sort_values(list(pdf.columns)).reset_index(drop=True)

    a, b = canon(sdf), canon(odf)
    assert list(a.columns) == list(b.columns)
    assert len(a) == len(b) and len(a) > 0
    assert a.equals(b)


def test_ngram_index_append_rejects_existing_ids(spark, tmp_path):
    """ADVICE r10: re-appending an indexed id would duplicate its
    postings + sizes rows and fan out every later probe — the appender
    must refuse, preserving the append==fresh-write parity."""
    from lotus_spark.functions.decontam_index import (
        append_ngram_index, contamination_against_index, write_ngram_index,
    )

    path = str(tmp_path / "ng")
    write_ngram_index(_docs(spark, EVAL), path, "text", "doc_id",
                      ngram_n=3)
    with pytest.raises(ValueError, match="already present"):
        append_ngram_index(spark, path, _docs(spark, [EVAL[0]]),
                           "text", "doc_id")
    # fresh ids still append, and the probe stays single-row-per-pair
    append_ngram_index(spark, path, _docs(spark, [
        (3, "novel eval task about photosynthesis in shallow water")]),
        "text", "doc_id")
    got = contamination_against_index(
        spark, path, _docs(spark, [(101, EVAL[0][1])]), "text", "doc_id")
    pairs = [(r["doc_id"], r["match_id"]) for r in got.collect()]
    assert pairs == [(101, 1)]


def test_compact_ngram_index_preserves_rows_and_answers(spark, tmp_path):
    """r10-verdict item 5: daily append_ngram_index calls fragment the
    postings table; compact_ngram_index rewrites both tables to few
    files (row set verified, rename swap) and probe answers are
    untouched."""
    from pathlib import Path

    from lotus_spark.functions.decontam_index import (
        append_ngram_index, compact_ngram_index,
        contamination_against_index, read_ngram_meta, write_ngram_index,
    )

    path = str(tmp_path / "ng")
    write_ngram_index(_docs(spark, [EVAL[0]]), path, "text", "doc_id",
                      ngram_n=3)
    for i, txt in [(2, EVAL[1][1]),
                   (3, "third eval task text with several words here"),
                   (4, "fourth eval task text with other words again")]:
        append_ngram_index(spark, path, _docs(spark, [(i, txt)]),
                           "text", "doc_id")
    train = _docs(spark, [(101, EVAL[0][1]), (102, EVAL[1][1]),
                          (103, "untainted text about glacier formation")])
    before = sorted(
        (r["doc_id"], r["match_id"], r["n_hits"], r["eval_frac"])
        for r in contamination_against_index(
            spark, path, train, "text", "doc_id").collect())
    n_files_before = len(list(Path(path, "ngrams").glob("*.parquet")))
    assert n_files_before >= 4  # fragmented by the appends

    compact_ngram_index(spark, path)

    n_files_after = len(list(Path(path, "ngrams").glob("*.parquet")))
    assert n_files_after < n_files_before
    assert read_ngram_meta(spark, path)["ngram_n"] == 3  # sidecar copied
    after = sorted(
        (r["doc_id"], r["match_id"], r["n_hits"], r["eval_frac"])
        for r in contamination_against_index(
            spark, path, train, "text", "doc_id").collect())
    assert after == before and len(after) >= 2


def test_compact_ngram_index_refuses_co_located_entries(spark, tmp_path):
    """A whole-directory compaction carries only the index's own tables
    into the rewrite, so an entry co-located inside the index directory
    (here a ``clusters`` map) must make it refuse, as the n-gram delete
    already does — never vanish with the swap."""
    import os

    from lotus_spark.functions.decontam_index import (
        compact_ngram_index, write_ngram_index,
    )
    from lotus_spark.functions.index_cdc import delete_from_ngram_index

    path = str(tmp_path / "ng")
    write_ngram_index(_docs(spark, EVAL), path, "text", "doc_id",
                      ngram_n=3)
    spark.createDataFrame([(1, 1)], "id long, cluster long") \
        .write.parquet(f"{path}/clusters")

    with pytest.raises(RuntimeError, match="unknown entries co-located"):
        delete_from_ngram_index(spark, path,
                                spark.createDataFrame([(1,)], "id long"))
    with pytest.raises(RuntimeError, match="unknown entries co-located"):
        compact_ngram_index(spark, path)
    assert spark.read.parquet(f"{path}/clusters").count() == 1
    assert not [n for n in os.listdir(tmp_path) if n != "ng"]  # no leftovers

"""The shared commit of every whole-directory index rewrite
(functions/index_commit.py), driven through each failure point of its
install with a FileSystem whose n-th ``rename`` fails the way Hadoop's
does — by returning False."""
import os

import pytest

from lotus_spark.functions import index_commit
from lotus_spark.functions.decontam_index import write_ngram_index
from lotus_spark.functions.index_admin import validate_index

EVAL = [
    (1, "the quick brown fox jumps over the lazy dog"),
    (2, "spark dataframes shuffle data between executors during joins"),
]


class _FailingRenames:
    """The real Hadoop FileSystem, except that the listed (1-based)
    ``rename`` calls report failure without touching anything."""

    def __init__(self, fs, fail_on):
        self._fs, self._fail_on, self.calls = fs, set(fail_on), 0

    def rename(self, src, dst):
        self.calls += 1
        if self.calls in self._fail_on:
            return False
        return self._fs.rename(src, dst)

    def __getattr__(self, name):
        return getattr(self._fs, name)


def _sizes(spark, path):
    return sorted(tuple(r) for r in
                  spark.read.parquet(f"{path}/sizes").collect())


def _check(report, name):
    return next(r["ok"] for r in report["checks"] if r["check"] == name)


# rename 1 moves the live copy aside, 2 installs the staged copy, 3 is
# the rollback that renames the aside back
@pytest.mark.parametrize("fail_on", [(1,), (2,), (2, 3)],
                         ids=["aside", "install", "install_and_rollback"])
def test_commit_rewrite_at_each_failure_point(spark, tmp_path, monkeypatch,
                                              fail_on):
    path = str(tmp_path / "ng")
    write_ngram_index(spark.createDataFrame(EVAL, ["doc_id", "text"]),
                      path, "text", "doc_id", ngram_n=3)
    before = _sizes(spark, path)
    tmp = index_commit.sibling(path, index_commit.STAGED_COMPACT)
    expect = {}
    for table in ("ngrams", "sizes"):
        df = spark.read.parquet(f"{path}/{table}")
        expect[table] = df.count()
        df.write.parquet(f"{tmp}/{table}")
    index_commit._fs_write_json(
        spark, f"{tmp}/_ngram_meta.json",
        index_commit._fs_read_json(spark, f"{path}/_ngram_meta.json"))

    real_fs, shared = index_commit._fs, {}

    def failing_fs(spark_, p):
        jvm, fs, mk = real_fs(spark_, p)
        return jvm, shared.setdefault("fs", _FailingRenames(fs, fail_on)), mk

    monkeypatch.setattr(index_commit, "_fs", failing_fs)
    with pytest.raises(RuntimeError) as err:
        index_commit.commit_rewrite(spark, path, tmp, "test_commit",
                                    expect=expect)
    monkeypatch.undo()
    msg = str(err.value)
    asides = [n for n in os.listdir(tmp_path) if ".old-" in n]

    if fail_on != (2, 3):
        # the original is intact at path and the staged copy is gone
        assert _sizes(spark, path) == before
        assert not os.path.exists(tmp) and not asides
        assert validate_index(spark, path, kind="ngram")["ok"]
        assert ("untouched" if fail_on == (1,) else "restored") in msg
        return

    # both renames failed: path is missing, both copies are kept, the
    # error names both, and fsck reports the leftovers
    assert not os.path.exists(path) and os.path.exists(tmp)
    assert len(asides) == 1
    old = str(tmp_path / asides[0])
    assert old in msg and tmp in msg
    report = validate_index(spark, path, kind="ngram")
    assert not report["ok"]
    assert _check(report, "no_crashed_swap_leftovers") is False
    # the recovery the error names: rename one copy back by hand
    os.rename(old, path)
    assert _sizes(spark, path) == before


def test_commit_rewrite_rejects_a_short_staged_copy(spark, tmp_path):
    """A count mismatch deletes the staged copy and leaves the original
    untouched, without a single rename."""
    path = str(tmp_path / "ng")
    write_ngram_index(spark.createDataFrame(EVAL, ["doc_id", "text"]),
                      path, "text", "doc_id", ngram_n=3)
    tmp = index_commit.sibling(path, index_commit.STAGED_COMPACT)
    for table in ("ngrams", "sizes"):
        spark.read.parquet(f"{path}/{table}").limit(1) \
            .write.parquet(f"{tmp}/{table}")
    with pytest.raises(RuntimeError, match="original untouched"):
        index_commit.commit_rewrite(spark, path, tmp, "test_commit",
                                    expect={"ngrams": None, "sizes": 2})
    assert not os.path.exists(tmp)
    assert len(_sizes(spark, path)) == 2


def test_leftover_globs_come_from_index_commit():
    from lotus_spark.functions.index_admin import _LEFTOVER_GLOBS

    assert _LEFTOVER_GLOBS == tuple(
        f"{s}*" for s in index_commit.LEFTOVER_PREFIXES)
    assert set(index_commit.LEFTOVER_PREFIXES) == {
        ".cdcold-", ".cdcdel-", ".compact-", ".old-", ".rw-"}


def test_validate_index_names_a_crashed_sidecar_write(spark, tmp_path,
                                                      monkeypatch):
    """A sidecar write whose install and rollback renames both fail
    leaves the previous content at ``.bak-*`` and the new at ``.tmp-*``
    with no sidecar: fsck reports both leftovers and names the
    ``.bak-*`` copy to rename back."""
    path = str(tmp_path / "ng")
    write_ngram_index(spark.createDataFrame(EVAL, ["doc_id", "text"]),
                      path, "text", "doc_id", ngram_n=3)
    meta_path = f"{path}/_ngram_meta.json"
    meta = index_commit._fs_read_json(spark, meta_path)

    real_fs = index_commit._fs

    def failing_fs(spark_, p):
        jvm, fs, mk = real_fs(spark_, p)
        return jvm, _FailingRenames(fs, (2, 3)), mk

    monkeypatch.setattr(index_commit, "_fs", failing_fs)
    with pytest.raises(RuntimeError, match="rollback failed"):
        index_commit._fs_write_json(spark, meta_path, dict(meta, x=1))
    monkeypatch.undo()

    names = os.listdir(path)
    bak = [n for n in names
           if n.startswith("_ngram_meta.json" + index_commit.SIDECAR_ASIDE)]
    assert len(bak) == 1 and "_ngram_meta.json" not in names
    report = validate_index(spark, path, kind="ngram")
    assert not report["ok"]
    assert _check(report, "no_crashed_swap_leftovers") is False
    leftovers = next(r["detail"] for r in report["checks"]
                     if r["check"] == "no_crashed_swap_leftovers")
    assert bak[0] in leftovers and index_commit.SIDECAR_STAGED in leftovers
    sidecar = next(r["detail"] for r in report["checks"]
                   if r["check"] == "sidecar")
    assert bak[0] in sidecar
    # the recovery the report names restores the previous sidecar
    os.rename(os.path.join(path, bak[0]), meta_path)
    assert index_commit._fs_read_json(spark, meta_path) == meta

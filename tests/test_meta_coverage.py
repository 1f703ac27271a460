"""Meta-test: no oracle entry without a unit test.

Round-3 verdict item 2: ``sessionize``, ``paragraph_dedup`` and
``ngram_stats`` all shipped as registered oracle queries with zero unit
coverage (one of them broken). This test closes the gap structurally:
every name an ``__spark_entry__`` query imports from ``lotus_spark``
must be referenced somewhere in ``tests/`` — a new ``queries()`` entry
whose underlying operator has no test fails CI immediately.
"""

import inspect
import re
import sys
from pathlib import Path

TESTS_DIR = Path(__file__).parent

# __spark_entry__ lives at the repo root; make the import independent of
# pytest's invocation directory
if str(TESTS_DIR.parent) not in sys.path:
    sys.path.insert(0, str(TESTS_DIR.parent))

# import lines inside q_* function bodies:  "from lotus_spark.x import a, b"
_IMPORT_RE = re.compile(
    r"^\s*from\s+(lotus_spark[\w.]*)\s+import\s+"
    r"(?:\(([^)]*)\)|([^\n]+))",
    re.MULTILINE,
)

# names that are infrastructure (models, helpers), not operators under test
_EXEMPT = {
    "F", "SparkSession", "DataFrame",
}


def _imported_operator_names() -> set[str]:
    import __spark_entry__ as entry

    names: set[str] = set()
    for qname, fn in entry.queries().items():
        src = inspect.getsource(fn)
        for m in _IMPORT_RE.finditer(src):
            module = m.group(1)
            imported = m.group(2) or m.group(3) or ""
            for name in imported.split(","):
                name = name.strip()
                if not name or name in _EXEMPT:
                    continue
                if name.isupper():   # constants, not operators
                    continue
                # model stand-ins (FakeLM subclasses etc.) are test
                # doubles, not operators — but they live in models/ and
                # are themselves exercised by using them here
                if ".models" in module or ".demo_lms" in module:
                    continue
                names.add(name)
    return names


def test_every_oracle_operator_has_a_unit_test():
    corpus = "\n".join(
        p.read_text()
        for p in TESTS_DIR.glob("test_*.py")
        if p.name != "test_meta_coverage.py"
    )
    missing = sorted(
        name for name in _imported_operator_names()
        if not re.search(rf"\b{re.escape(name)}\b", corpus)
    )
    assert not missing, (
        "oracle queries use operators with no unit-test reference: "
        f"{missing} — add tests before registering the query"
    )


def test_registry_rotation_no_stale_rows():
    """Round-6 verdict item 7: the driver checks only the FIRST 50
    queries() entries per round, so every registry key must hold a
    green verification row from the current or previous round — i.e.
    each key must appear in the first 50 NOW (it will earn a row this
    round) or carry a green row in one of the two latest recorded
    rounds. Two recording channels count (r10): the driver's
    CORRECTNESS_r*.json and the builder's CHECKS_r*.json (written by
    ``tools/check_oracle.py --record`` at the driver's sf — the same
    re-verification the r9 verdict ran by hand over the whole tail;
    needed because a round whose edits touch a widely-imported module
    can force >50 mandatory window entries). Fails the moment a tail
    entry's row goes stale instead of relying on rotation discipline."""
    import json

    entry = __import__("__spark_entry__")
    keys = list(entry.queries())
    window = set(keys[:50])

    root = TESTS_DIR.parent
    by_round: dict[int, list] = {}
    for pattern in ("CORRECTNESS_r*.json", "CHECKS_r*.json"):
        for p in root.glob(pattern):
            n = int(re.search(r"r(\d+)", p.name).group(1))
            by_round.setdefault(n, []).append(p)
    assert by_round, "no CORRECTNESS/CHECKS artifacts recorded yet"
    recent: set[str] = set()
    for n in sorted(by_round)[-2:]:
        for p in by_round[n]:
            data = json.loads(p.read_text())
            for k, v in data.items():
                ok = (isinstance(v, dict) and not v.get("err")
                      and v.get("rows_match") and v.get("schema_match")
                      and v.get("hash_match"))
                if ok:
                    recent.add(k)

    stale = [k for k in keys if k not in window and k not in recent]
    assert not stale, (
        f"registry tail entries with no green row in the last two "
        f"rounds (rotate them into the first-50 window or re-verify "
        f"with tools/check_oracle.py --record CHECKS_r<N>.json): {stale}"
    )


def test_registry_tail_modules_untouched_this_round():
    """Round-6 rotation policy, mechanized (was checked by hand each
    round): every registry entry PAST the 50-query driver window must
    only import lotus_spark modules that are byte-untouched since the
    round base commit (recorded in .round_base; each round's first
    session updates it to the previous round's final commit as part of
    executing the rotation). An edited module's queries must sit INSIDE
    the window so they earn a fresh driver row."""
    import subprocess

    root = TESTS_DIR.parent
    base_file = root / ".round_base"
    assert base_file.exists(), (
        ".round_base missing — write the previous round's final commit "
        "hash there when executing the rotation")
    base = base_file.read_text().strip()
    try:
        changed = subprocess.run(
            ["git", "diff", "--name-only", f"{base}..HEAD",
             "--", "lotus_spark/"],
            cwd=root, capture_output=True, text=True, timeout=30,
            check=True,
        ).stdout.split()
    except (subprocess.SubprocessError, FileNotFoundError):
        import pytest

        pytest.skip("git unavailable or base commit unknown")
    changed_files = set(changed)

    import importlib

    entry = __import__("__spark_entry__")
    qs = entry.queries()
    violations = []
    for i, (name, fn) in enumerate(qs.items()):
        if i < 50:
            continue
        src = inspect.getsource(fn)
        for m in _IMPORT_RE.finditer(src):
            mod = m.group(1)
            paths = set()
            mod_path = mod.replace(".", "/") + ".py"
            # package-level re-exports (`from lotus_spark import X`)
            # must resolve to the module that DEFINES each name — the
            # package path alone would let an edited operator module
            # slip through the tail (r10 hardening)
            pkg_init = mod.replace(".", "/") + "/__init__.py"
            if (Path(TESTS_DIR.parent) / pkg_init).exists():
                paths.add(pkg_init)
                pkg = importlib.import_module(mod)
                imported = m.group(2) or m.group(3) or ""
                for nm in imported.split(","):
                    nm = nm.strip()
                    obj = getattr(pkg, nm, None) if nm else None
                    target = inspect.getmodule(obj)
                    tfile = getattr(target, "__file__", None)
                    if tfile:
                        try:
                            rel = Path(tfile).resolve().relative_to(
                                Path(TESTS_DIR.parent).resolve())
                            paths.add(str(rel))
                        except ValueError:
                            pass
            else:
                paths.add(mod_path)
            for path in paths:
                if path in changed_files:
                    violations.append((name, path))
    assert not violations, (
        "tail (>50) queries import modules edited this round — rotate "
        f"them into the driver window: {violations}"
    )


def test_examples_compile():
    """The examples/ walkthroughs are user-facing documentation — they
    must at least parse and reference only importable names (full runs
    are manual; each was executed when added, see NOTES round 8)."""
    ex_dir = TESTS_DIR.parent / "examples"
    assert ex_dir.is_dir() and list(ex_dir.glob("*.py"))
    for p in ex_dir.glob("*.py"):
        compile(p.read_text(), str(p), "exec")


def test_fs_rename_only_in_the_commit_protocols():
    """Every whole-directory index rewrite commits through
    ``functions/index_commit.py``; the only other rename-based commits
    are ``index_cdc.delete_from_ivfpq_index``'s per-cell swap and the
    stream sink's staged epoch commit, whose rollback rules differ. A
    hand-copied swap anywhere else fails here."""
    import ast

    allowed = {
        "lotus_spark/functions/index_commit.py": None,  # any function
        "lotus_spark/streaming/index_sink.py": None,
        "lotus_spark/functions/index_cdc.py": {"delete_from_ivfpq_index"},
    }
    root = TESTS_DIR.parent
    rename = re.compile(r"\bfs\w*\.rename\(")
    stray = []
    for src in sorted((root / "lotus_spark").rglob("*.py")):
        rel = src.relative_to(root).as_posix()
        text = src.read_text()
        lines = [i for i, ln in enumerate(text.splitlines(), 1)
                 if rename.search(ln)]
        if not lines or (rel in allowed and allowed[rel] is None):
            continue
        spans = [(n.lineno, n.end_lineno, n.name)
                 for n in ast.parse(text).body
                 if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
        for line in lines:
            owner = next((name for lo, hi, name in spans if lo <= line <= hi),
                         None)
            if owner not in allowed.get(rel, ()):
                stray.append(f"{rel}:{line} ({owner})")
    assert not stray, (
        "fs.rename outside the commit protocols — commit through "
        f"index_commit.commit_rewrite instead: {stray}")


def test_no_module_level_mutable_registries():
    """A module-level empty container is where a DataFrame registry
    starts: it outlives the session that filled it and is shared by every
    thread. Spark's cache manager and ``localCheckpoint`` own cached
    frames' lifetimes; a new module-level ``[]``, ``{}``, ``dict()``,
    ``list()`` or ``set()`` fails here unless it is allow-listed with
    its reason."""
    import ast

    allowed = {
        # UDF wrappers keyed by session, no frames
        ("lotus_spark/functions/vectors.py", "_UDF_CACHE"),
        # a plugin registry of search-engine callables, no frames
        ("lotus_spark/sources/web_search.py", "_ENGINES"),
    }

    def empty(v) -> bool:
        if isinstance(v, (ast.List, ast.Set)):
            return not v.elts
        if isinstance(v, ast.Dict):
            return not v.keys
        return (isinstance(v, ast.Call) and isinstance(v.func, ast.Name)
                and v.func.id in ("dict", "list", "set")
                and not v.args and not v.keywords)

    root = TESTS_DIR.parent
    found = set()
    for src in sorted((root / "lotus_spark").rglob("*.py")):
        rel = src.relative_to(root).as_posix()
        for node in ast.parse(src.read_text()).body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign) and node.value is not None:
                targets = [node.target]
            else:
                continue
            if empty(node.value):
                found |= {(rel, ast.unparse(t)) for t in targets}
    assert found <= allowed, (
        "module-level mutable registry — let Spark own cached frames "
        f"(persist through the cache manager, or localCheckpoint): "
        f"{sorted(found - allowed)}")

"""Every ``freemap_tiler_spark`` import in the package, the tools, the
benchmark and ``__spark_entry__.py`` resolves — including function-local
imports that only run on one code path (a tool check no test executes
still fails here if it imports a deleted module) — every top-level
package definition is reached from outside the tests, and every option
(defaulted parameter) of one is set by some call outside the tests.  No
Spark session."""

import ast
import importlib
import importlib.util
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
PKG = "freemap_tiler_spark"
TEST_DIRS = ("tests", "perfbench/tests")

# Package definitions that are entry points in their own right, so no
# other code needs to name them.
ENTRY_POINTS = {
    # adopts a reference-produced .mbtiles file: the inverse of
    # export_mbtiles, which the benchmark runs, and the way to resume a
    # pyramid the reference started
    "import_mbtiles",
}


def _sources(root: Path = ROOT):
    for d in (PKG, "tools", "perfbench"):
        yield from sorted((root / d).rglob("*.py"))
    yield root / "__spark_entry__.py"


def _package_imports(src: str):
    """(module, name) per package import anywhere in ``src``; name is None
    for ``import a.b`` and the imported name for ``from a.b import name``."""
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == PKG:
                    yield a.name, None
        elif isinstance(node, ast.ImportFrom) and node.level == 0 \
                and node.module and node.module.split(".")[0] == PKG:
            for a in node.names:
                yield node.module, a.name


def _resolves(module: str, name) -> bool:
    try:
        if name is None:
            return importlib.util.find_spec(module) is not None
        mod = importlib.import_module(module)
        return hasattr(mod, name) or (
            hasattr(mod, "__path__")  # a package: name may be a submodule
            and importlib.util.find_spec(f"{module}.{name}") is not None)
    except ImportError:
        return False


def _unresolved(src: str):
    return [(m, n) for m, n in _package_imports(src) if not _resolves(m, n)]


def test_every_package_import_resolves():
    seen, broken = 0, []
    for path in _sources():
        src = path.read_text()
        seen += sum(1 for _ in _package_imports(src))
        broken += [(str(path.relative_to(ROOT)), m, n)
                   for m, n in _unresolved(src)]
    assert seen > 100  # the walk reaches the imports at all
    assert broken == []


def test_walker_flags_function_local_import_of_missing_module():
    src = (
        "def check():\n"
        f"    from {PKG}.operators import no_such_module\n"
        f"    import {PKG}.no_such_package\n"
        f"    from {PKG}.operators.dedup import no_such_name\n"
        f"    from {PKG}.operators import dedup\n"
    )
    assert _unresolved(src) == [
        (f"{PKG}.operators", "no_such_module"),
        (f"{PKG}.no_such_package", None),
        (f"{PKG}.operators.dedup", "no_such_name"),
    ]


def _definitions(src: str):
    """Names a module defines at top level: functions, classes, assigned
    constants, and the methods of its classes as ``Class.method``.  Names
    bound inside a top-level ``if``/``try`` are skipped: those are
    platform shims, not API."""
    for node in ast.parse(src).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name
        if isinstance(node, ast.ClassDef):
            for m in node.body:
                if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    yield f"{node.name}.{m.name}"
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        yield n.id


def _references(src: str):
    """Every name ``src`` reads: loaded names, attribute names, imported
    names, and string constants that are a bare identifier (``getattr``
    and ``__all__`` style lookups)."""
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            yield node.id
        elif isinstance(node, ast.Attribute):
            yield node.attr
        elif isinstance(node, ast.alias):
            yield node.name.split(".")[-1]
        elif isinstance(node, ast.Constant) and isinstance(node.value, str) \
                and node.value.isidentifier():
            yield node.value


def _unreferenced(defining: dict, sources: list[str]) -> list[tuple[str, str]]:
    used = set(ENTRY_POINTS)
    for src in sources:
        used.update(_references(src))
    return sorted((mod, name) for mod, src in defining.items()
                  for name in _definitions(src)
                  if not name.split(".")[-1].startswith("__")
                  and name.split(".")[-1] not in used)


def _package(root: Path) -> dict:
    return {str(p.relative_to(root)): p.read_text()
            for p in sorted((root / PKG).rglob("*.py"))}


def _reaching(root: Path) -> list[str]:
    """The code that reaches the package: the package itself, the tools,
    the benchmark (less its tests) and ``__spark_entry__.py``.  A package
    ``__init__.py`` only re-exports, so it does not count."""
    return [p.read_text() for p in _sources(root)
            if not any(p.is_relative_to(root / d) for d in TEST_DIRS)
            and not (p.name == "__init__.py" and p.is_relative_to(root / PKG))]


def _dead_definitions(root: Path = ROOT) -> list[tuple[str, str]]:
    """Package definitions that no reaching code names.  A name only a
    test calls is not reached by any entry point, and a re-export that
    only a test imports reaches nothing."""
    return _unreferenced(_package(root), _reaching(root))


def test_every_package_definition_is_referenced():
    """A top-level function, class or constant in the package that only
    the tests (or nothing) name is dead code: delete it, or move it into
    ``tests/`` if it is a reference the tests compare against."""
    assert len(list((ROOT / PKG).rglob("*.py"))) > 20
    assert _dead_definitions() == []
    # every exemption still names a package definition
    defined = {n for p in (ROOT / PKG).rglob("*.py")
               for n in _definitions(p.read_text())}
    assert ENTRY_POINTS <= defined


def test_definition_guard_flags_an_unreferenced_name():
    mod = "def used():\n    pass\n\ndef dead():\n    pass\n\nLIMIT = 3\n"
    caller = "from m import used\nused()\nprint(m.LIMIT)\n"
    assert _unreferenced({"m.py": mod}, [mod, caller]) == [("m.py", "dead")]


def _tree(root: Path, files: dict) -> Path:
    for rel, src in files.items():
        (root / rel).parent.mkdir(parents=True, exist_ok=True)
        (root / rel).write_text(src)
    return root


def test_definition_guard_ignores_references_from_tests(tmp_path):
    """A name that only ``tests/`` or ``perfbench/tests/`` call is flagged;
    one that a tool calls is not."""
    root = _tree(tmp_path, {
        f"{PKG}/m.py": "def tooled():\n    pass\n\ndef tested():\n    pass\n",
        "tools/t.py": f"from {PKG}.m import tooled\ntooled()\n",
        "tests/test_m.py": f"from {PKG}.m import tested\ntested()\n",
        "perfbench/tests/test_p.py": f"from {PKG} import m\nm.tested()\n",
        "__spark_entry__.py": "",
    })
    assert _dead_definitions(root) == [(f"{PKG}/m.py", "tested")]


def test_definition_guard_ignores_package_reexports(tmp_path):
    """A name that only a package ``__init__.py`` re-exports (import alias
    and ``__all__`` string) and only a test imports is flagged."""
    root = _tree(tmp_path, {
        f"{PKG}/sub/__init__.py": (
            f"from {PKG}.sub.m import tooled, exported\n"
            "__all__ = ['tooled', 'exported']\n"),
        f"{PKG}/sub/m.py": "def tooled():\n    pass\n\ndef exported():\n    pass\n",
        "tools/t.py": f"from {PKG}.sub import tooled\ntooled()\n",
        "tests/test_m.py": f"from {PKG}.sub import exported\nexported()\n",
        "__spark_entry__.py": "",
    })
    assert _dead_definitions(root) == [(f"{PKG}/sub/m.py", "exported")]


def test_definition_guard_flags_a_method_only_a_test_calls(tmp_path):
    root = _tree(tmp_path, {
        f"{PKG}/m.py": (
            "class Sink:\n"
            "    def __init__(self):\n        self.rows = []\n"
            "    def flush(self):\n        pass\n"
            "    def summary(self):\n        pass\n"),
        "tools/t.py": f"from {PKG}.m import Sink\nSink().flush()\n",
        "tests/test_m.py": f"from {PKG}.m import Sink\nSink().summary()\n",
        "__spark_entry__.py": "",
    })
    assert _dead_definitions(root) == [(f"{PKG}/m.py", "Sink.summary")]


def test_definition_guard_exempts_entry_points(tmp_path):
    root = _tree(tmp_path, {
        f"{PKG}/m.py": "def import_mbtiles():\n    pass\n\ndef dead():\n    pass\n",
        "__spark_entry__.py": "",
    })
    assert _dead_definitions(root) == [(f"{PKG}/m.py", "dead")]


# Options that no reaching call sets, kept on purpose:
# (function, parameter) -> why.
_COLUMN_NAME = ("a column-name parameter: it names a column of the caller's "
                "schema, not a behaviour")
OPTION_EXEMPT = {
    **{(f, p): _COLUMN_NAME for f, params in {
        "exact_dedup": ("text_col", "id_col"),
        "minhash_lsh_pairs": ("text_col", "id_col"),
        "jaccard_verify": ("text_col", "id_col"),
        "simhash_near_dups": ("text_col", "id_col"),
        "duplicate_spans": ("text_col", "id_col"),
        "scrub_spans": ("text_col", "id_col"),
        "contamination": ("text_col", "id_col"),
        "knn_join": ("probe_id", "point_id", "lon_col", "lat_col"),
        "knn_join_brute": ("probe_id", "point_id", "lon_col", "lat_col"),
        "train_bigram_lm": ("text_col", "id_col"),
        "doc_log_perplexity": ("text_col", "id_col"),
        "mix_audit": ("id_col",),
        "mix_epochs_audit": ("id_col",),
        "pack_summary": ("id_col", "n_tokens_col", "text_col"),
        "pip_join_cells": ("x_col", "y_col"),
        "brute_force_topk": ("probe_id", "corpus_id", "vec_col"),
        "ann_topk": ("probe_id", "corpus_id", "vec_col"),
        "ivf_topk": ("probe_id", "corpus_id", "vec_col"),
        "ivfpq_topk": ("probe_id", "corpus_id", "vec_col"),
        "embedding_near_dups": ("corpus_id", "vec_col"),
        "incremental_update": ("lon_col", "lat_col"),
    }.items() for p in params},
    **{("run_tiler", p): "one of the reference CLI's options (src/args.rs)"
       for p in ("quality", "polygon", "resampling", "insert_empty")},
    ("import_mbtiles", "batch"):
        "import_mbtiles is an entry point (ENTRY_POINTS): its callers are outside",
    ("geotiff_blocks", "max_pixel_size"):
        "the COG overview read: the deepest zoom's pixel size picks the IFD",
    ("minhash_lsh_pairs", "max_bucket_size"):
        "the hot-bucket guard: a test sets it small to exercise the star and chain",
    ("embedding_near_dups", "max_bucket_size"):
        "the hot-bucket guard: a test sets it small to exercise the star and chain",
    **{("write_geotiff", p): "write_geotiff writes test fixtures; each option is "
       "a TIFF layout the reader must read"
       for p in ("epsg", "rows_per_strip", "predictor", "bigtiff",
                 "model_transform", "overviews")},
}


def _defaulted(src: str):
    """(function, parameter, position) per defaulted parameter of a
    top-level function or top-level class method.  An ``__init__`` is
    named by its class, a method's positions do not count ``self`` (the
    package has no static methods), and a keyword-only parameter has
    position None."""
    for node in ast.parse(src).body:
        fns = []
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            fns.append((node.name, node, 0))
        elif isinstance(node, ast.ClassDef):
            fns += [(node.name if m.name == "__init__" else m.name, m, 1)
                    for m in node.body
                    if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef))]
        for name, fn, skip in fns:
            a = fn.args
            pos = a.posonlyargs + a.args
            first = len(pos) - len(a.defaults)
            for i, p in enumerate(pos[first:], first):
                yield name, p.arg, i - skip
            for p, d in zip(a.kwonlyargs, a.kw_defaults):
                if d is not None:
                    yield name, p.arg, None


def _calls(src: str):
    """(called name, positional count, keyword names) per call in ``src``.
    A call that uses ``*args`` or ``**kwargs`` passes every parameter: its
    keyword names are None."""
    for node in ast.walk(ast.parse(src)):
        if isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            star = any(isinstance(a, ast.Starred) for a in node.args) \
                or any(k.arg is None for k in node.keywords)
            yield name, len(node.args), None if star else {k.arg for k in node.keywords}


def _unset(defining: dict, sources: list[str]) -> list[tuple[str, str, str]]:
    calls: dict = {}
    for src in sources:
        for name, n_pos, kws in _calls(src):
            calls.setdefault(name, []).append((n_pos, kws))
    return sorted(
        (mod, fn, p) for mod, src in defining.items()
        for fn, p, i in _defaulted(src)
        if (fn, p) not in OPTION_EXEMPT
        and not any(kws is None or p in kws or (i is not None and i < n_pos)
                    for n_pos, kws in calls.get(fn, ())))


def _unset_options(root: Path = ROOT) -> list[tuple[str, str, str]]:
    """Defaulted parameters of package functions that no reaching call
    passes, matched by called name as ``_dead_definitions`` matches
    references."""
    return _unset(_package(root), _reaching(root))


def test_every_option_is_set_outside_tests():
    """An option only a test (or nothing) sets doubles the configurations
    to test for a behaviour no entry point selects: make its default the
    code, and delete the branch only another value took."""
    defaulted = {(fn, p) for src in _package(ROOT).values()
                 for fn, p, _ in _defaulted(src)}
    assert len(defaulted) > 100  # the walk reaches the parameters at all
    assert _unset_options() == []
    # every exemption still names a defaulted parameter, with a reason
    assert set(OPTION_EXEMPT) <= defaulted
    assert all(OPTION_EXEMPT.values())


def test_option_guard_flags_a_parameter_only_a_test_sets(tmp_path):
    """A parameter that only ``tests/`` passes is flagged; one that a tool
    passes by position, or by keyword to a constructor, is not."""
    root = _tree(tmp_path, {
        f"{PKG}/m.py": (
            "def f(a, tooled=1, tested=2):\n    pass\n\n"
            "class Sink:\n"
            "    def __init__(self, path, rows=None):\n        pass\n"
            "    def stage(self, name, rows=None):\n        pass\n"),
        "tools/t.py": f"from {PKG}.m import f, Sink\nf(0, 1)\nSink('p', rows=3).stage('s')\n",
        "tests/test_m.py": f"from {PKG}.m import f, Sink\nf(0, tested=3)\nSink('p').stage('s', 1)\n",
        "__spark_entry__.py": "",
    })
    assert _unset_options(root) == [
        (f"{PKG}/m.py", "f", "tested"), (f"{PKG}/m.py", "stage", "rows")]


def test_option_guard_counts_star_arguments_and_keyword_only():
    mod = ("def f(a, b=1, *, c=2):\n    pass\n\n"
           "def g(a, b=1, *, c=2):\n    pass\n")
    caller = "f(*args)\ng(0, 1)\n"
    assert _unset({"m.py": mod}, [mod, caller]) == [("m.py", "g", "c")]


@pytest.mark.parametrize("rel", ["tests/test_contract.py", "tools/explain_audit.py"])
def test_a_copy_imports_its_own_entry_module(tmp_path, rel):
    """A module that puts its checkout on ``sys.path`` puts its OWN
    checkout there: loaded from a copy of the repo, it resolves
    ``__spark_entry__`` inside that copy, not in another checkout."""
    copy = tmp_path / "copy"
    for f in (rel, "__spark_entry__.py"):
        (copy / f).parent.mkdir(parents=True, exist_ok=True)
        shutil.copy(ROOT / f, copy / f)
    child = (
        "import importlib.util, sys\n"
        f"spec = importlib.util.spec_from_file_location('m', {str(copy / rel)!r})\n"
        "spec.loader.exec_module(importlib.util.module_from_spec(spec))\n"
        "import __spark_entry__\n"
        "print(__spark_entry__.__file__)\n"
    )
    # the package itself comes from this checkout; only the copy has the
    # module under test and an entry module
    out = subprocess.run(
        [sys.executable, "-c", child], cwd=tmp_path, capture_output=True,
        text=True, timeout=120, env={**os.environ, "PYTHONPATH": str(ROOT)},
    )
    assert out.returncode == 0, out.stderr
    assert Path(out.stdout.split()[-1]).resolve() == (copy / "__spark_entry__.py").resolve()

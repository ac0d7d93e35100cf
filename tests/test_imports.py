"""Every ``freemap_tiler_spark`` import in the package, the tools, the
benchmark and ``__spark_entry__.py`` resolves — including function-local
imports that only run on one code path (a tool check no test executes
still fails here if it imports a deleted module).  No Spark session."""

import ast
import importlib
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = "freemap_tiler_spark"


def _sources():
    for d in (PKG, "tools", "perfbench"):
        yield from sorted((ROOT / d).rglob("*.py"))
    yield ROOT / "__spark_entry__.py"


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
    """Names a module defines at top level: functions, classes and
    assigned constants.  Names bound inside a top-level ``if``/``try`` are
    skipped: those are platform shims, not API."""
    for node in ast.parse(src).body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            yield node.name
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
    used = set()
    for src in sources:
        used.update(_references(src))
    return sorted((mod, name) for mod, src in defining.items()
                  for name in _definitions(src)
                  if not name.startswith("__") and name not in used)


def test_every_package_definition_is_referenced():
    """A top-level function, class or constant in the package that nothing
    in the package, the tools, the benchmark, the tests or
    ``__spark_entry__.py`` names is dead code: delete it."""
    pkg = {str(p.relative_to(ROOT)): p.read_text()
           for p in sorted((ROOT / PKG).rglob("*.py"))}
    others = [p.read_text() for p in _sources() if not p.is_relative_to(ROOT / PKG)]
    others += [p.read_text() for p in sorted((ROOT / "tests").rglob("*.py"))]
    assert len(pkg) > 20
    assert _unreferenced(pkg, list(pkg.values()) + others) == []


def test_definition_guard_flags_an_unreferenced_name():
    mod = "def used():\n    pass\n\ndef dead():\n    pass\n\nLIMIT = 3\n"
    caller = "from m import used\nused()\nprint(m.LIMIT)\n"
    assert _unreferenced({"m.py": mod}, [mod, caller]) == [("m.py", "dead")]

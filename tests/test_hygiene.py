"""Source hygiene, stdlib only (``ast``):

- every name the package imports is used: a module-level or local
  import whose bound name is never referenced in the same module
  fails, unless its line carries ``noqa`` or the name is listed as a
  string in ``__all__``;
- every public top-level function, class and module-level constant
  of the package is referenced somewhere outside its own definition;
- every citation in COVERAGE.md of a test or of a package name
  resolves.
"""

import ast
import pathlib
import re

ROOT = pathlib.Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "dump1090_postgis_spark"


def _unused_imports(path: pathlib.Path) -> list[str]:
    src = path.read_text()
    lines = src.splitlines()
    tree = ast.parse(src, filename=str(path))
    imported: dict[str, int] = {}
    used: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                continue
            for alias in node.names:
                if alias.name == "*":
                    continue
                marked = {lines[node.lineno - 1], lines[alias.lineno - 1]}
                if not any("noqa" in line for line in marked):
                    name = alias.asname or alias.name.split(".")[0]
                    imported.setdefault(name, alias.lineno)
        elif isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
        ):
            used.update(
                e.value for e in ast.walk(node.value)
                if isinstance(e, ast.Constant) and isinstance(e.value, str)
            )
    return [
        f"{path.relative_to(PACKAGE.parent)}:{line}: {name}"
        for name, line in sorted(imported.items(), key=lambda kv: kv[1])
        if name not in used
    ]


def test_no_unused_imports():
    found = [
        u for p in sorted(PACKAGE.rglob("*.py")) for u in _unused_imports(p)
    ]
    assert found == [], "imported but never referenced:\n" + "\n".join(found)


def _searched_files() -> list[pathlib.Path]:
    files = sorted(PACKAGE.rglob("*.py"))
    for d in ("tests", "scripts", "wirebench"):
        files += sorted((ROOT / d).rglob("*.py"))
    return files + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _referenced(node: ast.AST) -> set[str]:
    """Every name ``node`` refers to: bare names, attribute names and
    imported names."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _exported(tree: ast.Module) -> set[str]:
    return {
        e.value
        for n in tree.body
        if isinstance(n, ast.Assign)
        and any(isinstance(t, ast.Name) and t.id == "__all__" for t in n.targets)
        for e in ast.walk(n.value)
        if isinstance(e, ast.Constant) and isinstance(e.value, str)
    }


def _bound_names(node: ast.stmt) -> list[str]:
    """The names a top-level statement binds: a def or class, or the
    plain names on the left of a module-level assignment."""
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [node.name]
    targets = (
        node.targets if isinstance(node, ast.Assign)
        else [node.target] if isinstance(node, ast.AnnAssign) else []
    )
    return [t.id for t in targets if isinstance(t, ast.Name)]


def test_no_unreferenced_public_names():
    """A public top-level def, class or module constant that nothing
    names — no caller, no test, no registry entry — is dead code.
    References are searched in the package, tests, scripts, wirebench,
    bench.py and __spark_entry__.py; one inside the definition itself
    (recursion) does not count, a listing in its own module's
    ``__all__`` does."""
    trees = {p: ast.parse(p.read_text(), filename=str(p)) for p in _searched_files()}
    refs = {p: _referenced(t) for p, t in trees.items()}
    found = []
    for p in sorted(PACKAGE.rglob("*.py")):
        tree = trees[p]
        exported = _exported(tree)
        elsewhere = set().union(*(r for q, r in refs.items() if q != p))
        per_node = [_referenced(n) for n in tree.body]
        for i, node in enumerate(tree.body):
            for name in _bound_names(node):
                if name.startswith("_") or name in exported:
                    continue
                if name in elsewhere or any(
                    name in names for j, names in enumerate(per_node) if j != i
                ):
                    continue
                found.append(f"{p.relative_to(ROOT)}:{node.lineno}: {name}")
    assert found == [], "never referenced:\n" + "\n".join(found)


def _top_level_names(path: pathlib.Path) -> set[str]:
    tree = ast.parse(path.read_text(), filename=str(path))
    return {name for n in tree.body for name in _bound_names(n)}


def test_coverage_citations_resolve():
    """COVERAGE.md cites tests as ``test_x.py::test_y`` and package code
    as `` `path/to/module.py name` `` (of a slash list, the first name
    is checked).  Each must name a test function in tests/, or a
    top-level def, class or assignment of that package module."""
    text = (ROOT / "COVERAGE.md").read_text()
    tests = set(re.findall(r"\b(test_\w+\.py)::(test_\w+)", text))
    code = set(re.findall(r"`((?:\w+/)*\w+\.py) ([A-Za-z_]\w*)", text))
    assert tests and code
    broken = []
    for path, name in sorted(tests):
        f = ROOT / "tests" / path
        if not f.exists() or name not in _top_level_names(f):
            broken.append(f"{path}::{name}")
    for path, name in sorted(code):
        f = PACKAGE / path
        if not f.exists() or name not in _top_level_names(f):
            broken.append(f"{path} {name}")
    assert broken == [], "unresolved COVERAGE.md citations:\n" + "\n".join(broken)

"""Source hygiene: every name the package imports is used.

Stdlib only (``ast``): a module-level or local import whose bound name
is never referenced in the same module fails, unless its line carries
``noqa`` or the name is listed as a string in ``__all__``.
"""

import ast
import pathlib

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "dump1090_postgis_spark"


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

"""Every ``etl_spark`` module is reachable from an entrypoint.

A module that only its own tests import is dead weight: this walks the
static import graph (``import`` and ``from … import`` statements anywhere
in a file, call-time imports inside functions included) from the
benchmark and query-registry entrypoints and asserts it covers the
package. Stdlib ``ast`` only — no Spark.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
ENTRYPOINTS = [ROOT / "bench.py", ROOT / "__spark_entry__.py",
               *sorted((ROOT / "perfbench").glob("*.py"))]


def _module_file(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def _imported(path: Path) -> set[str]:
    names = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    # importing a.b.c also runs a/__init__ and a/b/__init__
    return {".".join(n.split(".")[:i + 1])
            for n in names for i in range(n.count(".") + 1)}


def test_every_etl_spark_module_is_reached_from_an_entrypoint():
    seen: set[Path] = set()
    todo = list(ENTRYPOINTS)
    while todo:
        path = todo.pop()
        if path in seen:
            continue
        seen.add(path)
        for name in _imported(path):
            if name.split(".")[0] == "etl_spark" and (f := _module_file(name)):
                todo.append(f)
    package = set((ROOT / "etl_spark").rglob("*.py"))
    unreached = sorted(
        ".".join(p.relative_to(ROOT).with_suffix("").parts)
        for p in package - seen)
    assert unreached == [], f"modules no entrypoint imports: {unreached}"

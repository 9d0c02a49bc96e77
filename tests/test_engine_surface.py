"""Every balboa_spark module is reached by a product surface.

Walks module-level and nested imports (AST only, nothing is imported)
from the graded queries (`__spark_entry__.py`), the CLI, `bench.py`,
`perfbench/` and `scripts/`. A module only tests import is dead weight:
delete it with its tests rather than let it drift.
"""

from __future__ import annotations

import ast
import pathlib

REPO = pathlib.Path(__file__).resolve().parents[1]
PKG = "balboa_spark"

# kept although no root imports them: module -> reason
ALLOWED_UNREACHED = {
    "balboa_spark.config": "feeders/selectors/backend YAML wiring of `balboa serve -f -s -b`",
    "balboa_spark.streaming.transports": "terminators for balboa's feeder_http/socket/amqp.go",
}


def _module_name(path: pathlib.Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _imports(path: pathlib.Path, modules: dict) -> set:
    """Names of the balboa_spark modules `path` imports, parents included."""
    name = _module_name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            targets = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                anchor = package.rsplit(".", node.level - 1)[0]
                base = f"{anchor}.{base}" if base else anchor
            targets = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for target in targets:
            while target:
                if target in modules:
                    found.add(target)
                target = target.rpartition(".")[0]
    return found


def test_every_engine_module_is_reached_from_a_product_surface():
    modules = {_module_name(p): p for p in (REPO / PKG).rglob("*.py")}
    roots = [REPO / "__spark_entry__.py", REPO / PKG / "cli.py", REPO / "bench.py"]
    roots += sorted((REPO / "scripts").glob("*.py"))
    roots += [
        p
        for p in sorted((REPO / "perfbench").rglob("*.py"))
        if "tests" not in p.relative_to(REPO).parts
    ]
    todo = set().union(*(_imports(p, modules) for p in roots)) | {f"{PKG}.cli"}
    reached = set()
    while todo:
        name = todo.pop()
        reached.add(name)
        todo |= _imports(modules[name], modules) - reached
    unreached = sorted(set(modules) - reached - set(ALLOWED_UNREACHED))
    assert not unreached, f"imported by no product surface: {unreached}"
    # an allowlist entry that is now reached (or gone) no longer needs its excuse
    stale = set(ALLOWED_UNREACHED) - (set(modules) - reached)
    assert not stale, f"allowlisted but reached or gone: {sorted(stale)}"

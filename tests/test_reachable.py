"""Every engine module is reached from something that is not a test.

The roots are what users and the benchmark run: the driver contract
(``__spark_entry__.py`` and the query catalog it loads), the ``perfbench``
harness and the ``tools`` scripts.  Imports are followed through the AST,
at module level and inside functions, so a lazy import counts.  A module
that only tests import serves no query, workload or tool; delete it with
its tests, or give it a caller.
"""

from __future__ import annotations

import ast
import pathlib

ROOT = pathlib.Path(__file__).resolve().parent.parent
PKG = "tweets_spark_top_10_spark"


def _module_files() -> dict[str, pathlib.Path]:
    files = {}
    for path in sorted((ROOT / PKG).rglob("*.py")):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        files[".".join(parts)] = path
    return files


def _imported(path: pathlib.Path, modules: dict[str, pathlib.Path]) -> set[str]:
    """Engine modules that ``path`` imports, with their parent packages."""
    found = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            found.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            found.add(node.module)
            found.update(f"{node.module}.{alias.name}" for alias in node.names)
    reached = set()
    for name in found:
        parts = name.split(".")
        reached.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return reached & modules.keys()


def test_every_engine_module_is_reached_from_a_non_test_root():
    modules = _module_files()
    roots = [
        ROOT / "__spark_entry__.py",
        *sorted((ROOT / "perfbench").glob("*.py")),
        *sorted((ROOT / "tools").glob("*.py")),
    ]
    todo = [f"{PKG}.queries"] + [m for root in roots for m in _imported(root, modules)]
    seen: set[str] = set()
    while todo:
        name = todo.pop()
        if name not in seen:
            seen.add(name)
            todo.extend(_imported(modules[name], modules))
    unreached = sorted(m.removeprefix(f"{PKG}.") for m in modules.keys() - seen)
    assert not unreached, f"only tests reach these modules: {unreached}"

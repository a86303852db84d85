"""Every engine module is reached from something that is not a test.

The roots are what users and the benchmark run: the driver contract
(``__spark_entry__.py`` and the query catalog it loads), the ``perfbench``
harness and the ``tools`` scripts.  Imports are followed through the AST,
at module level and inside functions, so a lazy import counts.  A module
that only tests import serves no query, workload or tool; delete it with
its tests, or give it a caller.

The same holds per public name: every public top-level def or class
outside the query catalog must be named somewhere in that non-test code,
apart from its own body and ``__init__`` re-exports, or be on
``ALLOWED_TEST_ONLY`` with the reason it stays.
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


# Public names that no non-test code references yet, each kept on purpose.
ALLOWED_TEST_ONLY = {
    # Public API: the benchmark's ops are to call these (ROADMAP §2).
    "api.hourly_top_k": "the reference job as one library call",
    "api.resolve_hour": "the reference's CLI hour argument parser",
    "hourly_top_k": "package-level lazy re-export of api.hourly_top_k",
    "streaming.sinks.foreach_batch_top_k": "the stream top-10 sink",
    # Kafka needs a connector jar and a broker, so its tests are env-gated.
    "streaming.sources.kafka_stream": "the reference pipeline's upstream topic",
    "streaming.sources.kafka_json_values": "typed payload of a Kafka stream",
    # Streaming Misra-Gries waits on its measurement (ROADMAP §7).
    "streaming.heavy_hitters.maintain_heavy_hitters": "MG stream top-10, §7",
    "streaming.heavy_hitters.maintain_grouped_heavy_hitters": "MG stream top-10, §7",
    "streaming.heavy_hitters.maintain_windowed_heavy_hitters": "MG stream top-10, §7",
    "streaming.heavy_hitters.grouped_top_k_from_summary": "MG stream top-10, §7",
    "streaming.heavy_hitters.windowed_grouped_top_k_from_summary": "MG stream top-10, §7",
    "streaming.heavy_hitters.top_k_from_summary": "MG stream top-10, §7",
    # Operator families decided as a whole (ROADMAP §5 and §6).
    "functions.pq.opq_als_cost": "OPQ training, vector-search methods §5",
    "functions.pq.opq_swap_descent": "OPQ training, vector-search methods §5",
    "functions.pq.pq_codebook_shift": "PQ training, vector-search methods §5",
    "functions.bpe.read_merge_rules_parquet": "bpe family, §6 phase 2",
    "operators.scalable_rank.grouped_exact_quantiles": "scalable_rank family, §6 phase 2",
    # Test-input builders for readers the engine keeps.
    "sources.writers.write_partitioned": "writes the hour layout read_hour_partition reads",
    "sources.avro_py.write_avro_file": "encoder the Avro codec tests round-trip against",
}


def _public_defs(
    modules: dict[str, pathlib.Path], trees: dict[pathlib.Path, ast.Module]
) -> dict[str, ast.AST]:
    """``module.name`` → node for every public top-level def or class of
    the package outside the query catalog."""
    defs = {}
    for module, path in modules.items():
        if module.startswith(f"{PKG}.queries"):
            continue
        prefix = module.removeprefix(PKG).lstrip(".")
        for node in trees[path].body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                if not node.name.startswith("_"):
                    defs[f"{prefix}.{node.name}".lstrip(".")] = node
    return defs


def _references(tree: ast.Module, reexports: bool) -> set[tuple[str, int]]:
    """``(identifier, id of the top-level statement it sits in)`` for each
    ``Name``, ``Attribute`` and import alias in ``tree``.

    Imports in an ``__init__.py`` (``reexports``) are not uses.
    ``__all__`` and docstrings are strings, so they never count.
    """
    found = set()
    for top in tree.body:
        todo = [top]
        while todo:
            node = todo.pop()
            if isinstance(node, ast.Name):
                found.add((node.id, id(top)))
            elif isinstance(node, ast.Attribute):
                found.add((node.attr, id(top)))
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                if not reexports:
                    found.update((p, id(top)) for a in node.names for p in a.name.split("."))
                continue
            todo.extend(ast.iter_child_nodes(node))
    return found


def test_every_public_engine_name_is_referenced_from_non_test_code():
    modules = _module_files()
    roots = [
        *modules.values(),
        ROOT / "__spark_entry__.py",
        *sorted((ROOT / "perfbench").glob("*.py")),
        *sorted((ROOT / "tools").glob("*.py")),
    ]
    trees = {path: ast.parse(path.read_text()) for path in roots}
    users: dict[str, set[int]] = {}
    for path, tree in trees.items():
        for name, owner in _references(tree, path.name == "__init__.py"):
            users.setdefault(name, set()).add(owner)
    # A definition's own body does not count as a use of it.  Compare
    # nodes, not names: a query builder may share its name with the
    # engine function it calls.
    unreferenced = {
        qual
        for qual, node in _public_defs(modules, trees).items()
        if not users.get(node.name, set()) - {id(node)}
    }
    assert not unreferenced - ALLOWED_TEST_ONLY.keys(), (
        "only tests reference these public names: "
        f"{sorted(unreferenced - ALLOWED_TEST_ONLY.keys())}"
    )
    assert not ALLOWED_TEST_ONLY.keys() - unreferenced, (
        "allow-listed names that now have a non-test caller or are gone: "
        f"{sorted(ALLOWED_TEST_ONLY.keys() - unreferenced)}"
    )

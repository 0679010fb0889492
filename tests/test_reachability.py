"""Every package module is reached from a non-test entry point, or is
listed in ``TEST_ONLY`` with the reason it waits.

The closure follows ``procurement_data_pipeline_spark.*`` imports with
``ast`` (function-local imports included; importing a submodule imports
its parent packages) from the CLI, the registered query modules,
``bench.py``, ``__spark_entry__.py``, ``tools/`` and ``perfbench/``. No
Spark session: this reads source files only.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "procurement_data_pipeline_spark"

# Modules only tests import. The list may only shrink: an entry that gains
# a non-test caller, or whose file is deleted, fails the test below.
TEST_ONLY = {
    "streaming": "package of the streaming family below",
    "streaming.cardinality": "streaming family: sketch state over the versioned source",
    "streaming.forecast_state": "streaming family: per-key forecast state",
    "streaming.neardup": "streaming family: near-duplicate detection on arrival",
    "streaming.pipeline": "streaming family: one builder for readStream and read",
    "streaming.spikes": "streaming family: spike detection",
    "streaming.stateful": "streaming family: stateful operators",
    "streaming.versioned_sink": "streaming family: sink on the versioned format",
    "streaming.versioned_source": "streaming family: source on the versioned format",
    "operators.incremental": "imported only by the streaming family",
    "operators.cdf_consumer": "imported only by the streaming family",
    "llm_ops.multimodal": "north-star multimodal columns",
    "llm_ops.codecs": "north-star multimodal columns: encoders",
    "plans.training_data": "the LLM-data DAG",
    "plans.ann_serving": "only caller of the IVF-PQ save/load/append functions",
    "plans.telemetry": "observed-write metrics, the basis for per-task DAG records",
    "operators.skew": "salting layer that lineitem_skew_diagnosis documents",
}


def _package_modules() -> set[str]:
    mods = set()
    for path in (ROOT / PKG).rglob("*.py"):
        parts = path.relative_to(ROOT).with_suffix("").parts
        if parts[-1] == "__init__":
            parts = parts[:-1]
        mods.add(".".join(parts))
    return mods


def _module_path(mod: str) -> Path:
    base = ROOT.joinpath(*mod.split("."))
    return base / "__init__.py" if base.is_dir() else base.with_suffix(".py")


def _imports(path: Path, known: set[str]) -> set[str]:
    """Package modules ``path`` imports, each with its parent packages."""
    found = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom) and node.module and not node.level:
            # ``from pkg import sub`` may name a submodule or an attribute
            names = [node.module] + [f"{node.module}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            parts = name.split(".")
            found |= {".".join(parts[:i]) for i in range(1, len(parts) + 1)}
    return found & known


def reached() -> set[str]:
    known = _package_modules()
    roots = [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    roots += sorted((ROOT / "tools").glob("*.py"))
    roots += sorted((ROOT / "perfbench").glob("*.py"))
    todo = {f"{PKG}.__main__", f"{PKG}.queries"}
    for path in roots:
        todo |= _imports(path, known)
    seen: set[str] = set()
    while todo:
        mod = todo.pop()
        if mod not in seen:
            seen.add(mod)
            todo |= _imports(_module_path(mod), known) - seen
    return seen


def test_every_module_is_reached_or_declared_test_only():
    declared = {f"{PKG}.{m}" for m in TEST_ONLY}
    unreached = _package_modules() - reached() - declared
    assert not unreached, f"reached only from tests: {sorted(unreached)}"


def test_test_only_list_can_only_shrink():
    known, closure = _package_modules(), reached()
    stale = {m for m in TEST_ONLY if f"{PKG}.{m}" not in known}
    assert not stale, f"TEST_ONLY names deleted modules: {sorted(stale)}"
    wired = {m for m in TEST_ONLY if f"{PKG}.{m}" in closure}
    assert not wired, f"TEST_ONLY modules now have a non-test caller: {sorted(wired)}"

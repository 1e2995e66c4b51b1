"""Every package module must be reachable from a runnable surface.

The surfaces are the gate suite (``bench.py`` / ``__spark_entry__.py``),
the sf1 budgets (``scale_smoke.py``) and the benchmark workloads
(``perfbench/*.py``).  Imports are walked statically with ``ast`` — no
Spark, no package import — including function-local imports, relative
imports and the implicit parent-package imports.  A module nothing
reaches is either deleted or named in ``DOCUMENTED_ENTRY_MODULES`` as a
README-documented entry point callers import directly.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "jobcan_data_integrator_spark"

#: README-documented modes whose only in-repo callers are their tests
DOCUMENTED_ENTRY_MODULES = (
    "streaming",
    "operators.reconstruct",
    "config",
    "sources.corpus",
)


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _package_modules() -> dict[str, Path]:
    return {_module_name(p): p for p in (REPO / PKG).rglob("*.py")}


def _local_modules() -> dict[str, Path]:
    """Repo modules a surface can import: the package, the root scripts
    and ``perfbench/``."""
    mods = _package_modules()
    for d in (REPO, REPO / "perfbench"):
        for p in d.glob("*.py"):
            mods.setdefault(p.stem, p)
    return mods


def _imports(path: Path, name: str, modules: dict[str, Path]) -> set[str]:
    """Local modules ``path`` imports, plus each one's parent packages."""
    is_pkg = path.name == "__init__.py"
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            found |= {a.name for a in node.names}
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                pkg = name.split(".")
                pkg = pkg[: len(pkg) - node.level + (1 if is_pkg else 0)]
                base = ".".join(pkg + ([base] if base else []))
            found.add(base)
            found |= {f"{base}.{a.name}" for a in node.names}
    reached = set()
    for mod in found:
        parts = mod.split(".")
        reached |= {".".join(parts[:i]) for i in range(1, len(parts) + 1)}
    return reached & modules.keys()


def _reached() -> set[str]:
    modules = _local_modules()
    roots = [REPO / "bench.py", REPO / "__spark_entry__.py", REPO / "scale_smoke.py"]
    roots += sorted((REPO / "perfbench").glob("*.py"))
    todo = [p.stem for p in roots]
    seen: set[str] = set()
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        seen.add(mod)
        todo += _imports(modules[mod], mod, modules) - seen
    return seen


def test_every_package_module_is_reached_or_documented():
    documented = {f"{PKG}.{m}" for m in DOCUMENTED_ENTRY_MODULES}
    for mod in documented:
        assert mod in _package_modules(), f"stale entry module {mod}"
    unreached = sorted(_package_modules().keys() - _reached() - documented)
    assert not unreached, (
        f"modules no gate, pipeline, benchmark workload or scale-smoke "
        f"budget reaches: {unreached} — delete them, or document one as "
        "an entry module"
    )

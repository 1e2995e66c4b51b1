"""Every package module must be reachable from a runnable surface.

The surfaces are the gate suite (``bench.py`` / ``__spark_entry__.py``),
the sf1 budgets (``scale_smoke.py``) and the benchmark workloads
(``perfbench/*.py``).  Imports are walked statically with ``ast`` — no
Spark, no package import — including function-local imports, relative
imports and the implicit parent-package imports.  A module nothing
reaches is either deleted or named in ``DOCUMENTED_ENTRY_MODULES`` as a
README-documented entry point callers import directly.

The same rule holds for options: every keyword parameter of the three
curation orchestrators must be set by some call site in the package,
``bench.py``, ``scale_smoke.py`` or ``perfbench/``.  Tests do not count
as callers; the options only tests set today are listed in
``TEST_ONLY_OPTIONS``, a list that may only shrink.
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


#: orchestrators whose every keyword parameter some caller must set — an
#: option nothing sets gates a branch that never runs
ORCHESTRATORS = ("ingest_increment", "probe_duplicates", "retract_documents")

_PAIR_KNOBS = ("n_hashes", "band_size", "cluster_threshold")

#: options that only tests set: each must still be a parameter and still
#: be set by no non-test caller, so entries can only be removed
TEST_ONLY_OPTIONS = {
    "ingest_increment": (
        *_PAIR_KNOBS,
        "chunk_tokens",
        "chunk_overlap",
        "pack_budget",
        "new_emb",
        "emb_families",
        "auto_compact_bytes",
        "auto_refresh_codebooks",
        "bm25",
    ),
    "probe_duplicates": _PAIR_KNOBS,
    "retract_documents": _PAIR_KNOBS,
}


def _name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _literal_keys(node: ast.AST) -> set[str]:
    """Keys of a ``dict(k=...)`` call or a ``{"k": ...}`` literal."""
    if isinstance(node, ast.Call) and _name(node.func) == "dict":
        return {k.arg for k in node.keywords if k.arg}
    if isinstance(node, ast.Dict):
        return {
            k.value
            for k in node.keys
            if isinstance(k, ast.Constant) and isinstance(k.value, str)
        }
    return set()


def _keywords_set(path: Path) -> dict[str, set[str]]:
    """Per orchestrator, the keyword names one file's call sites set: a
    call naming the function (or passing it on, as in ``timed("ingest",
    ingest_increment, ...)``) contributes its keyword arguments and the
    keys of every ``**`` dict literal it expands, inline or assigned to a
    name in the same file."""
    tree = ast.parse(path.read_text(), str(path))
    assigned: dict[str, set[str]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Assign):
            for t in node.targets:
                if isinstance(t, ast.Name):
                    assigned.setdefault(t.id, set()).update(_literal_keys(node.value))
    found: dict[str, set[str]] = {f: set() for f in ORCHESTRATORS}
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        named = {_name(node.func)} | {_name(a) for a in node.args}
        for fn in named & set(ORCHESTRATORS):
            for k in node.keywords:
                if k.arg:
                    found[fn].add(k.arg)
                elif isinstance(k.value, ast.Name):
                    found[fn] |= assigned.get(k.value.id, set())
                else:
                    found[fn] |= _literal_keys(k.value)
    return found


def test_every_orchestrator_option_is_set_by_a_caller():
    files = [REPO / "bench.py", REPO / "scale_smoke.py"]
    for d in (REPO / PKG, REPO / "perfbench"):
        files += sorted(d.rglob("*.py"))
    set_by: dict[str, set[str]] = {f: set() for f in ORCHESTRATORS}
    for path in files:
        for fn, keys in _keywords_set(path).items():
            set_by[fn] |= keys
    src = ast.parse((REPO / PKG / "operators" / "ingest.py").read_text())
    unset, stale = {}, {}
    for node in src.body:
        if isinstance(node, ast.FunctionDef) and node.name in ORCHESTRATORS:
            params = {a.arg for a in node.args.kwonlyargs}
            test_only = params - set_by[node.name]
            allowed = set(TEST_ONLY_OPTIONS[node.name])
            if test_only - allowed:
                unset[node.name] = sorted(test_only - allowed)
            if allowed - test_only:
                stale[node.name] = sorted(allowed - test_only)
    assert not unset, (
        f"keyword options no non-test caller sets: {unset} — delete them "
        "with the code they gate"
    )
    assert not stale, (
        "TEST_ONLY_OPTIONS entries that are gone or now set by a non-test "
        f"caller: {stale} — remove them from the list"
    )

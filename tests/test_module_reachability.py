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

And for functions: every public top-level package function must be
reached, by name, from those surfaces, a gate, a documented entry
module's public API or a module-level statement.  The functions only
tests reach today are listed in ``TEST_ONLY_FUNCTIONS``, which may only
shrink too.

And for constants: every package-level UPPER_CASE name must be read
somewhere in the package or those surfaces, not only assigned.
"""

from __future__ import annotations

import ast
import re
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "jobcan_data_integrator_spark"

#: README-documented modes whose only in-repo callers are their tests
DOCUMENTED_ENTRY_MODULES = (
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


def _scripts() -> list[Path]:
    """The runnable surfaces outside the package: the gate suite, the
    sf1 budgets and the benchmark workloads."""
    roots = [REPO / "bench.py", REPO / "__spark_entry__.py", REPO / "scale_smoke.py"]
    return roots + sorted((REPO / "perfbench").glob("*.py"))


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
    todo = [p.stem for p in _scripts()]
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
        "auto_compact_bytes",
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


#: public package functions that only tests reach, by module: each must
#: still be defined there and still be reached by nothing else, so
#: entries can only be removed.  ``views.export_views`` and
#: ``operators.entities.retrieve_users`` are the paper's own BI egress
#: and JSON re-assembly surface, kept until they get a measurement.
TEST_ONLY_FUNCTIONS = {
    "operators.bpe": (
        "bpe_stats",
        "bpe_token_counts",
        "encode_bpe",
        "load_bpe",
        "save_bpe",
    ),
    "operators.dedup": ("connected_components_twophase", "keep_best_per_cluster"),
    "operators.entities": ("retrieve_users",),
    "operators.ingest": ("diff_curated", "doc_history"),
    "operators.multimodal": ("extract_av_metadata", "sample_audio_segments"),
    "operators.packing": ("temperature_weights", "write_shards"),
    "operators.pq": ("ann_topk_ivfpq", "pq_search"),
    "operators.selection": ("sample_per_cluster",),
    "operators.simhash": ("simhash_signatures_wide",),
    "operators.similarity": ("semantic_dedup",),
    "operators.sketch": (
        "cms_lookup",
        "cms_table",
        "hll_count_distinct",
        "hll_estimate",
        "hll_registers",
    ),
    "operators.temporal": ("asof_join_broadcast", "range_join", "scd2_from_changelog"),
    "sources.bronze": ("read_archived",),
    "state": ("merge_watermarks",),
    "views": ("export_views",),
}

_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef)


def _refs(nodes) -> set[str]:
    """Every ``Name`` and ``Attribute`` identifier under ``nodes``."""
    out: set[str] = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
    return out


def _reached_functions() -> tuple[set[str], dict[str, set[str]]]:
    """(reached names, public top-level function name -> defining
    modules).  Edges are by name: an identifier in a reached body
    reaches every top-level def and method of that name, and a class
    name reaches its dunder methods.  Roots: the whole of the surface
    scripts, every function under ``gate/``, the public functions of
    the documented entry modules, and every statement the package runs
    at import (module-level code, decorators, class-level code)."""
    entry = {f"{PKG}.{m}" for m in DOCUMENTED_ENTRY_MODULES}
    bodies: dict[str, list[ast.AST]] = {}
    public: dict[str, set[str]] = {}
    roots: list[ast.AST] = []
    reached: set[str] = set()
    for mod, path in _package_modules().items():
        for node in ast.parse(path.read_text(), str(path)).body:
            if isinstance(node, _DEFS):
                bodies.setdefault(node.name, []).append(node)
                roots += node.decorator_list
                if node.name.startswith("_"):
                    continue
                public.setdefault(node.name, set()).add(mod)
                if mod.startswith(f"{PKG}.gate") or mod in entry:
                    roots.append(node)
                    reached.add(node.name)
            elif isinstance(node, ast.ClassDef):
                roots += node.decorator_list + node.bases + node.keywords
                for m in node.body:
                    if not isinstance(m, _DEFS):
                        roots.append(m)
                        continue
                    bodies.setdefault(m.name, []).append(m)
                    roots += m.decorator_list
                    if m.name.startswith("__"):
                        bodies.setdefault(node.name, []).append(m)
            else:
                roots.append(node)
    roots += [ast.parse(p.read_text(), str(p)) for p in _scripts()]
    todo = _refs(roots)
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo |= _refs(bodies.get(name, ()))
    return reached, public


def test_every_public_function_is_reached():
    reached, public = _reached_functions()
    unreached = {
        (mod, name)
        for name, mods in public.items()
        if name not in reached
        for mod in mods
    }
    listed = {
        (f"{PKG}.{mod}", name)
        for mod, names in TEST_ONLY_FUNCTIONS.items()
        for name in names
    }
    assert not unreached - listed, (
        f"public functions only tests reach: {sorted(unreached - listed)} "
        "— delete them, or give them a gate, workload or budget"
    )
    assert not listed - unreached, (
        "TEST_ONLY_FUNCTIONS entries that are gone or now reached: "
        f"{sorted(listed - unreached)} — remove them from the list"
    )


_CONSTANT = re.compile(r"[A-Z][A-Z0-9_]*")


def test_every_package_constant_is_read():
    """A module-level UPPER_CASE assignment that no package module or
    surface script ever reads (a ``Name`` load or an attribute access
    anywhere, the defining module included) is dead: delete it."""
    defined: dict[str, set[str]] = {}
    trees = []
    for mod, path in _package_modules().items():
        tree = ast.parse(path.read_text(), str(path))
        trees.append(tree)
        for node in tree.body:
            if isinstance(node, ast.Assign):
                targets = node.targets
            elif isinstance(node, ast.AnnAssign):
                targets = [node.target]
            else:
                continue
            for n in (n for t in targets for n in ast.walk(t)):
                if (
                    isinstance(n, ast.Name)
                    and isinstance(n.ctx, ast.Store)
                    and _CONSTANT.fullmatch(n.id)
                ):
                    defined.setdefault(n.id, set()).add(mod)
    trees += [ast.parse(p.read_text(), str(p)) for p in _scripts()]
    read: set[str] = set()
    for tree in trees:
        for n in ast.walk(tree):
            if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
                read.add(n.id)
            elif isinstance(n, ast.Attribute):
                read.add(n.attr)
    unread = sorted(
        (mod, name) for name in defined.keys() - read for mod in defined[name]
    )
    assert not unread, (
        f"package constants nothing reads: {unread} — delete them"
    )

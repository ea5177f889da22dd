"""Guards the engine's import closure (no Spark session, ``ast`` and
``sys.modules`` only).

(a) Every package module is imported, directly or transitively, by a
    runtime root: ``__spark_entry__``, ``bench.py``, ``perfbench/``, the CLI,
    the release pipelines, ``runner``, ``validation`` and ``enrich``.  The
    only exceptions are the modules in ``KEPT``, each kept for the reason
    given, and the curation and web-format modules in ``DEFERRED``, which
    no root reaches either and which are next in line for deletion
    (ROADMAP).  A module that nothing reaches is dead code: delete it, or
    add it to ``KEPT`` with the SURVEY row it implements.
(b) The subpackage ``__init__`` files re-export nothing, so importing a
    release pipeline loads only the leaves it names, not the similarity and
    dedup operator stack.
(c) Every import of a package module, in the package, the tests, the tools
    and the benchmarks, names a module that exists and, for ``from X import
    n``, a submodule or top-level name of ``X``.  Function-level imports
    only run when their function does, so without this a deleted module or
    name would fail no import at collection time.
"""

from __future__ import annotations

import ast
import glob
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "evidence_datasource_parsers_spark"

#: Modules no runtime root imports, kept on purpose.
KEPT = {
    f"{PKG}.sources.rest": "SURVEY S12/S13: paginated REST sources",
    f"{PKG}.sources.obo": "SURVEY IMPC row: OBO ontology parse",
    f"{PKG}.sources.owl": "SURVEY IMPC row: OWL ontology parse",
    f"{PKG}.functions.adatiss": "SURVEY D12: expression-specificity metric",
    f"{PKG}.functions.text_struct": "SURVEY D5/D6: structured-text parse",
    f"{PKG}.plans.q62_audit": "tools/verify_local.py per-leg forensics",
}

#: Unreached curation modules still on their way out; each is covered by
#: its own test file until it is deleted.
DEFERRED = {
    f"{PKG}.{m}"
    for m in (
        "functions.bpe", "functions.textnorm",
        "operators.sampling", "operators.profiling", "operators.chunking",
        "operators.compaction", "operators.mmr", "operators.packing",
        "operators.skew", "operators.zorder",
        "functions.html", "sources.webdataset",
    )
}

SUBPACKAGES = ("operators", "functions", "sources", "pipelines", "streaming")


def _package_modules() -> dict[str, str]:
    out = {}
    for path in glob.glob(os.path.join(REPO, PKG, "**", "*.py"),
                          recursive=True):
        name = os.path.relpath(path, REPO)[:-3].replace(os.sep, ".")
        out[name.removesuffix(".__init__")] = path
    return out


def _imported_names(path: str):
    """Every dotted name an ``import`` anywhere in the file (function-level
    included) may load: ``from a import b`` yields ``a`` and ``a.b``.  The
    code base uses absolute imports only."""
    for node in ast.walk(ast.parse(open(path).read())):
        if isinstance(node, ast.Import):
            yield from (a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom):
            yield node.module
            yield from (f"{node.module}.{a.name}" for a in node.names)


def _closure(root_files: list[str], modules: dict[str, str]) -> set[str]:
    """Package modules reached from the root files; importing a module
    also runs every enclosing package ``__init__``.  Names that are not
    package modules are skipped here; test (c) checks they resolve."""
    reached: set[str] = set()
    todo = list(root_files)
    while todo:
        for dotted in _imported_names(todo.pop()):
            parts = dotted.split(".")
            for i in range(1, len(parts) + 1):
                mod = ".".join(parts[:i])
                if mod in modules and mod not in reached:
                    reached.add(mod)
                    todo.append(modules[mod])
    return reached


def _top_level_names(path: str) -> set[str]:
    """Names a module binds at import time: its defs, classes, assignments
    and imports, including those under a top-level ``if``/``try``/``with``."""
    names: set[str] = set()

    def visit(body) -> None:
        for node in body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                names.add(node.name)
            elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
                targets = getattr(node, "targets", None) or [node.target]
                names.update(n.id for t in targets for n in ast.walk(t)
                             if isinstance(n, ast.Name))
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                names.update((a.asname or a.name).split(".")[0]
                             for a in node.names)
            elif isinstance(node, (ast.If, ast.Try, ast.With)):
                for field in ("body", "orelse", "finalbody"):
                    visit(getattr(node, field, []))
                for handler in getattr(node, "handlers", []):
                    visit(handler.body)

    visit(ast.parse(open(path).read()).body)
    return names


def _runtime_roots(modules: dict[str, str]) -> list[str]:
    roots = [os.path.join(REPO, "__spark_entry__.py"),
             os.path.join(REPO, "bench.py")]
    roots += sorted(glob.glob(os.path.join(REPO, "perfbench", "*.py")))
    roots += [p for m, p in modules.items()
              if m.startswith(f"{PKG}.pipelines.") and m not in DEFERRED
              or m in {f"{PKG}.__main__", f"{PKG}.runner",
                       f"{PKG}.validation", f"{PKG}.enrich"}]
    return roots


def test_subpackage_inits_reexport_nothing():
    for sub in SUBPACKAGES:
        path = os.path.join(REPO, PKG, sub, "__init__.py")
        tree = ast.parse(open(path).read())
        imports = [n for n in ast.walk(tree)
                   if isinstance(n, (ast.Import, ast.ImportFrom))]
        assert imports == [], f"{sub}/__init__.py imports"


def test_every_module_reached_or_kept_on_purpose():
    modules = _package_modules()
    roots = _runtime_roots(modules)
    reached = _closure(roots, modules) | {
        m for m, p in modules.items() if p in roots
    }
    assert set(modules) - reached == set(KEPT) | DEFERRED
    # q62_audit's reason holds: tools/ reaches it, and no other KEPT module
    tools = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))
    with_tools = _closure(roots + tools, modules) | reached
    assert set(modules) - with_tools - DEFERRED == (
        set(KEPT) - {f"{PKG}.plans.q62_audit"}
    )


def _loaded_after(code: str) -> list[str]:
    out = subprocess.run(
        [sys.executable, "-c", code + "\nimport sys\n"
         f"print('\\n'.join(m for m in sys.modules if m.startswith('{PKG}')))"],
        cwd=REPO, capture_output=True, text=True, timeout=120, check=True,
    ).stdout
    return out.split()


def test_release_pipelines_load_no_similarity_or_dedupe_stack():
    pipelines = sorted(
        m for m in _package_modules()
        if m.startswith(f"{PKG}.pipelines.") and m not in DEFERRED
    )
    assert len(pipelines) == 11
    loaded = _loaded_after("\n".join(f"import {m}" for m in pipelines))
    assert f"{PKG}.operators.similarity" not in loaded
    assert f"{PKG}.operators.dedupe" not in loaded


def test_single_pipeline_import_stays_narrow():
    loaded = _loaded_after(f"import {PKG}.pipelines.slapenrich")
    assert len(loaded) <= 8, loaded


def test_package_imports_resolve():
    modules = _package_modules()
    files = list(modules.values()) + [
        os.path.join(REPO, "__spark_entry__.py"),
        os.path.join(REPO, "bench.py"),
    ]
    for sub in ("tests", "tools", "perfbench"):
        files += glob.glob(os.path.join(REPO, sub, "*.py"))
    names: dict[str, set[str]] = {}
    bad = []
    for path in sorted(files):
        where = os.path.relpath(path, REPO)
        for node in ast.walk(ast.parse(open(path).read())):
            if isinstance(node, ast.Import):
                bad += [f"{where}:{node.lineno}: import {a.name}"
                        for a in node.names
                        if a.name.split(".")[0] == PKG
                        and a.name not in modules]
            elif (isinstance(node, ast.ImportFrom) and node.module
                  and node.module.split(".")[0] == PKG):
                mod = node.module
                if mod not in modules:
                    bad.append(f"{where}:{node.lineno}: no module {mod}")
                    continue
                if mod not in names:
                    names[mod] = _top_level_names(modules[mod])
                bad += [f"{where}:{node.lineno}: {mod} has no {a.name}"
                        for a in node.names
                        if a.name != "*" and a.name not in names[mod]
                        and f"{mod}.{a.name}" not in modules]
    assert bad == [], bad

"""Guards the engine's import closure (no Spark session, ``ast`` and
``sys.modules`` only).

(a) Every package module is imported, directly or transitively, by a
    runtime root: ``__spark_entry__``, ``bench.py``, ``perfbench/``, the CLI,
    the release pipelines, ``runner``, ``validation`` and ``enrich``.  The
    only exceptions are the modules in ``KEPT``, each kept for the reason
    given, the modules only ``tools/`` uses (``TOOL_ONLY``), and the
    curation and web-format modules in ``DEFERRED``, which
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
(d) Every top-level def and class of a reached module is named by a
    runtime root, directly or through other reached defs, unless it is
    listed in ``UNREACHED_DEFS`` with the SURVEY row it implements, or
    only such a def names it.  An entry that gains a caller or no longer
    exists fails too.
(e) The test files bind no top-level name twice (Python keeps only the
    last binding, so an earlier test of the same name never runs), and
    every ``tests/slow_tests.txt`` entry names an existing test.
(f) Every module-level assignment or import in the package binds a name
    that something reads: an orphaned constant or import left behind by a
    deleted def fails here.
"""

from __future__ import annotations

import ast
import collections
import glob
import os
import re
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
}

#: Modules only ``tools/`` imports, kept while those tools use them.
TOOL_ONLY = {
    f"{PKG}.plans.q62_audit": "tools/verify_local.py per-leg forensics",
    f"{PKG}.operators.df_store": "tools/bench_scale.py and "
                                 "tools/plan_audit.py: the df-store probe",
    f"{PKG}.operators.quantize": "tools/bench_scale.py: the quantized "
                                 "vector store",
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

#: Top-level defs that no runtime root names, outside ``KEPT`` and
#: ``DEFERRED`` modules, kept on purpose ("module.def" → reason).  Defs
#: only these use count as reached through them.
UNREACHED_DEFS = {
    "sources.readers.stage_remote":
        "SURVEY S9: remote file staging (addFile + SparkFiles.get)",
    "sources.readers.read_excel":
        "SURVEY S10: Excel scan (sheets, multi-row headers, skip rows)",
    "sources.readers.read_xml_elements":
        "SURVEY S11: XML scan (ElementTree walk to a DataFrame)",
}

SUBPACKAGES = ("operators", "functions", "sources", "pipelines")


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
    assert set(modules) - reached == set(KEPT) | set(TOOL_ONLY) | DEFERRED
    # TOOL_ONLY's reasons hold: tools/ reaches those, and no KEPT module
    tools = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))
    with_tools = _closure(roots + tools, modules) | reached
    assert set(modules) - with_tools - DEFERRED == set(KEPT)


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


_IDENT = re.compile(r"[A-Za-z_][A-Za-z0-9_]*\Z")
_DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _names_in(node) -> set[str]:
    """Every identifier a node may refer to: names, attributes, import
    aliases and module paths, and identifier-like string constants (names
    passed by string, as ``getattr`` and the catalog registries do).
    Matching is by bare name, so a collision can only make a def look
    reached."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif isinstance(n, ast.ImportFrom) and n.module:
            out.update(n.module.split("."))
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and _IDENT.match(n.value)):
            out.add(n.value)
    return out


def _unreached_defs(also_reached=()) -> dict[str, set[str]]:
    """Top-level defs of the package that no runtime root reaches by name
    (module, without the package prefix → names).

    The roots are ``__spark_entry__.py``, ``bench.py``, ``perfbench/`` and
    ``tools/``, every def in ``plans/`` and ``pipelines/``, and the
    ``runner``, ``validation``, ``enrich``, ``__main__`` and ``session``
    modules, plus the ``also_reached`` defs ("module.def").  Module-level
    statements run on import, so they count as reached too.  A def is
    reached once a reached body names it."""
    whole = {"runner", "validation", "enrich", "__main__", "session"}
    defs: dict[tuple[str, str], ast.AST] = {}
    reached = {d.rsplit(".", 1)[1] for d in also_reached}
    for mod, path in _package_modules().items():
        short = mod.removeprefix(f"{PKG}.")
        root = short in whole or short.startswith(("plans.", "pipelines."))
        for node in ast.parse(open(path).read()).body:
            if isinstance(node, _DEFS) and not root:
                defs[(short, node.name)] = node
            else:
                reached |= _names_in(node)
    files = [os.path.join(REPO, "__spark_entry__.py"),
             os.path.join(REPO, "bench.py")]
    for sub in ("perfbench", "tools"):
        files += glob.glob(os.path.join(REPO, sub, "*.py"))
    for path in files:
        reached |= _names_in(ast.parse(open(path).read()))
    by_name = collections.defaultdict(list)
    for key in defs:
        by_name[key[1]].append(key)
    # a def is queued once, when its name first becomes reached
    todo = [k for name in reached for k in by_name[name]]
    while todo:
        for name in _names_in(defs.pop(todo.pop())) - reached:
            reached.add(name)
            todo += by_name[name]
    out: dict[str, set[str]] = collections.defaultdict(set)
    for mod, name in defs:
        out[mod].add(name)
    return out


def test_every_def_reached_or_allowlisted():
    exempt = {m.removeprefix(f"{PKG}.") for m in set(KEPT) | DEFERRED}

    def unreached(also_reached=()):
        return {f"{m}.{n}" for m, names in _unreached_defs(also_reached)
                .items() if m not in exempt for n in names}

    stale = sorted(set(UNREACHED_DEFS) - unreached())
    assert stale == [], (
        f"UNREACHED_DEFS entries {stale} are reached or gone: drop them")
    new = sorted(unreached(UNREACHED_DEFS))
    assert new == [], (
        f"unreached defs {new}: delete them (with the tests that only "
        "exercise them) or give them a runtime caller")


def _module_bindings(body):
    """(statement, name) for each name a module body binds by assignment
    or import, including under a top-level ``if``/``try``/``with``.
    Dunders and ``__future__`` imports are exempt, and so is ``import
    a.b``: it loads a submodule for its side effects."""
    for node in body:
        if isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = getattr(node, "targets", None) or [node.target]
            names = [n.id for t in targets for n in ast.walk(t)
                     if isinstance(n, ast.Name)]
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            names = [a.asname or a.name for a in node.names]
        elif isinstance(node, ast.Import):
            names = [a.asname or a.name for a in node.names
                     if a.asname or "." not in a.name]
        elif isinstance(node, (ast.If, ast.Try, ast.With)):
            for field in ("body", "orelse", "finalbody"):
                yield from _module_bindings(getattr(node, field, []))
            for handler in getattr(node, "handlers", []):
                yield from _module_bindings(handler.body)
            continue
        else:
            continue
        yield from ((node, n) for n in names
                    if not (n.startswith("__") and n.endswith("__")))


def test_every_module_level_name_is_named():
    """A module-level assignment or import binds a name that its own
    module reads, or that some other file names: as a ``from <module>
    import`` name, as an identifier string, or (assignments only) as an
    attribute.  An import's name is also some other module's attribute
    (``DataFrame``, ``F``), so an attribute elsewhere says nothing about
    it.  Files looked at: the package, ``tests/``, ``tools/``,
    ``perfbench/``, ``bench.py`` and ``__spark_entry__.py``.  Matching
    other files by bare name can only make a binding look used."""
    modules = _package_modules()
    files = list(modules.values()) + [
        os.path.join(REPO, "__spark_entry__.py"),
        os.path.join(REPO, "bench.py"),
    ]
    for sub in ("tests", "tools", "perfbench"):
        files += glob.glob(os.path.join(REPO, sub, "*.py"))
    trees = {path: ast.parse(open(path).read()) for path in files}
    imported: set[tuple[str, str]] = set()
    strings: set[str] = set()
    attrs: set[str] = set()
    own: dict[str, set[str]] = {}
    for path, tree in trees.items():
        used = own[path] = set()
        for n in ast.walk(tree):
            if isinstance(n, ast.Name) and not isinstance(n.ctx, ast.Store):
                used.add(n.id)
            elif isinstance(n, ast.Attribute):
                used.add(n.attr)
                attrs.add(n.attr)
            elif isinstance(n, ast.ImportFrom) and n.module:
                imported.update((n.module, a.name) for a in n.names)
            elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
                  and _IDENT.match(n.value)):
                used.add(n.value)
                strings.add(n.value)

    def named(mod, path, node, name):
        is_import = isinstance(node, (ast.Import, ast.ImportFrom))
        return (name in own[path] or (mod, name) in imported
                or name in strings or not is_import and name in attrs)

    dead = sorted(
        f"{os.path.relpath(path, REPO)}:{node.lineno}: {name}"
        for mod, path in modules.items()
        for node, name in _module_bindings(trees[path].body)
        if not named(mod, path, node, name)
    )
    assert dead == [], f"module-level names nothing names: {dead}"


def test_test_files_bind_each_name_once_and_slow_list_is_live():
    twice = []
    for path in sorted(glob.glob(os.path.join(REPO, "tests", "*.py"))):
        bound = collections.Counter()
        for node in ast.parse(open(path).read()).body:
            if isinstance(node, _DEFS):
                bound[node.name] += 1
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = getattr(node, "targets", None) or [node.target]
                bound.update(n.id for t in targets for n in ast.walk(t)
                             if isinstance(n, ast.Name))
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                bound.update((a.asname or a.name).split(".")[0]
                             for a in node.names)
        where = os.path.relpath(path, REPO)
        twice += [f"{where}: {n} x{c}" for n, c in bound.items() if c > 1]
    assert twice == [], twice

    dead = []
    with open(os.path.join(REPO, "tests", "slow_tests.txt")) as fh:
        entries = [ln.strip() for ln in fh
                   if ln.strip() and not ln.startswith("#")]
    for entry in entries:
        path, *parts = entry.split("::")
        full = os.path.join(REPO, path)
        node = ast.parse(open(full).read()) if os.path.isfile(full) else None
        for part in parts:
            name = part.split("[")[0]
            node = node and next((n for n in node.body if isinstance(
                n, _DEFS) and n.name == name), None)
        if node is None or not parts:
            dead.append(entry)
    assert dead == [], f"slow_tests.txt names no such test: {dead}"

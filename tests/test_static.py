"""Spark-free checks over the source tree.

- Reach: every module of the engine package is imported, directly or
  transitively, from the driver surface (``__spark_entry__.py``,
  ``bench.py``, ``examples/*.py``, ``tools/*.py``). Function-local
  imports count. A module that only tests import is code the driver
  never runs: route it through a caller or delete it.
- Round audit: every ``F.round(`` site is classified, and the committed
  ``ROUND_AUDIT.json`` inventory is the current one.
- Stamps: every artifact ``tools/runner.py`` committed carries the
  runner's full stamp, and the stamp's command names a runner mode.
- Imports: no engine module imports a name it never reads
  (``__init__.py`` re-exports and ``__all__`` names are exempt).
- Layout: query modules are named for operator families, not rounds.
"""

from __future__ import annotations

import ast
import glob
import json
import os
import re
import shlex

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "dirty_js_etl_spark"


def _package_modules() -> dict[str, str]:
    """Dotted module name -> file, for every module under the package."""
    mods = {}
    for root, _, files in os.walk(os.path.join(REPO, PKG)):
        for f in files:
            if f.endswith(".py"):
                path = os.path.join(root, f)
                name = os.path.relpath(path, REPO)[:-3].replace(os.sep, ".")
                mods[name.removesuffix(".__init__")] = path
    return mods


def _imported_names(path: str) -> set[str]:
    """Every dotted name an import in ``path`` may load: the module
    itself, and ``module.name`` for each ``from module import name``
    (it may be a submodule). The tree has no relative imports; a module
    reached only through one would be reported unreached."""
    with open(path) as fh:
        tree = ast.parse(fh.read())
    names: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(a.name for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            names.update(f"{node.module}.{a.name}" for a in node.names)
    return names


def _reached(mods: dict[str, str], roots: list[str]) -> set[str]:
    reached: set[str] = set()
    todo = list(roots)
    while todo:
        for name in _imported_names(todo.pop()):
            parts = name.split(".")
            # importing a.b.c also runs a/__init__ and a/b/__init__
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                if prefix in mods and prefix not in reached:
                    reached.add(prefix)
                    todo.append(mods[prefix])
    return reached


def test_every_engine_module_reached_from_driver_surface():
    roots = [os.path.join(REPO, "__spark_entry__.py"), os.path.join(REPO, "bench.py")]
    roots += sorted(glob.glob(os.path.join(REPO, "examples", "*.py")))
    roots += sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))
    mods = _package_modules()
    assert sorted(set(mods) - _reached(mods, roots)) == []


def _unused_imports(path: str) -> list[str]:
    """Module-level imports (top level, or under a top-level ``if`` such
    as ``TYPE_CHECKING``) whose bound name the module never reads."""
    with open(path) as fh:
        tree = ast.parse(fh.read())
    stmts = list(tree.body)
    bound: dict[str, int] = {}
    exported: set[str] = set()
    for node in stmts:
        if isinstance(node, ast.If):
            stmts += node.body + node.orelse
        elif isinstance(node, ast.Import):
            bound.update((a.asname or a.name.split(".")[0], node.lineno) for a in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module != "__future__":
            bound.update((a.asname or a.name, node.lineno) for a in node.names)
        elif isinstance(node, ast.Assign) and any(
            getattr(t, "id", None) == "__all__" for t in node.targets
        ):
            exported = set(ast.literal_eval(node.value))
    read = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
    rel = os.path.relpath(path, REPO)
    return [f"{rel}:{line} {name}" for name, line in bound.items()
            if name not in read and name not in exported]


def test_no_unused_module_imports():
    hits = []
    for path in sorted(_package_modules().values()):
        if os.path.basename(path) != "__init__.py":
            hits += _unused_imports(path)
    assert hits == []


def test_no_query_module_named_for_a_round():
    names = os.listdir(os.path.join(REPO, PKG, "queries"))
    assert [n for n in names if "round" in n] == []


def test_round_audit_sites_classified_and_committed():
    from tools.round_audit import sites

    inv = sites()
    assert [s for s in inv if s["class"] == "UNCLASSIFIED"] == []
    with open(os.path.join(REPO, "ROUND_AUDIT.json")) as fh:
        assert inv == json.load(fh)["sites"]


# the artifacts tools/runner.py writes and the repo commits
RUNNER_ARTIFACTS = ("CORRECTNESS_LOCAL_sf0.01.json", "CORRECTNESS_LOCAL_sf0.1.json", "PLANS.md")
STAMP_KEYS = {
    "git_head", "dirty", "nproc", "mem_total_mb", "spark", "jdk", "python",
    "duckdb", "sf", "command",
}


def _stamps(path: str) -> list[dict]:
    with open(path) as fh:
        text = fh.read()
    if path.endswith(".md"):
        return [json.loads(s) for s in re.findall(r"^Stamp: `(.*)`$", text, re.M)]
    record = json.loads(text)
    if "sessions" in record:
        return [s["stamp"] for s in record["sessions"].values()]
    return [record["stamp"]]


def test_runner_artifacts_carry_the_stamp():
    from tools.runner import MODES

    for name in RUNNER_ARTIFACTS:
        stamps = _stamps(os.path.join(REPO, name))
        assert stamps, name
        for st in stamps:
            assert set(st) >= STAMP_KEYS, (name, STAMP_KEYS - set(st))
            argv = shlex.split(st["command"])
            i = next(i for i, a in enumerate(argv) if a.endswith(("runner.py", "bench.py")))
            mode = "bench" if argv[i].endswith("bench.py") else argv[i + 1]
            assert mode in MODES, (name, st["command"])

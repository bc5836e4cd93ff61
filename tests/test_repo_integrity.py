"""Repository-consistency checks that need no Spark session.

* Every round artifact (``*_rNN*.json``) cited by a committed evidence
  document exists in the repository.
* Every attribute the scripts, ``bench.py`` and the benchmark
  (``perfbench/*.py``, read only) read off an imported ``alphastats_spark``
  module exists, so a library deletion or rename fails here instead of
  leaving a broken probe script or benchmark behind (no linter is
  installed, so this walks their ASTs with the standard library).
"""

from __future__ import annotations

import ast
import importlib
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

EVIDENCE_DOCS = ["README.md", "REGISTRY.md", "VERDICT.md", "BASELINE.md", "FIXTURES.md"]
_ARTIFACT = re.compile(r"[A-Za-z0-9_./-]*_r\d+[A-Za-z0-9_]*\.json")


def _evidence_docs() -> list[Path]:
    docs = [ROOT / d for d in EVIDENCE_DOCS]
    docs += sorted(ROOT.glob("OPTIMIZATION_r*.md"))
    return [d for d in docs if d.exists()]


def test_cited_artifacts_exist():
    missing = []
    for doc in _evidence_docs():
        for name in sorted(set(_ARTIFACT.findall(doc.read_text()))):
            if not (ROOT / name).exists():
                missing.append(f"{doc.name}: {name}")
    assert not missing, "evidence docs cite artifacts not in the repo:\n" + "\n".join(missing)


def _script_files() -> list[Path]:
    return (
        sorted(ROOT.glob("scripts/*.py"))
        + [ROOT / "bench.py"]
        + sorted(ROOT.glob("perfbench/*.py"))
    )


def _resolve(module: str, name: str):
    """``from module import name``: the attribute, or the submodule."""
    mod = importlib.import_module(module)
    if hasattr(mod, name):
        return getattr(mod, name)
    try:
        return importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return None


def _library_refs(tree: ast.AST) -> tuple[list[str], list[tuple[int, str, str]]]:
    """Missing ``from alphastats_spark... import x`` names, and every
    ``alias.attr`` read whose ``alias`` is bound to an ``alphastats_spark``
    module. An alias also bound to anything else in the file (an
    assignment, a parameter, a non-library import) is skipped rather than
    guessed at."""
    missing_imports: list[str] = []
    modules: dict[str, set] = {}
    rebound: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
            "alphastats_spark"
        ):
            for a in node.names:
                target = _resolve(node.module, a.name)
                if target is None:
                    missing_imports.append(f"{node.lineno}: {node.module}.{a.name}")
                elif type(target).__name__ == "module":
                    modules.setdefault(a.asname or a.name, set()).add(target.__name__)
                else:
                    rebound.add(a.asname or a.name)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("alphastats_spark") and a.asname:
                    modules.setdefault(a.asname, set()).add(a.name)
                else:
                    rebound.add(a.asname or a.name.split(".")[0])
        elif isinstance(node, ast.Name) and isinstance(node.ctx, (ast.Store, ast.Del)):
            rebound.add(node.id)
        elif isinstance(node, ast.arg):
            rebound.add(node.arg)
        elif isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            rebound.add(node.name)
    bound = {
        alias: next(iter(mods))
        for alias, mods in modules.items()
        if len(mods) == 1 and alias not in rebound
    }
    reads = [
        (node.lineno, bound[node.value.id], node.attr)
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and isinstance(node.value, ast.Name)
        and node.value.id in bound
    ]
    return missing_imports, reads


def test_script_library_references_exist():
    problems = []
    n_reads = 0
    for path in _script_files():
        missing, reads = _library_refs(ast.parse(path.read_text(), str(path)))
        problems += [f"{path.name}:{m}" for m in missing]
        n_reads += len(reads)
        for lineno, module, attr in reads:
            if not hasattr(importlib.import_module(module), attr):
                problems.append(f"{path.name}:{lineno}: {module}.{attr}")
    assert n_reads > 0, "no library attribute reads found; the scan is broken"
    assert not problems, "scripts reference missing library names:\n" + "\n".join(problems)


def test_script_reference_scan_catches_a_deleted_name():
    tree = ast.parse(
        "def probe(sh):\n"
        "    from alphastats_spark.functions import dedup\n"
        "    from alphastats_spark.functions.text import no_such_helper\n"
        "    return dedup._sigs_over_shingles, dedup.no_such_function\n"
    )
    missing, reads = _library_refs(tree)
    assert missing == ["3: alphastats_spark.functions.text.no_such_helper"]
    gone = [
        attr for _, module, attr in reads
        if not hasattr(importlib.import_module(module), attr)
    ]
    assert gone == ["no_such_function"]


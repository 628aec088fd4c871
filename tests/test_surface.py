"""Every definition in ``ml4logs_spark/`` is reached by a real entry point.

A name-closure scan over the AST: the roots are the names used by
``__spark_entry__.py``, ``bench.py``, ``jobs/``, ``tools/``, the non-test
``perfbench/`` files and the action names of ``configs/*.json``. A
top-level function, class or module-level assignment of the package is
reached once its name is; reaching it adds every name its body uses. A
method is reached when its name is used anywhere reached (dunder methods
ride with their class). The scan is by name, so it over-approximates:
a definition it reports is one that nothing but tests can call.

Run ``python tests/test_surface.py`` to print the unreached definitions.
"""

from __future__ import annotations

import ast
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PACKAGE = REPO / "ml4logs_spark"


def _root_files() -> list[Path]:
    files = [REPO / "__spark_entry__.py", REPO / "bench.py"]
    for d in ("jobs", "tools", "perfbench"):
        files += sorted(
            p for p in (REPO / d).glob("*.py") if not p.name.startswith("test_")
        )
    return files


def _names(node: ast.AST) -> set[str]:
    """Every identifier ``node`` uses: names, attributes, imported names."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            out.update(a.name for a in n.names)
    return out


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def _is_method(node: ast.AST) -> bool:
    return isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) \
        and not _is_dunder(node.name)


def scan() -> list[str]:
    """Unreached definitions as ``module:qualname``, sorted."""
    bodies: dict[str, list[ast.AST]] = {}  # name -> the nodes it reaches
    checked: list[tuple[str, str]] = []  # (name, module:qualname)
    roots: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        mod = path.relative_to(REPO).with_suffix("").as_posix().replace("/", ".")
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                bodies.setdefault(node.name, []).append(node)
                checked.append((node.name, f"{mod}:{node.name}"))
            elif isinstance(node, ast.ClassDef):
                # the class carries its bases, attributes and dunders;
                # each other method is reached by its own name
                bodies.setdefault(node.name, []).extend(
                    [*node.bases, *node.decorator_list]
                    + [m for m in node.body if not _is_method(m)])
                checked.append((node.name, f"{mod}:{node.name}"))
                for m in filter(_is_method, node.body):
                    bodies.setdefault(m.name, []).append(m)
                    checked.append((m.name, f"{mod}:{node.name}.{m.name}"))
            elif isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    for n in ast.walk(t):
                        if isinstance(n, ast.Name):
                            bodies.setdefault(n.id, []).append(node)
            elif not isinstance(node, (ast.Import, ast.ImportFrom)):
                roots |= _names(node)  # runs on import
    for path in _root_files():
        roots |= _names(ast.parse(path.read_text()))
    for cfg in sorted((REPO / "configs").glob("*.json")):
        roots.update(s["action"] for s in json.loads(cfg.read_text())["pipeline"])

    reached: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            for node in bodies.get(name, ()):
                todo.extend(_names(node) - reached)
    return sorted(q for name, q in checked if name not in reached)


def test_every_definition_is_reached():
    unreached = scan()
    assert not unreached, (
        "definitions no entry point reaches (wire them into a real path "
        "or delete them with their tests):\n  " + "\n  ".join(unreached)
    )


def test_no_script_shadows_a_stdlib_module():
    """A script's directory comes first on ``sys.path``, so a
    ``tools/profile.py`` would be what ``import pyspark`` gets for the
    stdlib ``profile`` (via cProfile) in every tool run from there."""
    shadows = sorted(
        p.relative_to(REPO).as_posix() for d in ("", "jobs", "tools", "perfbench")
        for p in (REPO / d).glob("*.py") if p.stem in sys.stdlib_module_names
    )
    assert not shadows


if __name__ == "__main__":
    for q in scan():
        print(q)

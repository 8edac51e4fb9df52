"""Entry-file lint (duplicate symbol definitions and duplicate dict keys)
plus an engine-wide unreferenced-definition check.

VERDICT r4 item 3: a second ``def _q_stay_points`` silently shadowed the
first, dropping the grid stay-point query from the certified surface, and
``queries()`` carried the same dict key twice (last wins, first vanished).
This lint makes both failure modes a hard gate error:

  * F811-style: any module-level ``def``/``class`` name bound more than
    once in ``__spark_entry__.py``.
  * Duplicate literal keys in any dict literal (covers the ``queries()``
    and ``oracle_sql()`` return dicts).
  * Unreferenced definitions: a module-level ``def``/``class`` in
    ``geo_spark/`` that no AST ``Name``, ``Attribute`` or import alias
    names anywhere in the engine, the entry file, ``scripts/``,
    ``tests/``, ``bench.py`` or ``perfbench/`` (references inside the
    definition's own body do not count).

Usage: python3 scripts/lint_entry.py [path ...]   (default __spark_entry__.py)
The unreferenced-definition check always runs over the whole repo.
Exit 0 = clean, 1 = violations printed.
"""

from __future__ import annotations

import ast
import glob
import os
import sys
from collections import Counter

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def lint_file(path: str) -> list[str]:
    src = open(path).read()
    tree = ast.parse(src, filename=path)
    errors: list[str] = []

    # Module-level redefinitions (def/class only; plain assignments of the
    # same name, e.g. conditional fallbacks, are allowed).
    seen: dict[str, int] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if node.name in seen:
                errors.append(
                    f"{path}:{node.lineno}: F811 redefinition of "
                    f"'{node.name}' (first defined at line {seen[node.name]})"
                )
            else:
                seen[node.name] = node.lineno

    # Duplicate literal keys in dict literals anywhere in the file.
    for node in ast.walk(tree):
        if isinstance(node, ast.Dict):
            keys = [
                k.value
                for k in node.keys
                if isinstance(k, ast.Constant) and isinstance(k.value, (str, int))
            ]
            for key, n in Counter(keys).items():
                if n > 1:
                    errors.append(
                        f"{path}:{node.lineno}: duplicate dict key "
                        f"{key!r} appears {n} times"
                    )
    return errors


def _ref_name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    if isinstance(node, ast.alias):
        return node.name.rsplit(".", 1)[-1]
    return None


def unreferenced_defs(root: str = ROOT) -> list[str]:
    """Module-level defs/classes in geo_spark/ that nothing names."""
    engine = sorted(glob.glob(os.path.join(root, "geo_spark", "**", "*.py"), recursive=True))
    users = [os.path.join(root, "__spark_entry__.py"), os.path.join(root, "bench.py")]
    for d in ("scripts", "tests", "perfbench"):
        users += sorted(glob.glob(os.path.join(root, d, "*.py")))
    defs = []  # (path, node)
    refs: dict[str, list[tuple[str, int]]] = {}
    for path in engine + [u for u in users if os.path.exists(u)]:
        tree = ast.parse(open(path).read(), filename=path)
        if path in engine:
            defs += [
                (path, n)
                for n in tree.body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            ]
        for n in ast.walk(tree):
            name = _ref_name(n)
            if name:
                refs.setdefault(name, []).append((path, getattr(n, "lineno", 0)))
    errors = []
    for path, d in defs:
        if not any(
            p != path or not d.lineno <= line <= d.end_lineno
            for p, line in refs.get(d.name, [])
        ):
            errors.append(
                f"{os.path.relpath(path, root)}:{d.lineno}: unreferenced "
                f"definition '{d.name}'"
            )
    return errors


def main() -> int:
    paths = sys.argv[1:] or [os.path.join(ROOT, "__spark_entry__.py")]
    errors: list[str] = []
    for p in paths:
        errors.extend(lint_file(p))
    errors.extend(unreferenced_defs())
    for e in errors:
        print(e)
    print(f"lint_entry: {len(errors)} violation(s) in {len(paths)} file(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main())

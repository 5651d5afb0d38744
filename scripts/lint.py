"""Zero-dependency lint gate — the local equivalent of the flake8 run in
CI (this container has no flake8; CI installs it, contributors can run
``pre-commit run -a``). Checks are matched to ``.flake8`` plus the
project's own invariants. Exit 0 == clean. Run:  python scripts/lint.py
"""

from __future__ import annotations

import ast
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MAX_LINE = 100
# Directories holding first-party python worth linting.
SCOPES = ["dask_glm_spark", "tests", "examples", "scripts", "glmbench"]
TOP_FILES = ["bench.py", "__spark_entry__.py", "setup.py"]


def iter_files():
    for top in TOP_FILES:
        p = os.path.join(ROOT, top)
        if os.path.exists(p):
            yield p
    for scope in SCOPES:
        for dirpath, dirnames, filenames in os.walk(os.path.join(ROOT, scope)):
            dirnames[:] = [d for d in dirnames if d != "__pycache__"]
            for f in sorted(filenames):
                if f.endswith(".py"):
                    yield os.path.join(dirpath, f)


def _used_names(tree: ast.AST) -> set[str]:
    used: set[str] = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used.add(node.id)
        elif isinstance(node, ast.Attribute):
            # a.b.c marks 'a' used; the Name child covers that already
            pass
    return used


def _guarded(node: ast.stmt, tree: ast.Module) -> bool:
    """Import inside try/except (optional-dependency guard) — exempt."""
    for t in ast.walk(tree):
        if isinstance(t, ast.Try):
            for child in ast.walk(t):
                if child is node:
                    return True
    return False


def check_file(path: str) -> list[str]:
    rel = os.path.relpath(path, ROOT)
    problems: list[str] = []
    with open(path, encoding="utf-8") as fh:
        src = fh.read()
    lines = src.splitlines()

    # --- syntax (the floor) ---
    try:
        tree = ast.parse(src, filename=rel)
    except SyntaxError as exc:
        return [f"{rel}:{exc.lineno}: E999 syntax error: {exc.msg}"]

    def waived(line: str, code: str) -> bool:
        # standard flake8 semantics: bare `# noqa` waives everything on
        # the line, `# noqa: E501,F401` waives the listed codes
        if "# noqa" not in line:
            return False
        tail = line.split("# noqa", 1)[1]
        return not tail.lstrip().startswith(":") or code in tail

    # --- physical-line checks ---
    for i, line in enumerate(lines, 1):
        if len(line) > MAX_LINE and not waived(line, "E501"):
            problems.append(f"{rel}:{i}: E501 line too long ({len(line)} > {MAX_LINE})")
        if "\t" in line:
            problems.append(f"{rel}:{i}: W191 tab character")
        if line != line.rstrip():
            problems.append(f"{rel}:{i}: W291 trailing whitespace")

    # --- unused imports (F401), module level only; try/except-guarded,
    # __init__ re-exports, and __all__ members are exempt ---
    is_init = os.path.basename(path) == "__init__.py"
    dunder_all: set[str] = set()
    for node in tree.body:
        if (
            isinstance(node, ast.Assign)
            and any(isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets)
            and isinstance(node.value, (ast.List, ast.Tuple))
        ):
            dunder_all = {
                e.value for e in node.value.elts if isinstance(e, ast.Constant)
            }
    if not is_init:
        used = _used_names(tree)
        # names referenced inside docstring doctests or strings are not
        # tracked — acceptable for this codebase (no doctests).
        for node in tree.body:
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                if isinstance(node, ast.ImportFrom) and node.module == "__future__":
                    continue
                for alias in node.names:
                    if alias.name == "*":
                        continue
                    bound = (alias.asname or alias.name).split(".")[0]
                    if bound in dunder_all or bound.startswith("_"):
                        continue
                    if bound not in used and not _guarded(node, tree):
                        problems.append(
                            f"{rel}:{node.lineno}: F401 '{alias.name}' imported but unused"
                        )

    # --- bare except (E722) ---
    for node in ast.walk(tree):
        if isinstance(node, ast.ExceptHandler) and node.type is None:
            problems.append(f"{rel}:{node.lineno}: E722 bare except")

    # --- project invariants (engine rules, not style; bounded-collect
    # discipline is a review rule — CONTRIBUTING.md — not lintable) ---
    if rel.startswith("dask_glm_spark" + os.sep):
        for i, line in enumerate(lines, 1):
            code = line.split("#", 1)[0]
            if "F.udf(" in code or "functions.udf(" in code:
                problems.append(
                    f"{rel}:{i}: X100 row-at-a-time F.udf is banned — use "
                    "mapInPandas/mapInArrow/pandas_udf (Arrow-batched)"
                )
    return problems


def main() -> int:
    all_problems: list[str] = []
    n = 0
    for path in iter_files():
        n += 1
        all_problems.extend(check_file(path))
    for p in all_problems:
        print(p)
    print(f"lint: {n} files checked, {len(all_problems)} problems", file=sys.stderr)
    return 1 if all_problems else 0


if __name__ == "__main__":
    raise SystemExit(main())

#!/usr/bin/env python
"""Caller scan: package functions and options that no program path uses.

Usage: python tools/caller_scan.py [REPO_ROOT]

The program is every Python file under ``h3_indexer_spark/`` (the CLI
and the query keys included), ``tools/``, ``perfbench/`` and
``examples/`` (notebook code cells too), plus ``__spark_entry__.py``
and ``bench.py``; ``tests/`` is not. A reference is a name or an
attribute in the syntax tree, so names in strings and docstrings do not
count, and neither does a function naming itself inside its own body.

Prints two lists:

- module-level public functions of the package with no program
  reference, with their line counts;
- defaulted parameters of referenced package functions that no program
  call passes, by keyword or by position. A call through ``*args`` or
  ``**kwargs`` counts as passing everything. Parameters whose default
  is a bool, a string or None (the switches and modes) carry ``*``.
"""

from __future__ import annotations

import ast
import json
import sys
from collections import defaultdict
from pathlib import Path


def program_sources(root: Path) -> dict[Path, ast.Module]:
    files = [p for d in ("h3_indexer_spark", "tools", "perfbench", "examples")
             for p in sorted((root / d).rglob("*")) if "_work" not in p.parts]
    files += [root / "__spark_entry__.py", root / "bench.py"]
    trees = {}
    for p in files:
        if p.suffix == ".py" and p.exists():
            trees[p] = ast.parse(p.read_text())
        elif p.suffix == ".ipynb":
            cells = json.loads(p.read_text())["cells"]
            code = "\n".join("".join(c["source"]) for c in cells
                             if c["cell_type"] == "code")
            trees[p] = ast.parse("\n".join(
                ln for ln in code.splitlines()
                if not ln.lstrip().startswith(("%", "!"))))
    return trees


def main(root: Path) -> None:
    trees = program_sources(root)
    pkg = root / "h3_indexer_spark"
    defs = defaultdict(list)  # name -> [(path, FunctionDef)]
    for p, t in trees.items():
        if pkg in p.parents:
            for n in t.body:
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    defs[n.name].append((p, n))
    refs = defaultdict(int)
    calls = defaultdict(list)
    for p, t in trees.items():
        alias = {a.asname: a.name for n in ast.walk(t)
                 if isinstance(n, ast.ImportFrom) for a in n.names if a.asname}
        own = {n.name: (n.lineno, n.end_lineno) for n in t.body
               if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))}
        for n in ast.walk(t):
            if isinstance(n, ast.Name):
                name = alias.get(n.id, n.id)
            elif isinstance(n, ast.Attribute):
                name = n.attr
            else:
                continue
            if name not in defs:
                continue
            lo, hi = own.get(name, (0, -1))
            if lo <= n.lineno <= hi:
                continue  # a function naming itself
            refs[name] += 1
        for n in ast.walk(t):
            if isinstance(n, ast.Call):
                f = n.func
                name = (alias.get(f.id, f.id) if isinstance(f, ast.Name)
                        else getattr(f, "attr", None))
                if name in defs:
                    calls[name].append(n)

    print("## public functions with no program reference")
    total = 0
    for name, ds in sorted(defs.items()):
        if not name.startswith("_") and not refs[name]:
            for p, n in ds:
                total += n.end_lineno - n.lineno + 1
                print(f"{p.relative_to(root)}:{n.lineno} {name} "
                      f"({n.end_lineno - n.lineno + 1} lines)")
    print(f"total {total} lines\n")

    print("## defaulted parameters no program call passes (* = switch/mode)")
    for name, ds in sorted(defs.items()):
        if not refs[name]:
            continue
        cs = calls[name]
        if any(k.arg is None for c in cs for k in c.keywords) or any(
                isinstance(x, ast.Starred) for c in cs for x in c.args):
            continue
        passed = {k.arg for c in cs for k in c.keywords}
        npos = max((len(c.args) for c in cs), default=0)
        for p, n in ds:
            a = n.args
            pos = a.posonlyargs + a.args
            opts = [(x, d, i) for i, (x, d) in enumerate(
                zip(pos[len(pos) - len(a.defaults):], a.defaults),
                start=len(pos) - len(a.defaults))]
            opts += [(x, d, None) for x, d in zip(a.kwonlyargs, a.kw_defaults)
                     if d is not None]
            unset = [
                x.arg + ("*" if isinstance(d, ast.Constant) and (
                    d.value is None or isinstance(d.value, (bool, str)))
                    else "")
                for x, d, i in opts
                if x.arg not in passed and (i is None or i >= npos)]
            if unset:
                print(f"{p.relative_to(root)}:{n.lineno} {name}: "
                      f"{', '.join(unset)}")


if __name__ == "__main__":
    main(Path(sys.argv[1] if len(sys.argv) > 1 else ".").resolve())

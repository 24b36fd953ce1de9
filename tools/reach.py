"""Static reachability of karta_spark's top-level symbols, traced by name.

    python tools/reach.py            # this checkout
    python tools/reach.py DIR        # another checkout

Every top-level def, class and assignment in ``karta_spark/**/*.py`` is a
symbol with a line span.  Reach is traced from two root sets:

- *contract roots*: the q01-q50 entries of ``__spark_entry__.queries()``
  and ``oracle_sql()``, ``entry``, and every name in ``bench.py``,
  ``scripts/run_pipeline.py`` and ``perfbench/`` (a reference to
  ``queries`` or ``oracle_sql`` reaches only their q01-q50 entries);
- *all roots*: the contract roots plus every name in ``tests/``,
  ``tools/``, ``bench_extra.py`` and the whole of ``__spark_entry__.py``.

For every symbol the contract roots do not reach, the tool prints its
module, line count and a tag: ``test-only`` when all roots reach it,
``dead`` when nothing does.  Two totals close the output.

The trace is by name, not by binding: a reached name reaches every symbol
of that name in any module, and an attribute ``x.name`` reaches ``name``
whatever ``x`` is.  A shared name therefore counts as reached, so the
tool can over-count reach but never reports live code as unreached.
From-imports are resolved through their ``as`` aliases.  A string
constant that names a ``karta_spark.*`` module (such as the
``karta_spark.worker_daemon`` that Spark's config names in
``session.py``) makes that whole module a root.  Module-level statements
that define no symbol (``try``/``if`` blocks, asserts) run on import and
so are roots too.  Dunder names such as ``__all__`` are not symbols.

Only the stdlib ``ast`` module is used: nothing is imported or run.
"""

from __future__ import annotations

import ast
import re
import sys
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "karta_spark"
ENTRY = "__spark_entry__.py"
GATE_WINDOW = 50  # the contract gates are q01-q50
# the gate tables: traced only through their q01-q50 entries, so that a
# root which merely looks a gate up (bench.py) does not reach all 120
GATE_TABLES = ("queries", "oracle_sql")
CONTRACT_FILES = ("bench.py", "scripts/run_pipeline.py", "perfbench")
EXTRA_FILES = ("tests", "tools", "bench_extra.py")


@dataclass
class Symbol:
    module: str
    name: str
    first: int = 0
    lines: set[int] = field(default_factory=set)
    refs: set[str] = field(default_factory=set)
    modules: set[str] = field(default_factory=set)


def _is_dunder(name: str) -> bool:
    return name.startswith("__") and name.endswith("__")


def _aliases(tree: ast.Module) -> dict[str, str]:
    """``as`` name -> imported name, for every from-import in the file."""
    out = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            for a in node.names:
                if a.asname:
                    out[a.asname] = a.name
    return out


def _refs(nodes, aliases: dict[str, str], modules: set[str]) -> tuple[set[str], set[str]]:
    """Names (and ``karta_spark.*`` modules named by string) in *nodes*."""
    names, mods = set(), set()
    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.Name):
                names.add(aliases.get(node.id, node.id))
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.ImportFrom):
                names.update(a.name for a in node.names)
            elif isinstance(node, ast.Constant) and isinstance(node.value, str):
                if node.value in modules:
                    mods.add(node.value)
    return names, mods


def _targets(stmt: ast.stmt) -> list[str]:
    """Names a top-level assignment binds or mutates (``x[i] = ...`` too)."""
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, (ast.AnnAssign, ast.AugAssign)):
        targets = [stmt.target]
    else:
        return []
    out = []
    for t in targets:
        for node in ast.walk(t):
            if isinstance(node, ast.Name):
                out.append(node.id)
    return out


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(encoding="utf-8"), filename=str(path))


def _module_name(root: Path, path: Path) -> str:
    parts = list(path.relative_to(root).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _symbols(module: str, tree: ast.Module, modules: set[str]):
    """(symbols by name, refs and module refs of the free statements)."""
    aliases = _aliases(tree)
    syms: dict[str, Symbol] = {}
    free = []
    for stmt in tree.body:
        if isinstance(stmt, (ast.Import, ast.ImportFrom)):
            continue
        if isinstance(stmt, ast.Expr) and isinstance(stmt.value, ast.Constant):
            continue  # docstring
        if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names = [stmt.name]
            start = min([stmt.lineno] + [d.lineno for d in stmt.decorator_list])
        else:
            targets = _targets(stmt)
            names = [n for n in targets if not _is_dunder(n)]
            start = stmt.lineno
            if not names:
                if not targets:
                    free.append(stmt)
                continue
        refs, mods = _refs([stmt], aliases, modules)
        for name in names:
            s = syms.setdefault(name, Symbol(module, name, first=start))
            s.lines.update(range(start, stmt.end_lineno + 1))
            s.refs |= refs - {name}
            s.modules |= mods
    return syms, _refs(free, aliases, modules)


def _gate_roots(tree: ast.Module, modules: set[str]) -> tuple[set[str], set[str]]:
    """``entry`` plus the refs of the q01-q50 values of ``queries()`` and
    ``oracle_sql()``."""
    aliases = _aliases(tree)
    values = []
    for stmt in tree.body:
        if isinstance(stmt, ast.FunctionDef) and stmt.name in GATE_TABLES:
            for node in ast.walk(stmt):
                if isinstance(node, ast.Dict):
                    for k, v in zip(node.keys, node.values):
                        m = re.match(r"q(\d+)_", getattr(k, "value", "") or "")
                        if m and int(m.group(1)) <= GATE_WINDOW:
                            values.append(v)
    names, mods = _refs(values, aliases, modules)
    return names | {"entry"}, mods


def _files(root: Path, entries) -> list[Path]:
    out = []
    for e in entries:
        p = root / e
        out.extend(sorted(p.rglob("*.py")) if p.is_dir() else [p] if p.is_file() else [])
    # this tool is not a root: its own names would mask dead symbols
    return [p for p in out if p.resolve() != Path(__file__).resolve()]


def _trace(by_name, members, start_names, start_modules) -> set[str]:
    """Names reached from *start_names* and from every symbol of the
    *start_modules* (*members*: module -> its symbol names)."""
    reached, done = set(), set()
    names, mods = list(start_names), list(start_modules)
    while names or mods:
        while mods:
            m = mods.pop()
            if m not in done:
                done.add(m)
                names.extend(members.get(m, ()))
        while names:
            n = names.pop()
            if n in reached:
                continue
            reached.add(n)
            for s in by_name.get(n, ()):
                names.extend(s.refs)
                mods.extend(s.modules)
    return reached


def summary(root: Path = ROOT) -> dict:
    """Trace *root* and return ``{"symbols": [...], "unreached_lines",
    "dead_lines"}``; each symbol is ``(module, name, first line, lines,
    "test-only" | "dead")``, in module and line order.  A line that two
    symbols share (``a, b = ...``) counts once in the totals."""
    root = Path(root)
    paths = {_module_name(root, p): p for p in sorted((root / PACKAGE).rglob("*.py"))}
    modules = set(paths)
    by_name: dict[str, list[Symbol]] = defaultdict(list)
    members, free = {}, []
    package_syms = []
    for mod, path in paths.items():
        syms, refs = _symbols(mod, _parse(path), modules)
        members[mod] = list(syms)
        package_syms.extend(syms.values())
        free.append(refs)
    entry_tree = _parse(root / ENTRY) if (root / ENTRY).is_file() else ast.Module([], [])
    entry_syms, refs = _symbols("__spark_entry__", entry_tree, modules)
    free.append(refs)
    gates = [s for s in entry_syms.values() if s.name not in GATE_TABLES]
    for s in package_syms + gates:
        by_name[s.name].append(s)

    def file_refs(entries):
        names, mods = set(), set()
        for p in _files(root, entries):
            tree = _parse(p)
            n, m = _refs([tree], _aliases(tree), modules)
            names |= n
            mods |= m
        return names, mods

    gate_names, gate_mods = _gate_roots(entry_tree, modules)
    c_names, c_mods = file_refs(CONTRACT_FILES)
    x_names, x_mods = file_refs(EXTRA_FILES)
    e_names, e_mods = _refs([entry_tree], _aliases(entry_tree), modules)
    always = set().union(*(f[0] for f in free))
    always_mods = set().union(*(f[1] for f in free))

    contract = _trace(by_name, members, gate_names | c_names | always,
                      gate_mods | c_mods | always_mods)
    everything = _trace(by_name, members, contract | x_names | e_names,
                        gate_mods | c_mods | always_mods | x_mods | e_mods)

    symbols, unreached, dead = [], set(), set()
    for s in sorted(package_syms, key=lambda s: (s.module, s.first)):
        if s.name in contract:
            continue
        tag = "test-only" if s.name in everything else "dead"
        symbols.append((s.module, s.name, s.first, len(s.lines), tag))
        lines = {(s.module, n) for n in s.lines}
        unreached |= lines
        if tag == "dead":
            dead |= lines
    return {"symbols": symbols, "unreached_lines": len(unreached),
            "dead_lines": len(dead)}


def main(argv: list[str]) -> int:
    root = Path(argv[0]) if argv else ROOT
    out = summary(root)
    module = None
    for mod, name, first, lines, tag in out["symbols"]:
        if mod != module:
            module = mod
            print(f"{mod.replace('.', '/')}.py")
        print(f"  {lines:6d}  {tag:9s}  {name}  (line {first})")
    n_dead = sum(s[4] == "dead" for s in out["symbols"])
    print(f"contract-unreached: {out['unreached_lines']} lines "
          f"in {len(out['symbols'])} symbols")
    print(f"dead: {out['dead_lines']} lines in {n_dead} symbols")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

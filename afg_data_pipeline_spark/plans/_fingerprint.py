"""Static source fingerprint of every registered query.

A query's fingerprint hashes the ``ast.unparse`` text of its
symbol-level dependency closure: the decorated function (decorator,
hence oracle SQL, included), the same-module top-level names it
uses, and the names reached through intra-package imports (absolute
or relative, at module level or inside a function), followed
transitively. ``module.attr`` reaches only ``attr``; a module object
used any other way reaches the whole module; ``REGISTRY["x"]`` with a
literal key reaches query ``x``'s closure.

It reads source text only (no import, no Spark, no git), so comments
and layout never change it. Both "which queries did this change
touch?" consumers use it: ``__spark_entry__._coverage_order`` against
the generated ``CERTIFIED.json`` (``python tools/check_correctness.py
--refresh-certified``), and ``check_correctness.py --changed-since``
against a git revision.
"""

from __future__ import annotations

import ast
import hashlib
import json
import os
import subprocess
from collections.abc import Iterator, Mapping

PKG = "afg_data_pipeline_spark"
ROOT = os.path.abspath(os.path.join(__file__, "..", "..", ".."))
_REGISTRY = (f"{PKG}.plans.registry", "REGISTRY")
_REGISTER = (f"{PKG}.plans.registry", "register")

# (module, top-level name); (module, None) is the whole module.
Symbol = tuple[str, "str | None"]


class _Module:
    def __init__(self, path: str, src: str) -> None:
        dotted = path.removesuffix(".py").replace("/", ".")
        self.name = dotted.removesuffix(".__init__")
        self.package = (
            self.name if dotted != self.name else self.name.rpartition(".")[0]
        )
        self.defs: dict[str, list[ast.stmt]] = {}
        self.imports: dict[str, Symbol] = {}
        for stmt in ast.parse(src).body:
            if isinstance(stmt, (ast.Import, ast.ImportFrom)):
                self.imports.update(_bindings(stmt, self.package))
            else:
                for name in _bound(stmt):
                    self.defs.setdefault(name, []).append(stmt)


def _bound(stmt: ast.stmt) -> Iterator[str]:
    """Module-level names a top-level statement binds."""
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        yield stmt.name
        return
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, (ast.AnnAssign, ast.AugAssign)):
        targets = [stmt.target]
    else:
        targets = [stmt]
    for target in targets:
        for node in ast.walk(target):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
                yield node.id


def _bindings(
    stmt: ast.Import | ast.ImportFrom, package: str
) -> Iterator[tuple[str, Symbol]]:
    """Local name -> intra-package target of an import. ``from M
    import x`` targets (M, x); ``_Graph.canon`` turns that into the
    submodule M.x when one exists."""
    if isinstance(stmt, ast.Import):
        for alias in stmt.names:
            if alias.asname and alias.name.split(".")[0] == PKG:
                yield alias.asname, (alias.name, None)
            elif alias.name.split(".")[0] == PKG:
                yield PKG, (PKG, None)
        return
    base = stmt.module or ""
    if stmt.level:
        parts = package.split(".")
        head = ".".join(parts[: len(parts) - stmt.level + 1])
        base = f"{head}.{base}" if base else head
    if base.split(".")[0] == PKG:
        for alias in stmt.names:
            yield alias.asname or alias.name, (base, alias.name)


class _Graph:
    def __init__(self, sources: Mapping[str, str]) -> None:
        mods = (_Module(path, src) for path, src in sources.items())
        self.mods = {mod.name: mod for mod in mods}
        self._deps: dict[Symbol, tuple[set[Symbol], set[str]]] = {}
        self._text: dict[Symbol, str] = {}

    def canon(self, sym: Symbol) -> Symbol | None:
        """Follow import re-exports to the defining module; None for
        anything outside the package."""
        mod_name, name = sym
        if name is not None and f"{mod_name}.{name}" in self.mods:
            return (f"{mod_name}.{name}", None)
        mod = self.mods.get(mod_name)
        if mod is not None and name not in mod.defs and name in mod.imports:
            return self.canon(mod.imports[name])
        return None if mod is None else sym

    def deps(self, sym: Symbol) -> tuple[set[Symbol], set[str]]:
        """(symbols, literal REGISTRY keys) that ``sym`` references."""
        if sym not in self._deps:
            self._deps[sym] = self._scan(*sym)
        return self._deps[sym]

    def _scan(self, mod_name: str, name: str | None):
        mod = self.mods[mod_name]
        if name is None:
            members = {(mod_name, n) for n in mod.defs}
            members |= {self.canon(t) for t in mod.imports.values()}
            return members - {None}, set()
        nodes = [n for s in mod.defs.get(name, []) for n in ast.walk(s)]
        local: dict[str, Symbol] = {}
        for node in nodes:
            if isinstance(node, (ast.Import, ast.ImportFrom)):
                local.update(_bindings(node, mod.package))

        def lookup(ident: str) -> Symbol | None:
            if ident in local:
                return self.canon(local[ident])
            if ident in mod.defs:
                return (mod_name, ident)
            if ident in mod.imports:
                return self.canon(mod.imports[ident])
            return None

        def target(expr: ast.expr) -> Symbol | None:
            if isinstance(expr, ast.Name):
                return lookup(expr.id)
            if isinstance(expr, ast.Attribute):
                base = target(expr.value)
                if base is not None and base[1] is None:
                    return self.canon((base[0], expr.attr))
            return None

        syms: set[Symbol] = set()
        keys: set[str] = set()
        covered: set[int] = set()  # module names consumed by .attr
        for node in nodes:
            if id(node) in covered:
                continue
            if isinstance(node, ast.Attribute):
                hit = target(node)
                if hit is not None:
                    syms.add(hit)
                    covered.update(map(id, ast.walk(node.value)))
            elif isinstance(node, ast.Name):
                hit = lookup(node.id)
                if hit is not None and isinstance(node.ctx, ast.Load):
                    syms.add(hit)
            elif (
                isinstance(node, ast.Subscript)
                and isinstance(node.slice, ast.Constant)
                and isinstance(node.slice.value, str)
                and target(node.value) == _REGISTRY
            ):
                keys.add(node.slice.value)
        return syms, keys

    def text(self, sym: Symbol) -> str:
        if sym not in self._text:
            stmts = self.mods[sym[0]].defs.get(sym[1], [])
            self._text[sym] = "\n".join(ast.unparse(s) for s in stmts)
        return self._text[sym]

    def registered(self) -> dict[str, Symbol]:
        """Query name -> its function, for every top-level function
        decorated ``@register("<literal name>", ...)``."""
        out: dict[str, Symbol] = {}
        for mod in self.mods.values():
            for name, stmts in mod.defs.items():
                for stmt in stmts:
                    for deco in getattr(stmt, "decorator_list", ()):
                        if (
                            isinstance(deco, ast.Call)
                            and isinstance(deco.func, ast.Name)
                            and deco.func.id in mod.imports
                            and self.canon(mod.imports[deco.func.id])
                            == _REGISTER
                            and deco.args
                            and isinstance(deco.args[0], ast.Constant)
                        ):
                            out[deco.args[0].value] = (mod.name, name)
        return out


def fingerprints(sources: Mapping[str, str]) -> dict[str, str]:
    """Query name -> 16-hex fingerprint, for every query registered
    in ``sources`` ({'afg_data_pipeline_spark/plans/llm_ops.py':
    source text, ...})."""
    graph = _Graph(sources)
    queries = graph.registered()
    out = {}
    for qname, root in queries.items():
        seen = {root}
        todo = [root]
        while todo:
            syms, keys = graph.deps(todo.pop())
            for nxt in syms | {queries[k] for k in keys if k in queries}:
                if nxt not in seen:
                    seen.add(nxt)
                    todo.append(nxt)
        h = hashlib.sha256()
        for sym in sorted(seen, key=lambda s: (s[0], s[1] or "")):
            h.update(f"{sym[0]}:{sym[1]}\n{graph.text(sym)}\n".encode())
        out[qname] = h.hexdigest()[:16]
    return out


def changed(old: Mapping[str, str], new: Mapping[str, str]) -> set[str]:
    """Queries registered in ``new`` whose fingerprint differs from
    (or is absent in) ``old``."""
    before = fingerprints(old)
    return {q for q, fp in fingerprints(new).items() if before.get(q) != fp}


def tree_sources() -> dict[str, str]:
    """The package's .py sources in the working tree."""
    out = {}
    for dirpath, _dirs, files in os.walk(os.path.join(ROOT, PKG)):
        for fname in files:
            if fname.endswith(".py"):
                full = os.path.join(dirpath, fname)
                rel = os.path.relpath(full, ROOT).replace(os.sep, "/")
                with open(full) as fh:
                    out[rel] = fh.read()
    return out


def _git(*args: str, stdin: bytes | None = None) -> bytes:
    return subprocess.run(
        ["git", *args], cwd=ROOT, input=stdin, capture_output=True, check=True
    ).stdout


def git_sources(rev: str) -> dict[str, str]:
    """The package's .py sources at ``rev``, read with one
    ``git cat-file --batch``."""
    listing = _git("ls-tree", "-r", "--name-only", rev, "--", PKG).decode()
    paths = [p for p in listing.split("\n") if p.endswith(".py")]
    blob = _git(
        "cat-file",
        "--batch",
        stdin="".join(f"{rev}:{p}\n" for p in paths).encode(),
    )
    out = {}
    pos = 0
    for path in paths:
        end = blob.index(b"\n", pos)
        header = blob[pos:end].split()
        if header[-1] == b"missing":
            raise ValueError(f"{rev}:{path} is missing")
        size = int(header[2])
        out[path] = blob[end + 1 : end + 1 + size].decode()
        pos = end + 2 + size
    return out


def certified() -> dict[str, dict[str, str]]:
    """{round: {query: fingerprint}} for the queries of every
    committed CORRECTNESS_<round>.json, at the tree of the commit
    that added the file (the code that driver round ran). Raises
    CalledProcessError or ValueError when that history is absent."""
    out = {}
    for fname in sorted(os.listdir(ROOT)):
        if not (fname.startswith("CORRECTNESS_r") and fname.endswith(".json")):
            continue
        log = _git("log", "--diff-filter=A", "--format=%H", "--", fname)
        if not log.split():
            raise ValueError(f"no commit adds {fname}")
        fps = fingerprints(git_sources(log.split()[0].decode()))
        with open(os.path.join(ROOT, fname)) as fh:
            rows = json.load(fh)
        rnd = fname.removeprefix("CORRECTNESS_").removesuffix(".json")
        out[rnd] = {q: fps[q] for q in sorted(rows) if q in fps}
    return out

"""Mechanized re-certification check (round-4 VERDICT task #4).

The driver's green rows stand across rounds, so a query whose
implementation changed AFTER its last all-true row is running on stale
certification until the driver's 50-slot window reaches it again.  This
script makes a window that skips stale queries a CI failure.

For every registered query:

1. Find its last green round (``__spark_entry__.last_green_rounds``) and
   the commit that added that round's artifact (the driver certifies the
   round's final tree, then the artifact is committed on top of it — so
   that commit's tree IS the certified code).
2. Fingerprint the query's implementation NOW and AT that commit: the
   docstring-stripped AST of the defining function plus everything it
   transitively references — same-module top-level defs/constants AND,
   through ``from .x import y`` header imports, the referenced
   definitions in other package modules (recursively).  Docstring and
   comment edits never flag; any reachable code change does.
3. A query is stale if the fingerprints differ or it has never been
   green.  Exit non-zero when a query that is not stale holds one of the
   first ``WINDOW_SLOTS`` names of ``queries()`` while a stale query sits
   behind them.

Definition-level (not file-level) granularity keeps the stale set to the
queries that actually reach a change: one fix inside a 40-query module
stales the queries that call it, not forty.

Usage: python scripts/check_recert.py   (also run by tests/test_recert.py)
"""

from __future__ import annotations

import ast
import glob
import hashlib
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "bigdataanalytics_textsummarization_spark"
sys.path.insert(0, REPO)

import __spark_entry__ as e  # noqa: E402


def _git(*args: str) -> str:
    return subprocess.run(
        ["git", "-C", REPO, *args],
        check=True,
        capture_output=True,
        text=True,
    ).stdout


def _src_at(commit: str | None, relpath: str) -> str | None:
    if commit is None:
        try:
            with open(os.path.join(REPO, relpath)) as f:
                return f.read()
        except FileNotFoundError:
            return None
    try:
        return _git("show", f"{commit}:{relpath}")
    except subprocess.CalledProcessError:
        return None  # file did not exist at that commit


def _strip_docstrings(node: ast.AST) -> ast.AST:
    for child in ast.walk(node):
        if isinstance(
            child,
            (ast.Module, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef),
        ):
            body = child.body
            if (
                body
                and isinstance(body[0], ast.Expr)
                and isinstance(body[0].value, ast.Constant)
                and isinstance(body[0].value.value, str)
            ):
                child.body = body[1:] or [ast.Pass()]
    return node


def _resolve_relative(modname: str, node: ast.ImportFrom) -> str | None:
    """'a.b.c' + from ..x import y (level=2) -> 'a.x' (None if escapes pkg)."""
    parts = modname.split(".")
    if node.level >= len(parts) + 1:
        return None
    base = parts[: len(parts) - node.level]
    if node.module:
        base = base + node.module.split(".")
    target = ".".join(base)
    return target if target.startswith(PKG) else None


class _ModuleInfo:
    """Parsed view of one module at one commit."""

    def __init__(self, modname: str, src: str):
        self.modname = modname
        tree = ast.parse(src)
        self.defs: dict[str, ast.AST] = {}
        # imported name -> (absolute target module, original name)
        self.imports: dict[str, tuple[str, str]] = {}
        for node in tree.body:
            if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                self.defs[node.name] = node
            elif isinstance(node, ast.Assign):
                for tgt in node.targets:
                    if isinstance(tgt, ast.Name):
                        self.defs[tgt.id] = node
            elif isinstance(node, ast.AnnAssign) and isinstance(
                node.target, ast.Name
            ):
                self.defs[node.target.id] = node
            elif isinstance(node, ast.ImportFrom):
                target = (
                    _resolve_relative(self.modname, node)
                    if node.level
                    else (
                        node.module
                        if node.module and node.module.startswith(PKG)
                        else None
                    )
                )
                if target:
                    for alias in node.names:
                        local = alias.asname or alias.name
                        self.imports[local] = (target, alias.name)


class _Fingerprinter:
    """Cross-module definition-closure hashing at a fixed commit."""

    def __init__(
        self, commit: str | None, preloaded: dict[str, str] | None = None
    ):
        self.commit = commit
        self._mods: dict[str, _ModuleInfo | None] = {}
        for modname, src in (preloaded or {}).items():
            self._mods[modname] = _ModuleInfo(modname, src)

    def module(self, modname: str) -> _ModuleInfo | None:
        if modname not in self._mods:
            src = _src_at(self.commit, modname.replace(".", "/") + ".py")
            if src is None:
                # package: 'from .extensions import x' resolves via __init__
                src = _src_at(
                    self.commit, modname.replace(".", "/") + "/__init__.py"
                )
            self._mods[modname] = (
                _ModuleInfo(modname, src) if src is not None else None
            )
        return self._mods[modname]

    def fingerprint(self, modname: str, name: str) -> str | None:
        root = self.module(modname)
        if root is None:
            return None
        seen: set[tuple[str, str]] = set()
        missing: list[str] = []
        frontier: list[tuple[str, str]] = [(modname, name)]
        while frontier:
            mn, nm = frontier.pop()
            if (mn, nm) in seen:
                continue
            info = self.module(mn)
            if info is None:
                missing.append(f"{mn}:{nm}")
                continue
            if nm in info.imports:
                # re-exported / imported: follow to the defining module
                tmod, tname = info.imports[nm]
                frontier.append((tmod, tname))
                continue
            if nm not in info.defs:
                continue  # builtin / third-party / function-local
            seen.add((mn, nm))
            node = info.defs[nm]
            for child in ast.walk(node):
                if isinstance(child, ast.Name):
                    frontier.append((mn, child.id))
                elif isinstance(child, ast.ImportFrom):
                    # function-local package import: fold the named defs
                    tmod = (
                        _resolve_relative(mn, child)
                        if child.level
                        else child.module
                    )
                    if tmod and tmod.startswith(PKG):
                        for alias in child.names:
                            frontier.append((tmod, alias.name))
        parts = []
        for mn, nm in sorted(seen):
            info = self.module(mn)
            parts.append(f"{mn}:{nm}")
            parts.append(ast.dump(_strip_docstrings(info.defs[nm])))
        parts.extend(sorted(missing))
        return hashlib.sha256("\n".join(parts).encode()).hexdigest()


def closure_like_probe(src: str, name: str) -> str | None:
    """Test seam: closure fingerprint of ``name`` within a standalone
    source string (no git access, no cross-module resolution)."""
    modname = f"{PKG}.__probe__"
    return _Fingerprinter("0" * 40, preloaded={modname: src}).fingerprint(
        modname, name
    )


def last_green_commits() -> dict[str, str]:
    """query -> commit that added its newest green round artifact."""
    # Baseline against the commit that INTRODUCED the round artifact
    # (oldest --diff-filter=A hit), not the newest commit touching it: a
    # post-hoc refresh of an artifact file must not silently re-baseline
    # its queries to a tree they were never re-run on (ADVICE r6 — commit
    # 955acfd did exactly that).  Uncommitted artifacts certify nothing.
    added: dict[str, str] = {}  # artifact path -> commit that added it
    for path in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        rel = os.path.basename(path)
        adds = _git("log", "--diff-filter=A", "--format=%H", "--", rel).split()
        if adds:
            added[path] = adds[-1]
    by_round = {e.artifact_round(p): commit for p, commit in added.items()}
    return {
        name: by_round[rnd] for name, rnd in e.last_green_rounds(added).items()
    }


def stale_queries(
    queries: dict, greens: dict[str, str], now_fp: _Fingerprinter | None = None
) -> dict[str, str]:
    """name -> reason, for each query never certified green or whose
    closure fingerprint (``now_fp``, default the working tree) differs
    from the one at its green commit."""
    now_fp = now_fp or _Fingerprinter(None)
    then_fps: dict[str, _Fingerprinter] = {}
    stale: dict[str, str] = {}
    for name, fn in queries.items():
        commit = greens.get(name)
        if commit is None:
            stale[name] = "never certified green"
            continue
        if commit not in then_fps:
            then_fps[commit] = _Fingerprinter(commit)
        now = now_fp.fingerprint(fn.__module__, fn.__name__)
        then = then_fps[commit].fingerprint(fn.__module__, fn.__name__)
        if then is None or now is None:
            stale[name] = f"unresolvable at green commit {commit[:8]}"
        elif now != then:
            stale[name] = f"closure changed since green {commit[:8]}"
    return stale


def window_violations(
    order: list[str], stale: dict[str, str]
) -> tuple[list[str], list[str]]:
    """(names in the driver window that are not stale, stale names after
    it); the order is wrong when both are non-empty."""
    window = order[: e.WINDOW_SLOTS]
    return (
        [n for n in window if n not in stale],
        [n for n in order[e.WINDOW_SLOTS :] if n in stale],
    )


def main() -> int:
    queries = e.queries()
    order = list(queries)
    stale = stale_queries(queries, last_green_commits())
    fresh_in, stale_out = window_violations(order, stale)
    if fresh_in and stale_out:
        print(
            f"RECERT FAIL: the first {e.WINDOW_SLOTS} of queries() hold "
            "queries that are not stale while stale ones wait behind them"
        )
        print(f"  not stale, in the window ({len(fresh_in)}):", *fresh_in)
        print(f"  stale, outside it ({len(stale_out)}):", *stale_out)
        return 1
    slots = min(e.WINDOW_SLOTS, len(order))
    print(
        f"recert OK: {len(queries)} queries, {len(stale)} stale, "
        f"{slots - len(fresh_in)}/{slots} of the window stale"
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

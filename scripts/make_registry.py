"""Generate REGISTRY.md — the navigable index of every registered query
(VERDICT r15 task 7).

232+ queries across 16 modules outgrew README prose; this script derives
the index from the live registries so it cannot go stale by hand-editing:

- name -> defining module:function (via inspect on the registered
  callable; no line number, so moving code cannot stale the index)
- gate type: SQL (DuckDB value-hash oracle) or rows-only
- last green round (``__spark_entry__.last_green_rounds``, the green rule
  scripts/check_recert.py and queries()' window order share)
- scale-probe tier membership (x10 / x100 / x100-const-density, from
  scripts/scale_probe.py's PROBE lists)

Usage: python scripts/make_registry.py   (rewrites REGISTRY.md in place;
tests/test_registry_index.py fails if the committed file is stale)
"""

from __future__ import annotations

import inspect
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

import __spark_entry__ as entry_mod  # noqa: E402
import scale_probe  # noqa: E402


def render() -> str:
    queries = entry_mod.queries()
    oracles = entry_mod.oracle_sql()
    greens = entry_mod.last_green_rounds()
    x10 = set(scale_probe.PROBE)
    x100 = set(scale_probe.PROBE_X100)
    cd = set(scale_probe.PROBE_CONST_DENSITY)
    staged = set(list(queries)[: entry_mod.WINDOW_SLOTS])

    lines = [
        "# Query registry index",
        "",
        "GENERATED by `python scripts/make_registry.py` — do not edit by",
        "hand (tests/test_registry_index.py pins freshness).  One row per",
        "registered query: where it lives, how it is gated, when the",
        "driver last certified it green, and which scale-probe tiers",
        "cover it (x10 = 10x-replicated sf0.1; x100 adds a decade;",
        "`cd` = the constant-density document replication of",
        "scripts/scale_probe.py PROBE_CONST_DENSITY).  `window` marks the",
        "driver's certification window: the first 50 names of queries(),",
        "oldest last green first.",
        "",
        f"Registered queries: **{len(queries)}** "
        f"(SQL-gated: {sum(1 for n in queries if n in oracles)}, "
        f"rows-only: {sum(1 for n in queries if n not in oracles)})",
        "",
        "| query | defined at | gate | last green | probe tiers | window |",
        "|---|---|---|---|---|---|",
    ]
    for name in sorted(queries):
        fn = queries[name]
        src = os.path.relpath(inspect.getsourcefile(fn), REPO)
        gate = "SQL" if name in oracles else "rows-only"
        green = f"r{greens[name]}" if name in greens else "—"
        tiers = "+".join(
            t
            for t, member in (
                ("x10", name in x10),
                ("x100", name in x100),
                ("cd", name in cd),
            )
            if member
        ) or "—"
        win = "staged" if name in staged else ""
        lines.append(
            f"| {name} | {src}:{fn.__qualname__} | {gate} | {green} | {tiers} | {win} |"
        )
    lines.append("")
    return "\n".join(lines)


def main() -> int:
    out_path = os.path.join(REPO, "REGISTRY.md")
    content = render()
    if len(sys.argv) > 1 and sys.argv[1] == "--check":
        try:
            with open(out_path) as f:
                current = f.read()
        except FileNotFoundError:
            current = ""
        if current != content:
            print("REGISTRY.md is stale: run python scripts/make_registry.py")
            return 1
        print("REGISTRY.md is fresh")
        return 0
    with open(out_path, "w") as f:
        f.write(content)
    print(f"wrote {out_path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())

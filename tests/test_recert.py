"""CI gate for the mechanized re-certification rule (r4 VERDICT task #4):
the driver's window — the first ``WINDOW_SLOTS`` names of ``queries()``,
ordered oldest last green first — must hold only stale queries (never
green, or closure changed since the green) while any stale query is left
outside it.  No Spark needed."""

from __future__ import annotations

import ast
import glob
import importlib.util
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as e  # noqa: E402
from scripts import check_recert  # noqa: E402


@pytest.fixture(scope="module")
def stale():
    return check_recert.stale_queries(
        e.queries(), check_recert.last_green_commits()
    )


def test_no_uncertified_drift():
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "scripts", "check_recert.py")],
        capture_output=True,
        text=True,
        cwd=REPO,
    )
    assert proc.returncode == 0, (
        "the driver window skips stale queries:\n" + proc.stdout + proc.stderr
    )


def test_window_order_from_synthetic_greens():
    greens = {"a": 3, "b": 1, "d": 1, "e": 2}
    assert e.window_order(["e", "d", "c", "b", "a"], greens) == [
        "c",  # never green
        "b",
        "d",  # round 1, alphabetical
        "e",
        "a",
    ]


def test_new_artifact_moves_its_greens_to_the_back(tmp_path):
    paths = glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json"))
    names = list(e.queries())
    front = names[:3]
    nxt = max(e.artifact_round(p) for p in paths) + 1
    art = tmp_path / f"CORRECTNESS_r{nxt}.json"
    ok = {"rows_match": True, "schema_match": True, "hash_match": None}
    art.write_text(
        json.dumps(
            {
                front[0]: ok,
                front[1]: dict(ok, err="timeout"),  # an error is not green
                front[2]: dict(ok, hash_match=False),  # nor is a false flag
            }
        )
    )
    greens = e.last_green_rounds(paths + [str(art)])
    assert greens[front[0]] == nxt
    order = e.window_order(names, greens)
    assert order[-1] == front[0]
    assert order[:2] == front[1:]


def test_line_shift_changes_neither_window_nor_stale_set(
    stale, tmp_path, monkeypatch
):
    """A blank line added to a module moves every definition down a line;
    the window (round artifacts) and the stale set (AST fingerprints) must
    both ignore it."""
    for art in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        os.symlink(art, tmp_path / os.path.basename(art))
    with open(os.path.join(REPO, "__spark_entry__.py")) as f:
        (tmp_path / "__spark_entry__.py").write_text("\n" + f.read())
    monkeypatch.setattr(sys, "path", list(sys.path))  # the copy prepends
    spec = importlib.util.spec_from_file_location(
        "shifted_entry", tmp_path / "__spark_entry__.py"
    )
    shifted_entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(shifted_entry)
    assert list(shifted_entry.queries()) == list(e.queries())

    modname = f"{check_recert.PKG}.pagerank"
    with open(os.path.join(REPO, *modname.split(".")) + ".py") as f:
        shifted = "\n" + f.read()
    qs = {n: fn for n, fn in e.queries().items() if fn.__module__ == modname}
    assert qs
    fp = check_recert._Fingerprinter(None, preloaded={modname: shifted})
    greens = check_recert.last_green_commits()
    assert check_recert.stale_queries(qs, greens, now_fp=fp) == {
        n: why for n, why in stale.items() if n in qs
    }


def _hand_kept_window(registered: set[str]) -> list[str]:
    """The driver window at the last commit whose entry module ordered
    queries() by hand-written name lists: their concatenation, deduped,
    cut to the first ``WINDOW_SLOTS`` registered names."""
    commits = check_recert._git(
        "log", "--format=%H", "--", "__spark_entry__.py"
    ).split()
    for commit in commits:
        src = check_recert._git("show", f"{commit}:__spark_entry__.py")
        lists: dict[str, list[str]] = {}
        concat = None
        for node in ast.parse(src).body:
            if not (
                isinstance(node, ast.Assign)
                and isinstance(node.targets[0], ast.Name)
            ):
                continue
            if isinstance(node.value, ast.List) and all(
                isinstance(x, ast.Constant) and isinstance(x.value, str)
                for x in node.value.elts
            ):
                lists[node.targets[0].id] = ast.literal_eval(node.value)
            elif isinstance(node.value, ast.BinOp) and lists:
                expr = ast.Expression(node.value)
                concat = eval(compile(expr, "<window>", "eval"), {}, lists)
        if concat:
            order = list(dict.fromkeys(n for n in concat if n in registered))
            return order[: e.WINDOW_SLOTS]
    pytest.fail("no commit with a hand-kept window")


def test_gate_rejects_the_hand_kept_window_and_accepts_the_rule(stale):
    names = list(e.queries())
    hand = _hand_kept_window(set(names))
    assert len(hand) == e.WINDOW_SLOTS
    fresh_in, stale_out = check_recert.window_violations(
        hand + [n for n in names if n not in hand], stale
    )
    assert fresh_in and stale_out
    fresh_in, stale_out = check_recert.window_violations(names, stale)
    assert not fresh_in


def test_fingerprint_ignores_docstrings_but_sees_code():
    from scripts.check_recert import closure_like_probe  # type: ignore

    # probe helper defined for this test; see check_recert.py
    a = closure_like_probe("def f(x):\n    'doc'\n    return x + 1\n", "f")
    b = closure_like_probe("def f(x):\n    'other doc'\n    return x + 1\n", "f")
    c = closure_like_probe("def f(x):\n    'doc'\n    return x + 2\n", "f")
    assert a == b
    assert a != c


def test_fingerprint_tracks_same_module_helpers():
    from scripts.check_recert import closure_like_probe  # type: ignore

    base = "K = 3\ndef helper(x):\n    return x * K\ndef f(x):\n    return helper(x)\n"
    const_changed = base.replace("K = 3", "K = 4")
    unrelated = base + "def g():\n    return 9\n"
    assert closure_like_probe(base, "f") != closure_like_probe(
        const_changed, "f"
    )
    # adding an unrelated top-level def must NOT flag f
    assert closure_like_probe(base, "f") == closure_like_probe(unrelated, "f")

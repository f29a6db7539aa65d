"""Lint: no run of 10 or more identical lines is pasted twice in the package.

A shared oracle fragment, constant or plan helper has one home
(``plans/fragments.py`` when two modules use it, a local helper when
one file repeats itself).  This scan finds maximal runs of byte-identical
raw lines, indentation included, that occur at two places in
``big_data_virus_analysis_spark/``.  A run in which more than half the
lines are imports, blank lines, comments or lone closing brackets is
boilerplate and is ignored.

Run ``python tests/test_no_pasted_fragments.py [min_lines]`` to list the
runs the scan finds.
"""
from __future__ import annotations

import ast
import re
import sys
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "big_data_virus_analysis_spark"
MIN_LINES = 10

_TRIVIAL = re.compile(r"\s*(?:$|#|[)\]}]+,?\s*$)")


def _trivial_lines(text: str, lines: list[str]) -> list[bool]:
    """Per line: blank, comment, lone closing bracket, or part of an
    import statement (multi-line ``from x import (...)`` included)."""
    flags = [bool(_TRIVIAL.match(line)) for line in lines]
    for node in ast.walk(ast.parse(text)):
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            for i in range(node.lineno - 1, node.end_lineno):
                flags[i] = True
    return flags


def pasted_runs(min_lines: int = MIN_LINES, root: Path = PACKAGE):
    """Maximal pasted runs of at least ``min_lines`` lines.

    Returns ``{run_lines: [(path, first_line_no), ...]}``: one entry per
    distinct run, with every place it starts (two or more).
    """
    texts = {p: p.read_text() for p in sorted(root.rglob("*.py"))}
    files = {p: text.split("\n") for p, text in texts.items()}
    trivial = {p: _trivial_lines(texts[p], lines) for p, lines in files.items()}
    windows: dict[tuple, list] = {}
    for path, lines in files.items():
        for i in range(len(lines) - min_lines + 1):
            windows.setdefault(tuple(lines[i:i + min_lines]), []).append((path, i))

    runs: dict[tuple, set] = {}
    for places in windows.values():
        if len(places) < 2:
            continue
        for a in range(len(places)):
            pa, ia = places[a]
            la = files[pa]
            for b in range(a + 1, len(places)):
                pb, ib = places[b]
                lb = files[pb]
                # Maximal on the left: the lines before the two places differ.
                if ia > 0 and ib > 0 and la[ia - 1] == lb[ib - 1]:
                    continue
                n = min_lines
                while ia + n < len(la) and ib + n < len(lb) and la[ia + n] == lb[ib + n]:
                    n += 1
                if sum(trivial[pa][ia:ia + n]) * 2 > n:
                    continue
                runs.setdefault(tuple(la[ia:ia + n]), set()).update(
                    {(pa, ia + 1), (pb, ib + 1)}
                )
    return {run: sorted(places) for run, places in runs.items()}


def test_no_pasted_runs_in_package():
    runs = pasted_runs()
    report = [
        f"{len(run)} lines at "
        + ", ".join(f"{p.relative_to(PACKAGE)}:{n}" for p, n in places)
        for run, places in sorted(runs.items(), key=lambda kv: -len(kv[0]))
    ]
    assert not runs, "pasted runs (move them to one definition):\n" + "\n".join(report)


if __name__ == "__main__":
    threshold = int(sys.argv[1]) if len(sys.argv) > 1 else MIN_LINES
    found = pasted_runs(threshold)
    for run, places in sorted(found.items(), key=lambda kv: -len(kv[0])):
        print(len(run), " ".join(f"{p.relative_to(PACKAGE)}:{n}" for p, n in places))
    second = sum(len(run) * (len(places) - 1) for run, places in found.items())
    print(f"{len(found)} runs, {second} second-copy lines")

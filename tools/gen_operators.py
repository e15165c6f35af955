#!/usr/bin/env python
"""Generate ``docs/OPERATORS.md`` from the live registry (r12 verdict
task 7).

266 keys are otherwise discoverable only by reading SURVEY.md §2/§2.12
or the source; this emits one authoritative index — key, oracle kind,
defining module, one-line semantics from the docstring — straight from
``load_all_queries()``, so the survey, ledger and registry cannot drift
without the accompanying test (tests/test_engine.py::
test_operators_md_is_current) failing.

Usage:
    python tools/gen_operators.py          # rewrite docs/OPERATORS.md
    python tools/gen_operators.py --check  # exit 1 if file is stale
"""

from __future__ import annotations

import inspect
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

OUT = os.path.join(REPO, "docs", "OPERATORS.md")


def _first_doc_line(fn) -> str:
    doc = inspect.getdoc(fn) or ""
    line = doc.strip().splitlines()[0].strip() if doc.strip() else ""
    # Keep the table readable; the docstring itself is the full story.
    return (line[:117] + "...") if len(line) > 120 else line


def render() -> str:
    from luxor_db_spark.registry import ORACLES, load_all_queries

    queries = load_all_queries()
    lines = [
        "# Operator index",
        "",
        "GENERATED by `python tools/gen_operators.py` — do not edit by "
        "hand (tests/test_engine.py asserts this file matches the "
        "registry). One row per registered operator key, in the "
        "canonical registry order the driver window rotation is built "
        "from. Oracle kind `SQL` = full rows+schema+value-hash check "
        "against DuckDB; `rows` = rows-only by contract "
        "(non-SQL-expressible semantics).",
        "",
        f"{len(queries)} keys, "
        f"{sum(1 for k in queries if k in ORACLES)} SQL-checked, "
        f"{sum(1 for k in queries if k not in ORACLES)} rows-only.",
        "",
        "| key | oracle | where | semantics |",
        "|---|---|---|---|",
    ]
    for key, fn in queries.items():
        # Module only, no line number: an edit that shifts lines must not
        # make the committed index stale.
        where = f"`{fn.__module__}`"
        kind = "SQL" if key in ORACLES else "rows"
        desc = _first_doc_line(fn).replace("|", "\\|")
        lines.append(f"| `{key}` | {kind} | {where} | {desc} |")
    lines.append("")
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    content = render()
    if "--check" in argv:
        try:
            with open(OUT) as fh:
                current = fh.read()
        except OSError:
            current = ""
        if current != content:
            print(f"{OUT} is stale — run: python tools/gen_operators.py")
            return 1
        print(f"{OUT} is current")
        return 0
    with open(OUT, "w") as fh:
        fh.write(content)
    print(f"wrote {OUT}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))

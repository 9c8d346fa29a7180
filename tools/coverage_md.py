"""Generate / verify COVERAGE.md — the registry's query table.

One row per registry query, in registration order, so the table can
never drift from ``queries/registry.py``. Row summaries come from each
spec's doc (first sentence-ish chunk, pipe-escaped).

Usage:
    python tools/coverage_md.py           # (re)write COVERAGE.md
    python tools/coverage_md.py --check   # exit 1 if COVERAGE.md stale
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from data_warehouse_spark.queries.registry import load_all  # noqa: E402

HEADER = """\
# COVERAGE — SURVEY.md §2 operator inventory -> implementation map

<!-- GENERATED by tools/coverage_md.py — do not edit by hand;
`python tools/coverage_md.py` regenerates, `--check` fails on drift. -->

One row per query in the live registry
(`data_warehouse_spark/queries/registry.py`), in registration order.
Every row is checked by `tests/test_parity.py`, which is part of the
default pytest run: it runs the query on Spark at sf0.01 and compares
the result with its DuckDB oracle's over the same fixture tables (row
count, column names, and order-insensitive values, floats bit-exact;
`tools/parity.py`). Check one row with
`pytest tests/test_parity.py -k <registry ID>`."""


def summarize(doc: str, limit: int = 220) -> str:
    text = " ".join(doc.split()).replace("|", "\\|")
    return text if len(text) <= limit else text[: limit - 2] + " …"


def generate() -> str:
    rows = ["| # | registry ID | correctness check | summary |",
            "|---|---|---|---|"]
    specs = load_all()
    n_oracle = 0
    for i, (name, spec) in enumerate(specs.items(), 1):
        check = "DuckDB oracle" if spec.oracle else "none"
        n_oracle += spec.oracle is not None
        rows.append(f"| {i} | {name} | {check} | {summarize(spec.doc)} |")
    total = f"Total: {len(specs)} queries, {n_oracle} with DuckDB oracles."
    return HEADER + "\n\n" + "\n".join(rows) + "\n\n" + total + "\n"


def main() -> int:
    text = generate()
    target = REPO / "COVERAGE.md"
    if "--check" in sys.argv:
        if not target.exists() or target.read_text() != text:
            print("COVERAGE.md is stale — run tools/coverage_md.py",
                  file=sys.stderr)
            return 1
        print("COVERAGE.md up to date")
        return 0
    target.write_text(text)
    print(f"wrote {target}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Generate / verify OPERATORS.md — the consumable index of the public
operator library (round-13, VERDICT r12 ask #8).

Everything mechanical is EXTRACTED from source so it cannot rot:
signature (ast), contract (first docstring paragraph), used-by
(registry query modules whose code names the function), tested-in
(test files whose code names it). tests/test_generated_docs.py fails
when OPERATORS.md differs from what this tool generates.

Usage:
    python tools/operators_md.py           # (re)write OPERATORS.md
    python tools/operators_md.py --check   # exit 1 if OPERATORS.md stale
"""

from __future__ import annotations

import ast
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = REPO / "data_warehouse_spark"

# Modules whose public functions form the operator library, then the
# scalar expression helpers in functions/*.
MODULES = [
    "operators/bucketing.py", "operators/chunking.py",
    "operators/dedup.py", "operators/graph.py",
    "operators/joins.py", "operators/maintenance.py", "operators/merge.py",
    "operators/multimodal.py", "operators/sampling.py",
    "operators/sessionize.py", "operators/similarity.py",
    "operators/skew.py", "operators/snapshots.py", "operators/spatial.py",
    "operators/validation.py", "streaming/jobs.py",
    "functions/colref.py", "functions/geo.py", "functions/png.py",
    "functions/text.py", "functions/timeutils.py",
]


def _sig(fn: ast.FunctionDef) -> str:
    try:
        a = fn.args
        parts = []
        pos = a.posonlyargs + a.args
        defaults = [None] * (len(pos) - len(a.defaults)) + list(a.defaults)
        for arg, d in zip(pos, defaults):
            parts.append(arg.arg if d is None
                         else f"{arg.arg}={ast.unparse(d)}")
        if a.vararg:
            parts.append("*" + a.vararg.arg)
        for arg, d in zip(a.kwonlyargs, a.kw_defaults):
            parts.append(arg.arg if d is None
                         else f"{arg.arg}={ast.unparse(d)}")
        if a.kwarg:
            parts.append("**" + a.kwarg.arg)
        return f"{fn.name}({', '.join(parts)})"
    except Exception:
        return fn.name + "(...)"


def _contract(fn: ast.FunctionDef) -> str:
    doc = ast.get_docstring(fn) or ""
    para = doc.split("\n\n")[0].replace("\n", " ").strip()
    return (para[:240] + "…") if len(para) > 240 else para


def _public_fns(path: Path) -> list[ast.FunctionDef]:
    tree = ast.parse(path.read_text())
    return [n for n in tree.body if isinstance(n, ast.FunctionDef)
            and not n.name.startswith("_")]


def _identifiers(path: Path) -> set[str]:
    """Every name the module's code uses: variables, attributes and
    imported names (comments and strings do not count)."""
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Name):
            names.add(node.id)
        elif isinstance(node, ast.Attribute):
            names.add(node.attr)
        elif isinstance(node, ast.alias):
            names.update(node.name.split("."))
            if node.asname:
                names.add(node.asname)
    return names


def generate() -> str:
    queries = {p.stem: _identifiers(p)
               for p in (PKG / "queries").glob("*.py")}
    tests = {p.name: _identifiers(p)
             for p in (REPO / "tests").glob("test_*.py")}

    out = [
        "# OPERATORS — the public operator library",
        "",
        "<!-- GENERATED by tools/operators_md.py — do not edit by "
        "hand; `python tools/operators_md.py` regenerates, "
        "`--check` fails on drift. -->",
        "",
        "One entry per public function: signature, contract (first "
        "docstring paragraph), and where it is exercised (registry "
        "query modules / test files whose code names it — extracted, "
        "so the pointers cannot rot).",
        "",
    ]
    for rel in MODULES:
        path = PKG / rel
        out.append(f"## {rel}")
        out.append("")
        for fn in _public_fns(path):
            used = sorted(q for q, ids in queries.items()
                          if fn.name in ids)
            tst = sorted(t for t, ids in tests.items() if fn.name in ids)
            out.append(f"### `{_sig(fn)}`")
            c = _contract(fn)
            if c:
                out.append(f"{c}")
            if used:
                out.append(f"- **Used by queries/:** {', '.join(used)}")
            if tst:
                out.append(f"- **Tests:** {', '.join(tst)}")
            out.append("")
    return "\n".join(out) + "\n"


def main() -> int:
    text = generate()
    target = REPO / "OPERATORS.md"
    if "--check" in sys.argv:
        if not target.exists() or target.read_text() != text:
            print("OPERATORS.md is stale — run tools/operators_md.py",
                  file=sys.stderr)
            return 1
        print(f"OPERATORS.md up to date "
              f"({text.count(chr(10) + '### ')} operators indexed)")
        return 0
    target.write_text(text)
    print(f"wrote OPERATORS.md ({text.count(chr(10) + '### ')} operators)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

"""Dump `.explain("formatted")` for registry queries to files.

Usage: python tools/dump_plans.py --out OUT --suffix before [--sf SF_DIR] Q [Q...]

Writes OUT/<query>_<suffix>.txt for each query, so a plan change can be
diffed before and after an edit.
"""

from __future__ import annotations

import argparse
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from data_warehouse_spark.queries.registry import load_all  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--out", required=True)
    ap.add_argument("--suffix", required=True)
    ap.add_argument("queries", nargs="+")
    args = ap.parse_args()

    specs = load_all()
    out_dir = Path(args.out)
    out_dir.mkdir(parents=True, exist_ok=True)

    from data_warehouse_spark.session import get_spark  # noqa: E402
    spark = get_spark("dump_plans")
    for name in args.queries:
        df = specs[name].fn(spark, args.sf)
        # _sc / _jdf internals are stable across Spark 3.x/4.x and are
        # the only way to capture explain() output without stdout games
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted")
        path = out_dir / f"{name}_{args.suffix}.txt"
        path.write_text(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

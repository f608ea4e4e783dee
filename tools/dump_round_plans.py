"""Dump `.explain("formatted")` for registry entries into
plans/<round>/<name>_<tag>.txt (tag = before/after, say).

Usage: python tools/dump_round_plans.py <round> <tag> <sf_dir> [entry ...]

With no entry names every registry entry is dumped.  Plans are captured
pre-execution — a change's evidence files: Exchange count, join
strategy, PushedFilters/ReadSchema, codegen spans, Arrow/Python nodes.
Session counters (expression ``#N``, ``plan_id=N``, ``RDD[N]``, the
``spark-warehouse-<pid>`` dir) differ between runs; normalize them
before diffing a before/after pair.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from haensel_ams_data_engineer_challenge_spark.registry import registry
from haensel_ams_data_engineer_challenge_spark.session import get_spark


def main() -> None:
    if len(sys.argv) < 4:
        sys.exit(__doc__)
    round_label, tag, sf_dir = sys.argv[1:4]
    out_dir = Path(__file__).resolve().parent.parent / "plans" / round_label
    out_dir.mkdir(parents=True, exist_ok=True)

    spark = get_spark(f"dump_{round_label}_plans")
    spark.sparkContext.setLogLevel("ERROR")
    reg = registry()
    for name in sys.argv[4:] or list(reg):
        df = reg[name][0](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        (out_dir / f"{name}_{tag}.txt").write_text(plan)
        print(f"wrote {name}_{tag}.txt ({len(plan)} chars)")


if __name__ == "__main__":
    main()

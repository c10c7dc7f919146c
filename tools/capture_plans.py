"""Capture .explain('formatted') for registered queries into <outdir>/.

Usage: python tools/capture_plans.py <outdir> [query ...]
Writes <outdir>/<query>.txt for each named query, or for every
registered query when none is named; tables come from
SPARK_GRAFT_SF_DIR (tables.DEFAULT_SF_DIR).  Compare two captures with
``diff -r``; exchange ``plan_id``s are masked, since they come from a
JVM-wide counter that builders running eager jobs advance by a varying
amount.  Explain only — no execution — except that some builders run
bounded driver-side jobs while building (eager checkpoints); that is
inherent to their shape.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    out_dir = sys.argv[1]
    from acled_spark.registry import all_specs
    from acled_spark.session import get_spark
    from acled_spark.tables import DEFAULT_SF_DIR

    spark = get_spark(app_name="capture-plans")
    specs = all_specs()
    os.makedirs(out_dir, exist_ok=True)
    for name in sys.argv[2:] or sorted(specs):
        df = specs[name].builder(spark, DEFAULT_SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        plan = re.sub(r"plan_id=\d+", "plan_id=N", plan)
        out = os.path.join(out_dir, f"{name}.txt")
        with open(out, "w") as fh:
            fh.write(plan)
        print(f"wrote {out} ({len(plan)} chars)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

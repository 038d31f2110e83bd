"""Capture .explain('formatted') for declared queries into plans/r07/.

Usage: python tools/capture_plans.py <suffix> <query> [<query> ...]
Writes plans/r07/<query>_<suffix>.txt for each named query at
$SPARK_GRAFT_SF_DIR (default sf0.1), on the bench session config.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod  # noqa: E402
from beetle_search_engine_spark.sources.session import default_cores, get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main():
    suffix = sys.argv[1]
    names = sys.argv[2:]
    cpus = default_cores()
    spark = get_spark("capture-plans", cores=cpus, shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entrymod.queries()
    os.makedirs("plans/r07", exist_ok=True)
    for name in names:
        df = qs[name](spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(f"plans/r07/{name}_{suffix}.txt", "w") as f:
            f.write(plan)
        print(f"wrote plans/r07/{name}_{suffix}.txt ({len(plan)} chars)")
    spark.stop()


if __name__ == "__main__":
    main()

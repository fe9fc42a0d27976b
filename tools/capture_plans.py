"""Capture `.explain("formatted")` for named gates with the cold-plan
protocol of tests/test_plans.py (Spark cache cleared, the gate built
inside a cache scope). Usage:

    python tools/capture_plans.py <out_dir> <suffix> gate [gate ...]

Writes <out_dir>/<gate>_<suffix>.txt for each gate. Run from the tree
whose code should be captured (working tree for `after`, the baseline
worktree for `before`).
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_dir, suffix, gates = sys.argv[1], sys.argv[2], sys.argv[3:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from meteor_spark import io
    from meteor_spark.queries import QUERIES
    from meteor_spark.session import get_spark

    spark = get_spark("capture_plans")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)
    for name in gates:
        spark.catalog.clearCache()
        try:
            with io.cache_scope():
                df = QUERIES[name](spark, sf_dir)
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
        except Exception as e:  # noqa: BLE001
            print(f"SKIP {name}: {e}", file=sys.stderr)
            continue
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()

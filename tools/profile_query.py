"""Per-query profiling harness for optimization rounds.

Times one suite query through the noop sink (same methodology as bench.py
phase 3), counts the janino compilations each rep made (Spark's
``CodegenMetrics`` compilation counter: a rep that misses the codegen cache
shows a nonzero count), and writes its ``explain("formatted")`` to
``plans/<tag>/<name>_<suffix>.txt``.

Usage:
    PYTHONPATH=/root/repo python tools/profile_query.py <query> [query ...] \
        [--reps N] [--tag r11] [--suffix before] [--no-plan]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default all cores).
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--tag", default="r11")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--no-plan", action="store_true")
    args = ap.parse_args()

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count())

    from sed_spark import suite
    from sed_spark.session import get_spark

    spark = get_spark(
        app_name="sed-spark-profile",
        master=f"local[{cpus}]",
        shuffle_partitions=int(cpus) * 2,
        extra_conf={
            "spark.driver.memory": os.environ.get(
                "SPARK_GRAFT_DRIVER_MEM", "48g"),
            "spark.driver.maxResultSize": "8g",
            "spark.log.level": "ERROR",
        },
    )
    compilations = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics \
        .METRIC_COMPILATION_TIME()
    plans_dir = os.path.join(REPO, "plans", args.tag)
    os.makedirs(plans_dir, exist_ok=True)

    for name in args.queries:
        spec = suite.REGISTRY[name]
        reps, compiled = [], []
        for i in range(args.reps):
            spark.sparkContext.setJobDescription(f"profile:{name}:build")
            c0 = compilations.getCount()
            t0 = time.perf_counter()
            df = spec["spark"](spark, sf_dir)
            t1 = time.perf_counter()
            if i == 0 and not args.no_plan:
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")
                path = os.path.join(plans_dir, f"{name}_{args.suffix}.txt")
                with open(path, "w") as fh:
                    fh.write(plan)
                n_exch = plan.count("Exchange")
                print(f"{name}: plan -> {path} ({n_exch} Exchange)")
            spark.sparkContext.setJobDescription(f"profile:{name}:exec")
            t2 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            t3 = time.perf_counter()
            reps.append((round(t1 - t0, 3), round(t3 - t2, 3)))
            compiled.append(compilations.getCount() - c0)
        tot = [round(b + e, 3) for b, e in reps]
        print(f"{name}: (build,exec) reps={reps} total_min={min(tot)} "
              f"compilations={compiled}")
    spark.stop()


if __name__ == "__main__":
    main()

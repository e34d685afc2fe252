"""Round-11 optimization harness: isolate named queries with the noop sink
(guide §1.4), label jobs (§1.5), and dump explain("formatted") to
plans/r11/<query>_<tag>.txt.

Usage:
    python tools/opt_measure.py <tag> <query> [query ...]      # plans + times
    python tools/opt_measure.py --time-only <query> [...]      # times only

Each query runs N_REPS times (default 3, env OPT_REPS); the MIN is reported
(host-noise discipline from bench.py). The first rep on a fresh session pays
any session-cache build — both cold and warm mins are printed. Each rep is
printed as ``time/compiles/jobs/round trips``: its codegen compile count
(``CodegenMetrics`` compilation count delta), so a cold and a warm rep show
whether compilation was paid, its Spark job count (the
``DAGScheduler.numTotalJobs()`` delta), the jobs-per-query figure without a
trace, and its py4j round trips (``session.RoundTrips`` around the build and
the noop write), the driver-side cost of building the plan from Python.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dataframe_differ_spark.queries import load_all
from dataframe_differ_spark.session import RoundTrips, get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
PLANS_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r11"
)
N_REPS = int(os.environ.get("OPT_REPS", "3"))


def main() -> None:
    args = sys.argv[1:]
    time_only = False
    if args and args[0] == "--time-only":
        time_only = True
        args = args[1:]
    tag, names = (None, args) if time_only else (args[0], args[1:])

    spark = get_spark("opt_measure")
    registry = load_all()
    os.makedirs(PLANS_DIR, exist_ok=True)
    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    dag = spark._jsc.sc().dagScheduler()

    def compiles() -> int:
        return codegen.METRIC_COMPILATION_TIME().getCount()

    for name in names:
        q = registry[name]
        times, reps = [], []
        for rep in range(N_REPS):
            spark.sparkContext.setJobDescription(f"opt:{name}:rep{rep}")
            c0, j0 = compiles(), dag.numTotalJobs()
            with RoundTrips() as rt:
                t0 = time.time()
                df = q.fn(spark, SF_DIR)
                df.write.format("noop").mode("overwrite").save()
                times.append(round(time.time() - t0, 3))
            reps.append(
                f"{times[-1]:.3f}s/{compiles() - c0}c/"
                f"{dag.numTotalJobs() - j0}j/{rt.count}rt"
            )
        spark.sparkContext.setJobDescription(None)
        if not time_only:
            plan = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                    "formatted"
                )
            )
            out = os.path.join(PLANS_DIR, f"{name}_{tag}.txt")
            with open(out, "w") as f:
                f.write(plan)
        print(
            f"{name}: cold {times[0]:.3f}s, warm-min "
            f"{min(times[1:]) if len(times) > 1 else float('nan'):.3f}s, "
            f"all (time/codegen compiles/jobs/round trips) {' '.join(reps)}"
        )


if __name__ == "__main__":
    main()

#!/usr/bin/env python
"""Core-scaling probe (r18, VERDICT r17 task 8): time a few queries at a
replicated tier under the CURRENT $SPARK_GRAFT_CPUS with bench.py's
methodology (warm-up + timed reps, medians) PLUS the bench control job,
so two runs at different core counts are comparable after dividing by
their controls.  Reuses an existing replicated corpus directory (built
by scale_probe.py) instead of rebuilding it, so the data is
byte-identical across the compared runs.

Usage:
    SPARK_GRAFT_CPUS=32 python scripts/core_scaling_probe.py \
        /tmp/spark_graft_scale_probe/x100 reps query...
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry_mod  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

from bigdataanalytics_textsummarization_spark.functions import release_pins  # noqa: E402
from bigdataanalytics_textsummarization_spark.session import get_session  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1]
    reps = int(sys.argv[2])
    names = sys.argv[3:]
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_session(
        app="core-scaling-probe",
        cpus=cpus,
        shuffle_partitions=max(cpus, 8),
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    queries = entry_mod.queries()
    spark.range(1_000_000).groupBy((F.col("id") % 10).alias("k")).count().write.mode(
        "overwrite"
    ).format("noop").save()

    def control_once() -> float:
        t0 = time.perf_counter()
        spark.range(100_000_000).select(
            F.sum(F.col("id") % 7).alias("s")
        ).write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    control_once()
    controls = sorted(control_once() for _ in range(reps))
    out = {"cpus": cpus, "sf_dir": sf_dir,
           "control": round(controls[len(controls) // 2], 3),
           "control_spread": [round(controls[0], 3), round(controls[-1], 3)],
           "queries": {}}
    for name in names:
        fn = queries[name]
        spark.sparkContext.setJobDescription(f"core-scaling:{name}")
        fn(spark, sf_dir).write.mode("overwrite").format("noop").save()  # warm
        runs = []
        for _ in range(reps):
            t0 = time.perf_counter()
            fn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            runs.append(time.perf_counter() - t0)
        runs.sort()
        out["queries"][name] = {
            "median": round(runs[len(runs) // 2], 3),
            "spread": [round(runs[0], 3), round(runs[-1], 3)],
        }
        release_pins()
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()

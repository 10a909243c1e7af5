#!/usr/bin/env python
"""Time named queries() entries across fixture dirs — the
docs/SCALE.md measurement harness and the solo per-query probe (warm
session with bench.py's warm-up, noop-sink forcing like bench.py; run
NOTHING else Spark-shaped concurrently).

Usage:
    python tools/scale_probe.py q1,q2,... dir1 [dir2 ...]

Prints one JSON line per (dir, query) and a final summary line.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> None:
    names = sys.argv[1].split(",")
    dirs = sys.argv[2:] or ["/root/testdata/sf0.1"]
    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from table_demo_spark.queries import all_queries
    from table_demo_spark.session import get_spark
    from table_demo_spark.sources.batch import TABLES, load_table

    spark = get_spark(app_name="scale_probe")
    registry = {q.name: q.spark_fn for q in all_queries()}
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    # Arrow/pandas worker warm-up, as in bench.py: the first MapInPandas
    # stage pays Python-worker spawn + Arrow init (~1 s), which would
    # otherwise land on the first codec query timed. It runs on the
    # smallest sibling fixture when there is one.
    warm = os.path.join(os.path.dirname(os.path.abspath(dirs[0])), "sf0.001")
    registry["llm_m11_decoded_luma"](
        spark, warm if os.path.isdir(warm) else dirs[0]
    ).write.format("noop").mode("overwrite").save()

    out: dict[str, dict[str, float]] = {}
    for d in dirs:
        for t in TABLES:
            load_table(spark, d, t).count()
        for name in names:
            spark.sparkContext.setJobDescription(f"probe:{name}")
            t0 = time.perf_counter()
            registry[name](spark, d).write.format("noop").mode(
                "overwrite"
            ).save()
            dt = round(time.perf_counter() - t0, 2)
            out.setdefault(name, {})[d] = dt
            spark.catalog.clearCache()
            print(json.dumps({"dir": d, "query": name, "sec": dt}), flush=True)
    print(json.dumps({"summary": out}))


if __name__ == "__main__":
    main()

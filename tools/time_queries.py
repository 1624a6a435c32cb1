"""Isolated re-timing of named queries: fresh session, bench
methodology (page-cache prime + warmup, noop sink, min-of-N).

Usage: python tools/time_queries.py [sf_dir] [-nN] <query> [query ...]
Prints one line per query: name, min, all runs.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    runs = 3
    keep = []
    sf_dir = "/root/testdata/sf0.1"
    for a in args:
        if a.startswith("-n"):
            runs = int(a[2:])
        elif os.path.isdir(a):
            sf_dir = a
        else:
            keep.append(a)

    from ecom_churn_lakehouse_spark import registry
    from ecom_churn_lakehouse_spark.session import get_spark
    from ecom_churn_lakehouse_spark.sources import load_events, load_table

    spark = get_spark("time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    qs["pricing_summary"](spark, "/root/testdata/sf0.001").write.format(
        "noop"
    ).mode("overwrite").save()
    for _t in (
        "region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings",
    ):
        try:
            df = (
                load_events(spark, sf_dir)
                if _t == "events"
                else load_table(spark, sf_dir, _t)
            )
            df.write.format("noop").mode("overwrite").save()
        except Exception:
            pass

    out = {}
    for name in keep:
        ts = []
        for _ in range(runs):
            spark.sparkContext.setJobDescription(f"time: {name}")
            t0 = time.perf_counter()
            qs[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            ts.append(round(time.perf_counter() - t0, 3))
        out[name] = min(ts)
        print(f"{min(ts):8.3f}  {name}  runs={ts}", flush=True)
    print(json.dumps({"isolated": out, "sf_dir": sf_dir, "runs": runs}))


if __name__ == "__main__":
    main()

"""Bucketed-catalog A/B for the j7 hierarchy retrieval (VERDICT r10 #9).

Builds the flagship ER catalog at sf1 (``tools/make_sf1.py`` output), then
times the J7 unified-query projection against the SAME state persisted two
ways: ``save()`` (plain parquet snapshot — joins must shuffle) vs
``save_as_tables`` (bucketed+sorted by the join keys — the hierarchy joins
plan shuffle-free over co-located buckets).

Broadcast joins are disabled for the measurement: at bench scale AQE would
broadcast the small sides and hide the property under test; at 100 TB the
membership tables are NOT broadcastable, and bucket co-location is exactly
what replaces those shuffles. Reported per variant: executed-plan exchange
count under the hierarchy joins, and the median of 3 timed runs.

Usage: python tools/probe_bucketed_j7.py [sf_dir] [n_buckets]
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/repo/.localdata/sf1"
    n_buckets = int(sys.argv[2]) if len(sys.argv) > 2 else 64

    from matchbox_spark.operators.dedupers import NaiveDeduper
    from matchbox_spark.plans.catalog import Catalog
    from matchbox_spark.plans.dag import DAG
    from matchbox_spark.plans.query import QueryConfig, unified_query
    from matchbox_spark.plans.resolvers import Components
    from matchbox_spark.session import get_spark
    from matchbox_spark.sources.source import SourceConfig

    spark = get_spark(
        app_name="probe_bucketed_j7",
        extra_conf={
            # expose the co-location property: at 100 TB these sides are
            # not broadcastable, which is the regime bucketing serves
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    dag = DAG(spark, Catalog(spark))
    src = SourceConfig(
        name="cust",
        location=f"{sf}/customer.parquet",
        key_field="c_custkey",
        index_fields=["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    )
    dag.source(src)
    dag.model(
        "dedupe",
        NaiveDeduper(
            id="id", unique_fields=["cust_c_nationkey", "cust_c_mktsegment"]
        ),
        QueryConfig(sources=[src]),
    )
    dag.resolver("resolve", Components(), model_inputs=["dedupe"])
    t0 = time.time()
    dag.run()
    print(f"dag.run at {sf}: {time.time() - t0:.1f}s", flush=True)
    lineage = dag.resolver_lineage("resolve")

    tmp = tempfile.mkdtemp(prefix="mbspark_bucketab_")
    results = {}

    def measure(cat, label):
        q = unified_query(cat, lineage, ["cust"], level="key")
        plan = q._jdf.queryExecution().executedPlan().toString()
        times = []
        for _ in range(3):
            t = time.time()
            q.write.format("noop").mode("overwrite").save()
            times.append(time.time() - t)
        rows = q.count()
        results[label] = {
            "exchanges": plan.count("Exchange"),
            "smj": plan.count("SortMergeJoin"),
            "median_s": round(statistics.median(times), 2),
            "runs": [round(t, 2) for t in times],
            "rows": rows,
        }
        print(f"{label}: {results[label]}", flush=True)
        return rows

    # A: plain parquet snapshot
    cat_plain_path = f"{tmp}/plain"
    dag.catalog.save = Catalog.save.__get__(dag.catalog)  # explicit bind
    dag.catalog.path = cat_plain_path
    dag.catalog.save()
    rows_a = measure(Catalog(spark, cat_plain_path), "plain_snapshot")

    # B: bucketed catalog tables
    db = "mbspark_bucket_ab"
    dag.catalog.save_as_tables(db, n_buckets=n_buckets, location=f"{tmp}/wh")
    rows_b = measure(Catalog.load_tables(spark, db), f"bucketed_{n_buckets}")

    ok = rows_a == rows_b and rows_a > 0
    speedup = (
        results["plain_snapshot"]["median_s"]
        / max(results[f"bucketed_{n_buckets}"]["median_s"], 1e-9)
    )
    print(
        json.dumps(
            {
                "sf": sf,
                "rows": rows_a,
                "rows_match": ok,
                "exchange_delta": results["plain_snapshot"]["exchanges"]
                - results[f"bucketed_{n_buckets}"]["exchanges"],
                "speedup": round(speedup, 2),
                **results,
            }
        ),
        flush=True,
    )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

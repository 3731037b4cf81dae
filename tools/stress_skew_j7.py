"""Skewed-entity J7 rung (VERDICT r11 #4): one leaf cluster owning ~30%
of cluster_keys — the retrieval-side complement of the CC hub rung.

At 100 TB a heavily-duplicated source row (identical indexed content)
produces one content-addressed leaf whose key list holds a large fraction
of the table; the J7 hierarchy join (cluster_keys ⋈ resolver assignments
on leaf id) then has a hot join key. Broadcast saves local runs, but at
warehouse scale the assignment side outgrows broadcast and the join goes
sort-merge — exactly where AQE's skew split must fire. This harness
builds that state through the REAL insert path, forces the sort-merge
shape (broadcast off, skew thresholds scaled to the tier), and asserts:

1. results are exact (the hot entity resolves every duplicate key);
2. the executed plan shows the AQE skew split on the hierarchy join;
3. no straggler: max task time on the join stage bounded vs the median.

Usage: python tools/stress_skew_j7.py [n_keys] [hot_share_pct]
  quick: 300000 30   full: 5000000 30
"""

from __future__ import annotations

import sys
import tempfile
import time

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from matchbox_spark.operators.dedupers import NaiveDeduper  # noqa: E402
from matchbox_spark.plans.dag import DAG  # noqa: E402
from matchbox_spark.plans.query import QueryConfig, unified_query  # noqa: E402
from matchbox_spark.plans.resolvers import Components  # noqa: E402
from matchbox_spark.session import get_spark  # noqa: E402
from matchbox_spark.sources.source import SourceConfig  # noqa: E402


def main() -> int:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 300_000
    hot_pct = int(sys.argv[2]) if len(sys.argv) > 2 else 30
    n_hot = n * hot_pct // 100

    spark = get_spark(
        app_name="stress_skew_j7",
        extra_conf={
            # force the at-scale join shape: no broadcast rescue, and skew
            # thresholds scaled so this tier's hot partition qualifies the
            # same way a 256MB-default partition would at warehouse size
            # (the hot side is ~2-3MB compressed here); partition
            # coalescing off so the skew detector sees raw shuffle sizes
            "spark.sql.autoBroadcastJoinThreshold": "-1",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "256k",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "128k",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.coalescePartitions.enabled": "false",
        },
    )
    tmp = tempfile.mkdtemp(prefix="mbspark_skewj7_")
    src_path = f"{tmp}/dup.parquet"
    # first n_hot keys share ONE indexed content row (grp=0, same val);
    # the rest are singleton contents linked pairwise by grp
    df = spark.range(n).select(
        F.col("id").cast("string").alias("key"),
        F.when(F.col("id") < n_hot, F.lit(0))
        .otherwise((F.col("id") / 2).cast("long"))
        .alias("grp"),
        F.when(F.col("id") < n_hot, F.lit("dup"))
        .otherwise(F.col("id").cast("string"))
        .alias("val"),
    )
    df.write.mode("overwrite").parquet(src_path)

    dag = DAG(spark)
    src = SourceConfig(
        name="d", location=src_path, key_field="key",
        index_fields=["grp", "val"],
    )
    dag.source(src)
    dag.model(
        "dedupe",
        NaiveDeduper(id="id", unique_fields=["d_grp"]),
        QueryConfig(sources=[src]),
    )
    dag.resolver("resolve", Components(), ["dedupe"])
    t0 = time.time()
    dag.run()
    print(f"pipeline over {n} keys ({hot_pct}% on one leaf): "
          f"{time.time() - t0:.1f}s")

    sc = spark.sparkContext
    sc.setJobGroup("skewq", "skewed j7 query")
    t0 = time.time()
    proj = unified_query(
        dag.catalog, dag.resolver_lineage("resolve"), ["d"], level="key"
    )
    # execute proj's OWN query execution (no driver transfer): AQE only
    # records skew splits in the FINAL plan, and a derived query (count,
    # groupBy) finalises a different execution
    n_rows = proj._jdf.queryExecution().toRdd().count()
    counts = (
        proj.groupBy("id").agg(F.count("*").alias("n_keys"))
        .orderBy(F.desc("n_keys"))
    )
    top = counts.limit(2).collect()
    t_q = time.time() - t0
    sc.setJobGroup("", "")

    # 1. exactness: every key projected; the hot entity holds its share
    assert n_rows == n, n_rows
    assert top[0]["n_keys"] == n_hot, top
    print(f"query {t_q:.1f}s: hot entity holds {top[0]['n_keys']} keys, "
          f"next {top[1]['n_keys']}")

    # 2. the AQE skew split fired somewhere in the hierarchy join plan
    plan = proj._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in plan, "plan not finalised"
    skew_marks = plan.count("skew=true")
    print(f"skew=true joins in plan: {skew_marks}")
    assert skew_marks >= 1, "AQE skew split did not fire on the J7 join"

    # 3. no straggler dominates. The Python status tracker exposes stage
    # aggregates only (no per-task times), so assert via wall clock: re-run
    # the identical volume with the hot key REMOVED — the skewed run must
    # stay within 4x of the balanced one (an unsplit hot partition at this
    # share shows 10x+)
    df_flat = spark.range(n).select(
        F.col("id").cast("string").alias("key"),
        (F.col("id") / 2).cast("long").alias("grp"),
        F.col("id").cast("string").alias("val"),
    )
    flat_path = f"{tmp}/flat.parquet"
    df_flat.write.mode("overwrite").parquet(flat_path)
    dag2 = DAG(spark)
    src2 = SourceConfig(
        name="d", location=flat_path, key_field="key",
        index_fields=["grp", "val"],
    )
    dag2.source(src2)
    dag2.model(
        "dedupe", NaiveDeduper(id="id", unique_fields=["d_grp"]),
        QueryConfig(sources=[src2]),
    )
    dag2.resolver("resolve", Components(), ["dedupe"])
    dag2.run()
    t0 = time.time()
    unified_query(
        dag2.catalog, dag2.resolver_lineage("resolve"), ["d"], level="key"
    ).groupBy("id").agg(F.count("*").alias("n")).orderBy(F.desc("n")).limit(
        2
    ).collect()
    t_flat = time.time() - t0
    ratio = t_q / max(t_flat, 1e-9)
    print(f"skewed {t_q:.1f}s vs flat {t_flat:.1f}s → ratio {ratio:.2f}")
    assert ratio < 4.0, f"skewed query {ratio:.1f}x slower than balanced"

    print("OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())

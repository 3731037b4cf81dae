"""Full-pipeline scale stress: 1M-row source through the complete ER DAG.

Generates a synthetic source IN Spark (1M rows, ~100k true entities of ~10
members sharing a group key), writes it to parquet, then runs the whole
engine: content index → catalog insert → naive dedupe (≈4.5M pair edges) →
distributed connected components → hierarchy insert → unified query.
Validates entity count and per-entity key grouping exactly, reports phase
timings.

Usage: python tools/stress_pipeline.py [n_rows] [group_size]
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
    n_rows = int(sys.argv[1]) if len(sys.argv) > 1 else 1_000_000
    group = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    n_entities = n_rows // group

    # SIZE SHUFFLE PARTITIONS WITH THE DATA (the spill-aware rule): the
    # dedupe emits ~n_rows/group * C(group,2) pair edges, and CC's distinct
    # hash-aggregates them — with a fixed core-count partitioning, 32
    # concurrent tasks divide one local-mode heap and the per-task
    # aggregation map cannot even allocate its first page at 20M rows
    # (AGGREGATE_OUT_OF_MEMORY, observed round 9). ~250k edges per
    # partition keeps every task's map comfortably spillable; on a real
    # cluster the same rule is per-executor-memory, not per-box.
    import os as _os

    edges_est = n_rows // group * (group * (group - 1) // 2)
    parts = max(_os.cpu_count() or 8, min(2048, edges_est // 250_000))
    extra = {}
    if edges_est > 50_000_000:
        # local-mode reality: ONE JVM hosts all executor threads, so the
        # default 8g heap is ~250 MB/concurrent task — nothing like a real
        # executor. Give the scale tier a cluster-shaped heap, and lower
        # AQE's advisory partition size so the coalesced post-shuffle
        # aggregate keeps per-task hash maps spillable (the 64 MB advisory
        # targets serialized shuffle bytes; aggregation memory is several
        # times that).
        # 32g carries the 20M-row tier; the 50M tier (225M edges) ran the
        # whole pipeline + validation on it but OOM'd in the final edge
        # count — scale the heap with the edge volume like the partitions
        _os.environ.setdefault(
            "SPARK_DRIVER_MEM", "64g" if edges_est > 150_000_000 else "32g"
        )
        extra["spark.sql.adaptive.advisoryPartitionSizeInBytes"] = str(
            16 * 1024 * 1024
        )
    spark = get_spark(
        app_name="stress_pipeline", shuffle_partitions=parts,
        extra_conf=extra,
    )
    path = tempfile.mkdtemp(prefix="stress_src_") + "/src.parquet"
    (
        spark.range(n_rows)
        .select(
            F.col("id").cast("string").alias("key"),
            (F.col("id") % n_entities).cast("string").alias("entity_key"),
            F.concat(F.lit("row-"), F.col("id").cast("string")).alias("payload"),
        )
        .write.parquet(path)
    )

    timings: dict[str, float] = {}
    t = time.time()

    def lap(name: str) -> None:
        nonlocal t
        timings[name] = round(time.time() - t, 1)
        t = time.time()

    dag = DAG(spark)
    src = SourceConfig(
        name="s", location=path, key_field="key",
        index_fields=["entity_key", "payload"],
    )
    dag.source(src)
    dag.model(
        "dedupe",
        NaiveDeduper(id="id", unique_fields=["s_entity_key"]),
        QueryConfig(sources=[src]),
    )
    dag.resolver(
        "resolve",
        Components(driver_edge_limit=0),
        model_inputs=["dedupe"],
    )

    dag.run()
    lap("dag_run_total")

    proj = unified_query(dag.catalog, ["resolve"], ["s"], level="key")
    counts = proj.groupBy("id").agg(F.count("*").alias("n"))
    n_found = counts.count()
    bad = counts.where(F.col("n") != group).count()
    lap("unified_query_validate")

    edges = dag.catalog.model_edges.count()
    ok = n_found == n_entities and bad == 0
    print(
        f"rows={n_rows:,} entities_found={n_found:,} (expected {n_entities:,}) "
        f"bad_groups={bad} edges={edges:,} timings={timings} "
        f"-> {'OK' if ok else 'FAIL'}"
    )
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())

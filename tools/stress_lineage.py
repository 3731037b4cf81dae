"""Deep-lineage J7 stress (VERDICT r11 #3): a 16-resolver chain.

The reference supports arbitrary lineage depth (StepFrom closure,
orm.py:208-230); the unified query then chains one LEFT JOIN per resolver
with a priority COALESCE (utils/query.py:36-117). This harness builds a
binary-merge tower — resolver i clusters level-(i-1) entities pairwise by
a ``key // 2^i`` field — and asserts:

1. correctness at several depths: querying resolver d yields exactly
   ``n // 2^d`` entities, every key landing with its ``key // 2^d`` group;
2. plan ANALYSIS time grows ~linearly in depth (a quadratic analyzer
   would make deep lineages unusable long before execution);
3. exchange count in the depth-D plan is bounded by O(D).

Each model reads the PREVIOUS resolution through the real retrieval path
(query_data with combine_type='set_agg'), so every level exercises
roots-of-roots insertion (G4 expansion) — the nested-hierarchy case.

Usage: python tools/stress_lineage.py [n_keys] [depth]
  quick: 1024 10   full: 65536 16
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
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 1024
    depth = int(sys.argv[2]) if len(sys.argv) > 2 else 10
    assert n % (1 << depth) == 0, "n must be divisible by 2^depth"

    spark = get_spark(app_name="stress_lineage")
    tmp = tempfile.mkdtemp(prefix="mbspark_lineage_")
    src_path = f"{tmp}/tower.parquet"
    df = spark.range(n).select(
        F.col("id").cast("string").alias("key"),
        F.col("id").alias("val"),
        *[
            (F.col("id") / (1 << i)).cast("long").alias(f"lvl{i}")
            for i in range(1, depth + 1)
        ],
    )
    df.write.mode("overwrite").parquet(src_path)

    dag = DAG(spark)
    src = SourceConfig(
        name="t",
        location=src_path,
        key_field="key",
        index_fields=["val"] + [f"lvl{i}" for i in range(1, depth + 1)],
    )
    dag.source(src)
    t0 = time.time()
    prev_lineage: list[str] = []
    for i in range(1, depth + 1):
        dag.model(
            f"m{i}",
            NaiveDeduper(id="id", unique_fields=[f"t_lvl{i}"]),
            QueryConfig(
                sources=[src],
                resolvers=list(prev_lineage),
                combine_type="set_agg" if prev_lineage else "concat",
            ),
        )
        dag.resolver(f"r{i}", Components(), [f"m{i}"])
        prev_lineage = dag.resolver_lineage(f"r{i}")
    dag.run()
    t_run = time.time() - t0
    print(f"built {depth}-resolver tower over {n} keys in {t_run:.1f}s")
    assert dag.resolver_lineage(f"r{depth}")[0] == f"r{depth}"
    assert len(dag.resolver_lineage(f"r{depth}")) == depth

    # 1. correctness at several depths
    for d in sorted({depth // 4, depth // 2, depth} - {0}):
        proj = unified_query(
            dag.catalog, dag.resolver_lineage(f"r{d}"), ["t"], level="key"
        ).withColumn("k", F.col("key").cast("long"))
        bad = (
            proj.groupBy((F.col("k") / (1 << d)).cast("long").alias("grp"))
            .agg(F.countDistinct("id").alias("n_ids"), F.count("*").alias("n"))
            .where((F.col("n_ids") != 1) | (F.col("n") != (1 << d)))
            .count()
        )
        n_entities = proj.select("id").distinct().count()
        assert bad == 0, f"depth {d}: {bad} groups mis-resolved"
        assert n_entities == n // (1 << d), (d, n_entities)
        print(f"depth {d}: {n_entities} entities, groups exact")

    # 2. analysis time ~linear in depth
    times = {}
    for d in sorted({max(2, depth // 4), depth // 2, depth}):
        lineage = dag.resolver_lineage(f"r{d}")
        t0 = time.time()
        plan_df = unified_query(dag.catalog, lineage, ["t"], level="key")
        plan_str = plan_df._jdf.queryExecution().executedPlan().toString()
        times[d] = time.time() - t0
    ds = sorted(times)
    ratio = (times[ds[-1]] / ds[-1]) / max(times[ds[0]] / ds[0], 1e-9)
    print(
        "analysis: "
        + ", ".join(f"depth {d}: {times[d]*1000:.0f}ms" for d in ds)
        + f"  per-depth ratio deep/shallow = {ratio:.2f}"
    )
    # per-depth cost may wobble on a loaded box; 4x headroom over linear
    # still catches quadratic analysis (which would give ~depth/1 ≈ 8-16x)
    assert ratio < 4.0, f"analysis cost super-linear in depth: {ratio:.2f}"

    # 3. exchanges bounded by O(depth): each resolver level contributes a
    # constant ~3 (contains ⋈ resolver_clusters, then the keys left join)
    n_exchanges = plan_str.count("Exchange")
    print(f"depth {depth} plan: {n_exchanges} exchanges "
          f"({n_exchanges / depth:.1f}/level)")
    assert n_exchanges <= 4 * depth + 8, n_exchanges

    # 4. timed RETRIEVAL through the COALESCE chain (VERDICT r12 #7):
    # runtime, not just plan shape — full key→entity projection executed
    # to a row count + entity count, best of 2 warm runs per depth. The
    # per-depth wall must stay sub-linear in depth (each level adds a
    # LocalRelation-backed broadcast join, not a shuffle of the data).
    walls = {}
    for d in sorted({max(2, depth // 4), depth // 2, depth}):
        lineage = dag.resolver_lineage(f"r{d}")
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            got = (
                unified_query(dag.catalog, lineage, ["t"], level="key")
                .agg(
                    F.count("*").alias("rows"),
                    F.countDistinct("id").alias("entities"),
                )
                .collect()[0]
            )
            best = min(best, time.time() - t0)
        assert got["rows"] == n and got["entities"] == n // (1 << d)
        walls[d] = best
        print(f"retrieval depth {d}: {best:.2f}s "
              f"({got['entities']} entities)")
    ds = sorted(walls)
    deep_ratio = (walls[ds[-1]] / ds[-1]) / max(walls[ds[0]] / ds[0], 1e-9)
    print(f"retrieval per-depth ratio deep/shallow = {deep_ratio:.2f}")
    assert deep_ratio < 4.0, f"retrieval wall super-linear in depth: {deep_ratio:.2f}"

    print("OK")
    return 0


if __name__ == "__main__":
    sys.exit(main())

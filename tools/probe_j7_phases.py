"""Per-phase wall profile of the j7 flagship pipeline at sf0.1.

j7_resolved_entities is ~half the bench total; the r9 plan audit read its
~7 serial actions as a scheduling floor that amortises at scale (sf1 probe:
1.09x wall for 10x rows). This probe breaks the floor down so optimisation
targets the right action instead of guessing. It times the REAL dag.run()
path (derived fingerprints, Observation rides) by wrapping the catalog
mutators, plus the index insert and the query read.

Usage: python tools/probe_j7_phases.py [sf_dir] [repeats]
"""

import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from matchbox_spark.session import get_spark  # noqa: E402

MARKS: list[tuple[str, float]] = []


def _wrap(cls, meth: str) -> None:
    orig = getattr(cls, meth)

    def timed(self, *a, _o=orig, _m=meth, **kw):
        t = time.time()
        out = _o(self, *a, **kw)
        MARKS.append((f"  {_m}", time.time() - t))
        return out

    setattr(cls, meth, timed)


def main() -> None:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    repeats = int(sys.argv[2]) if len(sys.argv) > 2 else 2

    from matchbox_spark.operators.dedupers import NaiveDeduper
    from matchbox_spark.plans.catalog import Catalog
    from matchbox_spark.plans.dag import DAG
    from matchbox_spark.plans.query import QueryConfig, unified_query
    from matchbox_spark.plans.resolvers import Components
    from matchbox_spark.sources.source import SourceConfig

    for m in (
        "insert_source_index",
        "insert_model_edges",
        "insert_resolver_clusters",
        "_append",
        "_assign_ids",
        "_ckpt",
    ):
        _wrap(Catalog, m)
    _wrap(Components, "compute_clusters")

    spark = get_spark(app_name="probe_j7_phases")
    spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count().collect()

    for it in range(repeats):
        MARKS.clear()
        dag = DAG(spark, Catalog(spark))
        src = SourceConfig(
            name="cust",
            location=f"{sf}/customer.parquet",
            key_field="c_custkey",
            index_fields=["c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
        )
        t0 = time.time()
        dag.source(src)
        dag.model(
            "dedupe",
            NaiveDeduper(
                id="id", unique_fields=["cust_c_nationkey", "cust_c_mktsegment"]
            ),
            QueryConfig(sources=[src]),
        )
        dag.resolver("resolve", Components(), model_inputs=["dedupe"])
        t_run = time.time()
        dag.run()
        MARKS.append(("dag.run TOTAL", time.time() - t_run))

        t_q = time.time()
        ids = unified_query(
            dag.catalog, dag.resolver_lineage("resolve"), ["cust"], level="key"
        ).withColumn("custkey", F.col("key").cast("long"))
        rep = ids.groupBy("id").agg(F.min("custkey").alias("entity_rep"))
        out = ids.join(rep, "id").select("key", "entity_rep")
        n = out.count()
        MARKS.append(("query+count", time.time() - t_q))
        MARKS.append(("TOTAL", time.time() - t0))

        print(f"-- iteration {it} (rows={n}) --")
        for name, dt in MARKS:
            print(f"  {name:32s} {dt:7.3f}s")

    spark.stop()


if __name__ == "__main__":
    main()

"""Fixed inter-stage transfer schemas.

Re-expresses the reference's Arrow wire schemas
(/root/reference/src/matchbox/common/arrow.py:13-70) as Spark StructTypes.
Arrow's unsigned 64-bit ids become non-negative LongType (Spark has no unsigned
ints — SURVEY §1.3); hashes are BinaryType, never ints.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, types as T

# id: long, key: string — unified-query result (root id per source key)
SCHEMA_QUERY = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("key", T.StringType(), False),
    ]
)

SCHEMA_QUERY_WITH_LEAVES = T.StructType(
    list(SCHEMA_QUERY.fields) + [T.StructField("leaf_id", T.LongType(), False)]
)

# hash: binary, keys: array<string> — source index (content hash → source keys)
SCHEMA_INDEX = T.StructType(
    [
        T.StructField("hash", T.BinaryType(), False),
        T.StructField("keys", T.ArrayType(T.StringType()), False),
    ]
)

# scored pair edges emitted by dedupers / linkers
SCHEMA_MODEL_EDGES = T.StructType(
    [
        T.StructField("left_id", T.LongType(), False),
        T.StructField("right_id", T.LongType(), False),
        T.StructField("score", T.FloatType(), False),
    ]
)

# resolver cluster assignments
SCHEMA_CLUSTERS = T.StructType(
    [
        T.StructField("parent_id", T.LongType(), False),
        T.StructField("child_id", T.LongType(), False),
    ]
)

SCHEMA_JUDGEMENTS = T.StructType(
    [
        T.StructField("user_name", T.StringType(), False),
        T.StructField("endorsed", T.LongType(), False),
        T.StructField("shown", T.LongType(), False),
    ]
)

SCHEMA_CLUSTER_EXPANSION = T.StructType(
    [
        T.StructField("root", T.LongType(), False),
        T.StructField("leaves", T.ArrayType(T.LongType()), False),
    ]
)

SCHEMA_EVAL_SAMPLES = T.StructType(
    [
        T.StructField("root", T.LongType(), False),
        T.StructField("leaf", T.LongType(), False),
        T.StructField("key", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)


def conform(df: DataFrame, schema: T.StructType) -> DataFrame:
    """Cast/select a DataFrame to exactly ``schema`` (order + types)."""
    from pyspark.sql import functions as F

    return df.select(
        *[F.col(f.name).cast(f.dataType).alias(f.name) for f in schema.fields]
    )


def local_frame(spark, pdf, schema: str) -> DataFrame:
    """The pandas frame ``pdf`` uploaded as a ``LocalRelation`` with the
    DDL ``schema``. An empty pandas frame would plan a ``LogicalRDD``, whose
    size is unknown and which no plan probe reads as driver-resident; an
    empty Arrow table of the schema plans ``LocalRelation <empty>``."""
    if len(pdf):
        return spark.createDataFrame(pdf, schema)
    from pyspark.sql.pandas.types import to_arrow_schema

    empty = to_arrow_schema(T.StructType.fromDDL(schema)).empty_table()
    return spark.createDataFrame(empty, schema)

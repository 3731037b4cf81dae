"""Content-addressing: deterministic row / table / cluster hashing.

Re-implements the reference hashing recipe (semantics studied at
/root/reference/src/matchbox/common/hash.py:83-254) Spark-first:

- **Row hash (H1)**: per-type normalisation (binary→lowercase hex,
  struct→JSON, list→","-join, else cast to string; null→"\\x00"), then for each
  column concat ``{name}␟{value}␞`` and hash the UTF-8 bytes. The reference
  default is xxh3_128 (not available JVM-side); we default to SHA-256, which
  the reference also supports, and offer ``xxhash64`` as the fast
  non-compatible path. All of this stays in whole-stage codegen — no UDFs.
- **Table hash (H2)**: order/field-order-invariant — sort column names,
  explode list columns, hash rows, then a two-level tree fold: rows bucket by
  their hash's first 20 bits (content-derived, so the recipe is independent
  of partitioning), each bucket folds its bytewise-sorted hashes through one
  SHA-256 executor-side, and the driver folds the ≤2^20 bucket digests in
  bucket order. Driver traffic is bounded by the bucket count, never row
  count — no ``toLocalIterator`` over per-row digests.
- **Edge hash (H3)**: (left_id,right_id) replaced by a sorted list so (1,2)
  ≡ (2,1).
- **Cluster hash (H4)**: content-defined — each cluster's token is the H5
  leaf-set hash of its members; the token multiset folds through H2. Invariant
  to row order and parent relabelling, with no global sort/ordinal step.
- **Leaf-set hash (H5)**: SHA-256 of "|"-joined sorted member hashes.

Hash *values* are bytes (BinaryType), never ints — uint64 ids in the reference
become non-negative longs, hashes stay binary (SURVEY §7 hard parts).
"""

from __future__ import annotations

import base64
import hashlib
from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

UNIT_SEP = "␟"  # ␟ between column name and value
RECORD_SEP = "␞"  # ␞ after each column's value
NULL_SENTINEL = "\x00"
EMPTY_TABLE_HASH = b"empty_table_hash"

HASH_FUNC = hashlib.sha256


# ---------------------------------------------------------------------------
# driver-side helpers (small values: step fingerprints, ids)
# ---------------------------------------------------------------------------


def hash_to_base64(hash_: bytes) -> str:
    """URL-safe base64 of a hash digest."""
    return base64.urlsafe_b64encode(hash_).decode("utf-8")


def base64_to_hash(value: str | bytes) -> bytes:
    """Inverse of :func:`hash_to_base64`; passes bytes through."""
    if isinstance(value, bytes):
        return value
    return base64.urlsafe_b64decode(value)


def prep_for_hash(item: bytes | bool | str | int | float | bytearray) -> bytes:
    """Encode a scalar to bytes for hashing (str→utf8, int→big-endian signed)."""
    if isinstance(item, bytes | bytearray):
        return bytes(item)
    if isinstance(item, str):
        return item.encode()
    if isinstance(item, int):
        signed = True
        length = ((item + ((item * signed) < 0)).bit_length() + 7 + signed) // 8
        return item.to_bytes(length, byteorder="big", signed=signed)
    raise ValueError(f"Cannot hash value of type {type(item)}")


def hash_values(*values) -> bytes:
    """Order-insensitive combined hash of several scalars."""
    sorted_vals = sorted(values)
    digests = [HASH_FUNC(prep_for_hash(v)) for v in sorted_vals]
    acc = digests[0]
    for d in digests[1:]:
        acc.update(d.digest())
    return acc.digest()


def hash_cluster_leaves(leaves: Iterable[bytes]) -> bytes:
    """H5 driver-side: SHA-256 of "|"-joined sorted leaf hashes."""
    return HASH_FUNC(b"|".join(sorted(leaves))).digest()


# ---------------------------------------------------------------------------
# column expressions (distributed, codegen'd)
# ---------------------------------------------------------------------------


def normalize_value(col: Column, dtype: T.DataType) -> Column:
    """Per-type normalisation of a Column to a string for hashing.

    binary→lowercase hex; struct→JSON; array→","-joined elements; everything
    else CAST to string. Nulls become "\\x00".
    """
    if isinstance(dtype, T.BinaryType):
        # the reference fills the null BEFORE hex-encoding (hash.py:94
        # fill_null("\x00").bin.encode("hex")): a NULL binary hashes as
        # "00" (hex of the one-byte sentinel), not the raw sentinel
        out = F.coalesce(F.lower(F.hex(col)), F.lit("00"))
    elif isinstance(dtype, T.StructType):
        # keep null-valued fields: Spark's to_json default drops them,
        # polars json_encode (hash.py:99) emits {"a":null,...}
        out = F.to_json(col, {"ignoreNullFields": "false"})
    elif isinstance(dtype, T.ArrayType):
        # a null ELEMENT nulls the whole join in the reference (polars
        # list.join, hash.py:105) and falls to the sentinel; Spark's
        # array_join would silently DROP it, colliding ["a", null] with
        # ["a"]
        out = F.when(
            F.exists(col, lambda x: x.isNull()), F.lit(None).cast("string")
        ).otherwise(F.array_join(col.cast(T.ArrayType(T.StringType())), ","))
    else:
        out = col.cast(T.StringType())
    return F.coalesce(out, F.lit(NULL_SENTINEL))


def normalize_for_hash(name: str, dtype: T.DataType) -> Column:
    """Per-type hash normalisation of a named column (see
    :func:`normalize_value`)."""
    return normalize_value(F.col(name), dtype)


def row_hash_expr(
    schema: T.StructType,
    columns: list[str],
    method: str = "sha256",
) -> Column:
    """H1: a Column computing the content hash of each row over ``columns``.

    ``method='sha256'`` yields a 32-byte BinaryType column (reference-recipe
    compatible); ``method='xxhash64'`` yields a LongType column (fast path for
    internal grouping only — not content-addressing).
    """
    by_name = {f.name: f.dataType for f in schema.fields}
    parts: list[Column] = []
    for c in columns:
        if c not in by_name:
            raise ValueError(f"column {c!r} not in schema")
        parts.extend(
            [
                F.lit(c),
                F.lit(UNIT_SEP),
                normalize_for_hash(c, by_name[c]),
                F.lit(RECORD_SEP),
            ]
        )
    concat = F.concat(*parts)
    if method == "sha256":
        return F.unhex(F.sha2(concat, 256))
    if method == "xxhash64":
        return F.xxhash64(concat)
    raise ValueError(f"Unsupported hash method: {method}")


def leaf_set_hash_expr(leaves_col: Column) -> Column:
    """H5 as a Column: SHA-256 of "|"-joined sorted array<binary> member hashes.

    Works entirely JVM-side: array_sort on binary is bytewise (matches Python
    bytes ordering), the fold concatenates with a "|" separator, sha2 hashes
    raw bytes.
    """
    sorted_leaves = F.array_sort(leaves_col)
    joined = F.aggregate(
        sorted_leaves,
        F.lit(b""),
        lambda acc, x: F.when(F.length(acc) == F.lit(0), x).otherwise(
            F.concat(acc, F.lit(b"|"), x)
        ),
    )
    return F.unhex(F.sha2(joined, 256))


# ---------------------------------------------------------------------------
# table-level content hashes (fingerprints)
# ---------------------------------------------------------------------------


# bucket = first 20 bits of the row hash: content-derived (identical
# multisets of rows give identical buckets no matter how they're
# partitioned), uniform for a cryptographic hash, and capped at 2^20 bucket
# digests of driver work at any table size
_TABLE_HASH_BUCKET_HEX_CHARS = 5


def hash_table(
    df: DataFrame,
    as_sorted_list: list[str] | None = None,
    method: str = "sha256",
) -> bytes:
    """H2: content hash of a DataFrame, invariant to row and field order.

    Pipeline: optional sorted-list normalisation → sort column names → explode
    array columns (empty/null arrays yield a null row, like the reference's
    ``empty_as_null=True``) → H1 row hash → tree fold: bucket rows by the
    hash's first 20 bits, SHA-256-fold each bucket's bytewise-sorted hashes
    executor-side (one shuffle), then SHA-256-fold the bucket digests in
    bucket order on the driver.

    The recipe depends only on the multiset of row hashes — the bucket
    assignment is a prefix of the hash itself, so the result is independent
    of partitioning, row order, and cluster size. At 100 TB the driver sees
    at most 2^20 bucket digests (32 MiB); per-row digests never leave the
    executors.
    """
    if method != "sha256":
        raise ValueError("hash_table folds raw digests; only sha256 is supported")
    if df.isEmpty():
        return EMPTY_TABLE_HASH

    if as_sorted_list:
        # Known collision class, kept deliberately for reference parity
        # (hash_arrow_table explodes the same way): sorting the id pair
        # into one array then exploding decouples the pair from itself, so
        # distinct edge SETS with equal row multisets — e.g.
        # {(1,2),(3,4)} vs {(1,3),(2,4)} at equal scores — fold to the
        # same digest. H3 is an idempotence gate, not a security boundary;
        # a swap that precise also leaves the reference's own hash equal.
        if len(as_sorted_list) < 2:
            raise ValueError(
                "Lists passed to as_sorted_list must contain at least 2 column names"
            )
        missing = [c for c in as_sorted_list if c not in df.columns]
        if missing:
            raise ValueError(f"Columns not found in dataframe: {missing}")
        df = df.withColumn(
            "sorted_list", F.array_sort(F.array(*as_sorted_list))
        ).drop(*as_sorted_list)

    columns = sorted(df.columns)
    df = df.select(*columns)

    for c in columns:
        if isinstance(df.schema[c].dataType, T.ArrayType):
            df = df.withColumn(c, F.explode_outer(c))

    hashed = df.select(row_hash_expr(df.schema, columns, method).alias("h"))
    bucketed = hashed.withColumn(
        "b",
        F.conv(
            F.substring(F.hex("h"), 1, _TABLE_HASH_BUCKET_HEX_CHARS), 16, 10
        ).cast("long"),
    )

    def _fold_bucket(pdf):
        import pandas as pd

        acc = HASH_FUNC()
        for h in sorted(pdf["h"]):
            acc.update(bytes(h))
        return pd.DataFrame({"b": [pdf["b"].iloc[0]], "d": [acc.digest()]})

    digests = (
        bucketed.groupBy("b")
        .applyInPandas(_fold_bucket, "b long, d binary")
        .orderBy("b")
        .collect()
    )
    digest = HASH_FUNC()
    for row in digests:
        digest.update(row["d"])
    return digest.digest()


def unordered_stats_aggs() -> list[Column]:
    """The three aggregates of the unordered fingerprint over a row-hash
    column ``_h`` — count, wide sum, bit-xor. All three are associative, so
    grouped (per-bucket) results fold into the identical global fingerprint
    via :func:`fold_unordered_stats`."""
    return [
        F.count("*").alias("n"),
        F.sum(F.col("_h").cast("decimal(38,0)")).alias("s"),
        F.bit_xor("_h").alias("x"),
    ]


def fold_unordered_stats(rows) -> bytes:
    """Fold (n, s, x) stat rows — grouped or global — into the unordered
    fingerprint bytes. Byte-identical to :func:`hash_table_unordered`."""
    n = s = x = 0
    for row in rows:
        n += int(row["n"])
        s += int(row["s"] or 0)
        x ^= int(row["x"] or 0)
    if n == 0:
        return EMPTY_TABLE_HASH
    acc = HASH_FUNC()
    for v in (n, s, x):
        acc.update(int(v).to_bytes(16, "big", signed=True))
    return acc.digest()


def hash_table_unordered(df: DataFrame, columns: list[str] | None = None) -> bytes:
    """Fast order-invariant fingerprint (NOT reference-compatible).

    XORs 64-bit row hashes via a distributed aggregate — one number per
    partition, no driver iteration. Use for cheap change-detection; use
    :func:`hash_table` for reference-compatible content addresses.
    """
    cols = sorted(df.columns) if columns is None else columns
    h = df.select(row_hash_expr(df.schema, cols, "xxhash64").alias("_h"))
    return fold_unordered_stats(h.agg(*unordered_stats_aggs()).collect())


def hash_model_results(edges: DataFrame) -> bytes:
    """H3: fingerprint model edges; (1,2) and (2,1) hash identically."""
    return hash_table(edges, as_sorted_list=["left_id", "right_id"])


def hash_clusters(assignments: DataFrame) -> bytes:
    """H4: fingerprint cluster assignments by membership semantics.

    Invariant to row ordering, parent_id relabelling, and child order within
    a parent. Content-defined, with no global ordering step: each cluster's
    token is the H5 leaf-set hash of its members (per-member type-normalised
    string → SHA-256, sorted, "|"-folded), and the multiset of cluster
    tokens folds through the partition-invariant H2 bucket tree. Duplicate
    clusters (distinct parents, identical member sets) yield duplicate
    tokens, which H2's multiset fold preserves.

    One shuffle (the per-parent groupBy) plus H2's bucket shuffle — no
    single-partition window, so the recipe holds at 10^8-10^9 clusters.
    """
    if assignments.isEmpty():
        return EMPTY_TABLE_HASH

    child_type = assignments.schema["child_id"].dataType
    member_hash = F.unhex(
        F.sha2(normalize_value(F.col("child_id"), child_type), 256)
    )
    tokens = (
        assignments.select("parent_id", member_hash.alias("mh"))
        .groupBy("parent_id")
        .agg(F.collect_set("mh").alias("member_hashes"))
        .select(leaf_set_hash_expr(F.col("member_hashes")).alias("cluster_token"))
    )
    return hash_table(tokens)

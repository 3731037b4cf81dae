"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry and its ``oracle_sql()`` side by side, compares
row count, column names, and order-insensitive values (sorted columns, sorted
rows, normalised floats). Usage::

    python tools/check_oracle.py [--force GATE[,GATE]] [sf_dir] [query ...]

``--force`` puts the named driver/distributed gates (``cc``, ``index``,
``jaccard``, ``bpe``) on their distributed path for the whole run, so the
oracles check each fallback.
"""

from __future__ import annotations

import importlib
import math
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, ".")

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# gate → the module bindings whose patched values put it on its distributed
# path. The ``force_distributed`` test fixture reads the same table.
FORCE_GATES = {
    # incremental imports the name directly: patch both bindings
    "cc": [
        ("matchbox_spark.plans.resolvers", "_driver_cc_edge_limit", lambda spark: 0),
        ("matchbox_spark.streaming.incremental", "_driver_cc_edge_limit", lambda spark: 0),
    ],
    # the catalog's driver kernels and mirrors, and the Matcher's lookup index
    "index": [("matchbox_spark.plans.catalog", "_INDEX_DRIVER_BYTES", 0)],
    # ngram_jaccard_pairs' driver prefix kernel, then its bitset path
    "jaccard": [
        ("matchbox_spark.operators.dedup", "_driver_cc_edge_limit", lambda spark: 0),
        ("matchbox_spark.operators.dedup", "_JACCARD_BITSET_VOCAB", 0),
    ],
    "bpe": [("matchbox_spark.operators.tokenize", "_BPE_DRIVER_VOCAB", 0)],
}


def force_gates(gates, setattr=setattr) -> None:
    """Force each named gate onto its distributed path, patching its
    bindings with ``setattr(module, name, value)``."""
    for gate in gates:
        for mod, name, value in FORCE_GATES[gate]:
            setattr(importlib.import_module(mod), name, value)


def _normalise(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].map(
                lambda v: v.hex() if isinstance(v, (bytes, bytearray)) else v
            )
        if str(df[c].dtype).startswith("float"):
            df[c] = df[c].round(6)
        if str(df[c].dtype).startswith("datetime"):
            df[c] = df[c].astype("datetime64[us]").astype(str)
    df = df.sort_values(by=list(df.columns), ignore_index=True)
    return df


def _family(series: pd.Series) -> str:
    """Dtype family after normalisation: 'int' | 'float' | 'bool' | 'object'.

    Datetime columns are already stringified by ``_normalise`` so they land
    in 'object'.
    """
    kind = series.dtype.kind
    if kind in "iu":
        return "int"
    if kind == "f":
        return "float"
    if kind == "b":
        return "bool"
    return "object"


# Dtype pairings the driver's value hash tolerates. Spark DECIMAL crosses as
# python Decimal objects ('object') while DuckDB DECIMAL crosses as float64;
# the driver stringifies both to the same text, so that pair is allowed. An
# int64-vs-float64 pairing is NOT: DuckDB types SUM(BIGINT) as HUGEINT which
# lands as float64, and the driver hash then diverges from Spark's long even
# when values are equal (the o10 round-6 red row). Strict mode catches that
# class before the driver does.
_ALLOWED_FAMILY_PAIRS = {frozenset({"float", "object"})}


def compare_staged(
    spark_df: pd.DataFrame, oracle_df: pd.DataFrame
) -> tuple[str, str] | None:
    """None when equal, else (stage, message) with stage in
    'rows' | 'schema' | 'hash' — mirroring the driver's three verdicts."""
    if len(spark_df) != len(oracle_df):
        return "rows", f"row count {len(spark_df)} vs {len(oracle_df)}"
    a, b = _normalise(spark_df), _normalise(oracle_df)
    if list(a.columns) != list(b.columns):
        return "schema", f"columns {list(a.columns)} vs {list(b.columns)}"
    for c in a.columns:
        fa, fb = _family(a[c]), _family(b[c])
        if fa != fb and frozenset({fa, fb}) not in _ALLOWED_FAMILY_PAIRS:
            return "schema", (
                f"col {c} dtype family: spark={fa} ({a[c].dtype}) vs "
                f"oracle={fb} ({b[c].dtype}) — value-equal results with "
                f"mismatched physical types still hash-FAIL in the driver"
            )
    for c in a.columns:
        av, bv = a[c].tolist(), b[c].tolist()
        for i, (x, y) in enumerate(zip(av, bv)):
            same = (
                (x is None and y is None)
                or (isinstance(x, float) and isinstance(y, float)
                    and (math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-9)
                         or (math.isnan(x) and math.isnan(y))))
                or x == y
            )
            if not same:
                return "hash", f"col {c} row {i}: {x!r} vs {y!r}"
    return None


def compare(spark_df: pd.DataFrame, oracle_df: pd.DataFrame) -> str | None:
    staged = compare_staged(spark_df, oracle_df)
    return None if staged is None else staged[1]


def main() -> int:
    args = sys.argv[1:]
    json_out = None
    if "--json" in args:
        i = args.index("--json")
        json_out = args[i + 1]
        args = args[:i] + args[i + 2:]
    if "--force" in args:
        i = args.index("--force")
        force_gates(args[i + 1].split(","))
        args = args[:i] + args[i + 2:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    import __spark_entry__ as entrymod
    from matchbox_spark.session import get_spark

    spark = get_spark(app_name="oracle_check")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )

    qs, oracles = entrymod.queries(), entrymod.oracle_sql()
    # per-query records in the driver's CORRECTNESS_r{N}.json shape
    records: dict[str, dict] = {}
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        rec = {"rows_match": None, "schema_match": None, "hash_match": None,
               "spark_rows": None, "oracle_rows": None, "err": None}
        records[name] = rec
        try:
            sdf = fn(spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001
            rec["err"] = f"spark error: {str(e)[:200]}"
            print(f"FAIL  {name}: {rec['err']}")
            failures += 1
            continue
        rec["spark_rows"] = len(sdf)
        if name not in oracles:
            rec["rows_match"] = True
            rec["err"] = "no_oracle"
            print(f"ROWS  {name}: {len(sdf)} rows (no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            odf = con.execute(oracles[name]).df()
        except Exception as e:  # noqa: BLE001
            rec["err"] = f"oracle error: {str(e)[:200]}"
            print(f"FAIL  {name}: {rec['err']}")
            failures += 1
            continue
        rec["oracle_rows"] = len(odf)
        staged = compare_staged(sdf, odf)
        if staged is None:
            rec["rows_match"] = rec["schema_match"] = rec["hash_match"] = True
            print(f"OK    {name}: {len(sdf)} rows [{time.time()-t0:.1f}s]")
        else:
            stage, diff = staged
            rec["rows_match"] = stage != "rows"
            rec["schema_match"] = (
                None if stage == "rows" else stage != "schema"
            )
            rec["hash_match"] = False if stage == "hash" else None
            rec["err"] = diff[:300]
            print(f"FAIL  {name}: {diff} [{time.time()-t0:.1f}s]")
            failures += 1
    if json_out:
        import json as _json

        with open(json_out, "w") as f:
            _json.dump(records, f, indent=1, sort_keys=True)
    print(f"\n{'ALL OK' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

"""Crash-resume and per-drain Spark-job pins for ``incremental_resolve_stream``.

Each case drains a 3-batch stream twice. The first drain runs
uninterrupted and is the reference. The second fails right after one
catalog call on batch 1 and restarts with the same ``Catalog`` and
checkpoint; the fingerprint-gated, idempotent catalog inserts must make its
terminal catalog equal the reference. The reference drain also pins the
Spark jobs the whole drain submits under the query's run-id job group, one
count per route.
"""

from __future__ import annotations

import pytest
from test_opt_r13 import _catalog_state
from test_streaming_lsh_delta import BATCHES as LSH_BATCHES
from test_streaming_lsh_delta import SCHEMA as LSH_SCHEMA
from test_streaming_lsh_delta import _model as _minhash_model

from matchbox_spark.operators.dedupers import NaiveDeduper
from matchbox_spark.plans.catalog import Catalog
from matchbox_spark.plans.resolvers import Components
from matchbox_spark.streaming.incremental import incremental_resolve_stream

# the a/u rows of test_opt_r13._delta_stream_catalog: batch 2 bridges the
# batch-0 and batch-1 groups of ``a``; ``u`` is unique per row
AU_SCHEMA = "k long, a string, u string"
AU_BATCHES = [
    [(1, "A1", "u1"), (2, "A1", "u2"), (10, "Z1", "u10")],
    [(3, "A2", "u3"), (4, "A2", "u4"), (11, "Z1", "u11")],
    [(5, "A1", "u5"), (6, "A2", "u6")],
]


class _TwoFieldOrDeduper:
    """OR of two single-field naive passes over ``s_a`` and ``s_u``; it
    declares block-locality but no pairwise contract, so it streams
    through the ``fields`` route."""

    def dedupe(self, data):
        a = NaiveDeduper(id="id", unique_fields=["s_a"]).dedupe(data)
        u = NaiveDeduper(id="id", unique_fields=["s_u"]).dedupe(data)
        return a.unionByName(u).dropDuplicates(["left_id", "right_id"])

    def delta_blocking_fields(self):
        return ["s_a", "s_u"]


def _naive():
    return NaiveDeduper(id="id", unique_fields=["s_a"])


# case → (batches, schema, index fields, model factory, stream options,
#         the catalog call batch 1 crashes right after, jobs per drain)
CASES = {
    "pairs": (
        AU_BATCHES, AU_SCHEMA, ["a", "u"], _naive, {},
        "insert_source_index_delta_mapped", 3,
    ),
    "fields": (
        AU_BATCHES, AU_SCHEMA, ["a", "u"], _TwoFieldOrDeduper, {},
        "insert_model_edges_delta", 55,
    ),
    "keys": (
        LSH_BATCHES, LSH_SCHEMA, ["text"], _minhash_model, {},
        "insert_block_keys_delta", 106,
    ),
    "full": (
        AU_BATCHES, AU_SCHEMA, ["a", "u"], _naive, {"auto_delta": False},
        "insert_model_edges", 24,
    ),
    "cadenced": (
        AU_BATCHES, AU_SCHEMA, ["a", "u"], _naive,
        {"auto_delta": False, "resolve_cadence": 2},
        "insert_source_index_delta", 19,
    ),
}


def _start(spark, case, cat, tmp_path, name):
    """Start the case's stream over its batch files (written on first use,
    one file per trigger) with the checkpoint ``ckpt_{name}``."""
    batches, schema, index_fields, model, options, _, _ = CASES[case]
    data_dir = tmp_path / f"data_{name}"
    if not data_dir.exists():
        data_dir.mkdir()
        for rows in batches:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(str(data_dir))
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(data_dir))
    )
    return incremental_resolve_stream(
        stream,
        cat,
        source_step="s",
        key_field="k",
        index_fields=index_fields,
        model=model(),
        resolver_method=Components(),
        checkpoint_dir=str(tmp_path / f"ckpt_{name}"),
        source_location=str(data_dir),
        **options,
    )


def _crash_after_second_call(monkeypatch, name):
    """Make the second call of ``Catalog.<name>`` — batch 1's, as every
    case calls it once per batch — raise right after it returns."""
    fn = getattr(Catalog, name)
    calls = []

    def wrapper(self, *args, **kw):
        out = fn(self, *args, **kw)
        calls.append(name)
        if len(calls) == 2:
            raise RuntimeError(f"injected crash after {name}")
        return out

    monkeypatch.setattr(Catalog, name, wrapper)


@pytest.mark.parametrize("case", list(CASES))
def test_crash_resume_matches_uninterrupted_drain(
    spark, tmp_path, monkeypatch, case
):
    """A batch-1 crash right after one catalog call, resumed from the same
    checkpoint and catalog, ends in the uninterrupted drain's catalog; the
    uninterrupted drain submits its route's pinned number of Spark jobs."""
    sc = spark.sparkContext
    ref = Catalog(spark)
    q = _start(spark, case, ref, tmp_path, "ref")
    q.awaitTermination(600)
    assert q.exception() is None
    # the stream runs every batch under its run id's job group; job starts
    # reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))
    want = _catalog_state(ref)

    crash_after = CASES[case][5]
    _crash_after_second_call(monkeypatch, crash_after)
    cat = Catalog(spark)
    q = _start(spark, case, cat, tmp_path, "crash")
    with pytest.raises(Exception, match=f"injected crash after {crash_after}"):
        q.awaitTermination(600)
    q = _start(spark, case, cat, tmp_path, "crash")
    q.awaitTermination(600)
    assert q.exception() is None
    assert _catalog_state(cat) == want
    assert jobs == CASES[case][6]

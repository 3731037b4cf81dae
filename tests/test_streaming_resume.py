"""Crash-resume and per-drain Spark-job and upload pins for
``incremental_resolve_stream``.

Each case drains a 3-batch stream twice. The first drain runs
uninterrupted and is the reference. The second fails right after one
catalog call on batch 1 and restarts with the same ``Catalog`` and
checkpoint; the fingerprint-gated, idempotent catalog inserts must make its
terminal catalog equal the reference. The reference drain also pins, per
route, the Spark jobs the whole drain submits under the query's run-id job
group and its uploads of driver data (``createDataFrame`` calls). Each
route's reference drain runs once per module and serves every case of the
route.
"""

from __future__ import annotations

import pytest
from test_opt_r13 import _catalog_state, _job_counter
from test_streaming_lsh_delta import BATCHES as LSH_BATCHES
from test_streaming_lsh_delta import SCHEMA as LSH_SCHEMA
from test_streaming_lsh_delta import _model as _minhash_model

from pyspark.sql import SparkSession

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
#         the catalog call batch 1 crashes right after, jobs per drain,
#         uploads per drain)
CASES = {
    "pairs": (
        AU_BATCHES, AU_SCHEMA, ["a", "u"], _naive, {},
        "insert_source_index_delta_mapped", 3, 0,
    ),
    "fields": (
        AU_BATCHES, AU_SCHEMA, ["a", "u"], _TwoFieldOrDeduper, {},
        "insert_model_edges_delta", 49, 3,
    ),
    "keys": (
        LSH_BATCHES, LSH_SCHEMA, ["text"], _minhash_model, {},
        "insert_block_keys_delta", 91, 6,
    ),
    "full": (
        AU_BATCHES, AU_SCHEMA, ["a", "u"], _naive, {"auto_delta": False},
        "insert_model_edges", 18, 11,
    ),
    "cadenced": (
        AU_BATCHES, AU_SCHEMA, ["a", "u"], _naive,
        {"auto_delta": False, "resolve_cadence": 2},
        "insert_source_index_delta_mapped", 13, 8,
    ),
}


@pytest.fixture(scope="module")
def reference(spark, tmp_path_factory):
    """``reference(case)``: the case's uninterrupted drain as ``(catalog
    state, Spark jobs, uploads)``, drained on the first call only."""
    cache = {}

    def get(case):
        if case not in cache:
            cache[case] = _reference_drain(
                spark, case, tmp_path_factory.mktemp(f"ref_{case}")
            )
        return cache[case]

    return get


def _reference_drain(spark, case, tmp_path):
    """Drain the case uninterrupted; count the Spark jobs it submits and
    its uploads of driver data."""
    sc = spark.sparkContext
    _write_batches(spark, case, tmp_path, "ref")
    uploads = []
    create = SparkSession.createDataFrame

    def counted(self, *args, **kw):
        uploads.append(1)
        return create(self, *args, **kw)

    ref = Catalog(spark)
    with pytest.MonkeyPatch.context() as m:
        m.setattr(SparkSession, "createDataFrame", counted)
        q = _start(spark, case, ref, tmp_path, "ref")
        q.awaitTermination(600)
    assert q.exception() is None
    # the stream runs every batch under its run id's job group; job starts
    # reach the status store through the async listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(str(q.runId)))
    return _catalog_state(ref), jobs, len(uploads)


def _write_batches(spark, case, tmp_path, name, batches=None):
    """The case's batch files (or ``batches``, in the case's schema), one
    per trigger, written on first use."""
    schema = CASES[case][1]
    batches = batches or CASES[case][0]
    data_dir = tmp_path / f"data_{name}"
    if not data_dir.exists():
        data_dir.mkdir()
        for rows in batches:
            spark.createDataFrame(rows, schema).coalesce(1).write.mode(
                "append"
            ).parquet(str(data_dir))
    return data_dir


def _start(spark, case, cat, tmp_path, name, batches=None):
    """Start the case's stream over its batch files with the checkpoint
    ``ckpt_{name}``."""
    _, schema, index_fields, model, options = CASES[case][:5]
    data_dir = _write_batches(spark, case, tmp_path, name, batches)
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


def _crash_and_resume(spark, tmp_path, monkeypatch, case, crash_after):
    """The case's drain crashed after batch 1's call of ``crash_after``,
    then resumed from the same checkpoint and catalog; returns the
    catalog."""
    _crash_after_second_call(monkeypatch, crash_after)
    cat = Catalog(spark)
    q = _start(spark, case, cat, tmp_path, "crash")
    with pytest.raises(Exception, match=f"injected crash after {crash_after}"):
        q.awaitTermination(600)
    q = _start(spark, case, cat, tmp_path, "crash")
    q.awaitTermination(600)
    assert q.exception() is None
    return cat


@pytest.mark.parametrize("case", list(CASES))
def test_crash_resume_matches_uninterrupted_drain(
    spark, tmp_path, monkeypatch, reference, case
):
    """A batch-1 crash right after one catalog call, resumed from the same
    checkpoint and catalog, ends in the uninterrupted drain's catalog; the
    uninterrupted drain submits its route's pinned number of Spark jobs
    and uploads its pinned number of driver frames."""
    want, jobs, uploads = reference(case)
    cat = _crash_and_resume(spark, tmp_path, monkeypatch, case, CASES[case][5])
    assert _catalog_state(cat) == want
    assert (jobs, uploads) == CASES[case][6:]


# the delta tail's calls, after which a crash leaves batch 1's index (and
# its edges) in the catalog, as pending driver runs on the driver path;
# ("fields", "insert_model_edges_delta") is the case above
TAIL_CRASHES = [
    ("pairs", "insert_model_edges_delta"),
    ("pairs", "merge_resolver_clusters_delta"),
    ("fields", "merge_resolver_clusters_delta"),
]


@pytest.mark.parametrize("case,crash_after", TAIL_CRASHES)
def test_crash_in_delta_tail_resumes_to_uninterrupted_drain(
    spark, tmp_path, monkeypatch, reference, case, crash_after
):
    """A batch-1 crash after the edge insert or after the claim merge
    resumes to the uninterrupted drain's catalog."""
    want = reference(case)[0]
    cat = _crash_and_resume(spark, tmp_path, monkeypatch, case, crash_after)
    assert _catalog_state(cat) == want


@pytest.mark.parametrize("case", list(CASES))
def test_empty_batch_runs_one_job(spark, tmp_path, monkeypatch, case):
    """An empty file in mid-stream costs every route one Spark job, the
    index collect, with no ``isEmpty`` job, and changes neither the
    catalog's tables nor its steps. On the ``pairs`` route a non-empty
    batch costs that one job too."""
    from pyspark.sql.streaming.readwriter import DataStreamWriter

    # these calls run under their own job groups, outside the batches'
    # counts below
    calls = _job_counter(
        spark,
        monkeypatch,
        ["insert_source_index_delta_mapped", "insert_model_edges_delta"],
    )
    sc = spark.sparkContext
    batches = CASES[case][0]
    cat = Catalog(spark)
    jobs = {}
    snaps = []
    start = DataStreamWriter.foreachBatch

    def counted(self, func):
        def run(batch, batch_id):
            # the batch runs under its query's job group; the snapshots run
            # outside the counted window
            group = sc.getLocalProperty("spark.jobGroup.id")
            snaps.append((_catalog_state(cat), dict(cat.steps)))
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            before = set(sc.statusTracker().getJobIdsForGroup(group))
            func(batch, batch_id)
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            after = set(sc.statusTracker().getJobIdsForGroup(group))
            jobs[batch_id] = len(after - before)

        return start(self, run)

    monkeypatch.setattr(DataStreamWriter, "foreachBatch", counted)
    q = _start(spark, case, cat, tmp_path, "empty", [batches[0], [], batches[2]])
    q.awaitTermination(600)
    assert q.exception() is None
    collects = calls()["insert_source_index_delta_mapped"]
    assert len(collects) == 3 and collects[1] == 1
    assert sorted(jobs) == [0, 1, 2]
    assert jobs[1] == 0  # the collect was the empty batch's only job
    assert snaps[1] == snaps[2]  # and it mutated nothing
    assert sorted(cat.steps) == ["s", "s_model", "s_resolve"]
    if case == "pairs":
        assert collects == [1, 1, 1] and jobs == {0: 0, 1: 0, 2: 0}
        # the empty batch returned before the edge insert
        assert calls()["insert_model_edges_delta"] == [0, 0]

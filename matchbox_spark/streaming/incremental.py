"""Incremental source indexing + entity resolution via Structured Streaming.

The reference is batch-only (SURVEY §1.4/§2.12 — its "real-time" matching is
a key lookup over precomputed clusters); this module is the Spark-native
extension it leaves open: new source rows arrive as a stream, each
micro-batch is content-indexed (H1/A1) and merged into the catalog
APPEND-ONLY (U6 insert-if-absent), so the cluster store stays current
without re-indexing the corpus and without rewriting accumulated state.

``foreachBatch`` is the right tool: the per-batch body reuses the exact
batch operators (same hash recipe, same catalog semantics), and exactly-once
state comes from checkpointing + the idempotence of the catalog's delta
inserts (replaying a batch appends nothing).

`incremental_index_stream` runs only the index phase: O(delta) state
appends; the accumulated ``clusters``/``cluster_keys`` tables are only
*read* (two anti-joins), never rewritten.

`incremental_resolve_stream` picks one ROUTE before the stream starts:

- ``pairs`` — a field-blocked model declaring ``delta_pairwise_contract``
  (e.g. ``NaiveDeduper``) keeps a driver map ``tuple → member ids`` and
  emits exactly each batch's old×new ∪ new×new pairs (optimization r14).
  The map retires to ``fields`` for the rest of the run when it cannot stay
  complete: a resumed run, prior catalog state, a dead index twin, or a
  batch over the driver budget.
- ``fields`` — raw blocking fields (``blocking_fields`` or the model's
  ``delta_blocking_fields``): the model re-runs only over accumulated rows
  sharing a blocking value with the batch (delta-link).
- ``keys`` — computed blocking values (LSH band keys — ``MinHashDeduper``,
  ``SimHashDeduper`` declare ``delta_block_keys``): each leaf's keys
  persist once into the catalog's ``block_keys`` index and a batch prunes
  accumulated state with one semi-join, so signatures are never recomputed
  over state.
- ``full`` — no delta contract: the model re-runs over all accumulated
  rows (general-correct for non-monotone models; O(accumulated) per batch
  by design), optionally only on every ``resolve_cadence``-th batch.

Every micro-batch runs the same phases: guard (skip an empty batch, refuse
a resumed checkpoint against a step-less catalog) → index → edges for the
route → delta tail → serving refresh. The delta tail is shared by the three
delta routes: append the new edges (``insert_model_edges_delta``) → star
edges for the prior components the batch can touch (one synthetic edge per
member — O(touched), not O(past edges) — so a bridging record still merges
clusters formed in earlier batches) → connected components over (edges ∪
stars) → claim merge (``merge_resolver_clusters_delta``) → free the
batch-local checkpoints. ``full`` replaces edges + tail with one model +
resolver rebuild.

Checkpoint/state coupling: the streaming checkpoint is durable but a
``Catalog(spark)`` without a path is not. Resuming a checkpoint against a
catalog that is missing the earlier batches' state would silently resolve
only post-restart data — both entry points detect that (first seen batch_id
> 0 against a step-less catalog) and raise instead.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from matchbox_spark.functions.hashing import row_hash_expr
from matchbox_spark.operators.lsh_linkers import AUTO
from matchbox_spark.plans.catalog import Catalog
from matchbox_spark.plans.resolvers import (
    _driver_cc_edge_limit,
    _free_checkpoint,
)

logger = logging.getLogger(__name__)

_EDGES = "left_id long, right_id long, score float"
_PANDAS_DTYPES = {"long": "int64", "float": "float32"}


def _guard_checkpoint_state(catalog: Catalog, step: str, batch_id: int) -> None:
    """Detect a durable checkpoint replayed against a fresh, empty catalog.

    The file-source checkpoint marks earlier files processed; if the catalog
    holds no state for ``step`` while the checkpoint says batches already
    ran, every pre-restart row would silently vanish from the resolved
    output. Fail fast instead.

    Callers invoke this only when the current RUN did not witness batch 0
    (i.e. the checkpoint genuinely resumed) — a run that starts at batch 0
    can accumulate any number of empty leading micro-batches (Kafka
    ``startingOffsets=latest``, an availableNow start before files exist)
    without tripping the guard. One case stays indistinguishable and still
    raises: a RESTART whose pre-restart batches were all empty — the
    checkpoint alone cannot prove no data ran, so use a fresh
    checkpoint_dir there.
    """
    if step not in catalog.steps:
        raise RuntimeError(
            f"streaming checkpoint resumes at batch {batch_id} but the "
            f"catalog has no state for step {step!r}: earlier micro-batches "
            "were marked processed by the checkpoint yet are absent here. "
            "Either restart with a fresh checkpoint_dir, or reopen the "
            "catalog that processed the earlier batches "
            "(Catalog(spark, path=...) / Catalog.load_tables)."
        )


def _start_stream(
    stream: DataFrame,
    catalog: Catalog,
    step: str,
    body,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Start ``stream`` with ``body(batch, batch_id, from_start)`` run on
    every NON-EMPTY micro-batch, after the checkpoint guard.

    ``from_start`` says whether this run witnessed batch 0; a run that did
    not is a resumed checkpoint, checked against ``step``'s catalog state
    before its first non-empty batch runs."""
    run = {"from_start": False}

    def _process(batch: DataFrame, batch_id: int) -> None:
        if batch_id == 0:
            run["from_start"] = True
        if batch.isEmpty():
            return
        if not run["from_start"]:
            _guard_checkpoint_state(catalog, step, batch_id)
        body(batch, batch_id, run["from_start"])

    writer = stream.writeStream.foreachBatch(_process).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def _local_frame(spark, schema: str, *columns) -> DataFrame:
    """A LocalRelation over ``columns`` (one sequence per field of the
    ``"name type, ..."`` ``schema``) that carries its pandas frame as
    ``_mb_local_pdf`` — the catalog's driver twins and the CC pandas
    shortcut read it without a Spark job."""
    import pandas as pd

    fields = [f.split() for f in schema.split(", ")]
    pdf = pd.DataFrame(
        {
            name: pd.array(col, dtype=_PANDAS_DTYPES[kind])
            for (name, kind), col in zip(fields, columns)
        }
    )
    df = spark.createDataFrame(pdf, schema)
    df._mb_local_pdf = pdf
    return df


def _raw_fields(source_step: str, fields: list[str]) -> list[str]:
    """Queried-space field names (``"{source_step}_a"``) → raw batch columns."""
    prefix = f"{source_step}_"
    return [f[len(prefix):] if f.startswith(prefix) else f for f in fields]


def _index_batch(
    catalog: Catalog,
    step: str,
    batch: DataFrame,
    key_field: str,
    index_fields: list[str],
    value_fields: list[str] | None = None,
):
    """H1-hash a batch, group to a content index, merge append-only (U6).

    With ``value_fields`` (the ``pairs`` route) the per-hash FIRST of each
    named field rides the same collect, string-cast for stable driver-side
    equality — legal because the fields are part of the hashed content
    (the route gates ``value_fields ⊆ index_fields``), so they are constant
    within a hash group. Returns the catalog's mapped batch index (a pandas
    frame with assigned ``cluster_id``) in that mode, or None when the
    driver twin cannot run — the caller must then re-call without
    ``value_fields`` (nothing was inserted)."""
    cols = [
        row_hash_expr(batch.schema, sorted(index_fields)).alias("hash"),
        F.col(key_field).cast("string").alias("key"),
    ]
    if value_fields:
        cols += [
            F.col(f).cast("string").alias(f"_bv_{i}")
            for i, f in enumerate(value_fields)
        ]
    hashed = batch.select(*cols)
    aggs = [F.sort_array(F.collect_list("key")).alias("keys")]
    if value_fields:
        aggs += [
            F.first(f"_bv_{i}").alias(f"_bv_{i}")
            for i in range(len(value_fields))
        ]
    index = hashed.groupBy("hash").agg(*aggs)
    if value_fields:
        return catalog.insert_source_index_delta_mapped(step, index)
    catalog.insert_source_index_delta(step, index)
    return None


def incremental_index_stream(
    stream: DataFrame,
    catalog: Catalog,
    step: str,
    key_field: str,
    index_fields: list[str],
    checkpoint_dir: str,
    trigger_available_now: bool = True,
) -> StreamingQuery:
    """Index a streaming source into the catalog, one micro-batch at a time.

    Each batch: H1 row hash over sorted index fields → group hashes → merge
    into ``catalog`` under ``step`` via the append-only delta insert
    (insert-if-absent; previously seen content just accumulates new keys).
    Per-batch state cost is O(batch); accumulated state is never rewritten.
    """

    def _index(batch: DataFrame, batch_id: int, from_start: bool) -> None:
        _index_batch(catalog, step, batch, key_field, index_fields)

    return _start_stream(
        stream, catalog, step, _index, checkpoint_dir, trigger_available_now
    )


def _touched_star_edges(
    catalog: Catalog, resolver_step: str, batch_leaves: DataFrame
) -> tuple[DataFrame | None, DataFrame | None]:
    """Star edges for ONLY the prior components a batch can change.

    ``batch_leaves`` (one ``leaf_id`` column) is the leaf-id set of the
    batch's blocked superset — the only rows a block-local model can link
    this batch, hence the only leaves through which an existing component
    can gain an edge. Components intersecting that set compress to one
    ``(min_leaf, leaf)`` star edge per member; everything else is neither
    read into the CC nor rewritten. Returns ``(star_edges,
    touched_root_ids)`` — the roots are eagerly materialised (they are the
    retirement candidates after the merge) — or ``(None, None)`` before the
    step first exists.

    Per-batch cost: on the driver path (live claim + contains mirrors) no
    Spark job beyond the bounded leaf collect (none when the caller
    attaches the leaves), but Python work proportional to the claim and
    contains mirrors — every claimed root of the step is sorted and its
    leaves scanned each batch. On the distributed path, one semi-join over
    the assignment map plus O(touched members) star rows.
    """
    if resolver_step not in catalog.steps:
        return None, None

    # Driver fast path (optimization r13): while the catalog's claim +
    # contains mirrors are live (every resolver mutation so far was
    # driver-local), the prior assignment map IS {(root, leaf) for root in
    # claims[step] for leaf in contains_mirror[root]} — so one bounded
    # collect of the batch-leaf ids (the same size-adaptive budget the CC
    # escape uses; an over-budget blocked superset falls through to the
    # distributed semi-joins) replaces the touched-roots checkpoint job,
    # and the stars + roots upload as LocalRelations that the catalog's
    # merge twin consumes without further jobs. Same semantics row for
    # row: touched = claimed roots whose leaf set intersects the batch
    # leaves; stars = (min leaf, other leaf) per touched root.
    rcmirror = getattr(catalog, "_driver_rc", None)
    kmirror = getattr(catalog, "_driver_contains", None)
    if rcmirror is not None and kmirror is not None:
        spark = batch_leaves.sparkSession
        limit = _driver_cc_edge_limit(spark)
        # count-then-collect, not limit(n+1).toPandas(): the limit probe
        # funnels through CollectLimitExec's single partition and converts
        # single-threaded (~3x slower at ~900k rows — same measurement as
        # _collect_edges_if_small); every route passes frames derived
        # from eagerly-checkpointed batch state, so the count is one cheap
        # job and the collect stays a parallel Arrow transfer. The pairs
        # route already holds the leaves driver-side and attaches them as
        # _mb_local_pdf — zero jobs then.
        pdf = getattr(batch_leaves, "_mb_local_pdf", None)
        if pdf is None and batch_leaves.count() <= limit:
            pdf = batch_leaves.toPandas()
        if pdf is not None and len(pdf) <= limit:
            leafset = {int(v) for v in pdf[pdf.columns[0]].tolist()}
            troots: list[int] = []
            lefts: list[int] = []
            rights: list[int] = []
            for r in sorted(rcmirror.get(resolver_step, set())):
                leaves = kmirror.get(r, ())
                if any(l in leafset for l in leaves):
                    troots.append(r)
                    rep = min(leaves)
                    others = [leaf for leaf in leaves if leaf != rep]
                    lefts.extend([rep] * len(others))
                    rights.extend(others)
            stars = _local_frame(spark, _EDGES, lefts, rights, [1.0] * len(lefts))
            return stars, _local_frame(spark, "root_id long", troots)

    from matchbox_spark.plans.query import resolver_assignments

    prev = resolver_assignments(catalog, resolver_step)
    # no broadcast hints on either semi-join: batch_leaves is the BLOCKED
    # SUPERSET of the batch (a hot blocking value — boilerplate default —
    # makes it O(accumulated state)), and touched_roots inherits that
    # cardinality; a forced broadcast would collect it to the driver every
    # micro-batch and OOM at scale. Unhinted, the planner shuffles when
    # big and AQE still converts to broadcast at runtime when the measured
    # size is small (the common case the hint was chasing).
    touched_roots = (
        prev.join(batch_leaves, "leaf_id", "left_semi")
        .select("root_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    members = prev.join(touched_roots, "root_id", "left_semi")
    reps = members.groupBy("root_id").agg(F.min("leaf_id").alias("_rep"))
    stars = (
        members.join(reps, "root_id")
        .where(F.col("leaf_id") != F.col("_rep"))
        .select(
            F.col("_rep").alias("left_id"),
            F.col("leaf_id").alias("right_id"),
            F.lit(1.0).cast("float").alias("score"),
        )
    )
    return stars, touched_roots


def _pair_contract(model, source_step, stream, index_fields) -> dict | None:
    """The ``pairs`` route's gate: the model's pairwise contract (edges =
    all distinct-id pairs within equal non-null unique-field tuples, fixed
    score) with its fields part of the hashed index content (so their
    per-hash values ride the index collect) and of types with stable
    driver-side equality under a string cast (floats excluded: Spark's
    groupBy normalises NaN and -0.0, the cast does not). None when any
    part fails."""
    probe = getattr(model, "delta_pairwise_contract", None)
    contract = probe() if callable(probe) else None
    if not contract:
        return None
    raw = _raw_fields(source_step, contract["fields"])
    dtypes = dict(stream.dtypes)
    stable = {"tinyint", "smallint", "int", "bigint", "string", "boolean", "date"}
    if not raw or not set(raw) <= set(index_fields):
        return None
    if not all(
        f in dtypes and (dtypes[f] in stable or dtypes[f].startswith("decimal"))
        for f in raw
    ):
        return None
    return {
        "raw": raw,
        "score": float(contract["score"]),
        "cap": contract["max_group_size"],
    }


def _delta_pair_batch(bidx, contract: dict, pmap: dict, spark):
    """The ``pairs`` route's edges for one micro-batch, from the driver
    block map (optimization r14, guide §1.2 "the distributed algorithm" /
    §2.4 remove shuffles outright).

    Under the model's :meth:`delta_pairwise_contract` (edges = every
    unordered distinct-id pair within a group of equal non-null
    unique-field tuples, fixed score), a batch can only CREATE pairs that
    touch one of its own rows — old×old pairs were created by the batch
    that delivered the later old row. So instead of rebuilding the
    O(accumulated) blocked superset and re-expanding every touched group's
    full pair set per batch, keep a driver map ``tuple → member ids``
    (``pmap``) and emit exactly the delta pairs (old×new ∪ new×new per
    block):

    - the edges equal the ``fields`` route's post-anti-join delta by the
      contract (and still flow through ``insert_model_edges_delta``'s
      anti-join, which makes batch replay a no-op exactly as before);
    - the leaves (the touched blocks' member union) are a SUBSET of the
      ``fields`` route's OR-superset that still contains every component
      that can gain an edge (edges only form inside tuple blocks), and a
      root starred under the wider set but untouched by any edge re-forms
      to its own content-addressed id — byte-identical terminal state;
    - CC input = delta pairs ∪ stars: every old×old pair's endpoints are
      members of a prior (hence starred) component, so connectivity —
      and therefore the assignments — matches the ``fields`` route.

    ``max_group_size`` transfers: the moment a block's accumulated
    distinct-member count exceeds the cap, the ``fields`` route drops the
    whole group from that batch's pair output (earlier appends persist) —
    the map stops emitting at the same boundary.

    Budget: pairs emitted this batch and total mapped members both bound
    by the CC driver edge limit. Returns ``(edges, edges_pdf, leaves,
    frames)`` for the delta tail, or None BEFORE any mutation when a batch
    would blow the budget — the caller then retires the map to ``fields``.
    """
    limit = _driver_cc_edge_limit(spark)
    blocks: dict = pmap["blocks"]
    cap = contract["cap"]
    ids = bidx["cluster_id"].tolist()
    valcols = [bidx[f"_bv_{i}"].tolist() for i in range(len(contract["raw"]))]

    # phase 1 — no mutation: the batch's new member ids per block, pair
    # count, and the budget check
    add: dict[tuple, set] = {}
    touched: set = set()
    for j, cid in enumerate(ids):
        vals = tuple(col[j] for col in valcols)
        if any(v is None for v in vals):
            continue  # NaiveDeduper's na.drop: a null field never pairs
        touched.add(vals)
        prior = blocks.get(vals)
        pend = add.setdefault(vals, set())
        if (prior is not None and cid in prior) or cid in pend:
            continue  # replayed / duplicate-content row: already a member
        pend.add(int(cid))
    total = 0
    n_new_members = 0
    for vals, pend in add.items():
        n_old = len(blocks.get(vals) or ())
        g = n_old + len(pend)
        n_new_members += len(pend)
        if not pend or g < 2 or (cap is not None and g > cap):
            continue
        total += n_old * len(pend) + len(pend) * (len(pend) - 1) // 2
    if total > limit or pmap["rows"] + n_new_members > limit:
        return None

    # phase 2 — mutate the map, emit exactly the delta pairs
    lefts: list[int] = []
    rights: list[int] = []
    for vals, pend in add.items():
        s = blocks.setdefault(vals, set())
        g = len(s) + len(pend)
        if pend and g >= 2 and (cap is None or g <= cap):
            new_sorted = sorted(pend)
            for i, nid in enumerate(new_sorted):
                for oid in s:
                    if nid < oid:
                        lefts.append(nid)
                        rights.append(oid)
                    else:
                        lefts.append(oid)
                        rights.append(nid)
                for oid in new_sorted[i + 1 :]:
                    lefts.append(nid)
                    rights.append(oid)
        s.update(pend)
    pmap["rows"] += n_new_members

    edges = _local_frame(
        spark, _EDGES, lefts, rights, [contract["score"]] * len(lefts)
    )
    leaf_set: set = set()
    for vals in touched:
        leaf_set.update(blocks.get(vals) or ())
    leaves = _local_frame(spark, "leaf_id long", sorted(leaf_set))
    edges._mb_driver_resident = leaves._mb_driver_resident = True
    return edges, edges._mb_local_pdf, leaves, ()


def _field_edges(model, data, batch, blocking_fields, source_step):
    """The ``fields`` route's edges: the model over accumulated rows sharing
    ANY blocking value with the batch (OR semantics — a conservative
    superset, correct for both tuple-blocked and multi-pass per-field
    models). Returns ``(edges, edges_pdf, leaves, frames)``."""
    raw = _raw_fields(source_step, blocking_fields)
    # one collect_set job + an OR-of-isin filter (optimization r13)
    # instead of per-field distinct + broadcast-semi-join + union +
    # dropDuplicates — the same batch blocking values the old path
    # broadcast now drive a plain filter, so the superset checkpoint
    # below is one scan+join+filter with no union/dedup exchange and no
    # per-field job. Row-identical: OR of memberships == the
    # deduplicated union of per-field semi-joins, and isin's
    # null-in-data handling (NULL → filter drops) matches the
    # semi-join's null-key behaviour. A batch whose distinct value set is
    # too large for an expression literal falls back to the semi-join
    # shape — the value set is exactly what the old path collected into
    # its broadcasts.
    sets = batch.agg(
        *[F.collect_set(r).alias(q) for q, r in zip(blocking_fields, raw)]
    ).collect()[0]
    if sum(len(sets[q]) for q in blocking_fields) <= 100_000:
        cond = None
        for q in blocking_fields:
            if sets[q]:
                c = F.col(q).isin(list(sets[q]))
                cond = c if cond is None else (cond | c)
        data = data.where(cond if cond is not None else F.lit(False))
    else:
        parts = []
        for q, r in zip(blocking_fields, raw):
            vals = batch.select(F.col(r).alias(q)).distinct()
            parts.append(data.join(F.broadcast(vals), q, "left_semi"))
        data = parts[0]
        for part in parts[1:]:
            data = data.unionByName(part)
        if len(parts) > 1:
            data = data.dropDuplicates()
    # materialise the superset ONCE: both the model and the leaves consume
    # it, and without the pin each would re-run the query_data join +
    # per-field filter over the accumulated index (the dominant per-batch
    # scan)
    data = data.localCheckpoint(eager=True)
    edges, epdf = _collect_edges_if_small(model.dedupe(data))
    leaves = data.select(F.col("id").alias("leaf_id")).distinct()
    return edges, epdf, leaves, (data,)


def _block_key_edges(catalog, model, model_step, data, batch, index_fields):
    """The ``keys`` route's edges: the batch's block keys — O(batch) to
    compute, a pure function of batch content, so replay-safe — select the
    accumulated leaves the model could touch via one semi-join on the
    persisted key index. Returns ``(edges, edges_pdf, leaves, frames)``."""
    id_col = getattr(getattr(model, "settings", None), "id", None) or "id"
    batch_hashes = batch.select(
        row_hash_expr(batch.schema, sorted(index_fields)).alias("cluster_hash")
    ).distinct()
    batch_leaf_ids = (
        catalog.clusters.join(batch_hashes, "cluster_hash", "left_semi")
        .select(F.col("cluster_id").alias(id_col))
        .localCheckpoint(eager=True)
    )
    batch_rows = data.join(batch_leaf_ids, id_col, "left_semi").localCheckpoint(
        eager=True
    )
    batch_keys = model.delta_block_keys(batch_rows).localCheckpoint(eager=True)
    # persist the batch leaves' keys FIRST (insert-if-absent per leaf), so
    # the touched semi-join below sees the batch itself
    catalog.insert_block_keys_delta(
        model_step,
        batch_keys.select(F.col(id_col).alias("leaf_id"), "block_key"),
    )
    touched_leaves = (
        catalog.block_keys.where(F.col("step") == model_step)
        .join(batch_keys.select("block_key").distinct(), "block_key", "left_semi")
        .select("leaf_id")
        .distinct()
        .localCheckpoint(eager=True)
    )
    data = data.join(
        touched_leaves.select(F.col("leaf_id").alias(id_col)), id_col, "left_semi"
    ).localCheckpoint(eager=True)
    edges, epdf = _collect_edges_if_small(model.dedupe(data))
    frames = (batch_leaf_ids, batch_rows, batch_keys, touched_leaves, data)
    return edges, epdf, touched_leaves, frames


def _collect_edges_if_small(edges: DataFrame):
    """Bounded Arrow collect of one batch's scored edges (optimization r13).

    The delta loop used to materialise each batch's edge set up to three
    times — eager checkpoint, edge-delta anti-join, driver-CC probe
    collect. When the edge schema is the canonical ``(left_id long,
    right_id long, score float)`` and the row count fits the SAME driver
    budget the CC escape uses, collect ONCE and hand the driver-resident
    frame to all three consumers (the catalog's edge-delta twin, the star
    union, the CC pandas shortcut) — a LocalRelation needs no checkpoint
    and costs no further jobs. Over-budget or non-canonical edges keep
    the eager-checkpoint shape unchanged. Returns ``(frame, pdf | None)``.
    """
    spark = edges.sparkSession
    ckpt = edges.localCheckpoint(eager=True)
    fields = ckpt.schema.fields
    if [f.name for f in fields] != ["left_id", "right_id", "score"] or [
        f.dataType.simpleString() for f in fields
    ] != ["bigint", "bigint", "float"]:
        return ckpt, None
    # count over the just-materialised blocks is one cheap job, and the
    # full collect stays a PARALLEL Arrow transfer — a limit(n+1).toPandas
    # probe would funnel through CollectLimitExec's single partition and
    # convert single-threaded (measured ~3x slower at 900k edges)
    if ckpt.count() > _driver_cc_edge_limit(spark):
        return ckpt, None
    pdf = ckpt.toPandas()
    ckpt._mb_local_pdf = pdf
    return ckpt, pdf


def _attach_cc_pdf(cc_edges, epdf, stars):
    """Mark the (new edges ∪ stars) union driver-resident when both parts
    are — the CC pandas shortcut then skips its probe job. The attached
    frame holds exactly the union's rows, so a distributed fallback (over
    the plan) and the shortcut (over the pandas) see the same edge set."""
    if epdf is None:
        return cc_edges
    if stars is None:
        cc_edges._mb_local_pdf = epdf
        return cc_edges
    spdf = getattr(stars, "_mb_local_pdf", None)
    if spdf is None:
        return cc_edges
    import pandas as pd

    cc_edges._mb_local_pdf = (
        pd.concat([epdf, spdf], ignore_index=True) if len(spdf) else epdf
    )
    return cc_edges


def _delta_tail(
    catalog: Catalog,
    source_step: str,
    resolver_method,
    routed: tuple,
    fallbacks0: int,
    batch_id: int,
) -> None:
    """The delta routes' shared tail for one batch. ``routed`` is the
    route's ``(edges, edges_pdf, leaves, frames)``: append the edges, star
    the prior components holding one of ``leaves``, run CC over (edges ∪
    stars), merge the claims, then free the batch-local checkpoints
    (``frames``, the edges and the touched roots)."""
    edges, epdf, leaves, frames = routed
    model_step = f"{source_step}_model"
    resolver_step = f"{source_step}_resolve"
    catalog.insert_model_edges_delta(model_step, edges)
    # only components holding a leaf the model could touch this batch are
    # starred, recomputed, and (if merged away) retired
    stars, touched_roots = _touched_star_edges(catalog, resolver_step, leaves)
    cc_edges = _attach_cc_pdf(
        edges if stars is None else edges.unionByName(stars), epdf, stars
    )
    assignments = resolver_method.compute_clusters({model_step: cc_edges})
    catalog.merge_resolver_clusters_delta(
        resolver_step, assignments, candidate_roots=touched_roots
    )
    # batch-local checkpoints are dead once the batch's catalog deltas are
    # materialised (the catalog eagerly checkpoints its own copies); free
    # them now — otherwise every micro-batch leaves one set of cached
    # blocks behind until a driver GC happens to run (round 10, same
    # lifecycle fix as CC rounds). That assumes every catalog delta
    # checkpointed its OWN copy: if any _ckpt fell back to the raw plan
    # (rare AQE planning bug), a stored part still references these frames
    # and freeing them would truncate lineage unrecoverably, so the frees
    # are deferred to driver GC — and said so, or a long-running stream's
    # lingering blocks look like the pre-r10 leak instead of this skip.
    local = [f for f in (*frames, edges, touched_roots) if f is not None]
    if catalog._ckpt_fallbacks == fallbacks0:
        for frame in local:
            _free_checkpoint(frame)
    else:
        logger.warning(
            "batch %s: skipped freeing %d batch-local checkpoints "
            "(catalog checkpoint fallbacks %d -> %d); blocks are "
            "released by driver GC",
            batch_id,
            len(local),
            fallbacks0,
            catalog._ckpt_fallbacks,
        )


def _full_resolve(
    catalog: Catalog,
    source_step: str,
    data: DataFrame,
    model,
    resolver_method,
    tag: bytes,
) -> None:
    """One full-recompute pass: re-run the model over every accumulated row
    and rebuild the model + resolver steps — O(state), the general-correct
    refresh for models whose scores drift as data accumulates."""
    model_step = f"{source_step}_model"
    resolver_step = f"{source_step}_resolve"
    edges = model.dedupe(data).localCheckpoint(eager=True)
    catalog.drop_step(model_step)
    catalog.insert_model_edges(model_step, edges, fingerprint=tag)
    cc_edges = catalog.model_edges.where(
        F.col("step") == model_step
    ).select("left_id", "right_id", "score")
    assignments = resolver_method.compute_clusters({model_step: cc_edges})
    catalog.steps.pop(resolver_step, None)
    catalog.insert_resolver_clusters(resolver_step, assignments, fingerprint=tag)


def _source_data(spark, catalog, source_step, key_field, index_fields, location):
    """The model's input: the accumulated rows of ``source_step`` (the
    source at ``location`` inner-joined against the catalog's ingested
    keys, so rows from not-yet-processed files drop out)."""
    from matchbox_spark.plans.query import QueryConfig, query_data
    from matchbox_spark.sources.source import SourceConfig

    cfg = SourceConfig(
        name=source_step,
        location=location,
        key_field=key_field,
        index_fields=index_fields,
    )
    return query_data(spark, catalog, QueryConfig(sources=[cfg]))


def _refresh_serving(matcher, catalog, source_step, key_field, batch=None):
    """Keep the interactive lookup warm: patch ``matcher``'s cached
    projection with just ``batch``'s changed clusters (delta routes —
    merges only enter through batch rows), or fully re-materialise it when
    ``batch`` is None (full recompute — any score may have drifted)."""
    if matcher is None:
        return
    from matchbox_spark.plans.query import unified_query

    plan = unified_query(
        catalog, [f"{source_step}_resolve"], [source_step], level="key"
    )
    touched = None
    if batch is not None:
        touched = batch.select(
            F.lit(source_step).alias("source"),
            F.col(key_field).cast("string").alias("key"),
        ).distinct()
    matcher.refresh(plan, touched)


def finalize_resolve(
    spark,
    catalog: Catalog,
    source_step: str,
    key_field: str,
    index_fields: list[str],
    model,
    resolver_method,
    source_location: str | None = None,
    serving_matcher=None,
) -> None:
    """Terminal recompute for a cadenced full-mode stream.

    A stream started with ``resolve_cadence=N > 1`` leaves up to N-1
    trailing batches indexed but not resolved. Calling this once after the
    stream drains runs the same full model+resolver rebuild a cadence tick
    runs, so the terminal catalog state is exactly the batch pipeline's —
    one O(state) pass at close instead of one per batch. Refreshes
    ``serving_matcher`` fully when given.
    """
    data = _source_data(
        spark, catalog, source_step, key_field, index_fields, source_location
    )
    _full_resolve(
        catalog, source_step, data, model, resolver_method, tag=b"finalize"
    )
    _refresh_serving(serving_matcher, catalog, source_step, key_field)


def _choose_route(
    model, blocking_fields, auto_delta, stream, catalog, source_step, index_fields
):
    """The stream's route, chosen once before it starts, as ``(route,
    blocking_fields, pair_contract)``. An explicit ``blocking_fields`` wins;
    with ``auto_delta`` a model declaring ``delta_blocking_fields`` or
    ``delta_block_keys`` routes to ``fields`` or ``keys``; anything else is
    ``full``. A ``fields`` route whose model passes the pair-contract gate
    becomes ``pairs`` when the catalog holds no prior state for any of the
    stream's steps — the map is complete only then (pre-stream rows are
    invisible to it)."""
    if blocking_fields is None and auto_delta:
        probe = getattr(model, "delta_blocking_fields", None)
        if callable(probe):
            blocking_fields = probe()
        elif callable(getattr(model, "delta_block_keys", None)):
            # computed-blocking contract (LSH-family): the model can state,
            # per row, the block keys under which it can ever form an edge
            return "keys", None, None
    if not blocking_fields:
        return "full", None, None
    contract = _pair_contract(model, source_step, stream, index_fields)
    steps = (source_step, f"{source_step}_model", f"{source_step}_resolve")
    if contract is None or any(s in catalog.steps for s in steps):
        return "fields", blocking_fields, None
    return "pairs", blocking_fields, contract


def incremental_resolve_stream(
    stream: DataFrame,
    catalog: Catalog,
    source_step: str,
    key_field: str,
    index_fields: list[str],
    model,
    resolver_method,
    checkpoint_dir: str,
    source_location: str | None = None,
    blocking_fields: list[str] | None = None,
    serving_matcher=None,
    auto_delta: bool = True,
    resolve_cadence: int = 1,
) -> StreamingQuery:
    """Streaming entity resolution: every micro-batch ingests new rows and
    refreshes the model + resolver state. The route (``pairs``, ``fields``,
    ``keys`` or ``full``) is chosen once, before the stream starts, and each
    batch runs the phases listed in the module docstring.

    ``source_location`` is the batch-readable path of the stream's data
    (the model re-query joins it against the catalog's ingested keys — the
    inner join means rows from not-yet-processed files drop out, so the
    per-batch model sees exactly the accumulated state).

    ``blocking_fields`` (names as they appear in the queried/qualified
    space, e.g. ``"s_grp"``; raw batch columns are recovered by stripping
    the ``"{source_step}_"`` prefix, so blocking fields must pass through
    cleaning unchanged) selects the ``fields`` route — or ``pairs`` when the
    model also declares ``delta_pairwise_contract``. The model then runs
    ONLY over accumulated rows that share a blocking value with the batch,
    and CC runs over (new edges ∪ prior star edges), at O(batch blocks +
    touched members) per batch instead of O(accumulated corpus). Requires a
    deterministic model whose edges depend only on rows within a block
    (true for blocking-style dedupers/linkers).

    The ``keys`` route (a model declaring ``delta_block_keys(data) -> (id,
    block_key)``, e.g. ``MinHashDeduper``) is correct for models whose edge
    existence requires a shared block key and whose per-row keys depend
    only on that row (true for MinHash/SimHash banding).

    **Auto-routing** (``auto_delta=True``, the default): a model that
    declares block-locality — a ``delta_blocking_fields()`` method
    returning queried-space field names, e.g. ``NaiveDeduper``, or a
    ``delta_block_keys`` method, e.g. ``MinHashDeduper`` — is routed
    through the matching delta route automatically when the caller passes
    no ``blocking_fields``, because for such models delta and full routes
    provably produce the same terminal clusters and only the delta routes
    stay flat as state accumulates. Pass ``auto_delta=False`` to force the
    full recompute anyway (e.g. to exercise the general path).

    On the delta routes every per-batch state mutation is an O(touched)
    APPEND: ``clusters``/``contains``/``cluster_keys``/``model_edges`` move
    append-only, new resolver claims append, and claims for merged-away
    roots retire via the catalog's tombstone overlay
    (:meth:`~matchbox_spark.plans.catalog.Catalog.merge_resolver_clusters_delta`)
    — nothing is rewritten per batch; tombstones fold in amortised.

    **Full route** (no delta contract, or ``auto_delta=False``): the model
    re-runs over ALL indexed data and the model/resolver steps are dropped
    and re-inserted — the general-correct path for models whose scores
    change as data accumulates (e.g. EM-trained). With ``resolve_cadence=N``
    (N > 1) indexing still runs every batch but the O(state) recompute runs
    only on every Nth batch — trading bounded staleness (up to N-1 batches)
    for an N× cut in amortised recompute. Served clusters between
    recomputes reflect the last resolve; call :func:`finalize_resolve`
    after the stream drains to make the terminal state exact. The cadence
    is ignored on the delta routes, which are already flat per batch.
    """
    # corpus-derived ('auto') LSH parameters freeze from the FIRST corpus a
    # model sees — in a stream that is micro-batch 1, the one slice that is
    # NO proxy for the eventual corpus (a 1k-doc first batch would freeze
    # 16-bit SimHash, the width measured quadratic by ~50k docs). The
    # delta path already refuses this inside delta_block_keys; the full-
    # recompute path would silently mis-size, so refuse EVERY route up
    # front with the same pinning guidance.
    unresolved = [
        name
        for name in ("bits", "bucket_dims")
        if getattr(getattr(model, "settings", None), name, None) == AUTO
    ]
    if unresolved:
        raise ValueError(
            f"{type(model).__name__}({', '.join(unresolved)}='auto') sizes "
            "its parameters from the full corpus at dedupe() time, but a "
            "stream's first micro-batch is no proxy for the corpus — pin "
            "explicitly for incremental_resolve_stream (size with "
            "auto_simhash_bits / auto_embedding_bucket_dims against the "
            "expected corpus)"
        )
    route, blocking_fields, contract = _choose_route(
        model, blocking_fields, auto_delta, stream, catalog, source_step, index_fields
    )
    if resolve_cadence < 1:
        raise ValueError("resolve_cadence must be >= 1")
    pmap = {"blocks": {}, "rows": 0}  # the pairs route's driver block map

    def _resolve(batch: DataFrame, batch_id: int, from_start: bool) -> None:
        nonlocal route
        spark = batch.sparkSession
        fallbacks0 = catalog._ckpt_fallbacks
        bidx = None
        if route == "pairs" and from_start:
            bidx = _index_batch(
                catalog,
                source_step,
                batch,
                key_field,
                index_fields,
                value_fields=contract["raw"],
            )
        if bidx is None:
            _index_batch(catalog, source_step, batch, key_field, index_fields)
        if route == "full" and batch_id % resolve_cadence:
            return  # cadenced index-only batch: serving keeps the last resolve
        routed = None
        if bidx is not None:
            routed = _delta_pair_batch(bidx, contract, pmap, spark)
        if routed is None and route == "pairs":
            # the map misses rows from here on — a resumed run cannot
            # rebuild it, a dead index twin (mirror invalidated / over
            # budget) left this batch out, or the batch was over the driver
            # budget (found BEFORE any map mutation) — so it retires and
            # this batch and the rest of the run take the fields route
            route = "fields"
        if routed is None:
            data = _source_data(
                spark, catalog, source_step, key_field, index_fields, source_location
            )
            if route == "full":
                tag = f"b{batch_id}".encode()
                _full_resolve(catalog, source_step, data, model, resolver_method, tag)
            elif route == "fields":
                routed = _field_edges(model, data, batch, blocking_fields, source_step)
            else:
                routed = _block_key_edges(
                    catalog, model, f"{source_step}_model", data, batch, index_fields
                )
        if routed is not None:
            _delta_tail(
                catalog, source_step, resolver_method, routed, fallbacks0, batch_id
            )
        touched = None if route == "full" else batch
        _refresh_serving(serving_matcher, catalog, source_step, key_field, touched)

    return _start_stream(stream, catalog, source_step, _resolve, checkpoint_dir)

"""Model evaluation against human judgements (SURVEY §2 A6/A11/U5/J10).

Re-expresses the reference's pair-based precision/recall
(/root/reference/src/matchbox/common/eval.py:52-281) relationally:

- Judgements expand to leaf level through the expansion table (J10); missing
  expansions mean singleton leaves.
- Each judgement row contributes weighted votes: endorsed pairs get
  ``1 + (|shown|-|endorsed|)/|shown|``, shown-but-not-endorsed pairs get
  ``-|endorsed|/|shown|`` — summed per pair this nets +1/-1 per complete
  judgement regardless of row interleaving (the reference's dict loop,
  A11, here a groupBy).
- Models and judgements are compared only on leaves present in *all* inputs
  (U5 intersection); neutrally-judged pairs (net 0) drop from both sides,
  negatively-judged pairs stay in the model side only.

Deviation noted: the reference indexes ``net_count[(a,b)]`` directly and
would raise on a model pair never judged; we inner-join (unjudged model pairs
drop), which is the only total behaviour.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def pairs_expr(arr: Column) -> Column:
    """All 2-combinations (a < b) of a distinct-element array, as structs."""
    return F.flatten(
        F.transform(
            arr,
            lambda a: F.transform(
                F.filter(arr, lambda b: b > a),
                lambda b: F.struct(a.alias("a"), b.alias("b")),
            ),
        )
    )


def cluster_pairs(root_leaf: DataFrame) -> DataFrame:
    """Implied pairwise connections of a (root, leaf) clustering.

    Combinations expand through the dedupers' codegen'd posexplode/
    tail-slice, not ``pairs_expr`` — the interpreted nested-transform
    (which additionally re-scans the whole array with ``F.filter`` per
    element, O(g²) lambda invocations per group) dominated the ev8
    threshold sweep at ~600-leaf components. Same (a < b) pair set:
    leaves are sorted distinct per group. ``dropDuplicates`` stays — a
    proper clustering partitions the leaves so it is a no-op shuffle on
    CC output, but the helper's contract accepts any (root, leaf) frame."""
    groups = root_leaf.groupBy("root").agg(
        F.sort_array(F.collect_set("leaf")).alias("members")
    )
    from matchbox_spark.operators.dedupers import _tail_slice_explode

    # spread the (few, small) group rows before the quadratic explosion:
    # AQE coalesces the tiny aggregate to one partition, which would run
    # the entire O(Σ g²) pair fan-out on one core (guide §2.5 — the
    # explode side of input skew). An explicit repartition is exempt from
    # AQE coalescing; the shuffled rows are one array per cluster.
    n = root_leaf.sparkSession.sparkContext.defaultParallelism
    return (
        _tail_slice_explode(groups.repartition(n))
        .select(F.col("lid").alias("a"), F.col("rid").alias("b"))
        .dropDuplicates()
    )


def expand_judgements(judgements: DataFrame, expansion: DataFrame) -> DataFrame:
    """J10: judgements at leaf level: (user_name, shown_leaves, endorsed_leaves).

    ``shown`` must expand; ``endorsed`` may be a singleton leaf (left join +
    array fallback).
    """
    shown_x = expansion.select(
        F.col("root").alias("shown"), F.col("leaves").alias("shown_leaves")
    )
    endorsed_x = expansion.select(
        F.col("root").alias("endorsed"), F.col("leaves").alias("endorsed_leaves")
    )
    out = (
        judgements.join(shown_x, "shown")
        .join(endorsed_x, "endorsed", "left")
        .withColumn(
            "endorsed_leaves",
            F.coalesce(F.col("endorsed_leaves"), F.array(F.col("endorsed"))),
        )
    )
    return out


def judgement_net_counts(judgements: DataFrame, expansion: DataFrame) -> DataFrame:
    """(a, b, net) — weighted endorse/reject accumulation per leaf pair.

    Per judgement row the contract is: endorsed pairs get
    ``1 + (n_shown − n_endorsed)/n_shown``, shown-but-not-endorsed pairs
    get ``−n_endorsed/n_shown``. The implementation telescopes the split:
    EVERY shown pair gets the negative term and every endorsed pair gets a
    flat ``+2`` (2 − n_e/n_s = 1 + (n_s − n_e)/n_s — identical net). This
    avoids ``array_except`` between the two struct-pair arrays, which
    Spark evaluates with a quadratic per-row scan for struct elements —
    at a 600-member shown cluster that was 180k × 36k struct comparisons
    per judgement row (a >6-minute straggler at sf0.1, round 12); the
    telescoped form is two linear explodes into one map-side-combinable
    groupBy.

    Fan-out shape (optimization r13, guide §2.3 "aggregate before you
    shuffle"): the pair set a judgement explodes depends ONLY on its
    shown/endorsed root (expansion is a root → leaves function), so
    judgements sharing a root are pre-summed to one weight per root
    BEFORE the quadratic pair fan-out. Each root's g·(g−1)/2 pairs now
    explode once total instead of once per judgement — at ev8's 5×
    re-judged nation clusters that is 23.4M → 5.4M exploded rows feeding
    the same groupBy. Net is unchanged: Σ_judgements w_j·[pair ∈ root_j]
    = Σ_roots (Σ_j∈root w_j)·[pair ∈ root] — the same terms, summed
    per-root first (float order was already partition-dependent; ``net``
    rounds to 9 dp)."""
    from matchbox_spark.operators.dedupers import _tail_slice_explode

    ex = expand_judgements(judgements, expansion)
    ex = ex.withColumn("n_shown", F.size("shown_leaves")).withColumn(
        "n_endorsed", F.size("endorsed_leaves")
    )
    # one row per distinct root with the summed weight; every judgement
    # row for a root carries the identical leaves array (root → leaves is
    # a function, and the singleton fallback is keyed by the root too), so
    # first() is deterministic in value
    pos_roots = ex.groupBy("endorsed").agg(
        F.sum(F.lit(2.0)).alias("w"),
        F.first("endorsed_leaves").alias("leaves"),
    )
    neg_roots = ex.groupBy("shown").agg(
        F.sum(-(F.col("n_endorsed") / F.col("n_shown"))).alias("w"),
        F.first("shown_leaves").alias("leaves"),
    )
    # spread the root rows before the quadratic pair fan-out — the root
    # frame is sample-sized (often fewer rows than cores), so without this
    # the whole explosion lands on one or two tasks
    roots = (
        pos_roots.select("w", "leaves")
        .unionByName(neg_roots.select("w", "leaves"))
        .repartition(judgements.sparkSession.sparkContext.defaultParallelism)
    )
    # combinations via the dedupers' codegen'd posexplode/tail-slice (the
    # per-row weight rides along) — pairs_expr's interpreted nested
    # transform re-scans the whole array per element (O(g²) lambda
    # invocations); at ev8's ~120-leaf shown clusters it was 25 s of the
    # 72 s sweep. Same (a < b) multiset from the sorted arrays.
    pairs = _tail_slice_explode(
        roots.select(F.array_sort("leaves").alias("members"), "w")
    )
    return (
        pairs.select(F.col("lid").alias("a"), F.col("rid").alias("b"), "w")
        # pre-shuffle on the group keys (optimization r13, guide §2.4/§2.5):
        # the pair weights are nearly unique by (a, b), so the partial agg
        # barely shrinks the exchange while AQE — seeing only the modest
        # partial-row BYTES, not the millions of keys — coalesced the final
        # aggregate to ~3 tasks (measured 1.5M keys/task, 8.9 → 4.4 s at
        # ev8's 4.5M judged pairs). An explicit key repartition is exempt
        # from AQE coalescing and the groupBy reuses its partitioning (no
        # second exchange); the partition count follows the session's core
        # count. Per-key float-sum order changes only for pairs judged ≥3
        # times, where it was already partition-layout-dependent (the bench
        # runs at multiple core counts); ``net`` rounds to 9 dp either way.
        .repartition(
            judgements.sparkSession.sparkContext.defaultParallelism, "a", "b"
        )
        .groupBy("a", "b")
        .agg(F.round(F.sum("w"), 9).alias("net"))
    )


def precision_recall(
    models_root_leaf: list[DataFrame],
    judgements: DataFrame,
    expansion: DataFrame,
) -> list[tuple[float, float]]:
    """Pair precision/recall per model against weighted validation pairs."""
    if judgements.isEmpty():
        raise ValueError("Judgements data cannot be empty.")
    for i, m in enumerate(models_root_leaf):
        if m.isEmpty():
            raise ValueError(f"Model data at index {i} cannot be empty.")

    net = judgement_net_counts(judgements, expansion).localCheckpoint(eager=True)

    # shared leaves across every model + the judged universe (U5)
    shared = None
    for m in models_root_leaf:
        leaves = m.select(F.col("leaf").alias("l")).distinct()
        shared = leaves if shared is None else shared.intersect(leaves)
    judged_leaves = (
        expand_judgements(judgements, expansion)
        .select(F.explode("endorsed_leaves").alias("l"))
        .distinct()
    )
    shared = shared.intersect(judged_leaves).localCheckpoint(eager=True)

    validation = net.where(F.col("net") > 0).join(
        shared.withColumnRenamed("l", "a"), "a"
    ).join(shared.withColumnRenamed("l", "b"), "b")
    n_validation = validation.count()
    if n_validation == 0:
        raise ValueError("Validation data has no pairs to evaluate.")

    scores: list[tuple[float, float]] = []
    for i, m in enumerate(models_root_leaf):
        mp = (
            cluster_pairs(m)
            .join(shared.withColumnRenamed("l", "a"), "a")
            .join(shared.withColumnRenamed("l", "b"), "b")
            .join(net, ["a", "b"])  # unjudged model pairs drop (see module doc)
            .where(F.col("net") != 0)
        )
        n_model = mp.count()
        if n_model == 0:
            raise ValueError(f"Model at index {i} has no pairs to evaluate.")
        tp = mp.join(validation.select("a", "b"), ["a", "b"]).count()
        scores.append((tp / n_model, tp / n_validation))
    return scores


def threshold_sweep(
    edges: DataFrame,
    judgements: DataFrame,
    expansion: DataFrame,
    thresholds: list[float],
    max_edges: int | None = None,
) -> DataFrame:
    """Precision/recall sweep over model truth thresholds (VERDICT r11 #9 —
    the operating-point question the reference's eval loop exists to
    answer): for each threshold, cluster ``edges`` with score ≥ t into
    components, take the implied leaf pairs, and score them against the
    weighted judgement pairs exactly as :func:`precision_recall` does.

    Returns one row per threshold —
    ``(threshold, n_model_pairs, tp, precision, recall, f1)`` — so the
    caller picks the Pareto point (max f1, or their own P/R trade). Unlike
    :func:`precision_recall`, an empty clustering at a high threshold
    reports zeros instead of raising: a sweep must be able to cover the
    whole range.

    Plan shape: the judgement side (net counts, judged-leaf universe,
    validation pairs) is computed ONCE and checkpointed — judgement data is
    sample-sized by construction (the eval queue caps at ~100 clusters).
    Per threshold, one connected-components run over the thresholded edges
    plus two joins against the checkpointed validation state; components
    use the size-adaptive driver/distributed strategy, so the sweep scales
    with the edge set like any resolver step.

    ``max_edges`` (VERDICT r12 #8 — the warehouse-scale pattern): the
    per-threshold CC re-run is inherent to the sweep's semantics, so at
    warehouse scale sweep on a SAMPLED edge set. When the edge count
    exceeds ``max_edges``, a deterministic hash sample
    (``xxhash64(left_id, right_id)`` order — partition-layout- and
    run-invariant, no RNG) keeps ~``max_edges`` edges before
    thresholding, and the sweep runs on that fixed subset; P/R/F1 become
    estimates whose judged-pair denominators still come from the full
    judgement state. ``max_edges >= |edges|`` is exactly equivalent to
    the unsampled sweep (pinned in tests). Sampling edges BEFORE
    thresholding (rather than per threshold) keeps the threshold curve
    monotone-comparable: every threshold sees the same edge universe.
    """
    if not thresholds:
        raise ValueError("threshold_sweep requires at least one threshold")
    from matchbox_spark.plans.resolvers import (
        _free_checkpoint,
        connected_components,
    )

    spark = edges.sparkSession
    if max_edges is not None:
        if max_edges <= 0:
            raise ValueError("max_edges must be positive")
        n_edges = edges.count()
        if n_edges > max_edges:
            # deterministic hash order: keep the max_edges smallest
            # xxhash64 values via a threshold on the hash's quantile
            # position — one pass, no global sort. The modulus bucket
            # bound keeps ~max_edges edges (binomial jitter, not exact).
            keep_num = 1 << 20
            bound = int(keep_num * (max_edges / n_edges))
            edges = edges.where(
                F.pmod(
                    F.xxhash64(F.col("left_id"), F.col("right_id")),
                    F.lit(keep_num),
                )
                < F.lit(bound)
            )
            edges = edges.localCheckpoint(eager=False)
    # Driver fast path (optimization r13, guide §1.2 "the distributed
    # algorithm"): when the edge set fits the SAME size-adaptive budget the
    # resolver CC escape uses, the whole sweep loop runs driver-side — one
    # Arrow collect of the edges plus one each of net counts and the
    # judged-leaf universe, replacing |thresholds| × (CC + cluster-pair
    # fan-out + three joins + agg) Spark job chains. The probe runs BEFORE
    # any judgement-side scaffolding so the fast path never builds the
    # distributed loop's eager checkpoints or broadcast relations at all
    # (three pinned localCheckpoints + a ~4.5M-row broadcast hash relation
    # at ev8 scale — measured as the bulk of the per-call cost AND a
    # per-call storage leak, since nothing ever unpersisted them);
    # n_validation falls out of the same numpy arrays for free.
    #
    # Exactness by reframing (the key identity): the distributed loop's
    # model-pair set is  cluster_pairs(CC) ⋈ judged ⋈ judged ⋈ net,
    # i.e. a SUBSET of net's rows — so instead of generating every pair of
    # every component (Σ g² work per threshold), test each net pair for
    # same-component membership. Both sides are unique canonical (a < b)
    # pairs (net folds sorted arrays; cluster_pairs sorts members), so the
    # key-exact join ≡ this membership test row for row:
    #   n_model = |{(a,b) ∈ net : net≠0, a,b judged, comp(a)=comp(b)}|
    #   tp      = the same with net>0 (validation = net>0 & judged², so
    #             intersecting mp with it adds exactly that condition)
    # with comp() the numpy union-find's partition — identical to
    # connected_components (both are exact CC; a pair is "same component"
    # under one iff under the other). All tests vectorize (searchsorted
    # into the sorted node array), so a threshold costs O((|net|+|edges|)
    # · log |nodes|) flat array work, no per-pair Python. The P/R/F1
    # arithmetic below already ran in driver Python on both paths.
    # Non-integer ids or an over-budget edge set fall through to the
    # distributed loop unchanged (a warehouse-scale sweep never collects).
    import numpy as np

    from matchbox_spark.plans.resolvers import (
        _driver_cc_edge_limit,
        connected_components_numpy,
    )

    import pyarrow as pa

    limit = _driver_cc_edge_limit(spark)
    etbl = (
        edges.select("left_id", "right_id", "score").limit(limit + 1).toArrow()
    )
    def _int_cols(tbl, cols) -> bool:
        return all(
            pa.types.is_integer(tbl.schema.field(c).type)
            and tbl.column(c).null_count == 0
            for c in cols
        )

    driver_ok = etbl.num_rows <= limit and _int_cols(
        etbl, ("left_id", "right_id")
    )
    if driver_ok:
        from pyspark.sql.types import (
            ByteType,
            IntegerType,
            LongType,
            ShortType,
        )

        _id_types = (ByteType, ShortType, IntegerType, LongType)
        net = judgement_net_counts(judgements, expansion)
        jl = (
            expand_judgements(judgements, expansion)
            .select(F.explode("shown_leaves").alias("l"))
            .distinct()
        )
        driver_ok = (
            isinstance(net.schema["a"].dataType, _id_types)
            and isinstance(net.schema["b"].dataType, _id_types)
            and isinstance(jl.schema["l"].dataType, _id_types)
        )
    if driver_ok:
        src = etbl.column("left_id").to_numpy()
        dst = etbl.column("right_id").to_numpy()
        sc = etbl.column("score").to_numpy()
        # The keep-filter (net≠0, both endpoints judged) and the id→index
        # mapping into the edge-node universe run IN SPARK (guide §5: the
        # driver does almost no data work): the bounded node universe ships
        # back as a broadcast index, and the driver collects only
        # (idx_a:int32, idx_b:int32, net>0:bool) — ~9 bytes/pair instead of
        # three full id/net columns, and none of the driver-side sort /
        # membership / binary-search passes over |net|-sized arrays (those
        # measured multi-second and allocation-jittery at ev8's 4.5M pairs).
        # Index sentinel ``nfull`` = "endpoint not in any edge" (such a
        # pair still counts toward n_validation but can never be
        # same-component, exactly as in the distributed join).
        full_nodes = np.unique(np.concatenate([src, dst]))
        nfull = len(full_nodes)
        kept = (
            net.where(F.col("net") != 0)
            .join(
                F.broadcast(jl.withColumnRenamed("l", "a")), "a", "left_semi"
            )
            .join(
                F.broadcast(jl.withColumnRenamed("l", "b")), "b", "left_semi"
            )
        )
        if nfull:
            nodes_tbl = pa.table(
                {
                    "nid": pa.array(full_nodes, type=pa.int64()),
                    "idx": pa.array(
                        np.arange(nfull, dtype=np.int32), type=pa.int32()
                    ),
                }
            )
            nodes_df = spark.createDataFrame(nodes_tbl.to_pandas())
            kept = kept.join(
                F.broadcast(
                    nodes_df.select(
                        F.col("nid").alias("a"), F.col("idx").alias("ia")
                    )
                ),
                "a",
                "left",
            ).join(
                F.broadcast(
                    nodes_df.select(
                        F.col("nid").alias("b"), F.col("idx").alias("ib")
                    )
                ),
                "b",
                "left",
            )
        else:  # no edges at all: every endpoint maps to the sentinel
            kept = kept.withColumn("ia", F.lit(None).cast("int")).withColumn(
                "ib", F.lit(None).cast("int")
            )
        kept = kept.select(
            F.coalesce("ia", F.lit(nfull)).alias("ia"),
            F.coalesce("ib", F.lit(nfull)).alias("ib"),
            (F.col("net") > 0).alias("pos"),
        )
        ktbl = kept.toArrow()
        pa_idx = ktbl.column("ia").to_numpy()
        pb_idx = ktbl.column("ib").to_numpy()
        kpos = ktbl.column("pos").to_numpy()
        # validation = net>0 & both endpoints judged — kpos counts exactly
        # the distributed validation frame's rows
        n_validation = int(kpos.sum())
        if n_validation == 0:
            raise ValueError("Validation data has no pairs to evaluate.")

        rows = []
        for t in sorted(thresholds):
            mask = sc >= float(t)
            n_model = tp = 0
            if mask.any() and len(pa_idx):
                nodes, comps = connected_components_numpy(src[mask], dst[mask])
                # nodes ⊆ full_nodes, both distinct: exact positions
                slot = np.searchsorted(full_nodes, nodes)
                comp_full = np.full(nfull + 1, -1, np.int64)
                present = np.zeros(nfull + 1, dtype=bool)
                comp_full[slot] = comps
                present[slot] = True
                same = (
                    present[pa_idx]
                    & present[pb_idx]
                    & (comp_full[pa_idx] == comp_full[pb_idx])
                )
                n_model = int(same.sum())
                tp = int((same & kpos).sum())
            precision = tp / n_model if n_model else 0.0
            recall = tp / n_validation
            f1 = (
                2 * precision * recall / (precision + recall)
                if precision + recall
                else 0.0
            )
            rows.append(
                (
                    float(t),
                    n_model,
                    tp,
                    round(precision, 9),
                    round(recall, 9),
                    round(f1, 9),
                )
            )
        return spark.createDataFrame(
            rows,
            "threshold double, n_model_pairs long, tp long, "
            "precision double, recall double, f1 double",
        )

    # Distributed path. The judgement-side state is sample-bounded by
    # construction (the eval queue caps at ~100 clusters — module doc), but
    # a localCheckpoint erases size statistics (LogicalRDD reports the
    # default "huge" sizeInBytes), so WITHOUT explicit broadcast hints
    # every per-threshold join below degrades to a sort-merge join that
    # shuffles the O(cluster-pairs) model side — measured 17+16 s per
    # threshold at sf0.1 vs ~3 s broadcast. The bare checkpoints are kept
    # so their blocks can be freed before returning (the result rows are
    # already local — r13: three pinned checkpoints per call leaked until
    # driver GC and degraded repeated sweeps measurably).
    net_ckpt = judgement_net_counts(judgements, expansion).localCheckpoint(
        eager=True
    )
    net = F.broadcast(net_ckpt)
    judged_ckpt = (
        expand_judgements(judgements, expansion)
        .select(F.explode("shown_leaves").alias("l"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    judged_leaves = F.broadcast(judged_ckpt)
    validation_ckpt = (
        net.where(F.col("net") > 0)
        .join(judged_leaves.withColumnRenamed("l", "a"), "a")
        .join(judged_leaves.withColumnRenamed("l", "b"), "b")
        .select("a", "b")
        .localCheckpoint(eager=True)
    )
    validation = F.broadcast(validation_ckpt)
    n_validation = validation.count()
    if n_validation == 0:
        _free_checkpoint(validation_ckpt)
        _free_checkpoint(judged_ckpt)
        _free_checkpoint(net_ckpt)
        raise ValueError("Validation data has no pairs to evaluate.")

    rows = []
    for t in sorted(thresholds):
        e = edges.where(F.col("score") >= F.lit(float(t))).select(
            F.col("left_id").alias("src"), F.col("right_id").alias("dst")
        )
        labels = connected_components(e)
        root_leaf = labels.select(
            F.col("component").alias("root"), F.col("id").alias("leaf")
        )
        # restrict to the judged universe, drop unjudged model pairs
        # (net == 0 pairs carry no evidence — precision_recall's rule)
        mp = (
            cluster_pairs(root_leaf)
            .join(judged_leaves.withColumnRenamed("l", "a"), "a")
            .join(judged_leaves.withColumnRenamed("l", "b"), "b")
            .join(net, ["a", "b"])
            .where(F.col("net") != 0)
            .select("a", "b")
        )
        # one action per threshold, not two: the left join against the
        # (unique-by-pair) validation set counts model pairs and true
        # positives together — the former count() + join().count() pair
        # computed the whole mp plan twice
        c = (
            mp.join(
                validation.withColumn("_v", F.lit(1)), ["a", "b"], "left"
            )
            .agg(
                F.count(F.lit(1)).alias("nm"), F.count("_v").alias("tp")
            )
            .collect()[0]
        )
        n_model, tp = int(c["nm"]), int(c["tp"])
        precision = tp / n_model if n_model else 0.0
        recall = tp / n_validation
        f1 = (
            2 * precision * recall / (precision + recall)
            if precision + recall
            else 0.0
        )
        rows.append(
            (
                float(t),
                n_model,
                tp,
                round(precision, 9),
                round(recall, 9),
                round(f1, 9),
            )
        )
    # every result row is already local — release the pinned judgement
    # state instead of waiting for driver GC (r13 leak fix; see above)
    _free_checkpoint(validation_ckpt)
    _free_checkpoint(judged_ckpt)
    _free_checkpoint(net_ckpt)
    return spark.createDataFrame(
        rows,
        "threshold double, n_model_pairs long, tp long, "
        "precision double, recall double, f1 double",
    )


def latest_judgement_per_cluster(judgements_ts: DataFrame) -> DataFrame:
    """A9: max judgement timestamp per shown cluster (adapter/eval.py:222-240)."""
    return judgements_ts.groupBy(F.col("shown").alias("cluster_id")).agg(
        F.max("ts").alias("latest_ts")
    )


def filter_recently_judged(
    clusters: DataFrame,
    judgements_ts: DataFrame,
    cutoff_days: int = 365,
    now: str | None = None,
) -> DataFrame:
    """P6: keep clusters never judged, or not judged in the last N days
    (adapter/eval.py:249-253). ``clusters`` needs a ``cluster_id`` column;
    ``judgements_ts`` needs ``shown``/``ts``."""
    latest = latest_judgement_per_cluster(judgements_ts)
    now_expr = F.lit(now).cast("timestamp") if now else F.current_timestamp()
    cutoff = now_expr - F.expr(f"INTERVAL {int(cutoff_days)} DAYS")
    return (
        clusters.join(latest, "cluster_id", "left")
        .where(F.col("latest_ts").isNull() | (F.col("latest_ts") < cutoff))
        .drop("latest_ts")
    )


def eval_samples(
    catalog,
    resolver: str,
    resolvers: list[str],
    sources: list[str],
    n: int = 100,
) -> DataFrame:
    """O5-style deterministic sample of resolved clusters for human review.

    Returns SCHEMA_EVAL_SAMPLES-shaped rows (root, leaf, key, source) for up
    to ``n`` clusters, chosen by key-hash order (seedless, reproducible).
    """
    from matchbox_spark.plans.query import unified_query

    proj = unified_query(catalog, resolvers, sources, level="key")
    sampled_roots = (
        proj.select("id")
        .distinct()
        .orderBy(F.sha2(F.col("id").cast("string"), 256))
        .limit(n)
    )
    return (
        proj.join(F.broadcast(sampled_roots), "id")
        .select(
            F.col("id").alias("root"),
            F.col("leaf_id").alias("leaf"),
            "key",
            "source",
        )
        .dropDuplicates()
    )


def enrich_samples(
    samples: DataFrame, sources: dict[str, DataFrame], key_fields: dict[str, str]
) -> DataFrame:
    """J9: join eval samples back to their source rows for display.

    ``sources`` maps source name → raw DataFrame; ``key_fields`` names each
    source's key column. Output keeps (root, leaf, key, source) plus each
    source's columns prefixed ``{source}_`` (nulls where the sample row came
    from another source).
    """
    out: DataFrame | None = None
    for name, df in sources.items():
        key_col = key_fields[name]
        prefixed = df.select(
            F.col(key_col).cast("string").alias("key"),
            *[
                F.col(c).alias(f"{name}_{c}")
                for c in df.columns
                if c != key_col
            ],
        ).withColumn("source", F.lit(name))
        part = samples.join(prefixed, ["source", "key"], "inner")
        out = part if out is None else out.unionByName(
            part, allowMissingColumns=True
        )
    if out is None:
        raise ValueError("no sources given")
    return out

"""Streaming-ER stress: delta-link resolve must stay flat per batch.

Feeds N equal micro-batches through ``incremental_resolve_stream`` in
delta-link mode (``blocking_fields`` set) with accumulated state growing
every batch. Asserts:

1. **Flat per-batch wall time** — batch k's cost is O(batch blocks +
   touched members), never O(accumulated corpus): the tail/head duration
   ratio must stay under the ramp bound (full mode without auto-routing,
   which re-runs the model over everything, ramps linearly here by
   construction). Medians, not means: the catalog's delta compaction
   (every `_COMPACT_WIDTH` appends) lands its amortised O(total) cost on
   single batches — observed as isolated ~2× spikes that return to
   baseline — and a mean over a 3-batch tail can land entirely on one
   (the 12-batch run did exactly that). Round 7 removed the old
   O(resolved entities) resolver term (all-component star edges + full
   claim rewrite → touched-component stars + tombstone retirement,
   streaming/incremental.py / Catalog.merge_resolver_clusters_delta):
   24 batches, entities 1.6k→9.6k, median 8.9→10.3 s (ramp 1.15×, was
   9.5→12.9 s = 1.36×); the residual is the accumulated-state READS
   (insert-if-absent anti-joins + the assignment-map semi-join), which
   scan-but-never-shuffle the growing tables. 10× run (24 × 80,000 rows →
   1.92M rows, 95,999 entities exact incl. the bridged cluster): median
   19.8→26.6 s, ramp 1.34× — the read-scan term is visible but sub-linear
   (state grew 24× across the run for a 1.34× wall drift); on a warehouse
   deployment those scans prune via the catalog's bucketed/partitioned
   persistence (Catalog.save_as_tables) instead of full-table reads.
   Probed and REJECTED (round 7): flipping the insert-if-absent
   ``left_anti`` joins to scan-plus-broadcast so accumulated state never
   shuffles — an isolated A/B (760k-row delta) showed the plain anti-join
   WINNING at every locally testable state size (18M rows: 2.5 s vs
   3.1 s; 100M rows: 6.8–10.8 s vs 13.1–13.8 s — AQE's sort-merge path
   beats the double-broadcast's extra stage barriers), and the forced
   variant doubled the small-state quick tier. Kept the plain joins.
2. **Bridging merge across old state** — a late batch carries one record
   sharing field ``a`` with a cluster formed in batch 3 and field ``b``
   with a cluster formed in batch 0; the prior-component star edges must
   merge the two old clusters through it (streaming/incremental.py:139).

Layout per batch: G groups × R rows on field ``a`` (unique to the batch, so
delta pruning keeps per-batch model input at one batch); field ``b`` unique
per row except batch 0's group 0, which shares a ``b`` block the bridge
record later joins.

Usage: python tools/stress_streaming_resolve.py [n_batches] [groups] [rows_per_group]
       python tools/stress_streaming_resolve.py --quick
"""

from __future__ import annotations

import shutil
import sys
import tempfile

sys.path.insert(0, ".")

from pyspark.sql import functions as F  # noqa: E402

from matchbox_spark.operators.dedupers import NaiveDeduper  # noqa: E402
from matchbox_spark.plans.catalog import Catalog  # noqa: E402
from matchbox_spark.plans.query import unified_query  # noqa: E402
from matchbox_spark.plans.resolvers import Components  # noqa: E402
from matchbox_spark.session import get_spark  # noqa: E402
from matchbox_spark.streaming.incremental import (  # noqa: E402
    incremental_resolve_stream,
)


class TwoPassDeduper:
    """OR of two single-field naive passes — a record can bridge clusters."""

    def dedupe(self, data):
        a = NaiveDeduper(id="id", unique_fields=["s_a"]).dedupe(data)
        b = NaiveDeduper(id="id", unique_fields=["s_b"]).dedupe(data)
        return a.unionByName(b).dropDuplicates(["left_id", "right_id"])


def main(n_batches: int = 24, groups: int = 400, rows_per_group: int = 20) -> int:
    spark = get_spark(master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="stress_resolve_")
    src, ckpt = f"{work}/in", f"{work}/ckpt"
    rows_per_batch = groups * rows_per_group
    bridge_batch = n_batches - 1
    try:
        for b in range(n_batches):
            batch = spark.range(rows_per_batch).selectExpr(
                f"id + {b} * {rows_per_batch} as k",
                f"concat('A{b}_', cast(id % {groups} as string)) as a",
                # field b: unique per row EXCEPT batch 0 group 0 → 'BB' block
                f"""if({b} = 0 and id % {groups} = 0,
                      concat('BB_', cast(id as string)),
                      concat('B{b}_', cast(id as string))) as b""",
            )
            if b == bridge_batch:
                bridge = spark.createDataFrame(
                    [(10**9, "A3_0", "BB_0")], "k long, a string, b string"
                )
                batch = batch.unionByName(bridge)
            batch.coalesce(1).write.mode("append").parquet(src)

        catalog = Catalog(spark)
        stream = (
            spark.readStream.schema("k long, a string, b string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = incremental_resolve_stream(
            stream,
            catalog,
            source_step="s",
            key_field="k",
            index_fields=["a", "b"],
            model=TwoPassDeduper(),
            resolver_method=Components(),
            checkpoint_dir=ckpt,
            source_location=src,
            blocking_fields=["s_a", "s_b"],
        )
        q.awaitTermination(3600)

        durs = [
            p["batchDuration"] / 1000.0
            for p in q.recentProgress
            if p.get("numInputRows", 0) > 0
        ]
        import statistics

        print(f"batches={len(durs)} rows/batch={rows_per_batch}")
        print("per-batch sec:", " ".join(f"{d:.1f}" for d in durs))
        # medians: compaction spikes are amortised one-batch outliers that
        # a short mean window can land on entirely (see module docstring)
        k = max(3, min(5, len(durs) // 3))
        head = statistics.median(durs[1:1 + k])  # skip batch 0 (cold JVM)
        tail = statistics.median(durs[-k:])
        ramp = tail / head if head else float("inf")
        print(
            f"head(median b1-{k})={head:.1f}s "
            f"tail(median last{k})={tail:.1f}s ramp={ramp:.2f}x"
        )

        ids = unified_query(
            cat := catalog, ["s_resolve", "s_model", "s"], ["s"], level="key"
        )
        sizes = (
            ids.groupBy("id").agg(F.count("*").alias("n")).groupBy("n").count()
        ).collect()
        by_size = {r["n"]: r["count"] for r in sizes}
        n_entities = sum(by_size.values())
        print(f"entities={n_entities} size-histogram={dict(sorted(by_size.items()))}")

        # bridge merged batch-0-group-0 and batch-3-group-0 into ONE entity
        exp_entities = n_batches * groups - 1
        assert n_entities == exp_entities, (n_entities, exp_entities)
        merged = by_size.get(2 * rows_per_group + 1, 0)
        assert merged == 1, f"expected exactly one bridged cluster, got {merged}"
        assert by_size.get(rows_per_group, 0) == n_batches * groups - 2

        ok = ramp < 2.0
        print("FLAT OK" if ok else "RAMP DETECTED")
        return 0 if ok else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


def main_lsh(
    n_batches: int = 12, groups: int = 300, rows_per_group: int = 10
) -> int:
    """Computed-blocking (LSH) delta-link flat-ramp stress (round 8).

    ``MinHashDeduper`` declares ``delta_block_keys``; the stream must (a)
    stay flat per batch — signatures compute O(batch), never over
    accumulated text — and (b) recover exact entities, including a late
    near-dup joining a cluster formed in batch 0 purely through the
    persisted band-key index.

    Layout: per batch, ``groups`` disjoint 20-word vocabularies ×
    ``rows_per_group`` near-dup variants (pairwise shingle Jaccard ≈ 0.90
    within a group, 0 across). The last batch adds one bridge doc over
    batch 0 group 0's vocabulary → that old cluster grows by one.

    LSH width is corpus-derived (``auto_minhash_bands``, round 13): the
    historical fixed 8-band/32-perm sizing isolated 4 of 3.6M docs at
    the 12×300k tier (probabilistic recall, not a code bug — 4
    singletons + 4 nine-member groups, zero spurious merges), so the
    harness now sizes bands to keep the expected-isolated bound under
    0.01 docs for the WHOLE accumulated corpus and keeps the exact
    entity assertion.
    """
    from matchbox_spark.operators.dedup import auto_minhash_bands
    from matchbox_spark.operators.lsh_linkers import MinHashDeduper

    rows_per_batch = groups * rows_per_group
    n_bands = auto_minhash_bands(n_batches * rows_per_batch, jaccard=0.9)
    print(f"[lsh] auto bands={n_bands} num_perm={4 * n_bands} "
          f"for {n_batches * rows_per_batch} docs")
    # session sized to the batch: the 12×300k tier (3.6M accumulated docs,
    # VERDICT r12 #6) needs the full core count and wider shuffles; the
    # historical small tiers keep their original sizing so recorded ramps
    # stay comparable.
    if rows_per_batch >= 100_000:
        spark = get_spark(master="local[32]", shuffle_partitions=64)
    else:
        spark = get_spark(master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="stress_resolve_lsh_")
    src, ckpt = f"{work}/in", f"{work}/ckpt"
    try:
        for b in range(n_batches):
            # doc(g, r) = 20 group-specific words + one variant word
            base = "concat_ws(' ', transform(sequence(0, 19), " + (
                f"i -> concat('w{b}_', cast(id div {rows_per_group} as string),"
                " '_', cast(i as string))))"
            )
            batch = spark.range(rows_per_batch).selectExpr(
                f"id + {b} * {rows_per_batch} as k",
                f"concat({base}, ' x', cast(id % {rows_per_group} as string))"
                " as text",
            )
            if b == n_batches - 1:
                words = " ".join(f"w0_0_{i}" for i in range(20))
                bridge = spark.createDataFrame(
                    [(10**9, words + " ybridge")], "k long, text string"
                )
                batch = batch.unionByName(bridge)
            batch.coalesce(1).write.mode("append").parquet(src)

        catalog = Catalog(spark)
        stream = (
            spark.readStream.schema("k long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = incremental_resolve_stream(
            stream,
            catalog,
            source_step="s",
            key_field="k",
            index_fields=["text"],
            model=MinHashDeduper(
                id="id", text_field="s_text",
                num_perm=4 * n_bands, bands=n_bands,
                shingle_n=2, threshold=0.7,
            ),
            resolver_method=Components(),
            checkpoint_dir=ckpt,
            source_location=src,
        )
        q.awaitTermination(3600)

        durs = [
            p["batchDuration"] / 1000.0
            for p in q.recentProgress
            if p.get("numInputRows", 0) > 0
        ]
        import statistics

        print(f"[lsh] batches={len(durs)} rows/batch={rows_per_batch}")
        print("per-batch sec:", " ".join(f"{d:.1f}" for d in durs))
        k = max(3, min(5, len(durs) // 3))
        head = statistics.median(durs[1:1 + k])
        tail = statistics.median(durs[-k:])
        ramp = tail / head if head else float("inf")
        print(
            f"head(median b1-{k})={head:.1f}s "
            f"tail(median last{k})={tail:.1f}s ramp={ramp:.2f}x"
        )

        ids = unified_query(
            catalog, ["s_resolve", "s_model", "s"], ["s"], level="key"
        )
        sizes = (
            ids.groupBy("id").agg(F.count("*").alias("n")).groupBy("n").count()
        ).collect()
        by_size = {r["n"]: r["count"] for r in sizes}
        n_entities = sum(by_size.values())
        print(
            f"entities={n_entities} "
            f"size-histogram={dict(sorted(by_size.items()))}"
        )
        exp = n_batches * groups
        assert n_entities == exp, (n_entities, exp)
        assert by_size.get(rows_per_group + 1, 0) == 1, "bridge cluster missing"
        assert by_size.get(rows_per_group, 0) == exp - 1
        # the key index holds every leaf exactly once (bands per leaf = 8)
        n_keys = catalog.block_keys.count()
        exp_keys = (n_batches * rows_per_batch + 1) * n_bands
        assert n_keys == exp_keys, (n_keys, exp_keys)

        ok = ramp < 2.0
        print("FLAT OK" if ok else "RAMP DETECTED")
        return 0 if ok else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


def main_embedding(
    n_batches: int = 12, groups: int = 300, rows_per_group: int = 10,
    dim: int = 64,
) -> int:
    """Embedding (cosine-LSH) delta-link flat-ramp stress (round 9).

    ``EmbeddingDeduper`` declares ``delta_block_keys`` (the row's full
    one-bit-probe bucket set); the stream must (a) stay flat per batch —
    bucket keys compute O(batch), never over accumulated vectors — and
    (b) recover exact entities, including a late vector joining a cluster
    formed in batch 0 purely through the persisted probe-set index.

    Layout: per batch, ``groups`` clusters of ``rows_per_group``
    near-identical vectors. A group's base vector has deterministic
    hash-derived components with |v_i| ≥ 0.3 (signs never flip under the
    ±0.05 per-variant perturbation, so the whole group shares its home
    bucket and within-group cosine ≥ 0.99); distinct groups are
    independent pseudo-random directions in R^dim, so cross-group cosine
    concentrates near 0 and never reaches the 0.95 threshold. The last
    batch adds one more perturbed copy of batch 0 group 0's base → that
    old cluster grows by one through the block-key index alone.

    Bucket sizing is the lesson this harness teaches: with the default 6
    bucket dims (64 buckets) the probe sets of ANY batch touch nearly all
    accumulated leaves — the delta route degenerates to a full recompute
    and the ramp goes super-linear (measured 2.13x over 6 batches). With
    16 dims (65,536 buckets ≫ corpus/expected-occupancy) touched stays
    O(batch) and the ramp is flat. Rule: 2^len(bucket_dims) must grow
    with the corpus, ~corpus_size/target_bucket_occupancy.
    """
    from matchbox_spark.operators.lsh_linkers import EmbeddingDeduper

    spark = get_spark(master="local[8]", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="stress_resolve_emb_")
    src, ckpt = f"{work}/in", f"{work}/ckpt"
    rows_per_batch = groups * rows_per_group

    def vec_expr(gexpr: str, rexpr: str) -> str:
        # v_i = sign(g,i) * (0.3 + 0.7*u1(g,i)) + 0.05 * u2(g,r,i)
        return (
            f"transform(sequence(0, {dim - 1}), i -> "
            f"if(pmod(xxhash64('sg', {gexpr}, i), 2) = 0, 1.0d, -1.0d)"
            f" * (0.3d + 0.7d * pmod(xxhash64('m', {gexpr}, i), 1000000)"
            f" / 1000000.0d)"
            f" + 0.05d * pmod(xxhash64('v', {gexpr}, {rexpr}, i), 1000000)"
            f" / 1000000.0d)"
        )

    try:
        for b in range(n_batches):
            g = f"(id div {rows_per_group} + {b} * {groups})"
            r = f"(id % {rows_per_group})"
            batch = spark.range(rows_per_batch).selectExpr(
                f"id + {b} * {rows_per_batch} as k",
                f"{vec_expr(g, r)} as embedding",
            )
            if b == n_batches - 1:
                bridge = spark.range(1).selectExpr(
                    f"cast({10**9} as long) as k",
                    # group 0's base, fresh variant id → joins batch 0's cluster
                    f"{vec_expr('0L', str(rows_per_group + 7))} as embedding",
                )
                batch = batch.unionByName(bridge)
            batch.coalesce(1).write.mode("append").parquet(src)

        catalog = Catalog(spark)
        stream = (
            spark.readStream.schema(f"k long, embedding array<double>")
            .option("maxFilesPerTrigger", "1")
            .parquet(src)
        )
        q = incremental_resolve_stream(
            stream,
            catalog,
            source_step="s",
            key_field="k",
            index_fields=["embedding"],
            model=EmbeddingDeduper(
                id="id", vector_field="s_embedding",
                threshold=0.95, bucket_dims=list(range(16)),
            ),
            resolver_method=Components(),
            checkpoint_dir=ckpt,
            source_location=src,
        )
        q.awaitTermination(3600)

        durs = [
            p["batchDuration"] / 1000.0
            for p in q.recentProgress
            if p.get("numInputRows", 0) > 0
        ]
        import statistics

        print(f"[embedding] batches={len(durs)} rows/batch={rows_per_batch}")
        print("per-batch sec:", " ".join(f"{d:.1f}" for d in durs))
        k = max(3, min(5, len(durs) // 3))
        head = statistics.median(durs[1:1 + k])
        tail = statistics.median(durs[-k:])
        ramp = tail / head if head else float("inf")
        print(
            f"head(median b1-{k})={head:.1f}s "
            f"tail(median last{k})={tail:.1f}s ramp={ramp:.2f}x"
        )

        ids = unified_query(
            catalog, ["s_resolve", "s_model", "s"], ["s"], level="key"
        )
        sizes = (
            ids.groupBy("id").agg(F.count("*").alias("n")).groupBy("n").count()
        ).collect()
        by_size = {r["n"]: r["count"] for r in sizes}
        n_entities = sum(by_size.values())
        print(
            f"entities={n_entities} "
            f"size-histogram={dict(sorted(by_size.items()))}"
        )
        exp = n_batches * groups
        assert n_entities == exp, (n_entities, exp)
        assert by_size.get(rows_per_group + 1, 0) == 1, "bridge cluster missing"
        assert by_size.get(rows_per_group, 0) == exp - 1
        # the key index holds every leaf's full probe set (home + 16 flips)
        n_keys = catalog.block_keys.count()
        exp_keys = (n_batches * rows_per_batch + 1) * 17
        assert n_keys == exp_keys, (n_keys, exp_keys)

        ok = ramp < 2.0
        print("FLAT OK" if ok else "RAMP DETECTED")
        return 0 if ok else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    if "--embedding" in sys.argv:
        if "--quick" in sys.argv:
            raise SystemExit(main_embedding(6, 100, 8))
        args = [int(a) for a in sys.argv[1:] if a.lstrip("-").isdigit()]
        raise SystemExit(main_embedding(*args))
    if "--lsh" in sys.argv:
        if "--quick" in sys.argv:
            raise SystemExit(main_lsh(6, 100, 8))
        args = [int(a) for a in sys.argv[1:] if a.lstrip("-").isdigit()]
        raise SystemExit(main_lsh(*args))
    if "--quick" in sys.argv:
        raise SystemExit(main(6, 100, 10))
    args = [int(a) for a in sys.argv[1:4]]
    raise SystemExit(main(*args))

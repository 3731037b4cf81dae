"""Large-scale deduplication operators for training-data pipelines.

These extend the engine beyond the reference's record-matching surface with
the dedup family a 100 TB text/embedding corpus needs (BASELINE.json north
star). Every operator is a relational composition — shuffles only on shingle
/ band / bucket keys, no UDFs, no driver loops — so the same plan runs on
1000 executors:

- **exact**: hash-groupBy on normalised content (one shuffle on a 32-byte
  hash).
- **n-gram Jaccard**: inverted shingle index self-join → pair intersection
  counts → |A∩B| / (|A|+|B|−|A∩B|).
- **MinHash + LSH**: per-shingle seeded hashes → min per permutation →
  banded signature keys → candidates share a band (sub-quadratic); optional
  exact-Jaccard verification of candidates.
- **SimHash**: per-token 16-bit feature hash → bitwise majority vote →
  half-signature blocking → Hamming-distance filter.
- **embedding cosine**: sign-bit LSH buckets (operators.similarity does
  top-k search; here: near-dup pairs above a cosine threshold).

MinHash permutes a single 60-bit md5-derived shingle hash through affine
maps mod 1e9+7 — deterministic, cross-engine reproducible (the DuckDB oracle
computes the identical signature), and uniform enough for LSH.
"""

from __future__ import annotations

import logging
import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from matchbox_spark.functions.text import (
    fingerprint_expr,
    tokens_expr,
    word_shingles_expr,
)
from matchbox_spark.functions.numeric import ieee_round6
from matchbox_spark.functions.vectors import cosine_expr, sign_bucket_expr

# Universal-hash MinHash: 30-bit prime modulus keeps every product within
# int64 under ANSI overflow checks; per-permutation affine constants derive
# from md5 seeds so the permutations are mutually independent (a shared
# multiplier family correlates the per-permutation minima and collapses LSH
# recall).
MINHASH_P = 1_000_000_007


def minhash_params(num_perm: int) -> tuple[list[int], list[int]]:
    """Deterministic affine constants (A_p non-zero, B_p) for each perm."""
    import hashlib

    def _h(seed: str) -> int:
        return int(hashlib.md5(seed.encode()).hexdigest()[:15], 16)

    a = [_h(f"mhA|{p}") % (MINHASH_P - 1) + 1 for p in range(num_perm)]
    b = [_h(f"mhB|{p}") % MINHASH_P for p in range(num_perm)]
    return a, b


# ---------------------------------------------------------------------------
# exact
# ---------------------------------------------------------------------------


def exact_duplicate_groups(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """Groups of byte-identical (normalised) documents.

    Returns ``(fingerprint, representative, n_docs)`` — representative is the
    minimum id. One shuffle on the fingerprint; map-side partial agg.
    """
    return (
        df.select(
            fingerprint_expr(text_col).alias("fingerprint"),
            F.col(id_col).cast("long").alias("_id"),
        )
        .groupBy("fingerprint")
        .agg(
            F.min("_id").alias("representative"),
            F.count("*").alias("n_docs"),
        )
    )


def exact_dedupe(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one row (minimum id) per normalised content."""
    w = Window.partitionBy("_fp").orderBy(F.col(id_col).cast("long"))
    return (
        df.withColumn("_fp", fingerprint_expr(text_col))
        .withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_fp", "_rn")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------


def _doc_shingles(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(doc, shingle) distinct — the inverted-index edge list.

    Dedup happens INSIDE each row's shingle array (``array_distinct``
    before the explode), not as a corpus-wide ``dropDuplicates`` exchange:
    a (doc, shingle) duplicate can only come from within one document's
    own shingle list, so the in-array dedup is set-identical and saves a
    full shuffle of the exploded edge list (the same move
    minhash_signatures documents)."""
    return df.select(
        F.col(id_col).cast("long").alias("doc"),
        F.explode(F.array_distinct(word_shingles_expr(text_col, n))).alias("sh"),
    )


# Distinct-shingle cap for the bitset Jaccard path; 0 forces the posting path.
_JACCARD_BITSET_VOCAB = 4096


def _bitset_jaccard(spark, sh, threshold, max_shingle_freq, cores):
    """Bitmask-intersection Jaccard (see ngram_jaccard_pairs) — returns
    None when the gates say the posting path is the right shape."""
    cap = _JACCARD_BITSET_VOCAB
    if cap <= 0:
        return None
    vc_rows = (
        sh.groupBy("sh")
        .agg(F.count("*").alias("f"))
        .limit(cap + 1)
        .collect()
    )
    if len(vc_rows) > cap:
        return None
    # surviving vocabulary (the freq cap drops stop-shingles exactly like
    # the posting path's posts filter — a dropped shingle contributes to
    # neither intersections nor sizes)
    vocab = sorted(
        r["sh"]
        for r in vc_rows
        if max_shingle_freq is None or int(r["f"]) <= max_shingle_freq
    )
    if not vocab:
        # no shingle survives: no doc can pair (posting path: empty too)
        return spark.createDataFrame(
            [], "doc_a long, doc_b long, jaccard double"
        )
    fanout = sum(
        int(r["f"]) * (int(r["f"]) - 1) // 2
        for r in vc_rows
        if max_shingle_freq is None or int(r["f"]) <= max_shingle_freq
    )
    n_docs = sh.select("doc").distinct().count()
    nv = len(vocab)
    w = (nv + 63) // 64
    # cost model: a cross pair costs ~w word-ops of codegen popcount; a
    # posting-expansion row costs roughly one shuffled+aggregated row
    # (~8 word-ops-equivalent, conservative). A sparse or very wide-mask
    # corpus stays on the posting path.
    if n_docs * (n_docs - 1) // 2 * w > 8 * max(fanout, 1):
        return None

    import pandas as pd
    mapping = spark.createDataFrame(
        pd.DataFrame({"sh": vocab, "_i": range(nv)}), "sh string, _i int"
    )
    mask_expr = F.expr(
        f"aggregate(bits, array_repeat(0L, {w}), (acc, i) -> "
        "transform(acc, (v, j) -> CASE WHEN j = CAST(i / 64 AS INT) "
        "THEN v | shiftleft(1L, i % 64) ELSE v END))"
    )
    pop = "+".join(f"bit_count(get(m, {i}))" for i in range(w))
    masks = (
        sh.join(F.broadcast(mapping), "sh")
        .groupBy("doc")
        .agg(F.collect_list("_i").alias("bits"))
        .select("doc", mask_expr.alias("m"))
        .select("doc", "m", F.expr(f"({pop})").alias("sz"))
        .localCheckpoint(eager=True)
    )
    a = masks.select(
        F.col("doc").alias("doc_a"),
        F.col("m").alias("ma"),
        F.col("sz").alias("sza"),
    )
    if a.rdd.getNumPartitions() < cores:
        a = a.repartition(cores)
    b = masks.select(
        F.col("doc").alias("doc_b"),
        F.col("m").alias("mb"),
        F.col("sz").alias("szb"),
    )
    inter_terms = "+".join(
        f"bit_count(get(ma, {i}) & get(mb, {i}))" for i in range(w)
    )
    # nondeterministic wrapper: keeps the popcount in a codegen Project
    # ABOVE the join instead of letting predicate pushdown fold it (and
    # the jaccard filter) into the BNLJ condition (the d5 lesson, §4.4)
    inter = F.when(F.spark_partition_id() >= 0, F.expr(f"({inter_terms})"))
    return (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "sza", "szb", inter.alias("inter"))
        .where(F.col("inter") >= 1)
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.col("sza") + F.col("szb") - F.col("inter")).cast("double"),
        )
        .where(F.col("jaccard") >= F.lit(float(threshold)))
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_freq: int | None = None,
) -> DataFrame:
    """Pairs with shingle-set Jaccard ≥ threshold.

    Inverted-index POSTING LISTS, not a literal self-join: pairs only form
    on shared shingles, so cost is Σ freq(shingle)² — not |docs|². The
    former a⋈b equi-join on the shingle string computed the shingle
    explosion twice, shuffled it twice on wide string keys, and paid a
    separate frequency aggregate for ``max_shingle_freq``; grouping each
    shingle's sorted doc list once and emitting in-list combinations
    (the codegen'd posexplode/tail-slice of the dedupers) produces the
    identical per-pair intersection counts with ONE shingle-keyed
    shuffle, and the posting-list length IS the shingle frequency
    (measured 50 → 27 s on the sf0.1 2-gram corpus, equal output).

    ``max_shingle_freq`` drops ubiquitous shingles (stop-shingles) to
    bound the worst-case blow-up at corpus scale; a dropped shingle can
    only lower recall for pairs already sharing many other shingles. The
    skew class is unchanged: a hot shingle's combinations expand inside
    its own posting task, exactly the rows the former join emitted in
    that shingle's partition — the freq cap is the guard in both shapes.

    Spread pairs (optimization r13, guide §2.5 — the explode side of
    input skew, which AQE cannot see): the posting table is one row per
    DISTINCT shingle, so its byte size never reflects the quadratic pair
    fan-out it feeds — AQE coalesces the posting exchange by those tiny
    bytes (~1 partition on a dense-vocabulary corpus), which then runs the
    entire Σ freq² expansion AND the partial count aggregate on one core
    (measured: 14.4 of d2's 17.1 s at sf0.1 in that single task). So
    the expansion splits between its two generators: the
    per-position tail slices compute map-side, round-robin-repartition
    across the session's cores, and explode after the exchange — a
    length-L posting's L·(L−1)/2 pairs now spread over L tasks, so even a
    corpus-wide hot shingle parallelises (positional splitting of a hot
    key, guide §2.5 — AQE skew handling applies only to joins). Pair
    counts are invariant to row placement, so output is identical. Cost
    at any scale: one extra exchange carrying exactly the tail arrays —
    the same elements the count exchange already moves — i.e. ≤1× the
    operator's existing shuffle volume, bounded by ``max_shingle_freq``
    like the fan-out itself.
    """
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    sh = _doc_shingles(df, id_col, text_col, n)

    # Dense-vocabulary escape (optimization r14, guide §1.2 "the
    # distributed algorithm"): when the DISTINCT shingle vocabulary is
    # small (one driver-collected probe job bounded at cap+1 rows), each
    # document's shingle set is a fixed-width BITMASK of ⌈|V|/64⌉ longs —
    # intersections become codegen popcounts over an id-ordered pair join
    # instead of the posting expansion's Σ freq² row fan-out through a
    # shuffle + a pair-keyed count aggregate (measured at sf0.1's 931-
    # shingle corpus: 36.5M expansion rows → 12.5M cross pairs × 15-long
    # AND/popcount; interleaved warm A/B ~3× faster, identical output).
    # Gates keep it honest at scale: the vocabulary must fit the cap
    # (_JACCARD_BITSET_VOCAB) AND the cross-pair count × the mask width in 64-bit
    # words must not exceed 8× the posting fan-out (a huge sparse corpus
    # or a very wide mask keeps the posting path; both quantities derive
    # from the same probe). The probe's cost is one linear aggregate —
    # noise next to either quadratic term, and bounded by cap+1 collected
    # rows.
    out = _bitset_jaccard(spark, sh, threshold, max_shingle_freq, cores)
    if out is not None:
        return out
    posts = sh.groupBy("sh").agg(
        F.sort_array(F.collect_list("doc")).alias("members")
    )
    if max_shingle_freq is None:
        sizes = sh.groupBy("doc").agg(F.count("*").alias("sz"))
    else:
        # per-doc sizes count only SURVIVING shingles (the former shape
        # filtered the edge list before sizing — jaccard denominators
        # must match); singleton shingles survive the cap and count
        posts = posts.where(F.size("members") <= max_shingle_freq)
        sizes = (
            posts.select(F.explode("members").alias("doc"))
            .groupBy("doc")
            .agg(F.count("*").alias("sz"))
        )
    big = posts.where(F.size("members") >= 2)
    expanded = (
        big.select("members", F.posexplode("members").alias("i", "lid"))
        .select(
            "lid",
            F.slice(
                F.col("members"),
                F.col("i") + 2,
                F.size("members") - F.col("i") - 1,
            ).alias("tail"),
        )
        .repartition(cores)
        .select("lid", F.explode("tail").alias("rid"))
    )
    inter = (
        expanded
        .groupBy(F.col("lid").alias("doc_a"), F.col("rid").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    out = (
        inter.join(sizes.withColumnsRenamed({"doc": "doc_a", "sz": "sz_a"}), "doc_a")
        .join(sizes.withColumnsRenamed({"doc": "doc_b", "sz": "sz_b"}), "doc_b")
        .withColumn(
            "jaccard",
            F.col("inter")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")).cast("double"),
        )
        .where(F.col("jaccard") >= F.lit(float(threshold)))
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


def contamination_check(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Benchmark-contamination report: for each corpus document, the fraction
    of its distinct word ``n``-grams that also appear in the benchmark set
    (the decontamination pass run before training — e.g. GPT-3 appendix C /
    PaLM §9 style 8-gram overlap).

    Returns ``(doc, n_shingles, n_hit, contamination)`` per corpus document,
    including zero-overlap rows (a report, not a filter — thresholding is the
    caller's policy).

    Scale shape: the benchmark shingle set is DISTINCT'd and broadcast — it
    is bounded by the benchmark suite's size (millions of rows at most, vs a
    ~100 TB corpus), so the corpus side never shuffles on shingle; the only
    wide exchange is the per-document re-aggregation on ``doc``. If the
    benchmark outgrows broadcast range, drop the hint and Catalyst falls
    back to a shuffled hash join on ``sh`` — same semantics.
    """
    corpus_sh = _doc_shingles(corpus, id_col, text_col, n)
    bench_sh = (
        benchmark.select(F.explode(word_shingles_expr(text_col, n)).alias("sh"))
        .dropDuplicates()
        .withColumn("_hit", F.lit(1))
    )
    return (
        corpus_sh.join(F.broadcast(bench_sh), "sh", "left")
        .groupBy("doc")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("_hit").alias("n_hit"),
        )
        .withColumn(
            "contamination",
            # ieee_round6: the ratio is off the 6-dp grid; engine ROUNDs
            # can disagree within an ulp of a boundary (functions/numeric)
            ieee_round6(F.col("n_hit") / F.col("n_shingles").cast("double")),
        )
    )


def span_dedupe(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 13,
) -> DataFrame:
    """Duplicated-span removal (the MassiveText/Gopher exact-substring pass,
    Rae et al. 2021 §A1.2): every corpus position covered by a word
    ``n``-gram whose first corpus occurrence lies elsewhere is deleted;
    documents are reassembled from the surviving tokens in order.

    Exact semantics (disclosed, oracle-pinned): an occurrence of an n-gram
    is a duplicate unless it is the minimum ``(doc, position)`` occurrence
    of that gram; every token position inside a duplicate occurrence is
    removed. The first occurrence — and any text never repeated — is kept
    verbatim.

    Returns ``(doc, text, n_kept, n_dropped)`` for every input document
    (fully-covered documents collapse to the empty string).

    Scale shape: first occurrences are ``min(struct)`` grouped by gram —
    map-side combinable, so a viral span (boilerplate repeated 10⁹ times)
    partially aggregates before the shuffle instead of sorting one hot
    group; coverage expansion is a bounded explode (n rows per duplicate
    occurrence, distinct'd on (doc, pos)); the final anti-join and
    reassembly are keyed by doc/pos. No corpus-sized window anywhere.
    """
    base = df.select(
        F.col(id_col).cast("long").alias("doc"),
        tokens_expr(text_col).alias("arr"),
    )
    tok = base.select("doc", F.size("arr").alias("n_total")).alias("tot")
    words = base.select("doc", F.posexplode("arr").alias("pos", "w"))
    grams = base.select(
        "doc",
        F.posexplode(
            F.when(
                F.size("arr") >= n,
                F.transform(
                    F.sequence(F.lit(1), F.size("arr") - (n - 1)),
                    lambda i: F.concat_ws(" ", F.slice("arr", i, n)),
                ),
            ).otherwise(F.array().cast("array<string>"))
        ).alias("pos", "g"),
    )
    firsts = grams.groupBy("g").agg(F.min(F.struct("doc", "pos")).alias("f"))
    dups = (
        grams.join(firsts, "g")
        .where(
            ~(
                (F.col("doc") == F.col("f.doc"))
                & (F.col("pos") == F.col("f.pos"))
            )
        )
        .select("doc", "pos")
    )
    covered = dups.select(
        "doc",
        F.explode(F.sequence(F.col("pos"), F.col("pos") + (n - 1))).alias(
            "cpos"
        ),
    ).dropDuplicates()
    kept = words.alias("w").join(
        covered.alias("c"),
        (F.col("w.doc") == F.col("c.doc")) & (F.col("w.pos") == F.col("c.cpos")),
        "left_anti",
    )
    rebuilt = kept.groupBy("doc").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("text"),
        F.count("*").alias("n_kept"),
    )
    return tok.join(rebuilt.alias("r"), "doc", "left").select(
        "doc",
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        (F.col("n_total") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
            "n_dropped"
        ),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


def minhash_signatures(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    shingle_n: int = 3,
) -> DataFrame:
    """(doc, sig: array<long>) — per-permutation minima, order-stable.

    Classic universal-hash MinHash: each shingle hashes ONCE (md5 → 60-bit
    int), then permutation p applies an affine map
    ``(A_p·base + B_p) mod P`` (P = 1e9+7; A_p, B_p derived from p) — one
    cryptographic hash plus ``num_perm`` integer ops per shingle instead of
    ``num_perm`` hashes. The whole signature computes per ROW with array
    expressions (distinct-shingle array → base-hash array → array_min per
    permutation): no explode, no shuffle at all. The md5 + modular
    arithmetic recipe is ANSI-SQL portable, so the DuckDB oracle states
    the identical permutation.
    """
    a, b = minhash_params(num_perm)
    # One shuffle (the groupBy-doc min aggregate), not two: shingles dedupe
    # INSIDE the per-row array (explode(array_distinct(…))) instead of a
    # corpus-wide (doc, shingle) dropDuplicates exchange. The exploded rows
    # + positional-min hash aggregate stay inside whole-stage codegen.
    #
    # Plan lessons, learned the hard way (both variants measured SLOWER
    # than this form despite "fewer shuffles"): (1) per-row signature
    # projections via num_perm × array_min(transform(base_col, …)) get
    # merged by CollapseProject, inlining the md5 base array into every
    # permutation — num_perm× the cryptographic work; (2) a single
    # aggregate-fold with a zip_with accumulator evaluates md5 once but
    # runs INTERPRETED (Spark higher-order functions allocate per lambda
    # call, outside codegen) — 3× slower end-to-end than exploding. The
    # map-side partial min aggregate makes the explode shuffle tiny:
    # num_perm longs per doc per input partition.
    sh = df.select(
        F.col(id_col).cast("long").alias("doc"),
        F.explode(
            F.array_distinct(word_shingles_expr(text_col, shingle_n))
        ).alias("sh"),
    )
    base = (
        F.conv(F.substring(F.md5(F.col("sh")), 1, 15), 16, 10).cast("long")
        % MINHASH_P
    )
    hashed = sh.select(
        "doc",
        F.array(
            *[
                ((F.lit(a[p]) * base + F.lit(b[p])) % MINHASH_P)
                for p in range(num_perm)
            ]
        ).alias("hs"),
    )
    mins = [
        F.min(F.element_at("hs", i + 1)).alias(f"m{i}") for i in range(num_perm)
    ]
    return (
        hashed.groupBy("doc")
        .agg(*mins)
        .select(
            "doc",
            F.array(*[F.col(f"m{i}") for i in range(num_perm)]).alias("sig"),
        )
    )


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
) -> DataFrame:
    """Candidate pairs sharing ≥1 LSH band (doc_a < doc_b).

    Signature splits into ``bands`` bands of ``num_perm/bands`` rows; a band
    key is the joined slice. Candidates form per band key — the classic
    sub-quadratic LSH join; the shuffle key is (band, band_key).
    """
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    rows_per_band = num_perm // bands
    sigs = minhash_signatures(df, id_col, text_col, num_perm, shingle_n)
    banded = sigs.select(
        "doc",
        "sig",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
    ).select(
        "doc",
        "band",
        # 8-byte join key: xxhash64 of the signature slice (a string
        # band_key both widens the shuffle and hashes char-by-char at join
        # time; slice equality <=> key equality modulo negligible 64-bit
        # collisions, and candidates are Jaccard-verified downstream anyway)
        F.xxhash64(
            F.expr(f"slice(sig, band * {rows_per_band} + 1, {rows_per_band})")
        ).alias("band_key"),
    )
    a = banded.select(F.col("doc").alias("doc_a"), "band", "band_key")
    b = banded.select(F.col("doc").alias("doc_b"), "band", "band_key")
    return (
        a.join(b, ["band", "band_key"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )


def minhash_dedupe_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    num_perm: int = 32,
    bands: int = 8,
    shingle_n: int = 3,
    threshold: float = 0.7,
    max_verify_shingles: int | None = None,
) -> DataFrame:
    """MinHash-LSH candidates verified with shingle Jaccard ≥ threshold.

    ONE pass over the shingle explosion: the signature minima AND the
    verification shingle set come out of a single groupBy on ``doc`` (vs the
    naive shape — one scan+shuffle for signatures, a second for verification
    sets). The per-doc compact table (sig + set) is persisted: it is the
    compressed representation every later stage (banding, both sides of the
    verification join) reads, so at corpus scale the raw text is scanned
    exactly once.

    ``max_verify_shingles`` bounds the per-doc verification width for corpus
    scale: shingles are carried as 8-byte hashes (not strings) and each doc
    keeps only its ``k`` smallest — a bottom-k (K-minimum-values) sketch.
    Pairs where both sketches are complete (doc had < k shingles) verify
    with EXACT Jaccard; oversized pairs use the classic KMV estimate
    |bottom_k(A∪B) ∩ A ∩ B| / |bottom_k(A∪B)| — unbiased, with error
    O(1/sqrt(k)). ``None`` (default) keeps full string shingle sets and
    exact Jaccard — bit-compatible with the relational oracle.
    """
    if num_perm % bands != 0:
        raise ValueError("num_perm must be divisible by bands")
    rows_per_band = num_perm // bands
    sh = _doc_shingles(df, id_col, text_col, shingle_n)
    a_p, b_p = minhash_params(num_perm)
    base = (
        F.conv(F.substring(F.md5(F.col("sh")), 1, 15), 16, 10).cast("long")
        % MINHASH_P
    )
    hashed = sh.select(
        "doc",
        "sh",
        F.array(
            *[
                ((F.lit(a_p[p]) * base + F.lit(b_p[p])) % MINHASH_P)
                for p in range(num_perm)
            ]
        ).alias("hs"),
    )
    mins = [
        F.min(F.element_at("hs", i + 1)).alias(f"m{i}") for i in range(num_perm)
    ]
    if max_verify_shingles is None:
        set_agg = F.collect_set("sh").alias("shset")
    else:
        # hash once (reuse the first permutation's base value = element 1 of
        # hs before the affine map is NOT available; hash sh again — cheap)
        # and keep the k smallest: a deterministic bottom-k sketch whose
        # width is bounded regardless of document length
        set_agg = F.slice(
            F.sort_array(
                F.collect_set(
                    F.conv(F.substring(F.md5(F.col("sh")), 1, 15), 16, 10)
                    .cast("long")
                )
            ),
            1,
            int(max_verify_shingles),
        ).alias("shset")
    per_doc = (
        hashed.groupBy("doc")
        .agg(*mins, set_agg)
        .select(
            "doc",
            F.array(*[F.col(f"m{i}") for i in range(num_perm)]).alias("sig"),
            "shset",
        )
        .persist()
    )
    banded = per_doc.select(
        "doc",
        F.explode(F.sequence(F.lit(0), F.lit(bands - 1))).alias("band"),
        "sig",
    ).select(
        "doc",
        "band",
        # 8-byte join key: xxhash64 of the signature slice (a string
        # band_key both widens the shuffle and hashes char-by-char at join
        # time; slice equality <=> key equality modulo negligible 64-bit
        # collisions, and candidates are Jaccard-verified downstream anyway)
        F.xxhash64(
            F.expr(f"slice(sig, band * {rows_per_band} + 1, {rows_per_band})")
        ).alias("band_key"),
    )
    cands = (
        banded.select(F.col("doc").alias("doc_a"), "band", "band_key")
        .join(
            banded.select(F.col("doc").alias("doc_b"), "band", "band_key"),
            ["band", "band_key"],
        )
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates()
    )
    sets = per_doc.select("doc", "shset")
    joined = cands.join(
        sets.withColumnsRenamed({"doc": "doc_a", "shset": "set_a"}), "doc_a"
    ).join(sets.withColumnsRenamed({"doc": "doc_b", "shset": "set_b"}), "doc_b")
    exact = F.size(F.array_intersect("set_a", "set_b")) / F.size(
        F.array_union("set_a", "set_b")
    ).cast("double")
    if max_verify_shingles is None:
        jaccard = exact
    else:
        k = int(max_verify_shingles)
        # both sketches complete → sets are exact → exact Jaccard; else the
        # KMV estimate over the k smallest of the union (sketches are sorted
        # ascending, so bottom-k of the union is a sort+slice)
        bottom = F.slice(
            F.sort_array(F.array_union("set_a", "set_b")), 1, k
        )
        kmv = F.size(
            F.array_intersect(bottom, F.array_intersect("set_a", "set_b"))
        ) / F.size(bottom).cast("double")
        jaccard = F.when(
            (F.size("set_a") < k) & (F.size("set_b") < k), exact
        ).otherwise(kmv)
    out = (
        joined.withColumn("jaccard", jaccard)
        .where(F.col("jaccard") >= F.lit(float(threshold)))
        .select("doc_a", "doc_b", F.round("jaccard", 6).alias("jaccard"))
    )
    return out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash_values(
    df: DataFrame, id_col: str, text_col: str, bits: int = 16
) -> DataFrame:
    """(doc, simhash) — bitwise majority vote over per-token feature hashes.

    Fully relational: explode tokens → explode bit positions → signed votes →
    groupBy doc. ``bits`` ≤ 48 (the feature hash is the first bits/4 hex
    chars of sha256(token), kept within a signed long).
    """
    if not 1 <= bits <= 48:
        raise ValueError("bits must be in [1, 48]")
    hex_chars = (bits + 3) // 4
    toks = df.select(
        F.col(id_col).cast("long").alias("doc"),
        F.explode(tokens_expr(text_col)).alias("tok"),
    )
    feature_hash = F.conv(
        F.substring(F.sha2(F.col("tok"), 256), 1, hex_chars), 16, 10
    ).cast("long")
    votes = (
        toks.withColumn("h", feature_hash)
        .select(
            "doc",
            F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit"),
            "h",
        )
        .withColumn(
            "vote",
            F.when(F.expr("(h >> bit) & 1") == 1, 1).otherwise(-1),
        )
    )
    return (
        votes.groupBy("doc", "bit")
        .agg(F.sum("vote").alias("v"))
        .withColumn(
            "bitval",
            # 1 must be a BIGINT: shiftleft(1, 31) on an INT literal wraps
            # to -2^31 and poisons the signature — unreachable at the
            # 16-bit demo width, exposed by the 32-bit d4c oracle (r10)
            F.when(
                F.col("v") > 0, F.expr("shiftleft(cast(1 as bigint), bit)")
            ).otherwise(F.lit(0).cast("long")),
        )
        .groupBy("doc")
        .agg(F.sum("bitval").cast("long").alias("simhash"))
    )


def simhash_chunks(bits: int, max_hamming: int) -> list[tuple[int, int]]:
    """(offset, length) of the ``max_hamming + 1`` contiguous signature
    chunks the pigeonhole blocking keys on.

    A pair differing in ≤ ``max_hamming`` bits cannot touch all
    ``max_hamming + 1`` chunks, so it shares at least one chunk verbatim —
    the guarantee is exact (two halves only covered distance ≤ 1).
    Chunk lengths differ by at most one bit.
    """
    k = max_hamming + 1
    if k > bits:
        raise ValueError(
            f"max_hamming={max_hamming} needs {k} chunks but bits={bits}: "
            "each pigeonhole chunk must span at least one bit"
        )
    base, extra = divmod(bits, k)
    out: list[tuple[int, int]] = []
    off = 0
    for i in range(k):
        length = base + (1 if i < extra else 0)
        out.append((off, length))
        off += length
    return out


def _simhash_chunk_parts(chunks: list[tuple[int, int]]) -> F.Column:
    """array<struct<hi,hv>> of every chunk key of the ``simhash`` column."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("hi"),
                F.shiftright("simhash", off)
                .bitwiseAND((1 << length) - 1)
                .alias("hv"),
            )
            for i, (off, length) in enumerate(chunks)
        ]
    )


def auto_simhash_bits(
    n_docs: int,
    max_hamming: int = 3,
    target_occupancy: int = 1024,
    min_chunk_bits: int = 4,
) -> int:
    """Corpus-derived SimHash signature width (measured rule, round 9).

    Pigeonhole blocking keys on ``max_hamming + 1`` chunks of
    ``bits/(mh+1)`` bits each, so expected candidate volume grows as
    ``(mh+1) · n² / 2^(bits/(mh+1))`` — the chunk width must track
    ``log2(n)`` or the blocked join degenerates toward a cross join
    (sf1 probe: 16-bit signatures go quadratic by ~50k docs, 51× wall
    for 10× corpus; 32 bits collapses sf1 candidates 24×). This derives
    ``chunk = max(min_chunk_bits, ceil(log2(n / target_occupancy)))``
    and returns ``(mh+1) · chunk`` clamped to the 48-bit signature cap —
    small fixtures keep the 16-bit demo sizing, real corpora auto-widen.
    """
    k = max_hamming + 1
    chunk = max(
        min_chunk_bits,
        math.ceil(math.log2(max(n_docs, 2) / target_occupancy)),
    )
    return max(k, min(48, k * chunk))


def auto_minhash_bands(
    n_docs: int,
    jaccard: float = 0.9,
    rows_per_band: int = 4,
    target_missed_docs: float = 0.01,
    min_bands: int = 8,
    max_bands: int = 32,
) -> int:
    """Corpus-derived MinHash band count (measured rule, round 13).

    A doc joins its near-dup cluster only if ≥1 of ``bands`` band keys
    collides with a partner's. Per partner the per-band collision
    probability is ``jaccard^rows_per_band``, so a conservative
    (single-partner) isolation bound is ``(1 - j^r)^bands`` per doc and
    ``n · (1 - j^r)^bands`` expected isolated docs corpus-wide. Fixed
    widths silently lose recall as the corpus grows — the 12×300k
    streaming tier at the historical 8 bands isolated 4 of 3.6M docs
    (expected ≈ n·1.9e-4 under the bound; observed lower because real
    groups offer many partners). This derives the band count that keeps
    the *bound* under ``target_missed_docs`` for the whole corpus:

        bands = ceil( ln(target/n) / ln(1 - j^r) )

    clamped to [min_bands, max_bands]; ``num_perm = bands ·
    rows_per_band``. At j≈0.9: 4,800 docs derive 13 bands, 360k → 17,
    3.6M → 19 (pinned in tests/test_dedup.py).
    """
    if not 0.0 < jaccard < 1.0:
        raise ValueError("jaccard must be in (0, 1)")
    miss = 1.0 - jaccard ** rows_per_band
    need = math.log(target_missed_docs / max(n_docs, 2)) / math.log(miss)
    return max(min_bands, min(max_bands, math.ceil(need)))


def auto_embedding_bucket_dims(
    n_rows: int,
    vector_dim: int,
    target_occupancy: float = 1.0,
) -> list[int]:
    """Corpus-derived sign-bit LSH bucket dims (measured rule, round 9).

    There are only ``2^len(bucket_dims)`` buckets and both the candidate
    self-join and the streaming touched-set scale with bucket occupancy
    (``n / 2^dims``) — 6 dims (64 buckets) over a few thousand vectors
    degenerates delta streaming to a 2.13× super-linear recompute while
    16 dims (65,536 buckets) holds the same load flat
    (``tools/stress_streaming_resolve.py --embedding``). Returns the
    first ``min(vector_dim, ceil(log2(n / occupancy)))`` component
    indices; small fixtures keep small bucket spaces, real corpora
    auto-widen up to the vector's dimensionality.
    """
    k = math.ceil(math.log2(max(n_rows, 2) / target_occupancy))
    # 63: the packed bucket key is a signed long (sign_bucket_expr cap)
    return list(range(max(1, min(k, vector_dim, 63))))


def simhash_near_duplicates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int | None = None,
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs with SimHash Hamming distance ≤ max_hamming.

    Blocking: ``max_hamming + 1`` contiguous chunk signatures — by
    pigeonhole, any pair within the distance budget shares at least one
    identical chunk (``max_hamming`` differing bits cannot hit every one of
    ``max_hamming + 1`` chunks), so candidates form on (chunk_index,
    chunk_value) keys instead of a cross join and recall is exact.

    **Size ``bits`` to the corpus** (measured, round 9): each chunk spans
    ``bits/(max_hamming+1)`` bits, so there are only ``2^(bits/(mh+1))``
    distinct values per chunk position and expected candidates grow as
    ``(mh+1) · n² / 2^(bits/(mh+1))`` — 16-bit signatures (4-bit chunks,
    16 values each) are a fixture-scale demo that goes quadratic by ~50k
    docs (sf1 probe: 23× output, 51× wall for 10× docs); real corpora
    want 32–48 bits so chunk occupancy stays O(1) per doc. The default
    ``bits=None`` applies :func:`auto_simhash_bits` to the corpus count
    (round 10: the shipped default must be the scale-safe path); note
    auto-sizing changes the signature width and hence which pairs fall
    within ``max_hamming`` — pin ``bits`` explicitly for reproducible
    pair sets across differently-sized corpora.
    """
    if bits is None:
        bits = auto_simhash_bits(df.count(), max_hamming)
        logging.getLogger(__name__).info(
            "simhash_near_duplicates auto-sized bits=%d", bits
        )
    sims = simhash_values(df, id_col, text_col, bits)
    try:
        # both sides of the chunk-key self-join read the signature table;
        # without lineage truncation each side re-executes the corpus-wide
        # token explode + two groupBys (plan showed two parquet scans)
        sims = sims.localCheckpoint(eager=False)
    except Exception:  # noqa: BLE001 — rare AQE checkpoint-planning bug
        pass
    return simhash_pairs_from_values(sims, bits, max_hamming)


def simhash_pairs_from_values(
    sims: DataFrame, bits: int, max_hamming: int
) -> DataFrame:
    """Chunk-blocked pair join over a ``(doc, simhash)`` signature table."""
    chunks = simhash_chunks(bits, max_hamming)
    halves = sims.select(
        "doc",
        "simhash",
        F.explode(_simhash_chunk_parts(chunks)).alias("hpart"),
    ).select("doc", "simhash", F.col("hpart.hi").alias("hi"), F.col("hpart.hv").alias("hv"))
    a = halves.select(
        F.col("doc").alias("doc_a"), F.col("simhash").alias("sim_a"), "hi", "hv"
    )
    b = halves.select(
        F.col("doc").alias("doc_b"), F.col("simhash").alias("sim_b"), "hi", "hv"
    )
    # Hamming filter BEFORE the pair dedup (guide §2.3 — shuffle fewer
    # bytes): bit_count(xor) is a two-instruction codegen evaluation, so
    # running it on every raw candidate costs nothing, while the
    # dropDuplicates exchange shrinks from the full candidate multiset
    # (12.4M rows at the sf0.1 auto-width, a hot chunk bucket is
    # quadratic) to just the surviving near-pairs (~25k). Identical
    # output: hamming is a pure function of the pair, so filter and
    # distinct commute, and duplicates carry equal hamming values.
    return (
        a.join(b, ["hi", "hv"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .withColumn(
            "hamming", F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
        )
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .dropDuplicates(["doc_a", "doc_b"])
    )


# ---------------------------------------------------------------------------
# embedding near-duplicates
# ---------------------------------------------------------------------------


def embedding_near_duplicates(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float = 0.95,
    bucket_dims: list[int] | None = None,
) -> DataFrame:
    """Pairs with cosine similarity ≥ threshold.

    With ``bucket_dims`` the join blocks on sign-bit LSH buckets with one-bit
    multi-probe (vectors near a hyperplane can flip a single sign, so side A
    probes every one-bit neighbour of its home bucket) — the scale path.
    Without it the join is the exact quadratic baseline (evaluation only).
    """
    base = df.select(F.col(id_col).cast("long").alias("doc"), F.col(vec_col).alias("v"))
    if bucket_dims:
        # bind the home bucket ONCE before fanning out the probe array:
        # referencing the raw sign_bucket_expr 1 + len(dims) times re-inlines
        # the whole sum-of-signs expression per probe, blowing codegen past
        # janino's method limit at ~16 dims (interpreted fallback)
        homed = base.withColumn("bkt", sign_bucket_expr("v", bucket_dims))
        probes = F.array(
            *([F.col("bkt")]
              + [F.col("bkt").bitwiseXOR(F.lit(1 << i))
                 for i in range(len(bucket_dims))])
        )
        a = homed.select(
            "doc", "v", F.explode(probes).alias("bkt")
        ).alias("a")
        b = homed.alias("b")
        joined = a.join(
            b, (F.col("a.bkt") == F.col("b.bkt")) & (F.col("a.doc") < F.col("b.doc"))
        )
    else:
        a = base.alias("a")
        b = base.alias("b")
        joined = a.join(b, F.col("a.doc") < F.col("b.doc"))
    return (
        joined.select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            F.round(cosine_expr(F.col("a.v"), F.col("b.v")), 6).alias("cosine"),
        )
        .dropDuplicates(["doc_a", "doc_b"])
        .where(F.col("cosine") >= F.lit(float(threshold)))
    )

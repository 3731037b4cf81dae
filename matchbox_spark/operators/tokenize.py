"""Tokenizer induction: byte-pair-encoding merge training over a corpus.

BPE (Sennrich et al. 2016, arXiv:1508.07909) — the vocabulary-induction
step every LLM training pipeline runs before anything else: start from
characters, repeatedly merge the most frequent adjacent symbol pair. The
engine trains the merge table itself rather than shelling out to a
tokenizer library, because at corpus scale the pair counting IS the hard
part and it is exactly a Spark aggregation.

Plan shape per merge (the v5/g6 fixed-iteration recipe — deterministic,
unrolled-CTE-oracle-replayable):

- **pair counting** is posexplode → adjacent self-join on (word, pos+1) →
  one map-side-combinable SUM(freq) keyed on the pair — the corpus-scale
  step, one shuffle over vocab-sized data (pair counting runs on the
  DISTINCT-word table weighted by frequency, the standard trick that makes
  BPE O(vocab) per merge instead of O(corpus));
- **argmax** orders (count DESC, pair ASC) LIMIT 1 — a driver-collected
  scalar, inlined as literals for the merge rewrite;
- **greedy left-to-right merge** is gaps-and-islands: consecutive matching
  positions form islands (overlap only when left==right), merges start at
  ODD in-island ranks, consumed positions drop, and the surviving symbols
  re-assemble ordered by position. Pure joins + windows partitioned by
  word — no per-row Python, no sequential state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from matchbox_spark.functions.text import tokens_expr


def _top_vocab(docs: DataFrame, text_col: str, top_words: int) -> DataFrame:
    """The distinct-word working vocabulary: top ``top_words`` by
    (freq DESC, word ASC). ONE definition shared by train and both encode
    paths — encode must reproduce the trainer's vocabulary exactly for the
    pinned encode(train corpus) ≡ trainer-segmentation property, so a
    tie-break drift between copies would silently break it."""
    return (
        docs.select(F.explode(tokens_expr(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(int(top_words))
    )


def _pos_pairs(wd: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Working vocab → (positions, adjacent pairs). ``pos`` is one row per
    (word, p, sym); ``pairs`` the adjacent self-join on (word, p+1)."""
    pos = wd.select("word", "freq", F.posexplode("syms").alias("p", "sym"))
    left, right = pos.alias("l"), pos.alias("r")
    pairs = left.join(
        right,
        (F.col("l.word") == F.col("r.word"))
        & (F.col("r.p") == F.col("l.p") + 1),
    ).select(
        F.col("l.word").alias("word"),
        F.col("l.p").alias("p"),
        F.col("l.sym").alias("x"),
        F.col("r.sym").alias("y"),
        F.col("l.freq").alias("freq"),
    )
    return pos, pairs


def _apply_merge(
    pos: DataFrame, pairs: DataFrame, a: str, b: str
) -> DataFrame:
    """Greedy left-to-right rewrite of every adjacent (a, b) into ``a+b``:
    consecutive match positions form islands (overlap only when a == b),
    merges start at ODD in-island ranks, consumed positions drop, and the
    survivors re-assemble ordered by position. Returns the next
    ``(word, freq, syms)`` vocab."""
    match = pairs.where(
        (F.col("x") == F.lit(a)) & (F.col("y") == F.lit(b))
    ).select("word", "p")
    w_isl = Window.partitionBy("word").orderBy("p")
    islands = match.withColumn("grp", F.col("p") - F.row_number().over(w_isl))
    w_rank = Window.partitionBy("word", "grp").orderBy("p")
    starts = (
        islands.withColumn("r", F.row_number().over(w_rank))
        .where(F.col("r") % 2 == 1)
        .select("word", "p")
    )
    consumed = starts.select("word", (F.col("p") + 1).alias("p"))
    return (
        pos.join(starts.withColumn("_s", F.lit(True)), ["word", "p"], "left")
        .join(consumed.withColumn("_c", F.lit(True)), ["word", "p"], "left")
        .where(F.col("_c").isNull())
        .select(
            "word",
            "freq",
            "p",
            F.when(F.col("_s").isNotNull(), F.lit(a + b))
            .otherwise(F.col("sym"))
            .alias("sym"),
        )
        .groupBy("word", "freq")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("p", "sym"))),
                lambda s: s["sym"],
            ).alias("syms")
        )
    )


# Vocab-row budget for the driver BPE twin (optimization r14). The working
# vocabulary is bounded by ``top_words`` BY CONSTRUCTION, so when that bound
# is small the whole merge loop — pair counts, argmax, greedy rewrite — runs
# on driver lists in microseconds instead of 2 Spark jobs + a parquet
# round-trip PER MERGE (measured: t13's 3-merge train+encode spent 4.4 s in
# spark.read.parquet footer reads alone). Everything is integer/string
# arithmetic: Python replays the SQL semantics exactly (UTF-8 byte order ==
# code-point order for the tie-breaks). 0 disables the twin.
_BPE_DRIVER_VOCAB = 100_000


def _vocab_rows_py(docs: DataFrame, text_col: str, top_words: int):
    """One job: the trainer's working vocabulary collected to the driver
    as ``[(word, freq, syms)]`` in (freq DESC, word ASC) order."""
    rows = _top_vocab(docs, text_col, top_words).collect()
    return [(r["word"], int(r["freq"]), list(r["word"])) for r in rows]


def _pair_argmax_py(vocab):
    """The trainer's argmax: Σ freq per adjacent pair, best by
    (count DESC, lhs ASC, rhs ASC). None when no word has 2+ symbols."""
    counts: dict[tuple[str, str], int] = {}
    for _, freq, syms in vocab:
        for i in range(len(syms) - 1):
            key = (syms[i], syms[i + 1])
            counts[key] = counts.get(key, 0) + freq
    if not counts:
        return None
    best = min(counts.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))
    return best[0][0], best[0][1], best[1]


def _merge_once_py(syms, a, b):
    """Greedy left-to-right rewrite of adjacent (a, b) → a+b — the exact
    gaps-and-islands semantics of :func:`_apply_merge` (odd in-island
    ranks ≡ a left scan that skips the consumed position)."""
    out = []
    i = 0
    n = len(syms)
    while i < n:
        if i + 1 < n and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def bpe_train(
    docs: DataFrame,
    text_col: str = "text",
    n_merges: int = 3,
    top_words: int = 200,
) -> DataFrame:
    """Train ``n_merges`` BPE merges over the ``top_words`` most frequent
    words; returns ``(it, lhs, rhs, pair_freq)`` — one row per merge in
    training order, plus a final ``it = -1`` row carrying the corpus-wide
    surviving-symbol count (``Σ len(syms)·freq``) that pins the
    re-segmentation itself, not just the chosen pairs.

    Ties in the argmax break on (lhs, rhs) lexicographically; words are
    lowercased whitespace tokens (``tokens_expr``); symbols start as
    single characters.
    """
    if n_merges < 1 or top_words < 1:
        raise ValueError("n_merges and top_words must be >= 1")
    import shutil
    import tempfile

    spark = docs.sparkSession
    if top_words <= _BPE_DRIVER_VOCAB:
        # driver twin: one vocabulary job, then the merge loop on lists
        # (see _BPE_DRIVER_VOCAB); identical outputs pinned in pytest
        vocab_py = _vocab_rows_py(docs, text_col, top_words)
        merges_py: list[tuple[int, str, str, int]] = []
        for it in range(n_merges):
            best = _pair_argmax_py(vocab_py)
            if best is None:
                raise ValueError(f"no adjacent pairs left at merge {it}")
            a, b, c = best
            merges_py.append((it, a, b, c))
            vocab_py = [
                (w, f, _merge_once_py(s, a, b)) for w, f, s in vocab_py
            ]
        total_py = sum(len(s) * f for _, f, s in vocab_py)
        out_py = merges_py + [(-1, "__symbols__", "", int(total_py))]
        return spark.createDataFrame(
            out_py, "it int, lhs string, rhs string, pair_freq long"
        ).orderBy("it")
    vocab = _top_vocab(docs, text_col, top_words)
    # Round materialisation is a PARQUET round-trip, not a localCheckpoint
    # chain (round 11): chained per-round localCheckpoints on this plan
    # shape degrade superlinearly after ~8 rounds in one session (measured
    # 1.2 s → 14 s → 117 s per merge at a constant 19k-row vocabulary and a
    # constant 6 KB plan; the identical round over a parquet-backed frame
    # runs in ~1 s, flat through 14+ rounds). Parquet is also the
    # scale-correct medium for a 1k-merge trainer: bounded disk (two
    # alternating copies), zero cache pressure, hard lineage cut.
    tmp = tempfile.mkdtemp(prefix="mbspark_bpe_")
    try:
        vocab.select(
            "word",
            "freq",
            F.expr("regexp_extract_all(word, '.', 0)").alias("syms"),
        ).write.parquet(f"{tmp}/wd_init")
        wd = spark.read.parquet(f"{tmp}/wd_init")

        merges: list[tuple[int, str, str, int]] = []
        for it in range(n_merges):
            pos, pairs = _pos_pairs(wd)
            best_rows = (
                pairs.groupBy("x", "y")
                .agg(F.sum("freq").alias("c"))
                .orderBy(F.desc("c"), F.asc("x"), F.asc("y"))
                .limit(1)
                .collect()
            )
            if not best_rows:
                raise ValueError(f"no adjacent pairs left at merge {it}")
            a, b, c = (
                best_rows[0]["x"],
                best_rows[0]["y"],
                int(best_rows[0]["c"]),
            )
            merges.append((it, a, b, c))
            # alternate two directories: round k reads wd{(k-1)%2} and
            # writes wd{k%2}, so disk stays bounded at two vocab copies
            path = f"{tmp}/wd{it % 2}"
            _apply_merge(pos, pairs, a, b).write.mode("overwrite").parquet(
                path
            )
            wd = spark.read.parquet(path)

        total = wd.agg(
            F.sum(F.size("syms") * F.col("freq")).cast("long").alias("n")
        ).collect()[0]["n"]
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    out = merges + [(-1, "__symbols__", "", int(total))]
    return spark.createDataFrame(
        out, "it int, lhs string, rhs string, pair_freq long"
    ).orderBy("it")


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    top_words: int = 200,
) -> DataFrame:
    """Apply a trained merge table to the corpus vocabulary: each of the
    ``top_words`` most frequent words is segmented by applying every merge
    ONCE, in rank order, greedy left-to-right — exactly the rewrite the
    trainer performs on its working vocabulary, so encoding the training
    corpus with the training merges reproduces the trainer's final
    segmentation verbatim (pinned in pytest against ``bpe_train``'s
    ``it = -1`` surviving-symbol count). Returns
    ``(word, freq, syms array<string>)``.

    Note the deliberate semantics: rank-ordered single passes, not the
    iterative lowest-rank-present loop HF tokenizers run at encode time.
    The two differ only when a merge output forms a LOWER-ranked pair with
    a neighbour — impossible for pairs the trainer itself produced on this
    corpus (a lower-ranked pair present after merge r would have out-counted
    it during training), and the single-pass form is what an unrolled SQL
    oracle can replay. One rewrite per merge is the right plan at the
    hundreds-of-merges scale; for vocab-scale merge tables (30k+) use
    :func:`bpe_encode_arrow`, which loops per word in one Arrow pass.
    """
    import atexit
    import shutil
    import tempfile

    spark = docs.sparkSession
    if top_words <= _BPE_DRIVER_VOCAB:
        # driver twin (see bpe_train): one vocabulary job, the rank-ordered
        # single-pass rewrites on lists, one LocalRelation back
        vocab_py = _vocab_rows_py(docs, text_col, top_words)
        for a, b in merges:
            a, b = str(a), str(b)
            vocab_py = [
                (w, f, _merge_once_py(s, a, b)) for w, f, s in vocab_py
            ]
        return spark.createDataFrame(
            [(w, f, s) for w, f, s in vocab_py],
            "word string, freq long, syms array<string>",
        )
    vocab = _top_vocab(docs, text_col, top_words)
    # parquet round-trips, same rationale as bpe_train (round 11: chained
    # localCheckpoints degrade superlinearly past ~8 rounds). The RETURNED
    # frame lazily reads the FINAL round's directory only, so that one
    # directory lives until process exit (or an explicit
    # :func:`cleanup_bpe_temps` — after which previously returned frames
    # are unreadable); every intermediate round is reaped eagerly below,
    # bounding per-call disk residue to ONE vocab copy, not three
    # (ADVICE r11).
    tmp = tempfile.mkdtemp(prefix="mbspark_bpe_")
    _BPE_TMP_DIRS.append(tmp)
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    vocab.select(
        "word",
        "freq",
        F.expr("regexp_extract_all(word, '.', 0)").alias("syms"),
    ).write.parquet(f"{tmp}/wd_init")
    wd = spark.read.parquet(f"{tmp}/wd_init")
    final = f"{tmp}/wd_init"
    try:
        for it, (a, b) in enumerate(merges):
            pos, pairs = _pos_pairs(wd)
            # three rotating directories (not two): the frame feeding the
            # next round must stay readable while that round writes, so a
            # round never overwrites the directory it is reading from
            path = f"{tmp}/wd{it % 3}"
            _apply_merge(pos, pairs, str(a), str(b)).write.mode(
                "overwrite"
            ).parquet(path)
            wd = spark.read.parquet(path)
            final = path
    finally:
        # eager reap: everything except the directory the returned frame
        # reads — a long-lived session calling bpe_encode repeatedly now
        # accumulates one tree per call, not three
        import os

        for child in os.listdir(tmp):
            full = f"{tmp}/{child}"
            if full != final:
                shutil.rmtree(full, ignore_errors=True)
    return wd


#: temp roots created by :func:`bpe_encode`, newest last — each holds the
#: single surviving parquet tree its returned DataFrame lazily reads
_BPE_TMP_DIRS: list[str] = []


def cleanup_bpe_temps() -> int:
    """Reap every temp tree :func:`bpe_encode` has created this process.

    DataFrames previously returned by ``bpe_encode`` become unreadable —
    call this only once they are consumed (or materialised elsewhere).
    Returns the number of trees removed. Without an explicit call the
    trees are removed at interpreter exit via atexit.
    """
    import shutil

    n = 0
    while _BPE_TMP_DIRS:
        shutil.rmtree(_BPE_TMP_DIRS.pop(), ignore_errors=True)
        n += 1
    return n


def bpe_encode_arrow(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    top_words: int = 200,
) -> DataFrame:
    """Vocab-scale BPE encode: the merge table ships in the task closure
    (30k merges ≈ a few hundred KB — broadcast once per executor) and each
    word is rewritten in a Python loop over one Arrow batch — the 100 TB
    path, because a 30k-merge relational unroll would need 30k plan nodes.
    SAME single-pass rank-order semantics as :func:`bpe_encode` (pinned
    row-identical in pytest); words are encoded once each (the distinct-
    vocab trick), so per-batch cost is O(vocab · merges present), not
    corpus-sized."""
    import pandas as pd

    merge_list = [(str(a), str(b)) for a, b in merges]

    def encode(batches):
        cache: dict[str, list[str]] = {}

        def enc(word: str) -> list[str]:
            got = cache.get(word)
            if got is not None:
                return got
            syms = list(word)
            for a, b in merge_list:
                out: list[str] = []
                i = 0
                while i < len(syms):
                    if (
                        i + 1 < len(syms)
                        and syms[i] == a
                        and syms[i + 1] == b
                    ):
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(syms[i])
                        i += 1
                syms = out
            cache[word] = syms
            return syms

        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield pd.DataFrame(
                {
                    "word": pdf["word"],
                    "freq": pdf["freq"],
                    "syms": [enc(w) for w in pdf["word"]],
                }
            )

    vocab = _top_vocab(docs, text_col, top_words)
    return vocab.mapInPandas(
        encode, "word string, freq long, syms array<string>"
    )

"""Property-based tests (hypothesis) for the load-bearing invariants.

Mirrors the reference's property-style edge/cluster testing
(factories/models.py:209-439) with generated inputs: CC engine equivalence,
hash invariances, and the judgement-vote algebra. Example counts are small —
every example runs Spark jobs.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from matchbox_spark.eval import judgement_net_counts
from matchbox_spark.functions import hashing as H
from matchbox_spark.plans.resolvers import (
    connected_components,
    connected_components_driver,
)

_SETTINGS = dict(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)


edges_strategy = st.lists(
    st.tuples(st.integers(0, 30), st.integers(0, 30)).filter(lambda e: e[0] != e[1]),
    min_size=1,
    max_size=60,
)


@given(edges=edges_strategy)
@settings(**_SETTINGS)
def test_distributed_cc_equals_union_find(spark, edges):
    expected = connected_components_driver(edges)
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["id"]: r["component"] for r in connected_components(df).collect()}
    assert got == expected


@given(
    rows=st.lists(
        st.tuples(st.integers(-100, 100), st.text(max_size=8)),
        min_size=1,
        max_size=25,
    ),
    parts=st.integers(1, 5),
)
@settings(**_SETTINGS)
def test_table_hash_invariant_to_order_and_partitioning(spark, rows, parts):
    df1 = spark.createDataFrame(rows, "n long, s string").repartition(parts)
    df2 = spark.createDataFrame(list(reversed(rows)), "n long, s string").coalesce(1)
    assert H.hash_table(df1) == H.hash_table(df2)


@given(
    partition=st.lists(st.integers(0, 3), min_size=2, max_size=7),
)
@settings(**_SETTINGS)
def test_judgement_votes_net_plus_minus_one(spark, partition):
    """A complete judgement (one row per endorsed group covering the shown
    cluster) must net exactly +1 for within-group pairs and -1 for
    cross-group pairs — the weighted-vote algebra the reference documents
    (eval.py:214-281), for ANY grouping, regardless of row interleaving."""
    leaves = list(range(100, 100 + len(partition)))
    groups: dict[int, list[int]] = {}
    for leaf, g in zip(leaves, partition):
        groups.setdefault(g, []).append(leaf)

    shown_root = 1
    expansion_rows = [(shown_root, leaves)]
    judgement_rows = []
    for i, members in enumerate(groups.values()):
        endorsed_root = 10 + i
        if len(members) > 1:
            expansion_rows.append((endorsed_root, members))
            judgement_rows.append(("u", endorsed_root, shown_root))
        else:
            judgement_rows.append(("u", members[0], shown_root))

    judgements = spark.createDataFrame(
        judgement_rows, "user_name string, endorsed long, shown long"
    )
    expansion = spark.createDataFrame(
        expansion_rows, "root long, leaves array<long>"
    )
    net = {
        (r["a"], r["b"]): r["net"]
        for r in judgement_net_counts(judgements, expansion).collect()
    }
    leaf_group = dict(zip(leaves, partition))
    for i, a in enumerate(leaves):
        for b in leaves[i + 1 :]:
            expected = 1.0 if leaf_group[a] == leaf_group[b] else -1.0
            assert abs(net[(a, b)] - expected) < 1e-6, (a, b, net[(a, b)])


@given(
    n_nodes=st.integers(min_value=2, max_value=40),
    comp_frac=st.floats(min_value=0.05, max_value=1.0),
    extra_frac=st.floats(min_value=0.0, max_value=1.0),
    seed=st.integers(min_value=0, max_value=999),
)
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_component_edge_generator_invariants(spark, n_nodes, comp_frac, extra_frac, seed):
    from matchbox_spark.factories import (
        calculate_min_max_edges,
        generate_component_edges,
    )
    from matchbox_spark.plans.resolvers import Components

    n_components = max(1, int(n_nodes * comp_frac))
    mn, mx = calculate_min_max_edges(n_nodes, n_components)
    n_edges = mn + int((mx - mn) * extra_frac)
    edges, truth = generate_component_edges(
        spark, n_nodes, n_components, n_edges, seed=seed
    )
    assert mn <= edges.count() <= mx
    # any threshold below the score floor recovers EXACTLY the planted
    # clustering (the reference's component-count invariant)
    assignments = Components(thresholds={"m": 0.5}).compute_clusters(
        {"m": edges}
    )
    got = {}
    for r in assignments.collect():
        got.setdefault(r["parent_id"], set()).add(r["child_id"])
    planted = {}
    for node, comp in truth.items():
        planted.setdefault(comp, set()).add(node)
    # resolver only sees nodes with edges; singleton components (size 1)
    # never emit an edge, so compare over multi-node components
    expected = {frozenset(v) for v in planted.values() if len(v) > 1}
    assert {frozenset(v) for v in got.values()} == expected


# -- curation invariants ------------------------------------------------------

docs_strategy = st.lists(
    st.tuples(st.integers(0, 500), st.integers(1, 400)),  # (doc_id, n_tokens)
    min_size=1,
    max_size=40,
    unique_by=lambda t: t[0],
)


@given(docs=docs_strategy, budget=st.integers(50, 300))
@settings(**_SETTINGS)
def test_pack_documents_invariants(spark, docs, budget):
    from pyspark.sql import functions as F

    from matchbox_spark.operators.curation import pack_documents

    df = spark.createDataFrame(docs, "doc_id long, n_tokens long")
    out = pack_documents(df, "doc_id", "n_tokens", budget=budget, n_shards=4)
    rows = sorted(
        ((r["shard"], r["doc_id"], r["n_tokens"], r["pack"]) for r in out.collect())
    )
    # every document assigned exactly once
    assert len(rows) == len(docs)
    # within each shard: packs are 0-based, non-decreasing in doc order, and
    # the exclusive running sum reproduces the pack id
    by_shard: dict[int, list] = {}
    for shard, doc, tok, pack in rows:
        by_shard.setdefault(shard, []).append((doc, tok, pack))
    for members in by_shard.values():
        cum = 0
        prev_pack = 0
        for doc, tok, pack in members:  # already doc_id-ordered
            assert pack == cum // budget
            assert pack >= prev_pack
            prev_pack = pack
            cum += tok


@given(
    seed=st.integers(0, 10_000),
    overlap=st.integers(10, 120),
    extra=st.integers(0, 120),
)
@settings(**_SETTINGS)
def test_kmv_jaccard_estimate_tracks_exact(seed, overlap, extra):
    # pure-python check of the KMV estimator the capped verification uses:
    # bottom-k of the union vs exact jaccard on synthetic hashed sets
    import hashlib

    def h(x):
        return int(hashlib.md5(f"{seed}|{x}".encode()).hexdigest()[:15], 16)

    shared = {h(("s", i)) for i in range(overlap)}
    a = sorted(shared | {h(("a", i)) for i in range(extra)})
    b = sorted(shared | {h(("b", i)) for i in range(extra)})
    exact = len(set(a) & set(b)) / len(set(a) | set(b))
    k = 64
    ka, kb = a[:k], b[:k]
    # mirror the operator's conditional (dedup.minhash_dedupe_pairs): exact
    # Jaccard when BOTH sketches are complete, KMV estimate otherwise
    if len(a) < k and len(b) < k:
        est = len(set(ka) & set(kb)) / len(set(ka) | set(kb))
        assert est == exact
    else:
        bottom = sorted(set(ka) | set(kb))[:k]
        est = len(set(bottom) & set(ka) & set(kb)) / len(bottom)
        assert abs(est - exact) <= 0.25  # O(1/sqrt(k)) error band


# ---------------------------------------------------------------------------
# Round-4 operator invariants
# ---------------------------------------------------------------------------

_line = st.sampled_from(["alpha", "beta", "gamma", "delta", "shared", "x y z"])
_docs_of_lines = st.lists(
    st.lists(_line, min_size=1, max_size=5), min_size=1, max_size=8
)


@given(docs=_docs_of_lines)
@settings(**_SETTINGS)
def test_dedupe_lines_invariants(spark, docs):
    """(1) idempotent: a deduped corpus dedupes to itself; (2) conservation:
    kept + dropped == input lines; (3) every distinct line survives exactly
    once corpus-wide."""
    from pyspark.sql import functions as F

    from matchbox_spark.operators.curation import dedupe_lines

    df = spark.createDataFrame(
        [(i, "\n".join(ls)) for i, ls in enumerate(docs)],
        "doc_id long, text string",
    )
    once = dedupe_lines(df, "doc_id", "text").cache()
    total_lines = sum(len(ls) for ls in docs)
    agg = once.agg(F.sum("n_kept"), F.sum("n_dropped")).first()
    assert agg[0] + agg[1] == total_lines
    distinct_lines = {line for ls in docs for line in ls}
    assert agg[0] == len(distinct_lines)
    # idempotence (drop fully-empty docs first: '' is a line once re-split)
    again = dedupe_lines(
        once.where(F.col("text") != "").select(
            F.col("doc").alias("doc_id"), "text"
        ),
        "doc_id",
        "text",
    )
    assert again.agg(F.sum("n_dropped")).first()[0] == 0


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 10 ** 6)),
        min_size=1,
        max_size=40,
    )
)
@settings(**_SETTINGS)
def test_salted_agg_equals_plain_agg(spark, rows):
    from pyspark.sql import functions as F

    from matchbox_spark.operators.skew import salted_agg

    df = spark.createDataFrame(rows, "k int, v long")
    salted = {
        r["k"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in salted_agg(
            df,
            ["k"],
            {"n": ("*", "count"), "s": ("v", "sum"),
             "mn": ("v", "min"), "mx": ("v", "max")},
            n_salts=4,
            salt_expr=F.pmod(F.xxhash64("v"), F.lit(4)),
        ).collect()
    }
    plain = {
        r["k"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in df.groupBy("k")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s"),
             F.min("v").alias("mn"), F.max("v").alias("mx"))
        .collect()
    }
    assert salted == plain


@given(
    text=st.text(
        alphabet=st.characters(
            whitelist_categories=("Lu", "Ll", "Nd", "Zs"),
            whitelist_characters="@.+-",
        ),
        max_size=60,
    )
)
@settings(**_SETTINGS)
def test_pii_redaction_idempotent(spark, text):
    """Redacting already-redacted text changes nothing: placeholders contain
    no redactable patterns, and untouched text stays untouched."""
    from pyspark.sql import functions as F

    from matchbox_spark.functions.text import pii_redact_expr

    df = spark.createDataFrame([(text,)], "t string")
    once, twice = df.select(
        pii_redact_expr("t").alias("r1"),
        pii_redact_expr(pii_redact_expr("t")).alias("r2"),
    ).first()
    assert once == twice


@given(
    lefts=st.lists(st.integers(0, 50), min_size=1, max_size=8, unique=True),
    rights=st.lists(st.integers(0, 50), min_size=0, max_size=8, unique=True),
)
@settings(**_SETTINGS)
def test_asof_nearest_equals_bruteforce(spark, lefts, rights):
    """nearest = argmin |Δt| with ties to the past, per pandas merge_asof."""
    from pyspark.sql import functions as F

    from matchbox_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, float(t)) for t in lefts], "k int, ts double"
    ).select("k", F.col("ts").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [(1, float(t), f"v{t}") for t in rights] or [(2, 0.0, "x")],
        "k int, ts double, v string",
    ).select("k", F.col("ts").cast("timestamp").alias("ts"), "v")
    got = {
        int(r["ts"].timestamp()): r["r_v"]
        for r in asof_join(left, right, on="k", direction="nearest").collect()
    }
    for t in lefts:
        if not rights:
            assert got[t] is None
            continue
        best = min(rights, key=lambda r: (abs(r - t), r > t))
        assert got[t] == f"v{best}", (t, rights, got[t])


# rows: (id, key) with duplicate ids and keys allowed; None ids exercised
deduper_rows = st.lists(
    st.tuples(
        st.one_of(st.none(), st.integers(1, 12)),
        st.sampled_from(["a", "b", "c"]),
    ),
    min_size=0,
    max_size=24,
)


@given(rows=deduper_rows, chunk=st.integers(2, 5), cap=st.one_of(st.none(), st.integers(2, 6)))
@settings(**_SETTINGS)
def test_chunked_deduper_equals_plain(spark, rows, chunk, cap):
    """NaiveDeduper's chunked path is pair-set-identical to the plain path
    for ANY input, chunk size, and max_group_size — including duplicate
    ids, null ids, and caps that drop groups (the round-4 advisory found
    the two paths measured the cap on different quantities)."""
    from matchbox_spark.operators.dedupers import NaiveDeduper

    df = spark.createDataFrame(rows, "id long, k string")
    plain = NaiveDeduper(id="id", unique_fields=["k"], max_group_size=cap)
    chunked = NaiveDeduper(
        id="id", unique_fields=["k"], max_group_size=cap, chunk_size=chunk
    )
    p = {(r["left_id"], r["right_id"]) for r in plain.dedupe(df).collect()}
    c = {(r["left_id"], r["right_id"]) for r in chunked.dedupe(df).collect()}
    assert p == c
    for left, right in p:
        assert left is not None and left < right


def _py_k_core(edges: list[tuple[int, int]], k: int) -> dict[int, int]:
    """Reference peel: independent pure-Python fixpoint iteration."""
    es = {tuple(e) for e in edges}
    while True:
        deg: dict[int, int] = {}
        for a, b in es:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        drop = {v for v, d in deg.items() if d < k}
        if not drop:
            return deg
        es = {(a, b) for a, b in es if a not in drop and b not in drop}


def test_k_core_matches_python_fixpoint_seeded(spark):
    """Fixed-round k_core equals the true fixpoint an independent
    pure-Python peel computes — node set AND in-core degrees — across
    seeded random graphs and k in {2, 3}. Seeded examples, not
    hypothesis: each case runs ~10 Spark rounds of joins."""
    import random

    from matchbox_spark.operators.graph import k_core

    for seed, k in ((1, 2), (2, 3), (3, 2)):
        rng = random.Random(seed)
        edges = sorted(
            {
                (min(a, b), max(a, b))
                for a, b in (
                    (rng.randint(0, 14), rng.randint(0, 14)) for _ in range(30)
                )
                if a != b
            }
        )
        expected = _py_k_core(edges, k)
        df = spark.createDataFrame(edges, "a long, b long")
        got = {
            r["node"]: r["degree"]
            for r in k_core(df, k=k, rounds=8).collect()
        }
        assert got == expected, (seed, k)


def test_bpe_matches_python_reference_seeded(spark):
    """bpe_train's merge choices and final symbol total equal an
    independent pure-Python BPE (greedy left-to-right rewrite) on seeded
    random corpora."""
    import random
    from collections import Counter

    from matchbox_spark.operators.tokenize import bpe_train

    def py_bpe(words: list[str], n_merges: int):
        freq = Counter(words)
        syms = {w: list(w) for w in freq}
        merges = []
        for it in range(n_merges):
            counts: Counter = Counter()
            for w, s in syms.items():
                for i in range(len(s) - 1):
                    counts[(s[i], s[i + 1])] += freq[w]
            if not counts:
                raise ValueError("exhausted")
            best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
            (a, b), c = best
            merges.append((it, a, b, c))
            for w, s in syms.items():
                out, i = [], 0
                while i < len(s):
                    if i + 1 < len(s) and s[i] == a and s[i + 1] == b:
                        out.append(a + b)
                        i += 2
                    else:
                        out.append(s[i])
                        i += 1
                syms[w] = out
        total = sum(len(s) * freq[w] for w, s in syms.items())
        return merges, total

    for seed in (5, 11):
        rng = random.Random(seed)
        words = [
            "".join(rng.choice("abc") for _ in range(rng.randint(2, 6)))
            for _ in range(10)
        ]
        df = spark.createDataFrame([(" ".join(words),)], "text string")
        try:
            expected_merges, expected_total = py_bpe(words, 2)
        except ValueError:
            continue
        out = bpe_train(df, n_merges=2, top_words=50).collect()
        got_merges = [
            (r["it"], r["lhs"], r["rhs"], r["pair_freq"])
            for r in out
            if r["it"] >= 0
        ]
        got_total = [r["pair_freq"] for r in out if r["it"] == -1][0]
        assert got_merges == expected_merges, seed
        assert got_total == expected_total, seed


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 500), st.integers(0, 2)),
        min_size=3,
        max_size=80,
    ),
)
@settings(**_SETTINGS)
def test_kmv_merge_order_free(spark, rows):
    """KMV sketches form a commutative, associative fold: any merge tree
    over any partition of the data equals the direct sketch of the whole —
    the algebra st8's streaming accumulation (and any per-source rollup)
    relies on. ``rows`` are (group, value, split-label) triples."""
    from matchbox_spark.operators.sketches import kmv_merge, kmv_sketch

    df = spark.createDataFrame(rows, "g int, v int, s int")
    parts = [df.where(f"s = {i}").select("g", "v") for i in range(3)]
    sketches = [kmv_sketch(p, ["g"], "v", k=8) for p in parts]
    direct = kmv_sketch(df.select("g", "v"), ["g"], "v", k=8)
    left_assoc = kmv_merge(
        [kmv_merge(sketches[:2], ["g"], k=8), sketches[2]], ["g"], k=8
    )
    reversed_order = kmv_merge(list(reversed(sketches)), ["g"], k=8)
    want = sorted(map(tuple, direct.collect()))
    assert sorted(map(tuple, left_assoc.collect())) == want
    assert sorted(map(tuple, reversed_order.collect())) == want


@given(
    vals=st.lists(st.integers(0, 999), min_size=5, max_size=60),
)
@settings(**_SETTINGS)
def test_histogram_quantiles_monotone_and_bounded(spark, vals):
    """Interpolated quantile estimates are monotone in q, bounded by the
    histogram range, and the sketch loses no rows (Σn == row count)."""
    from matchbox_spark.operators.sketches import (
        histogram_quantiles,
        histogram_sketch,
    )

    df = spark.createDataFrame([(v,) for v in vals], "v long")
    sk = histogram_sketch(df, "v", 0.0, 1000.0, 20)
    assert sum(r["n"] for r in sk.collect()) == len(vals)
    qs = [0.1, 0.5, 0.9, 1.0]
    out = {
        r["q"]: r["est"]
        for r in histogram_quantiles(sk, qs, 0.0, 1000.0, 20).collect()
    }
    assert set(out) == set(qs)
    ests = [out[q] for q in qs]
    assert ests == sorted(ests), "quantile estimates must be monotone in q"
    assert all(0.0 <= e <= 1000.0 for e in ests)
    # q=1 lands inside the last occupied bin: ≥ its lower edge
    top_bin = max(r["bin"] for r in sk.collect())
    assert out[1.0] >= top_bin * 50.0


def test_bpe_encode_paths_agree_on_random_corpora(spark):
    """Relational and Arrow BPE encode agree on seeded random corpora with
    random merge tables (including merges whose output feeds later merges
    and pairs absent from the corpus)."""
    import random

    from matchbox_spark.operators.tokenize import bpe_encode, bpe_encode_arrow

    for seed in (3, 17):
        rng = random.Random(seed)
        words = [
            "".join(rng.choice("ab") for _ in range(rng.randint(1, 7)))
            for _ in range(12)
        ]
        merges = [("a", "a"), ("a", "b"), ("aa", "ab"), ("b", "b")]
        rng.shuffle(merges)
        df = spark.createDataFrame([(" ".join(words),)], "text string")
        rel = sorted(
            (r["word"], tuple(r["syms"]))
            for r in bpe_encode(df, merges, top_words=50).collect()
        )
        arr = sorted(
            (r["word"], tuple(r["syms"]))
            for r in bpe_encode_arrow(df, merges, top_words=50).collect()
        )
        assert rel == arr, (seed, merges)

"""``ngram_jaccard_pairs`` on each of its three placements.

The driver prefix kernel, the bitset join and the posting lists must emit
the same rows; each call names its path in one INFO line. The constructed
corpora are exactness witnesses for the driver kernel: a pair whose
Jaccard rounds differently under HALF_UP and half-even, a pair at exactly
J = t that a float prefix length would lose, and inputs with no shingle.
"""

from __future__ import annotations

import logging
import uuid

import pytest

from matchbox_spark.operators import dedup as DD

LOGGER = "matchbox_spark.operators.dedup"


@pytest.fixture(scope="module")
def documents(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _force(monkeypatch, force_distributed, arm):
    """Put ``ngram_jaccard_pairs`` on one placement: ``driver`` (as is),
    ``bitset`` (driver budget 0), ``posting`` (the ``jaccard`` gate), or
    ``rows`` (a budget that admits the rows but not the candidate bound, so
    the bitset gate reads its inputs from the collected rows)."""
    if arm == "bitset":
        monkeypatch.setattr(DD, "_driver_cc_edge_limit", lambda spark: 0)
    elif arm == "posting":
        force_distributed("jaccard")
    elif arm == "rows":
        monkeypatch.setattr(DD, "_driver_cc_edge_limit", lambda spark: 100_000)


def _pairs(caplog, docs, n, t, cap=None):
    """The sorted rows of one call and the path its log line names."""
    caplog.clear()
    with caplog.at_level(logging.INFO, logger=LOGGER):
        out = DD.ngram_jaccard_pairs(
            docs, "doc_id", "text", n=n, threshold=t, max_shingle_freq=cap
        )
    (line,) = [m for m in caplog.messages if m.startswith("ngram_jaccard_pairs: ")]
    assert out.columns == ["doc_a", "doc_b", "jaccard"]
    rows = sorted((r["doc_a"], r["doc_b"], r["jaccard"]) for r in out.collect())
    return rows, line


# the path each forced arm takes on sf0.001 documents: with cap 3 the
# bitset cost model sends the corpus (fan-out 12) to the posting path;
# cap 40 drops shingles but keeps a fan-out the bitset gate admits
PATHS = {
    None: {"driver": "driver prefix", "bitset": "bitset", "posting": "posting"},
    3: {"driver": "driver prefix", "bitset": "posting", "posting": "posting"},
    40: {"driver": "driver prefix", "bitset": "bitset", "posting": "posting"},
}


@pytest.mark.parametrize("cap", [None, 3, 40])
def test_jaccard_path_matrix(spark, documents, caplog, monkeypatch, force_distributed, cap):
    """Identical rows from every placement for t ∈ {0.3, 0.5, 0.7}."""
    got = {}
    for arm, path in PATHS[cap].items():
        _force(monkeypatch, force_distributed, arm)
        for t in (0.3, 0.5, 0.7):
            rows, line = _pairs(caplog, documents, 2, t, cap)
            assert line.startswith(f"ngram_jaccard_pairs: auto → {path} ("), line
            got.setdefault(t, {})[arm] = rows
        monkeypatch.undo()
    for t, by_arm in got.items():
        assert by_arm["driver"], t
        assert by_arm["driver"] == by_arm["bitset"] == by_arm["posting"], t


def _jobs(spark, fn):
    """``fn()`` and the number of Spark jobs it submitted, counted through
    a job group of its own."""
    sc = spark.sparkContext
    group = f"jaccard-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "ngram_jaccard_pairs")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_jaccard_bitset_gate_reads_collected_rows(
    spark, documents, caplog, monkeypatch, force_distributed
):
    """A driver refusal on the candidate bound hands the collected rows'
    counts to the bitset gate, which then runs neither of its two probe
    jobs."""
    want, _ = _pairs(caplog, documents, 2, 0.5)
    jobs, lines = {}, {}
    for arm in ("rows", "bitset"):
        _force(monkeypatch, force_distributed, arm)
        (rows, lines[arm]), jobs[arm] = _jobs(
            spark, lambda: _pairs(caplog, documents, 2, 0.5)
        )
        assert rows == want
        monkeypatch.undo()
    assert lines["rows"].startswith(
        "ngram_jaccard_pairs: auto → bitset (rows 26477, candidate bound "
    ), lines
    assert lines["bitset"].startswith(
        "ngram_jaccard_pairs: auto → bitset (rows 1 > 0; vocabulary "
    ), lines
    # each probe is at least one job (two under AQE)
    assert jobs["bitset"] - jobs["rows"] >= 2, jobs


def _docs(spark, texts):
    return spark.createDataFrame(
        list(enumerate(texts, start=1)), "doc_id long, text string"
    )


def _words(prefix, k):
    return [f"{prefix}{i}" for i in range(k)]


ARMS = ("driver", "bitset", "posting")


@pytest.mark.parametrize("arm", ARMS)
def test_jaccard_rounds_half_up(spark, caplog, monkeypatch, force_distributed, arm):
    """J = 65/128 = 0.5078125 exactly: Spark's HALF_UP ``round`` reads
    0.507813 on every path, where numpy's half-even rounding would give
    0.507812."""
    shared = _words("w", 65)
    docs = _docs(spark, [
        " ".join(shared + _words("a", 31)),
        " ".join(shared + _words("b", 32)),
    ])
    _force(monkeypatch, force_distributed, arm)
    rows, line = _pairs(caplog, docs, 1, 0.5)
    assert f"→ {PATHS[None][arm]} (" in line, line
    assert rows == [(1, 2, 0.507813)]


@pytest.mark.parametrize("arm", ARMS)
def test_jaccard_exact_threshold_keeps_pair(spark, caplog, monkeypatch, force_distributed, arm):
    """A 10-shingle doc x and a 7-shingle y ⊂ x whose three rarest shingles
    lie outside y: J = 0.7 exactly at t = 0.7. A float ceil(0.7 · 10) = 8
    would cut x's prefix to those three shingles and lose the pair."""
    y = _words("w", 7)
    docs = _docs(spark, [" ".join(_words("x", 3) + y), " ".join(y)])
    _force(monkeypatch, force_distributed, arm)
    rows, line = _pairs(caplog, docs, 1, 0.7)
    assert f"→ {PATHS[None][arm]} (" in line, line
    assert rows == [(1, 2, 0.7)]


@pytest.mark.parametrize("arm", ARMS)
def test_jaccard_without_shingles(spark, caplog, monkeypatch, force_distributed, arm):
    """An empty frame, and texts all shorter than n, give no pairs. With
    no shingle rows even a zero driver budget admits the corpus, as the
    CC fork admits an empty edge set, so every arm answers on the driver."""
    _force(monkeypatch, force_distributed, arm)
    for docs in (_docs(spark, []), _docs(spark, ["one", "two words", None, ""])):
        rows, _ = _pairs(caplog, docs, 3, 0.5)
        assert rows == []


def test_driver_jaccard_runs_one_job(spark, documents, caplog):
    """One driver-path call submits one Spark job, the bounded collect:
    the answer is a LocalRelation and its projection folds into it."""
    with caplog.at_level(logging.INFO, logger=LOGGER):
        out, jobs = _jobs(spark, lambda: DD.ngram_jaccard_pairs(
            documents, "doc_id", "text", n=2, threshold=0.5
        ))
    assert any("→ driver prefix (" in m for m in caplog.messages)
    assert jobs == 1
    assert "LocalRelation" in out._jdf.queryExecution().optimizedPlan().toString()


def _brute_force(doc, code, t, cap):
    """Every doc pair's exact overlap by Python sets, under the kernel's
    float test: the loop reference for ``_prefix_jaccard``."""
    sets = {}
    for d, c in zip(doc.tolist(), code.tolist()):
        sets.setdefault(d, set()).add(c)
    if cap is not None:
        freq = {}
        for s in sets.values():
            for c in s:
                freq[c] = freq.get(c, 0) + 1
        sets = {d: {c for c in s if freq[c] <= cap} for d, s in sets.items()}
    ids = sorted(d for d, s in sets.items() if s)
    out = []
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            inter = len(sets[a] & sets[b])
            sa, sb = len(sets[a]), len(sets[b])
            if inter and inter / (sa + sb - inter) >= t:
                out.append((a, b, inter, sa, sb))
    return out


@pytest.mark.parametrize("seed", range(4))
def test_prefix_kernel_matches_brute_force(monkeypatch, seed):
    """The kernel's pairs equal an all-pairs set computation on random
    corpora, with blocks and chunks shrunk so every loop runs many times;
    duplicate (doc, shingle) rows count once."""
    import numpy as np

    monkeypatch.setattr(DD, "_BLOCK_CELLS", 64)
    monkeypatch.setattr(DD, "_CHUNK", 16)
    rng = np.random.default_rng(seed)
    nd, nv = 60, 25
    doc = rng.integers(0, nd, 900) * 7 - 100  # sparse, negative ids
    code = rng.zipf(1.5, 900).clip(max=nv) - 1
    for t in (0.0, 0.3, 0.5, 0.7, 1.0, 1.0000001):
        for cap in (None, 4):
            bound, pairs = DD._prefix_jaccard(doc, code.astype(np.int32), nv, t, cap, 10**9)
            got = sorted(zip(*(x.tolist() for x in pairs)))
            assert got == _brute_force(doc, code, t, cap), (t, cap)
    assert DD._prefix_jaccard(doc, code.astype(np.int32), nv, 0.5, None, 0)[1] is None


def _set_union_pairs(rows, n, t, cap=None):
    """Brute force over ``(id, text)`` rows: an id's shingles are the union
    of its rows' word n-gram sets, then every id pair's Jaccard, rounded
    as the operator rounds, kept at ≥ t."""
    from decimal import ROUND_HALF_UP, Decimal

    sets = {}
    for i, text in rows:
        toks = (text or "").lower().split()
        grams = {" ".join(toks[k:k + n]) for k in range(len(toks) - n + 1)}
        sets.setdefault(i, set()).update(grams)
    if cap is not None:
        freq = {}
        for s in sets.values():
            for g in s:
                freq[g] = freq.get(g, 0) + 1
        sets = {i: {g for g in s if freq[g] <= cap} for i, s in sets.items()}
    out = []
    ids = sorted(sets)
    for k, a in enumerate(ids):
        for b in ids[k + 1:]:
            inter = len(sets[a] & sets[b])
            j = inter / (len(sets[a]) + len(sets[b]) - inter) if inter else 0.0
            if inter and j >= t:
                q = Decimal(j).quantize(Decimal("0.000001"), ROUND_HALF_UP)
                out.append((a, b, float(q)))
    return out


# (id, text) rows whose ids repeat: with the same text (the posting path
# once counted such an id twice in an intersection and read J = 2.0), and
# with different texts, whose shingles the id holds as one set
_REPEATED_IDS = {
    "same_text": [(1, "a b c"), (1, "a b c"), (2, "a b c")],
    "different_texts": [
        (1, "a b c"), (1, "c d e"), (2, "a b c d e"), (2, "a b"),
        (3, "c d e f"), (3, "c d e f"), (4, "x y"), (4, "a b c"),
    ],
}


# the rows at t = 0.5, worked by hand: ids 1 and 2 both hold {a, b, c, d,
# e} in "different_texts", and 3 shares {c, d, e} of {a, …, f} with each
_REPEATED_WANT = {
    "same_text": [(1, 2, 1.0)],
    "different_texts": [(1, 2, 1.0), (1, 3, 0.5), (2, 3, 0.5)],
}


@pytest.mark.parametrize("case", sorted(_REPEATED_IDS))
@pytest.mark.parametrize("arm", ARMS)
def test_jaccard_repeated_ids(spark, caplog, monkeypatch, force_distributed, arm, case):
    """Rows sharing an id are one doc whose shingle set is the union of
    theirs, on every path: no Jaccard above 1, and the rows equal a
    brute-force set-union computation."""
    rows = _REPEATED_IDS[case]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    _force(monkeypatch, force_distributed, arm)
    for t in (0.3, 0.5):
        got, line = _pairs(caplog, docs, 1, t)
        assert f"→ {PATHS[None][arm]} (" in line, line
        assert got == _set_union_pairs(rows, 1, t), (t, got)
        assert all(j <= 1.0 for _, _, j in got)
    assert _pairs(caplog, docs, 1, 0.5)[0] == _REPEATED_WANT[case]


"""Seeded input generator for the entity-resolution benchmark.

Writes each workload's parquet inputs and its ground truth into one
directory. The program under test only ever receives the parquet inputs;
the truth files are read back by the benchmark's own checks.

    python3 perfbench/gen.py --seed 7 --out /tmp/inputs            # all
    python3 perfbench/gen.py --seed 7 --out /tmp/in --workload er_batch

The same seed gives byte-identical inputs. Sizes live in ``SIZES`` and are
recorded in ``BENCHMARK.json``'s workload descriptions.
"""

from __future__ import annotations

import argparse
import json
import os
import string

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Input properties per workload. Company-shaped inputs follow FIXTURES §1:
# every entity has one crn row per name variation (base + 3 suffixes) and
# two cdms rows carrying identical content under different keys. Hub
# entities have ``hub_size`` crn rows each, so the dedupe model emits
# hub_size·(hub_size−1)/2 pairs per hub.
SIZES = {
    "er_batch": {"entities": 2500, "hubs": 2, "hub_size": 400,
                 "lookups": {"count": 12, "absent": 1, "hub": 1, "zipf_s": 1.1}},
    "er_stream": {"entities": 1200, "hubs": 1, "hub_size": 120, "files": 16},
    "text_neardup": {
        "sparse": {"docs": 1200, "vocab": 20000, "zipf_s": 1.05,
                   "len": (30, 60), "clusters": 100},
        "dense": {"docs": 400, "vocab": 30, "zipf_s": 0.0,
                  "len": (60, 80), "clusters": 50},
        "n": 2,
        "threshold": 0.5,
    },
}

SUFFIXES = ["", " Limited", " UK", " Company"]


def _words(rng: np.random.Generator, count: int) -> list[str]:
    """``count`` distinct lowercase pseudo-words of 2–3 syllables."""
    sy = np.array([c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"])
    out: dict[str, None] = {}
    while len(out) < count:
        n = 2 * (count - len(out)) + 16
        parts = sy[rng.integers(0, len(sy), size=(n, 3))]
        three = rng.random(n) < 0.5
        for a, b, c, t in zip(parts[:, 0], parts[:, 1], parts[:, 2], three):
            out.setdefault(a + b + c if t else a + b)
            if len(out) == count:
                break
    return list(out)


def _unique_codes(rng: np.random.Generator, count: int, fmt: str) -> list[str]:
    """Distinct codes where ``?`` is a letter and ``#`` a digit."""
    letters = np.array(list(string.ascii_lowercase))
    digits = np.array(list(string.digits))
    out: list[str] = []
    seen: set[str] = set()
    while len(out) < count:
        code = "".join(
            str(rng.choice(letters)) if ch == "?" else
            str(rng.choice(digits)) if ch == "#" else ch
            for ch in fmt
        )
        if code not in seen:
            seen.add(code)
            out.append(code)
    return out


def _unique_keys(rng: np.random.Generator, count: int, prefix: str) -> list[str]:
    vals = rng.choice(np.iinfo(np.int64).max, size=count, replace=False)
    return [f"{prefix}{v:016x}" for v in vals]


def company_universe(rng: np.random.Generator, entities: int, hubs: int,
                     hub_size: int) -> dict:
    """crn and cdms rows plus the key → entity truth for both sources."""
    n = entities + hubs
    words = _words(rng, 3 * n)
    names = [
        f"{words[3 * e].title()} {words[3 * e + 1].title()} "
        f"{words[3 * e + 2].title()}"
        for e in range(n)
    ]
    crns = _unique_codes(rng, n, "???-###-???-###")
    cdms_codes = _unique_codes(rng, n, "ORG-########")
    crn_rows = []  # (entity, company_name, crn)
    for e in range(n):
        if e < hubs:
            variants = [f"{names[e]} Branch {i}" for i in range(hub_size)]
        else:
            variants = [names[e] + s for s in SUFFIXES]
        crn_rows += [(e, v, crns[e]) for v in variants]
    order = rng.permutation(len(crn_rows))
    crn_rows = [crn_rows[i] for i in order]
    crn_keys = _unique_keys(rng, len(crn_rows), "c")
    cdms_rows = [(e, crns[e], cdms_codes[e]) for e in range(n) for _ in (0, 1)]
    order = rng.permutation(len(cdms_rows))
    cdms_rows = [cdms_rows[i] for i in order]
    cdms_keys = _unique_keys(rng, len(cdms_rows), "d")
    return {
        "crn": pa.table({
            "key": crn_keys,
            "company_name": [r[1] for r in crn_rows],
            "crn": [r[2] for r in crn_rows],
        }),
        "cdms": pa.table({
            "key": cdms_keys,
            "crn": [r[1] for r in cdms_rows],
            "cdms": [r[2] for r in cdms_rows],
        }),
        "truth": pa.table({
            "source": ["crn"] * len(crn_rows) + ["cdms"] * len(cdms_rows),
            "key": crn_keys + cdms_keys,
            "entity": [r[0] for r in crn_rows] + [r[0] for r in cdms_rows],
        }),
    }


def lookup_sequence(rng: np.random.Generator, truth: pa.Table, count: int,
                    absent: int, hub: int, zipf_s: float) -> pa.Table:
    """Seeded closed-loop lookup keys in a fixed mix, so the cost of the
    sequence does not depend on the seed: ``hub`` keys of hub entities
    (the largest answers), ``absent`` keys that exist in no source, and the
    rest drawn Zipf(``zipf_s``) over a shuffled ranking of the other keys."""
    sources = truth.column("source").to_pylist()
    keys = truth.column("key").to_pylist()
    entity = truth.column("entity").to_pylist()
    hubs = [i for i, e in enumerate(entity) if e == 0 and sources[i] == "crn"]
    rest = rng.permutation([i for i, e in enumerate(entity) if e != 0])
    weights = 1.0 / np.arange(1, len(rest) + 1) ** zipf_s
    picks = [int(rest[r]) for r in rng.choice(
        len(rest), size=count - hub - absent, p=weights / weights.sum()
    )]
    picks += [int(i) for i in rng.choice(hubs, size=hub, replace=False)]
    rows = [(sources[i], keys[i]) for i in picks]
    rows += [("crn", k) for k in _unique_keys(rng, absent, "x")]
    rows = [rows[i] for i in rng.permutation(len(rows))]
    return pa.table({"source": [r[0] for r in rows], "key": [r[1] for r in rows]})


def bigrams(text: str, n: int) -> set[str]:
    toks = text.split()
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard_pairs(texts: dict[int, str], n: int,
                  threshold: float) -> dict[tuple[int, int], float]:
    """Exact word n-gram Jaccard ≥ threshold over all doc pairs.

    An independent pure-Python reference: prefix filtering (Xiao et al.,
    WWW 2008) finds every candidate, and each is verified exactly. A pair
    with Jaccard ≥ t shares a token among the rarest |x| − ⌈t·|x|⌉ + 1
    tokens of each side under one global frequency order.
    """
    sets = {d: bigrams(t, n) for d, t in texts.items()}
    freq: dict[str, int] = {}
    for s in sets.values():
        for g in s:
            freq[g] = freq.get(g, 0) + 1
    postings: dict[str, list[int]] = {}
    for d, s in sets.items():
        if not s:
            continue
        ordered = sorted(s, key=lambda g: (freq[g], g))
        plen = len(s) - int(np.ceil(threshold * len(s) - 1e-12)) + 1
        for g in ordered[:plen]:
            postings.setdefault(g, []).append(d)
    cands: set[tuple[int, int]] = set()
    for docs in postings.values():
        docs.sort()
        for i, a in enumerate(docs):
            for b in docs[i + 1:]:
                cands.add((a, b))
    out = {}
    for a, b in cands:
        inter = len(sets[a] & sets[b])
        jac = inter / (len(sets[a]) + len(sets[b]) - inter)
        if jac >= threshold:
            out[(a, b)] = jac
    return out


def corpus(rng: np.random.Generator, spec: dict, n: int, threshold: float,
           id_base: int) -> dict:
    """Seeded corpus with planted near-duplicate clusters.

    Background docs draw words from a Zipf (``zipf_s`` > 0) or uniform
    vocabulary. Each planted cluster is one base doc plus 1–3 variants,
    each a copy with one word replaced; a variant is redrawn until every
    pair inside its cluster clears the threshold by 0.05, so planted
    pairs are true positives by construction.
    """
    vocab = _words(rng, spec["vocab"])
    w = 1.0 / np.arange(1, len(vocab) + 1) ** spec["zipf_s"]
    cdf = np.cumsum(w / w.sum())
    lo, hi = spec["len"]

    def words(k: int) -> list[str]:
        idx = np.minimum(np.searchsorted(cdf, rng.random(k)), len(vocab) - 1)
        return [vocab[i] for i in idx]

    def draw() -> list[str]:
        return words(int(rng.integers(lo, hi + 1)))

    docs: list[list[str]] = []
    planted: list[list[int]] = []
    for _ in range(spec["clusters"]):
        base = draw()
        members = [base]
        for _ in range(int(rng.integers(1, 4))):
            while True:
                v = list(base)
                v[int(rng.integers(0, len(v)))] = words(1)[0]
                vs = bigrams(" ".join(v), n)
                if all(
                    len(vs & (ms := bigrams(" ".join(m), n)))
                    / len(vs | ms) >= threshold + 0.05
                    for m in members
                ):
                    members.append(v)
                    break
        planted.append(list(range(len(docs), len(docs) + len(members))))
        docs += members
    while len(docs) < spec["docs"]:
        docs.append(draw())
    order = rng.permutation(len(docs))
    pos = {int(old): new for new, old in enumerate(order)}
    ids = [id_base + i for i in range(len(docs))]
    texts = [" ".join(docs[int(old)]) for old in order]
    clusters = [sorted(ids[pos[m]] for m in c) for c in planted]
    return {
        "docs": pa.table({"doc_id": pa.array(ids, pa.int64()), "text": texts}),
        "planted": clusters,
        "pairs": jaccard_pairs(dict(zip(ids, texts)), n, threshold),
    }


def generate(workload: str, seed: int, out: str) -> dict:
    """Write ``workload``'s inputs and truth under ``out``; return a summary
    of the generated input properties."""
    os.makedirs(out, exist_ok=True)
    # one stream per (seed, workload): adding a workload never shifts
    # another workload's inputs
    rng = np.random.default_rng([seed, sorted(SIZES).index(workload)])
    size = SIZES[workload]
    summary: dict = {"workload": workload, "seed": seed}
    if workload in ("er_batch", "er_stream"):
        u = company_universe(rng, size["entities"], size["hubs"], size["hub_size"])
        pq.write_table(u["truth"], os.path.join(out, "truth.parquet"))
        summary.update(
            crn_rows=u["crn"].num_rows,
            cdms_rows=u["cdms"].num_rows,
            entities=size["entities"] + size["hubs"],
            hubs=size["hubs"],
            hub_size=size["hub_size"],
        )
        if workload == "er_stream":
            crn = u["crn"]
            os.makedirs(os.path.join(out, "crn_stream"))
            bounds = np.linspace(0, crn.num_rows, size["files"] + 1).astype(int)
            for i in range(size["files"]):
                part = crn.slice(bounds[i], bounds[i + 1] - bounds[i])
                pq.write_table(
                    part, os.path.join(out, "crn_stream", f"part-{i:05d}.parquet")
                )
            pq.write_table(crn, os.path.join(out, "crn.parquet"))
            summary["files"] = size["files"]
        else:
            pq.write_table(u["crn"], os.path.join(out, "crn.parquet"))
            pq.write_table(u["cdms"], os.path.join(out, "cdms.parquet"))
        if workload == "er_batch":
            seq = lookup_sequence(rng, u["truth"], **size["lookups"])
            pq.write_table(seq, os.path.join(out, "lookups.parquet"))
            summary["lookups"] = size["lookups"]
    elif workload == "text_neardup":
        truth = {}
        for i, name in enumerate(("sparse", "dense")):
            spec = size[name]
            c = corpus(rng, spec, size["n"], size["threshold"], id_base=i * 10**6)
            pq.write_table(c["docs"], os.path.join(out, f"{name}.parquet"))
            truth[name] = {
                "planted": c["planted"],
                "pairs": [[a, b, j] for (a, b), j in sorted(c["pairs"].items())],
            }
            summary[name] = {
                "docs": c["docs"].num_rows,
                "vocab": spec["vocab"],
                "planted_clusters": len(c["planted"]),
                "truth_pairs": len(c["pairs"]),
            }
        with open(os.path.join(out, "truth.json"), "w") as f:
            json.dump(truth, f)
    else:
        raise ValueError(f"unknown workload {workload!r}; known: {sorted(SIZES)}")
    return summary


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--workload", choices=sorted(SIZES))
    args = ap.parse_args()
    for w in [args.workload] if args.workload else sorted(SIZES):
        print(json.dumps(generate(w, args.seed, os.path.join(args.out, w))))


if __name__ == "__main__":
    main()

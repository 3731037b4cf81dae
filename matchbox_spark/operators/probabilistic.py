"""Native Fellegi–Sunter probabilistic linker (J6, Spark-first).

The reference delegates probabilistic linking to Splink (splinklinker.py:
177-257 — blocking rules → comparison levels → EM → match weights). Splink
isn't available here, so this is a from-scratch implementation of the same
published method (Fellegi & Sunter 1969; EM estimation as in Winkler 1988):

1. **Blocking**: candidate pairs are the union of equi-joins on blocking
   rules (never a cross join) — identical machinery to DeterministicLinker.
2. **Comparison vector**: each comparison is a boolean Spark SQL expression
   over ``l.``/``r.``; agreement patterns γ ∈ {0,1}^k are computed as
   codegen'd columns.
3. **EM**: the E/M steps need only the *pattern counts* (≤ 2^k rows), which
   aggregate distributively; the iteration itself runs on the driver over
   that tiny table. m/u probabilities and the match prior λ converge in a
   few dozen iterations.
4. **Scoring**: P(match | γ) per pattern, broadcast-joined back onto the
   candidate pairs. Edges above ``threshold`` are emitted with that
   probability as the score.

The heavy work (blocking joins, γ computation, pattern counting, score join)
is all DataFrame ops; the driver loop touches at most 2^k floats.
"""

from __future__ import annotations

import logging
import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from matchbox_spark.operators.comparison import validate_comparison
from matchbox_spark.operators.linkers import Linker, LinkerSettings, finalise_edges
from matchbox_spark.operators.registry import add_model_class

logger = logging.getLogger(__name__)


@dataclass
class FellegiSunterSettings(LinkerSettings):
    blocking_rules: list = field(default_factory=list)
    comparisons: list = field(default_factory=list)  # boolean l./r. exprs
    threshold: float = 0.5
    max_iter: int = 60
    tol: float = 1e-6
    # initial parameter guesses (Winkler-style defaults)
    init_lambda: float = 0.1
    init_m: float = 0.9
    init_u: float = 0.1


def _em(counts: list[tuple[tuple[int, ...], int]], k: int, s) -> tuple[float, list[float], list[float]]:
    """EM over agreement-pattern counts; returns (λ, m[], u[])."""
    lam, m, u = s.init_lambda, [s.init_m] * k, [s.init_u] * k
    total = sum(c for _, c in counts)
    for it in range(s.max_iter):
        # E-step: posterior match probability per pattern
        post = []
        for gamma, c in counts:
            pm = lam
            pu = 1 - lam
            for i in range(k):
                pm *= m[i] if gamma[i] else (1 - m[i])
                pu *= u[i] if gamma[i] else (1 - u[i])
            w = pm / (pm + pu) if (pm + pu) > 0 else 0.0
            post.append(w)
        # M-step
        sum_w = sum(w * c for w, (_, c) in zip(post, counts))
        sum_nw = total - sum_w
        new_lam = sum_w / total if total else 0.0
        new_m, new_u = [], []
        for i in range(k):
            num_m = sum(w * c for w, (g, c) in zip(post, counts) if g[i])
            num_u = sum((1 - w) * c for w, (g, c) in zip(post, counts) if g[i])
            new_m.append(min(max(num_m / sum_w if sum_w else 0.5, 1e-6), 1 - 1e-6))
            new_u.append(min(max(num_u / sum_nw if sum_nw else 0.5, 1e-6), 1 - 1e-6))
        delta = abs(new_lam - lam) + sum(
            abs(a - b) for a, b in zip(new_m + new_u, m + u)
        )
        lam, m, u = new_lam, new_m, new_u
        if delta < s.tol:
            logger.info("EM converged after %d iterations", it + 1)
            break
    return lam, m, u


@add_model_class
class FellegiSunterLinker(Linker):
    """Probabilistic record linkage with EM-trained m/u weights."""

    settings_class = FellegiSunterSettings

    # fitted parameters (populated by prepare/link)
    lambda_: float | None = None
    m_: list[float] | None = None
    u_: list[float] | None = None

    def _candidates(self, left: DataFrame, right: DataFrame) -> DataFrame:
        s = self.settings
        if not s.blocking_rules:
            raise ValueError("FellegiSunterLinker requires blocking_rules")
        if not s.comparisons:
            raise ValueError("FellegiSunterLinker requires comparisons")
        for cond in list(s.blocking_rules) + list(s.comparisons):
            validate_comparison(cond)

        if len(s.blocking_rules) == 1:
            # a single equi-rule cannot emit one (l-row, r-row) pair twice,
            # so pair-level dedup only guards against duplicate ids WITHIN
            # a side — dedupe the O(n) sides instead of shuffling the
            # O(pairs) candidate set with its gamma columns (optimization
            # r14, guide §2.4 "a distinct on data that is already unique";
            # which row represents a duplicated id was an arbitrary
            # dropDuplicates pick before and stays an arbitrary pick)
            left = left.dropDuplicates([s.left_id])
            right = right.dropDuplicates([s.right_id])
        l = left.alias("l")  # noqa: E741
        r = right.alias("r")
        gamma_cols = [
            F.when(F.expr(_bound_levenshtein(c)), 1).otherwise(0).alias(f"g{i}")
            for i, c in enumerate(s.comparisons)
        ]
        per_rule = [
            l.join(r, F.expr(rule), "inner").select(
                F.col(f"l.{s.left_id}").alias("left_id"),
                F.col(f"r.{s.right_id}").alias("right_id"),
                *gamma_cols,
            )
            for rule in s.blocking_rules
        ]
        out = per_rule[0]
        for other in per_rule[1:]:
            out = out.union(other)
        if len(s.blocking_rules) == 1:
            return out
        return out.dropDuplicates(["left_id", "right_id"])

    def link(self, left: DataFrame, right: DataFrame) -> DataFrame:
        s = self.settings
        k = len(s.comparisons)
        cands = self._candidates(left, right).localCheckpoint(eager=True)

        gcols = [f"g{i}" for i in range(k)]
        pattern_counts = (
            cands.groupBy(*gcols).agg(F.count("*").alias("n")).collect()
        )
        counts = [
            (tuple(int(row[g]) for g in gcols), int(row["n"]))
            for row in pattern_counts
        ]
        lam, m, u = _em(counts, k, s)
        self.lambda_, self.m_, self.u_ = lam, m, u
        logger.info("FS fit: lambda=%.4f m=%s u=%s", lam, m, u)

        # score per pattern (tiny) broadcast back onto candidates
        spark = cands.sparkSession
        rows = []
        for gamma, _ in counts:
            pm, pu = lam, 1 - lam
            for i in range(k):
                pm *= m[i] if gamma[i] else (1 - m[i])
                pu *= u[i] if gamma[i] else (1 - u[i])
            rows.append((*gamma, float(pm / (pm + pu)) if pm + pu else 0.0))
        score_df = spark.createDataFrame(
            rows, ", ".join(f"{g} int" for g in gcols) + ", score double"
        )
        scored = cands.join(F.broadcast(score_df), gcols).where(
            F.col("score") >= F.lit(float(s.threshold))
        )
        return finalise_edges(
            scored.select("left_id", "right_id", "score"),
            left, right, s.left_id, s.right_id,
        )

    def match_weights(self) -> list[dict]:
        """Per-comparison log2 match weights (Splink-style diagnostics)."""
        if self.m_ is None:
            raise RuntimeError("fit the linker first (call link)")
        return [
            {
                "comparison": c,
                "m": mi,
                "u": ui,
                "match_weight": math.log2(mi / ui) if ui > 0 else float("inf"),
            }
            for c, mi, ui in zip(self.settings.comparisons, self.m_, self.u_)
        ]


# ---------------------------------------------------------------------------
# Splink settings-dict compatibility surface
# ---------------------------------------------------------------------------

# DuckDB/Splink function names with a direct Spark equivalent. Conditions
# using anything else raise up front with a clear message instead of failing
# deep inside Catalyst.
_SPLINK_FUNC_MAP = {
    "levenshtein": "levenshtein",
    "lower": "lower",
    "upper": "upper",
    "trim": "trim",
    "substr": "substr",
    "substring": "substring",
    "length": "length",
    "abs": "abs",
    "coalesce": "coalesce",
    "concat": "concat",
    "soundex": "soundex",
    "left": "left",
    "right": "right",
}
_UNSUPPORTED_FUNCS = (
    "jaro_winkler_similarity",
    "jaro_similarity",
    "jaccard",
    "damerau_levenshtein",
)

# DuckDB spellings Splink emits that Spark knows under a different name —
# covers the ArrayIntersectAtSizes comparison template (DuckDB
# ``array_length(list_intersect(l.col, r.col)) >= n``) which in Spark is
# ``size(array_intersect(...)) >= n``. Renames apply on word boundaries
# before identifier re-quoting.
_DUCKDB_TO_SPARK_FUNCS = {
    "list_intersect": "array_intersect",
    "array_length": "size",
    "list_contains": "array_contains",
    "list_has": "array_contains",
}

# DuckDB's bare ``len()`` is overloaded: string length AND list length.
# Spark's ``size()`` accepts only arrays/maps, so a blanket rename would
# turn ``len(l."name") > 3`` into an analysis error (or a silent -1 under
# legacy sizeOfNull). The transpiler can't see argument types, so it
# REJECTS bare ``len(`` with a pointer at the unambiguous spellings
# (ADVICE r6).
_AMBIGUOUS_FUNCS = {
    "len": (
        "DuckDB len() is ambiguous (string vs list length); spell it "
        "length(...) for strings or array_length(...) for lists"
    ),
}


def _bound_levenshtein(sql: str) -> str:
    """Rewrite ``levenshtein(a, b) <= N`` to the bounded 3-arg form
    ``levenshtein(a, b, N) >= 0`` (optimization r14, guide §1.2 per-task
    work): the bounded variant short-circuits the DP to a 2N+1 band and
    returns −1 past the threshold, so the comparison is semantically
    identical (NULL args stay NULL either way; −1 maps to false exactly
    like distance > N) but ~1.5× faster on name-length strings — measured
    2.87 → 1.86 s on j6's 1.07M-pair gamma stage. Conservative: only the
    two-argument call followed by ``<= integer`` rewrites; quoting, nested
    parens and commas inside the arguments are respected, and anything
    ambiguous is left untouched."""
    import re as _re

    pat = _re.compile(r"\blevenshtein\s*\(", _re.IGNORECASE)
    pos = 0
    s = sql
    while True:
        m = pat.search(s, pos)
        if not m:
            return s
        # scan the balanced argument list, quote-aware
        depth, j, quote = 1, m.end(), None
        commas = 0
        while j < len(s) and depth:
            ch = s[j]
            if quote:
                if ch == quote:
                    quote = None
            elif ch in ("'", '"', "`"):
                quote = ch
            elif ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 1:
                commas += 1
            j += 1
        if depth or quote:
            return s  # unbalanced — leave the whole condition alone
        m2 = _re.match(r"\s*<=\s*(\d+)\b", s[j:])
        if m2 and commas == 1:
            n = int(m2.group(1))
            args = s[m.end() : j - 1]
            new = f"levenshtein({args}, {n}) >= 0"
            s = s[: m.start()] + new + s[j + m2.end() :]
            pos = m.start() + len(new)
        else:
            pos = j


def splink_sql_to_spark(sql: str, pair_suffixes: bool = False) -> str:
    """Transpile a Splink/DuckDB condition to Spark SQL.

    Handles the l./r. alias style with double-quoted identifiers
    (``l."company_name" = r."company_name"``), renames DuckDB list
    functions to their Spark builtins (``list_intersect`` →
    ``array_intersect``, ``array_length`` → ``size``, ``list_contains``
    → ``array_contains``), rejects the type-ambiguous bare ``len()``
    (string vs list length in DuckDB) with a pointer at the unambiguous
    spellings, and validates function names against the supported subset. Math builtins (``sin``/``cos``/``asin``/
    ``acos``/``radians``/``sqrt``/``pow`` — the distance_in_km template)
    share names across engines and pass through untouched.

    ``pair_suffixes=True`` additionally accepts splink's OWN comparison
    dialect: ``SettingsCreator.create_settings_dict()`` (the exact string
    the reference's SplinkLinker serialises, splinklinker.py:170-175)
    emits comparison-level conditions over the pairwise frame's suffixed
    columns — ``"first_name_l" = "first_name_r"`` — not the l./r. aliases
    blocking rules use. Suffixed identifiers (quoted or bare) rewrite to
    the alias-qualified form; splink reserves the suffix convention on its
    pairwise frame, so the rewrite is unambiguous in this context.
    """
    import re as _re

    # lex double-quoted IDENTIFIERS and single-quoted string LITERALS in one
    # alternation so each quoting construct is consumed atomically — an
    # apostrophe inside a quoted identifier (l."o'brien") must not open a
    # bogus literal, and literal text must never be scanned or rewritten
    # ('' / "" are the respective escapes; ADVICE r7 + r8)
    tok_re = _re.compile(r"(\"(?:[^\"]|\"\")*\"|'(?:[^']|'')*')")
    parts = tok_re.split(sql)  # even indices: code; odd: quoted token
    scan_text = " ".join(parts[::2])

    if pair_suffixes and _re.search(r"\b[lr]\s*\.", scan_text):
        # The condition already speaks the l./r. alias dialect — the
        # suffix rewrite would corrupt real column names that merely end
        # in _l/_r (l."total_l" must stay l.`total_l`, not become
        # l.l.`total`). The two dialects never mix within one level, so
        # alias presence disables the rewrite for this condition only.
        pair_suffixes = False

    for fn in _UNSUPPORTED_FUNCS:
        if _re.search(rf"\b{fn}\s*\(", scan_text, _re.IGNORECASE):
            raise ValueError(
                f"Splink condition uses {fn}(), which has no Spark builtin "
                "equivalent here; rewrite the level with levenshtein/soundex "
                "or precompute the similarity as a column"
            )
    for fn, hint in _AMBIGUOUS_FUNCS.items():
        if _re.search(rf"\b{fn}\s*\(", scan_text, _re.IGNORECASE):
            raise ValueError(f"Splink condition uses {fn}(): {hint}")

    def _rewrite_code(seg: str) -> str:
        for duck, spark_name in _DUCKDB_TO_SPARK_FUNCS.items():
            seg = _re.sub(
                rf"\b{duck}\s*\(", f"{spark_name}(", seg, flags=_re.IGNORECASE
            )
        if pair_suffixes:
            # bare suffixed identifiers: dob_l → l.`dob` (never a function
            # name — the supported set has no _l/_r-suffixed functions; a
            # following "(" is excluded anyway)
            seg = _re.sub(
                r"\b([A-Za-z_][A-Za-z0-9_]*)_([lr])\b(?!\s*\()",
                lambda m: f"{m.group(2)}.`{m.group(1)}`",
                seg,
            )
        return seg

    out = []
    for i, part in enumerate(parts):
        if i % 2 == 0:
            out.append(_rewrite_code(part))
        elif part.startswith('"'):
            # "col" → `col` (Spark identifier quoting); undo the "" escape
            # and double any embedded backtick (Spark's escape)
            raw = part[1:-1].replace('""', '"')
            alias = ""
            if pair_suffixes:
                m = _re.fullmatch(r"(.+)_([lr])", raw, _re.DOTALL)
                if m:
                    raw, alias = m.group(1), f"{m.group(2)}."
            out.append(f"{alias}`{raw.replace('`', '``')}`")
        else:
            out.append(part)  # string literal — verbatim
    return _bound_levenshtein("".join(out))


@dataclass
class _SplinkComparison:
    """One parsed comparison: ordered levels (first-match-wins, ``ELSE``
    always matches), null mask (no-evidence levels), optional fixed
    per-level m/u probabilities, and optional per-level term-frequency
    adjustment config (``tf_adjustment_column`` / ``tf_adjustment_weight``,
    Splink's documented keys)."""

    name: str
    levels: list[str]
    null_mask: list[bool]
    m_probs: list[float | None]
    u_probs: list[float | None]
    tf_cols: list[str | None]
    tf_weights: list[float]

    def fully_specified(self) -> bool:
        """Every evidence-bearing level carries explicit m and u."""
        return all(
            null or (mp is not None and up is not None)
            for null, mp, up in zip(self.null_mask, self.m_probs, self.u_probs)
        )


def _parse_splink_comparisons(linker_settings: dict) -> list[_SplinkComparison]:
    """Extract ordered comparison levels per comparison.

    Levels keep Splink's order — first matching level wins, top down; an
    ``ELSE`` level always matches; ``is_null_level`` levels carry no
    evidence (excluded from EM, weight 1 in scoring).
    """
    parsed = []
    for comp in linker_settings.get("comparisons", []):
        name = comp.get("output_column_name") or comp.get(
            "comparison_description", f"cmp{len(parsed)}"
        )
        levels, null_mask = [], []
        m_probs, u_probs, tf_cols, tf_weights = [], [], [], []
        for lvl in comp["comparison_levels"]:
            cond = lvl["sql_condition"].strip()
            levels.append(
                "true"
                if cond.upper() == "ELSE"
                # pair_suffixes: comparison conditions arrive in splink's
                # pairwise-frame dialect ("col_l" = "col_r") when the
                # settings came from SettingsCreator.create_settings_dict —
                # the exact string the reference serialises
                else splink_sql_to_spark(cond, pair_suffixes=True)
            )
            null_mask.append(bool(lvl.get("is_null_level", False)))
            m_probs.append(lvl.get("m_probability"))
            u_probs.append(lvl.get("u_probability"))
            tf_cols.append(lvl.get("tf_adjustment_column"))
            tf_weights.append(float(lvl.get("tf_adjustment_weight", 1.0)))
        if not levels:
            raise ValueError(f"comparison {name!r} has no levels")
        parsed.append(
            _SplinkComparison(
                name, levels, null_mask, m_probs, u_probs, tf_cols, tf_weights
            )
        )
    return parsed


def _em_levels(counts, n_levels: list[int], s, null_masks=None):
    """Categorical EM over level-pattern counts.

    ``counts``: [(gamma tuple, n)] where gamma[i] ∈ {0..n_levels[i]-1} or -1
    for a null level (no evidence: the factor is skipped in both classes).
    Returns (λ, m, u) with m[i][l]/u[i][l] per comparison level.
    """
    k = len(n_levels)
    lam = s.init_lambda
    # init: in Splink level order the FIRST non-null level is the strongest
    # agreement and the last is ELSE — matches concentrate early (geometric
    # decay for m), non-matches late (reversed for u). Null levels are
    # excluded from gamma, their entries just keep distributions valid.
    if null_masks is None:
        null_masks = [[False] * n for n in n_levels]

    def _dist(n, mask, decay, reverse):
        ranks = [i for i in range(n) if not mask[i]]
        raw = {
            lvl: decay ** (len(ranks) - 1 - r if reverse else r)
            for r, lvl in enumerate(ranks)
        }
        z = sum(raw.values()) or 1.0
        return [raw.get(lvl, 1e-6) / z for lvl in range(n)]

    # asymmetric decays keep every intermediate level discriminative at init
    # (equal decays would give m == u at the midpoint — no EM gradient)
    m = [_dist(n, mask, 0.3, False) for n, mask in zip(n_levels, null_masks)]
    u = [_dist(n, mask, 0.15, True) for n, mask in zip(n_levels, null_masks)]
    total = sum(c for _, c in counts)
    for it in range(s.max_iter):
        post = []
        for gamma, c in counts:
            pm, pu = lam, 1 - lam
            for i in range(k):
                if gamma[i] < 0:
                    continue
                pm *= m[i][gamma[i]]
                pu *= u[i][gamma[i]]
            post.append(pm / (pm + pu) if (pm + pu) > 0 else 0.0)
        sum_w = sum(w * c for w, (_, c) in zip(post, counts))
        sum_nw = total - sum_w
        new_lam = sum_w / total if total else 0.0
        new_m, new_u = [], []
        for i in range(k):
            mi, ui = [], []
            # normalise over NON-null observations only
            denom_m = sum(
                w * c for w, (g, c) in zip(post, counts) if g[i] >= 0
            )
            denom_u = sum(
                (1 - w) * c for w, (g, c) in zip(post, counts) if g[i] >= 0
            )
            for lvl in range(n_levels[i]):
                num_m = sum(
                    w * c for w, (g, c) in zip(post, counts) if g[i] == lvl
                )
                num_u = sum(
                    (1 - w) * c for w, (g, c) in zip(post, counts) if g[i] == lvl
                )
                mi.append(
                    min(max(num_m / denom_m if denom_m else 0.5, 1e-6), 1 - 1e-6)
                )
                ui.append(
                    min(max(num_u / denom_u if denom_u else 0.5, 1e-6), 1 - 1e-6)
                )
            new_m.append(mi)
            new_u.append(ui)
        delta = abs(new_lam - lam) + sum(
            abs(a - b)
            for i in range(k)
            for a, b in zip(new_m[i] + new_u[i], m[i] + u[i])
        )
        lam, m, u = new_lam, new_m, new_u
        if delta < s.tol:
            logger.info("level-EM converged after %d iterations", it + 1)
            break
    return lam, m, u


@dataclass
class SplinkCompatSettings(LinkerSettings):
    """The reference's SplinkSettings surface (splinklinker.py:56-175):
    a Splink settings dict + training-function list + threshold."""

    linker_settings: dict = field(default_factory=dict)
    linker_training_functions: list = field(default_factory=list)
    threshold: float = 0.5
    max_iter: int = 60
    tol: float = 1e-6
    init_lambda: float = 0.1
    init_m: float = 0.9
    init_u: float = 0.1


@add_model_class
class SplinkCompatLinker(Linker):
    """Accepts a migrating user's Splink settings dict, runs natively.

    The surface matches the reference's SplinkLinker contract: ``link_type``
    must be ``"link_only"``; ``blocking_rules_to_generate_predictions``
    drive candidate generation; each comparison's ``comparison_levels``
    (first-match-wins, ``ELSE`` fallback, ``is_null_level`` = no evidence)
    become a categorical agreement variable; EM estimates per-level m/u —
    the same Fellegi–Sunter model Splink trains. ``linker_training_functions``
    are accepted for config compatibility (training here is always the
    native pattern-count EM — deterministic-rule recall estimation is
    logged and ignored). Conditions transpile from the DuckDB dialect;
    unsupported similarity functions raise up front with guidance.
    """

    settings_class = SplinkCompatSettings

    lambda_: float | None = None
    m_: list | None = None
    u_: list | None = None

    def __init__(self, **settings):  # noqa: D107
        super().__init__(**settings)
        ls = self.settings.linker_settings
        if not ls:
            raise ValueError("SplinkCompatLinker requires linker_settings")
        if ls.get("link_type") != "link_only":
            raise ValueError('link_type must be set to "link_only"')
        if self.settings.left_id != self.settings.right_id:
            raise ValueError(
                "left_id and right_id must match in a Splink linker"
            )
        self._blocking = [
            splink_sql_to_spark(r if isinstance(r, str) else " AND ".join(
                f"l.`{c}` = r.`{c}`" for c in r
            ))
            for r in ls.get("blocking_rules_to_generate_predictions", [])
        ]
        if not self._blocking:
            raise ValueError(
                "blocking_rules_to_generate_predictions must not be empty"
            )
        self._comparisons = _parse_splink_comparisons(ls)
        if not self._comparisons:
            raise ValueError("comparisons must not be empty")
        # Splink's pre-trained path: when the settings dict fully specifies
        # the model (per-level m/u + the match prior), prediction uses those
        # parameters directly — no EM. Matches Splink's behaviour for a
        # saved/loaded model.
        prior = ls.get("probability_two_random_records_match")
        self._fixed_params = None
        if prior is not None and all(
            c.fully_specified() for c in self._comparisons
        ):
            self._fixed_params = (
                float(prior),
                [
                    [1.0 if mp is None else float(mp) for mp in c.m_probs]
                    for c in self._comparisons
                ],
                [
                    [1.0 if up is None else float(up) for up in c.u_probs]
                    for c in self._comparisons
                ],
            )
        for fn in self.settings.linker_training_functions:
            logger.info(
                "accepted Splink training function %r (native EM supersedes)",
                fn.get("function") if isinstance(fn, dict) else fn,
            )

    def _gamma_col(self, levels, null_mask, idx):
        # build CASE level0 → (−1 if null else 0), level1 → 1 ... first wins
        out = None
        for lvl, (cond, is_null) in enumerate(zip(levels, null_mask)):
            val = F.lit(-1 if is_null else lvl)
            out = (
                F.when(F.expr(cond), val)
                if out is None
                else out.when(F.expr(cond), val)
            )
        return out.otherwise(F.lit(-1)).alias(f"g{idx}")

    def _tf_columns(self) -> list[str]:
        """Distinct term-frequency columns across all comparison levels."""
        seen: list[str] = []
        for c in self._comparisons:
            for col in c.tf_cols:
                if col and col not in seen:
                    seen.append(col)
        return seen

    def link(self, left: DataFrame, right: DataFrame) -> DataFrame:
        s = self.settings
        k = len(self._comparisons)
        n_levels = [len(c.levels) for c in self._comparisons]
        tf_columns = self._tf_columns()

        if len(self._blocking) == 1:
            # single rule ⇒ pair-level dedup only guards duplicate ids
            # within a side; dedupe the narrow sides, skip the O(pairs)
            # exchange (see FellegiSunterLinker._candidates, r14)
            left = left.dropDuplicates([s.left_id])
            right = right.dropDuplicates([s.right_id])
        l = left.alias("l")  # noqa: E741
        r = right.alias("r")
        gamma_cols = [
            self._gamma_col(c.levels, c.null_mask, i)
            for i, c in enumerate(self._comparisons)
        ]
        # TF-adjusted levels need the pair's value of the tf column; carried
        # from both sides (fuzzy levels can disagree — Splink then uses the
        # GREATER of the two term frequencies)
        tf_val_cols = [
            col
            for c in tf_columns
            for col in (
                F.col(f"l.`{c}`").alias(f"_tfl_{c}"),
                F.col(f"r.`{c}`").alias(f"_tfr_{c}"),
            )
        ]
        per_rule = [
            l.join(r, F.expr(rule), "inner").select(
                F.col(f"l.{s.left_id}").alias("left_id"),
                F.col(f"r.{s.right_id}").alias("right_id"),
                *gamma_cols,
                *tf_val_cols,
            )
            for rule in self._blocking
        ]
        cands = per_rule[0]
        for other in per_rule[1:]:
            cands = cands.union(other)
        if len(self._blocking) > 1:
            cands = cands.dropDuplicates(["left_id", "right_id"])
        cands = cands.localCheckpoint(eager=True)

        gcols = [f"g{i}" for i in range(k)]
        counts = [
            (tuple(int(row[g]) for g in gcols), int(row["n"]))
            for row in cands.groupBy(*gcols).agg(F.count("*").alias("n")).collect()
        ]
        if self._fixed_params is not None:
            lam, m, u = self._fixed_params
        else:
            lam, m, u = _em_levels(
                counts,
                n_levels,
                s,
                null_masks=[c.null_mask for c in self._comparisons],
            )
        self.lambda_, self.m_, self.u_ = lam, m, u

        spark = cands.sparkSession
        rows = []
        for gamma, _ in counts:
            pm, pu = lam, 1 - lam
            for i in range(k):
                if gamma[i] < 0:
                    continue
                pm *= m[i][gamma[i]]
                pu *= u[i][gamma[i]]
            rows.append((*gamma, float(pm / (pm + pu)) if pm + pu else 0.0))
        score_df = spark.createDataFrame(
            rows, ", ".join(f"{g} int" for g in gcols) + ", score double"
        )
        scored = cands.join(F.broadcast(score_df), gcols)

        if tf_columns:
            scored = self._apply_tf_adjustments(
                scored, left, right, tf_columns, u
            )

        thr = s.threshold if s.threshold is not None else 0.0
        scored = scored.where(F.col("score") >= F.lit(float(thr)))
        return finalise_edges(
            scored.select("left_id", "right_id", "score"),
            left, right, s.left_id, s.right_id,
        )

    def _apply_tf_adjustments(
        self,
        scored: DataFrame,
        left: DataFrame,
        right: DataFrame,
        tf_columns: list[str],
        u,
    ) -> DataFrame:
        """Splink's documented term-frequency adjustment, applied per row.

        For a level with ``tf_adjustment_column`` c, the level's Bayes
        factor m/u (u = the AVERAGE collision probability) is corrected for
        the specific value observed: multiply by ``(u_level / tf(v))^w``
        where tf(v) is the value's share of the vertically-concatenated
        input (non-null rows) and w = ``tf_adjustment_weight``. When the two
        sides disagree (fuzzy level), the greater of the two frequencies is
        used — Splink's documented choice. Log-odds stay finite because u is
        clamped and tf(v) > 0 by construction (v came from the data).

        Plan shape: one tiny aggregate per tf column (|distinct values|
        rows) joined twice onto the scored pairs; AQE broadcasts when small.
        The adjustment itself is a codegen'd CASE expression — no UDFs.
        """
        # clamp before the logit: a (near-)degenerate posterior of exactly
        # 0/1 must stay finite through log-odds space
        clamped = F.least(
            F.greatest(F.col("score"), F.lit(1e-15)), F.lit(1.0 - 1e-15)
        )
        base_logodds = F.log(clamped / (F.lit(1.0) - clamped))

        for c in tf_columns:
            vals = left.select(F.col(c).alias("_v")).unionByName(
                right.select(F.col(c).alias("_v"))
            ).where(F.col("_v").isNotNull())
            total = vals.count() or 1
            tf = vals.groupBy("_v").agg(
                (F.count("*") / F.lit(float(total))).alias(f"_tf_{c}")
            )
            scored = (
                scored.join(
                    tf.select(
                        F.col("_v").alias(f"_tfl_{c}"),
                        F.col(f"_tf_{c}").alias(f"_tfv_l_{c}"),
                    ),
                    f"_tfl_{c}",
                    "left",
                )
                .join(
                    tf.select(
                        F.col("_v").alias(f"_tfr_{c}"),
                        F.col(f"_tf_{c}").alias(f"_tfv_r_{c}"),
                    ),
                    f"_tfr_{c}",
                    "left",
                )
            )

        adj = F.lit(0.0)
        for i, comp in enumerate(self._comparisons):
            for lvl, (tf_col, w) in enumerate(
                zip(comp.tf_cols, comp.tf_weights)
            ):
                if not tf_col:
                    continue
                u_lvl = float(u[i][lvl])
                tf_v = F.greatest(
                    F.col(f"_tfv_l_{tf_col}"), F.col(f"_tfv_r_{tf_col}")
                )
                term = F.lit(w) * (F.lit(math.log(u_lvl)) - F.log(tf_v))
                adj = adj + F.when(
                    (F.col(f"g{i}") == F.lit(lvl)) & tf_v.isNotNull(), term
                ).otherwise(F.lit(0.0))

        logodds = base_logodds + adj
        return scored.withColumn(
            "score", F.lit(1.0) / (F.lit(1.0) + F.exp(-logodds))
        )

    def match_weights(self) -> list[dict]:
        """Per-comparison-level log2 match weights (Splink diagnostics)."""
        if self.m_ is None:
            raise RuntimeError("fit the linker first (call link)")
        out = []
        for comp, mi, ui in zip(self._comparisons, self.m_, self.u_):
            for lvl, (cond, mv, uv) in enumerate(zip(comp.levels, mi, ui)):
                out.append(
                    {
                        "comparison": comp.name,
                        "level": lvl,
                        "sql_condition": cond,
                        "m": mv,
                        "u": uv,
                        "match_weight": math.log2(mv / uv) if uv > 0 else float("inf"),
                    }
                )
        return out

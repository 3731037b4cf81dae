"""Text analysis for training-data pipelines — all built-in-function exprs.

Everything here is pure ``pyspark.sql.functions`` composition (no UDFs): the
expressions stay inside whole-stage codegen and scale linearly. Operators:

- tokenisation / token counting (whitespace + BPE-ish regex variant)
- word shingles and character n-grams
- language id via stopword-hit ratios (n-gram heuristic)
- quality scoring (length / punctuation / stopword / repetition features)
- document fingerprinting (normalised-content SHA-256)
- SimHash bit extraction helpers (used by operators.dedup)

All deterministic, and expressible in ANSI SQL for the DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Small per-language stopword lists used by quality scoring (the t2 oracle
# pins the 10-word en list — do not grow these; lang-id has its own profiles).
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "zu", "mit", "auf"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "que", "pour", "dans"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "que", "por", "con"],
    "zh": ["的", "是", "了", "在", "和", "有", "我", "不", "这", "人"],
}

# ---------------------------------------------------------------------------
# language identification profiles
# ---------------------------------------------------------------------------

# Non-Latin scripts identify their language near-decisively: if ≥15% of the
# non-space characters fall in a script's Unicode block, that language wins.
# Kana is checked before Han because Japanese text mixes both.
_SCRIPT_RANGES: list[tuple[str, str]] = [
    ("ja", "[぀-ヿ]"),
    ("zh", "[一-鿿]"),
    ("ko", "[가-힯]"),
    ("ru", "[Ѐ-ӿ]"),
    ("ar", "[؀-ۿ]"),
    ("he", "[֐-׿]"),
    ("el", "[Ͱ-Ͽ]"),
    ("hi", "[ऀ-ॿ]"),
    ("th", "[฀-๿]"),
]

# Latin-script languages: (function words, distinctive-character regex).
# Function-word hit ratio carries most of the signal; the marker characters
# break the near-tie pairs (pt↔es via ã/õ vs ñ, de via ß/umlauts).
LANG_PROFILES: dict[str, tuple[list[str], str | None]] = {
    "en": (
        ["the", "a", "an", "of", "and", "to", "in", "is", "that", "it",
         "for", "on", "with", "as", "was", "are", "this", "at", "be", "by",
         "have", "not", "from", "or", "but", "what", "all", "were", "when",
         "there", "which", "their", "has", "they", "you", "his", "her"],
        None,
    ),
    "de": (
        ["der", "die", "das", "und", "ist", "nicht", "ein", "eine", "zu",
         "mit", "auf", "für", "den", "dem", "des", "im", "sich", "sie",
         "er", "es", "von", "als", "auch", "an", "werden", "aus", "bei",
         "nach", "wie", "über", "nur", "noch", "wird", "sind", "einen"],
        "[ßäöü]",
    ),
    "fr": (
        ["le", "la", "les", "et", "est", "un", "une", "que", "pour",
         "dans", "du", "des", "il", "elle", "en", "au", "aux", "ce",
         "cette", "qui", "ne", "pas", "sur", "se", "plus", "par", "avec",
         "son", "sont", "mais", "nous", "vous", "être", "ont", "je"],
        "[êâîôûœè]",
    ),
    "es": (
        ["el", "la", "los", "las", "y", "es", "un", "una", "que", "por",
         "con", "del", "en", "se", "no", "su", "para", "como", "más",
         "pero", "sus", "le", "ya", "este", "porque", "esta", "entre",
         "cuando", "muy", "sin", "sobre", "también", "hay", "donde"],
        "[ñ¿¡]",
    ),
    "pt": (
        ["o", "a", "os", "as", "e", "é", "um", "uma", "que", "não", "do",
         "da", "dos", "das", "em", "no", "na", "nos", "nas", "por",
         "para", "com", "se", "mais", "como", "mas", "foi", "ao", "ele",
         "tem", "à", "seu", "sua", "ou", "ser", "quando", "muito", "há",
         "já", "está", "também", "pelo", "pela", "isso", "ela"],
        "[ãõ]",
    ),
    "it": (
        ["il", "lo", "la", "i", "gli", "le", "e", "è", "un", "una",
         "che", "di", "del", "della", "in", "per", "con", "su", "non",
         "si", "sono", "da", "al", "alla", "come", "anche", "più", "ma",
         "se", "questo", "questa", "tra", "nel", "ha", "degli"],
        "[ìò]",
    ),
    "nl": (
        ["de", "het", "een", "en", "is", "niet", "van", "in", "op", "te",
         "dat", "die", "voor", "met", "zijn", "aan", "er", "maar", "om",
         "ook", "als", "dan", "bij", "naar", "uit", "door", "over", "ze",
         "wordt", "heeft", "worden", "deze", "wat", "nog"],
        None,
    ),
}


def tokens_expr(col: Column | str) -> Column:
    """Whitespace tokens of lowercased text (empty strings filtered)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.lower(c), r"\s+"), lambda t: t != "")


def token_count_expr(col: Column | str) -> Column:
    return F.size(tokens_expr(col))


def bind_once(value: Column, fn) -> Column:
    """Evaluate ``value`` ONCE per row and pass it to ``fn`` as a bound
    lambda variable.

    The antidote to a Catalyst trap: referencing an expression from inside
    a higher-order-function lambda inlines it PER ELEMENT (a transform over
    ``sequence(1, size(toks))`` whose lambda slices ``toks`` re-tokenises
    the whole document at every position — O(len²) work that measured ~6×
    on the MinHash path). A higher-order function's ARGUMENT, by contrast,
    is evaluated once and the lambda variable is a cheap bound reference —
    so wrap the value in a 1-element array, transform it, take element 1.
    """
    return F.element_at(F.transform(F.array(value), fn), 1)


def word_shingles_expr(col: Column | str, n: int = 3) -> Column:
    """All n-word shingles (space-joined) of the text; [] when too short."""
    return bind_once(
        tokens_expr(col),
        lambda toks: F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.array_join(F.slice(toks, i, n), " "),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def char_ngrams_expr(col: Column | str, n: int = 5) -> Column:
    """All character n-grams of the lowercased text."""
    c = F.col(col) if isinstance(col, str) else col
    return bind_once(
        F.lower(c),
        lambda low: F.when(
            F.length(low) >= n,
            F.transform(
                F.sequence(F.lit(1), F.length(low) - (n - 1)),
                lambda i: F.substring(low, i, n).cast("string"),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )


def _stopword_hits(toks: Column, words: list[str]) -> Column:
    # isin over a literal list optimises to an O(1) InSet hash probe per
    # token; the former array_contains(lit_arr, t) re-scanned the word
    # list linearly inside the (interpreted) lambda — ~25 comparisons per
    # token per language profile (t4 4.4 → 3.2 s, identical output)
    return F.size(F.filter(toks, lambda t: t.isin(*words)))


def stopword_ratio_expr(col: Column | str, lang: str = "en") -> Column:
    toks = tokens_expr(col)
    return F.when(F.size(toks) > 0, _stopword_hits(toks, STOPWORDS[lang]) / F.size(toks)).otherwise(
        F.lit(0.0)
    )


def lang_id_expr(col: Column | str, min_script_frac: float = 0.15) -> Column:
    """Heuristic language id — a DISCLOSED heuristic, not a trained model.

    Two stages, both pure built-in expressions (whole-stage codegen, no UDF):

    1. **Script detection**: if ≥ ``min_script_frac`` of the non-space
       characters fall in a non-Latin Unicode block, that block's language
       wins outright (kana→ja before Han→zh, Hangul→ko, Cyrillic→ru,
       Arabic→ar, Hebrew→he, Greek→el, Devanagari→hi, Thai→th). For these
       scripts the block IS the discriminator — this part is reliable.
    2. **Latin-script scoring**: argmax over ``LANG_PROFILES`` of
       function-word hit ratio + a weighted distinctive-character bonus
       (ã/õ→pt, ñ→es, ß/umlauts→de, …). Accuracy is pinned ≥0.9 on the
       multilingual fixture in ``tests/test_text_dedup.py``; expect it to
       degrade on short strings, names, and out-of-profile languages —
       swap in a trained classifier behind a pandas UDF for production
       lang-id at quality.

    Returns "und" (undetermined) when nothing scores above zero. Ties break
    to the alphabetically-last language code (struct-max semantics),
    deterministically.
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens_expr(c)
    n = F.size(toks)
    nonspace = F.length(F.regexp_replace(c, r"\s", ""))

    scores = []
    for lang, (words, marker) in LANG_PROFILES.items():
        sw = F.when(
            n > 0, _stopword_hits(toks, words).cast("double") / n
        ).otherwise(F.lit(0.0))
        if marker:
            bonus = F.when(
                nonspace > 0,
                F.regexp_count(F.lower(c), F.lit(marker)).cast("double")
                / nonspace
                * 3.0,
            ).otherwise(F.lit(0.0))
            sw = sw + bonus
        scores.append(F.struct(sw.alias("score"), F.lit(lang).alias("lang")))
    best = F.array_max(F.array(*scores))
    latin = F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))

    out = latin
    for lang, rng in reversed(_SCRIPT_RANGES):
        frac = F.regexp_count(c, F.lit(rng)).cast("double") / nonspace
        out = F.when(
            (nonspace > 0) & (frac >= F.lit(min_script_frac)), F.lit(lang)
        ).otherwise(out)
    return out


def punct_ratio_expr(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.regexp_replace(c, r"[^\w\s]", "")
    return F.when(
        F.length(c) > 0,
        (F.length(c) - F.length(stripped)).cast("double") / F.length(c),
    ).otherwise(F.lit(0.0))


def mean_token_len_expr(col: Column | str) -> Column:
    toks = tokens_expr(col)
    return F.when(
        F.size(toks) > 0,
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)).cast("double")
        / F.size(toks),
    ).otherwise(F.lit(0.0))


def repetition_ratio_expr(col: Column | str) -> Column:
    """1 - distinct_tokens/tokens — high values flag boilerplate/spam."""
    toks = tokens_expr(col)
    return F.when(
        F.size(toks) > 0,
        1.0 - F.size(F.array_distinct(toks)).cast("double") / F.size(toks),
    ).otherwise(F.lit(0.0))


def quality_score_expr(col: Column | str, lang: str = "en") -> Column:
    """Composite [0,1] quality heuristic (Gopher/C4-style feature mix):

    rewards stopword presence and 3-8 char mean token length; penalises
    punctuation density and token repetition.
    """
    sw = stopword_ratio_expr(col, lang)
    mt = mean_token_len_expr(col)
    pr = punct_ratio_expr(col)
    rep = repetition_ratio_expr(col)
    len_ok = F.when((mt >= 3.0) & (mt <= 8.0), F.lit(1.0)).otherwise(F.lit(0.5))
    score = (
        F.least(sw * 4.0, F.lit(1.0)) * 0.4
        + len_ok * 0.3
        + (1.0 - F.least(pr * 4.0, F.lit(1.0))) * 0.15
        + (1.0 - rep) * 0.15
    )
    return F.round(score, 6)


# PII scrubbing patterns. Deliberately restricted to constructs whose
# semantics are identical under Java's backtracking regex (Spark) and RE2
# (DuckDB, the oracle): character classes, simple greedy quantifiers and \b —
# no alternation, no lookaround — so redacted output is bit-identical
# cross-engine and the operator stays whole-stage-codegen JVM-side.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
# international-format phone: leading '+' then >= 9 digits with optional
# space/dash separators; the mandatory '+' keeps plain number runs (ids,
# quantities) out of scope
PII_PHONE_RE = r"\+\d[\d -]{7,}\d"


def pii_redact_expr(col: Column | str) -> Column:
    """Replace emails, IPv4 addresses and international phone numbers with
    ``<EMAIL>`` / ``<IP>`` / ``<PHONE>`` placeholder tokens.

    The training-data scrubbing pass (emails first so their local parts
    cannot be re-matched as phones; phone last since its pattern is the
    loosest). Pure ``regexp_replace`` chain — no UDF, fully codegen.
    """
    c = F.col(col) if isinstance(col, str) else col
    c = F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>")
    c = F.regexp_replace(c, PII_IPV4_RE, "<IP>")
    return F.regexp_replace(c, PII_PHONE_RE, "<PHONE>")


def pii_counts_exprs(col: Column | str) -> dict[str, Column]:
    """Per-row counts of each PII class (audit columns for the redaction
    report). ``regexp_extract_all`` + ``size`` — the empty-match case is an
    empty array, so counts are 0 not null."""
    c = F.col(col) if isinstance(col, str) else col
    return {
        "n_emails": F.size(F.regexp_extract_all(c, F.lit(PII_EMAIL_RE), 0)),
        "n_ips": F.size(F.regexp_extract_all(c, F.lit(PII_IPV4_RE), 0)),
        "n_phones": F.size(F.regexp_extract_all(c, F.lit(PII_PHONE_RE), 0)),
    }


# URL pattern — same Java-regex/RE2-identical constraint as the PII set
URL_RE = r"https?://[A-Za-z0-9.-]+[A-Za-z0-9/._?=&%-]*"


def extract_urls_expr(col: Column | str) -> Column:
    """All URLs in the text as array<string> (C4-style URL filtering /
    URL-based dedup needs these before anything else)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(URL_RE), 0)


def url_domain_expr(url: Column) -> Column:
    """Lower-cased hostname of one URL ('' when the input is not a URL)."""
    return F.lower(F.regexp_extract(url, r"https?://([A-Za-z0-9.-]+)", 1))


def registered_domain_expr(host: Column) -> Column:
    """Last two labels of a hostname — the eTLD+1 approximation that groups
    subdomains for domain-level quota/blocklists (a real public-suffix list
    plugs in here at production scale)."""
    return F.regexp_extract(host, r"([A-Za-z0-9-]+\.[A-Za-z0-9-]+)$", 1)


def normalize_text_expr(col: Column | str) -> Column:
    """Lowercase, collapse whitespace, trim — canonical form for hashing."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def fingerprint_expr(col: Column | str) -> Column:
    """SHA-256 hex fingerprint of the normalised text."""
    return F.sha2(normalize_text_expr(col), 256)


def winnowing_fingerprints_expr(
    col: Column | str, k: int = 5, window: int = 4
) -> Column:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD 2003 — the
    MOSS rolling-hash scheme): hash every character k-gram, slide a window of
    ``window`` hashes, keep each window's minimum (rightmost on ties). The
    selected set is position-robust: any shared substring of length
    ≥ k + window − 1 guarantees a shared fingerprint.

    Pure array expressions over the normalised text — no explode, no UDF;
    returns array<string> of distinct selected hashes (16 hex chars each).
    """
    grams = char_ngrams_expr(normalize_text_expr(col), k)
    # bind_once: the hash array appears inside the window lambda — inlined,
    # every window position would re-hash EVERY gram (O(len²) sha256)
    return bind_once(
        F.transform(grams, lambda g: F.substring(F.sha2(g, 256), 1, 16)),
        lambda hashes: F.when(
            F.size(hashes) - (window - 1) >= 1,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.size(hashes) - (window - 1)),
                    lambda i: F.array_min(F.slice(hashes, i, window)),
                )
            ),
        ).otherwise(F.array_distinct(hashes)),
    )


def repetition_stats(df, id_col: str, text_col: str):
    """Gopher-style repetition signals per document (Rae et al. 2021 §A1.1):
    ``top_bigram_frac`` — fraction of bigram occurrences taken by the single
    most frequent bigram — and ``dup_trigram_frac`` — fraction of trigram
    occurrences belonging to trigrams that appear more than once. High
    values flag boilerplate/spam for training-data filtering.

    Relational shape: one explode of both n-gram streams (tagged by n), one
    (doc, n, gram) count, one per-doc fold — two shuffles total, no UDF, so
    the corpus scan stays linear and the shuffle key (doc, n, gram) is fine-
    grained enough to avoid hot partitions at corpus scale.
    """
    tagged = df.select(
        F.col(id_col).cast("long").alias("doc"),
        F.explode(
            F.array(
                F.struct(
                    F.lit(2).alias("n"), word_shingles_expr(text_col, 2).alias("gs")
                ),
                F.struct(
                    F.lit(3).alias("n"), word_shingles_expr(text_col, 3).alias("gs")
                ),
            )
        ).alias("x"),
    )
    grams = tagged.select(
        "doc", F.col("x.n").alias("n"), F.explode("x.gs").alias("g")
    )
    counts = grams.groupBy("doc", "n", "g").agg(F.count("*").alias("c"))
    per = counts.groupBy("doc", "n").agg(
        (F.max("c") / F.sum("c")).alias("top_frac"),
        (
            F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(F.lit(0)))
            / F.sum("c")
        ).alias("dup_frac"),
    )
    stats = per.groupBy("doc").agg(
        F.round(
            F.max(F.when(F.col("n") == 2, F.col("top_frac"))), 6
        ).alias("top_bigram_frac"),
        F.round(
            F.max(F.when(F.col("n") == 3, F.col("dup_frac"))), 6
        ).alias("dup_trigram_frac"),
    )
    # docs too short for any bigram still get a row (0.0 — nothing repeats)
    return (
        df.select(F.col(id_col).cast("long").alias("doc"))
        .distinct()
        .join(stats, "doc", "left")
        .select(
            "doc",
            F.coalesce("top_bigram_frac", F.lit(0.0)).alias("top_bigram_frac"),
            F.coalesce("dup_trigram_frac", F.lit(0.0)).alias("dup_trigram_frac"),
        )
    )


def line_repetition_stats(df, id_col: str, text_col: str):
    """Gopher-style intra-document duplicate LINE and PARAGRAPH fractions
    (Rae et al. 2021 §A1.1 — the structural-repetition half of the filter;
    :func:`repetition_stats` covers the n-gram half). Per document:

    - ``n_lines`` — non-empty trimmed lines (``\\n``-separated)
    - ``dup_line_frac`` — ``(Σ occurrences − distinct lines) / Σ
      occurrences``: every occurrence of a line beyond its first counts
      as a duplicate (Gopher drops docs above 0.30)
    - ``dup_line_char_frac`` — the same, weighted by line character
      length: ``Σ (o_u − 1)·len(u) / Σ o_u·len(u)`` (Gopher bound 0.20)
    - ``dup_para_frac`` / ``dup_para_char_frac`` — identical over
      paragraphs (``\\n\\n+``-separated; bounds 0.30 / 0.20)

    Relational shape: ONE tagged explode of both unit streams, one
    (doc, kind, unit) count, one per-doc fold — two shuffles, no UDF,
    shuffle key fine-grained enough to avoid hot partitions at corpus
    scale. Docs with no units report 0.0 everywhere (nothing repeats).
    Fractions round via ieee_round6 (cross-engine hash stability).
    """
    from matchbox_spark.functions.numeric import ieee_round6

    def units(sep: str) -> Column:
        # single-arg lambda, NOT bare F.trim: transform() passes (element,
        # index) to two-arg callables, and F.trim's optional second param
        # is the trim CHARACTER SET — the index would silently replace it
        return F.filter(
            F.transform(F.split(F.col(text_col), sep), lambda x: F.trim(x)),
            lambda x: x != "",
        )

    tagged = df.select(
        F.col(id_col).cast("long").alias("doc"),
        F.explode(
            F.array(
                F.struct(F.lit("l").alias("k"), units("\n").alias("us")),
                F.struct(F.lit("p").alias("k"), units("\n\n+").alias("us")),
            )
        ).alias("x"),
    )
    us = tagged.select(
        "doc", F.col("x.k").alias("k"), F.explode("x.us").alias("u")
    )
    counts = us.groupBy("doc", "k", "u").agg(F.count("*").alias("o")).withColumn(
        "len", F.length("u")
    )
    per = counts.groupBy("doc", "k").agg(
        F.sum("o").alias("tot"),
        (F.sum("o") - F.count("*")).alias("dups"),
        F.sum(F.col("o") * F.col("len")).alias("chars"),
        F.sum((F.col("o") - 1) * F.col("len")).alias("dup_chars"),
    )

    def pick(kind: str, num: str, den: str) -> Column:
        v = F.max(
            F.when(
                F.col("k") == kind,
                F.col(num).cast("double") / F.col(den),
            )
        )
        return ieee_round6(F.coalesce(v, F.lit(0.0)))

    stats = per.groupBy("doc").agg(
        F.coalesce(
            F.max(F.when(F.col("k") == "l", F.col("tot"))), F.lit(0)
        ).cast("long").alias("n_lines"),
        pick("l", "dups", "tot").alias("dup_line_frac"),
        pick("l", "dup_chars", "chars").alias("dup_line_char_frac"),
        pick("p", "dups", "tot").alias("dup_para_frac"),
        pick("p", "dup_chars", "chars").alias("dup_para_char_frac"),
    )
    return (
        df.select(F.col(id_col).cast("long").alias("doc"))
        .distinct()
        .join(stats, "doc", "left")
        .select(
            "doc",
            F.coalesce("n_lines", F.lit(0)).cast("long").alias("n_lines"),
            *[
                F.coalesce(c, F.lit(0.0)).alias(c)
                for c in (
                    "dup_line_frac",
                    "dup_line_char_frac",
                    "dup_para_frac",
                    "dup_para_char_frac",
                )
            ],
        )
    )


def winnowing_fingerprints(
    df,
    id_col: str,
    text_col: str,
    k: int = 5,
    window: int = 4,
    max_chars: int | None = None,
):
    """Relational winnowing (Schleimer et al. 2003): one row per selected
    (doc, fingerprint).

    The array-expression form (:func:`winnowing_fingerprints_expr`) nests
    higher-order lambdas, and Catalyst inlines the upstream array into every
    lambda element — re-running normalisation+hash per (window × gram), a
    quadratic re-evaluation blowup measured at ~500× on 2k-char docs. This
    form is the scale shape: posexplode the k-grams ONCE, hash each gram as
    a plain row expression, take the sliding-window minimum with a window
    function (one shuffle on the doc id), and de-duplicate. Long documents
    become many rows, never a giant in-memory array.
    """
    from pyspark.sql import Window as W

    c = normalize_text_expr(text_col)
    if max_chars is not None:
        c = F.substring(c, 1, int(max_chars))
    grams = df.select(
        F.col(id_col).alias("doc"),
        F.posexplode(char_ngrams_expr(c, k)).alias("pos", "gram"),
    )
    hashed = grams.select(
        "doc", "pos", F.substring(F.sha2("gram", 256), 1, 16).alias("h")
    )
    w_min = W.partitionBy("doc").orderBy("pos").rowsBetween(0, window - 1)
    w_cnt = W.partitionBy("doc")
    return (
        hashed.withColumn("_n", F.count("*").over(w_cnt))
        .withColumn(
            # docs with fewer grams than the window keep EVERY gram hash
            # (the degenerate-document rule of the expression form); all
            # others take the sliding-window minimum
            "fp",
            F.when(F.col("_n") < window, F.col("h")).otherwise(
                F.min("h").over(w_min)
            ),
        )
        .where(
            (F.col("pos") <= F.col("_n") - window) | (F.col("_n") < window)
        )
        .select("doc", "fp")
        .dropDuplicates()
    )

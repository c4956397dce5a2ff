"""Text-analysis column functions (SURVEY.md §2.5 F2/F7 + LLM-pipeline
extensions: language-ID, quality scoring, token counting, fingerprinting).

Everything here is built-in-expression-only (JVM-side, whole-stage
codegen) — no Python in the hot path. That is the difference between
"works on 60k rows" and "works on 100 TB": these all pipeline inside a
single scan stage with zero shuffles.

Determinism: helpers avoid float accumulation and engine-specific hash
functions so results are exactly reproducible (and oracle-comparable)
across engines — ratios are single IEEE divisions of exact integers,
hashes are md5.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword markers (language-ID heuristic; the reference
# delegates to Tika's LanguageIdentifier, participants/implementations.kt:228-234
# — here an n-gram/stopword heuristic keeps it hermetic and vectorized).
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "is", "was"),
    "de": ("der", "die", "und", "ist", "das"),
    "fr": ("le", "la", "et", "est", "les"),
    "es": ("el", "la", "que", "es", "los"),
}


def tokens(text: Column) -> Column:
    """Whitespace tokens, empty-safe: split on single space and drop
    empties (exactly reproducible in ANSI SQL: list_filter(string_split))."""
    return F.filter(F.split(text, " "), lambda x: x != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def _occurrences(text: Column, word: str) -> Column:
    """Count word occurrences via length arithmetic (no regex — exact and
    identical across engines). Counts space-delimited occurrences by
    padding the text with spaces."""
    padded = F.concat(F.lit(" "), text, F.lit(" "))
    needle = f" {word} "
    return (
        (F.length(padded) - F.length(F.replace(padded, F.lit(needle), F.lit(""))))
        / len(needle)
    ).cast("long")


def language_scores(text: Column) -> Column:
    """map<lang, marker-hit-count> for the heuristic language identifier."""
    pairs = []
    for lang, markers in LANG_MARKERS.items():
        score = None
        for m in markers:
            occ = _occurrences(text, m)
            score = occ if score is None else score + occ
        pairs.extend([F.lit(lang), score])
    return F.create_map(*pairs)


def detect_language(text: Column) -> Column:
    """argmax language by marker count; ties broken by language code
    (deterministic). 'und' (undetermined) when no marker hits — mirrors
    the reference's null-language fallback (implementations.kt:232-234)."""
    entries = F.map_entries(language_scores(text))
    best = F.array_max(
        F.transform(entries, lambda e: F.struct(e["value"].alias("score"),
                                                e["key"].alias("lang")))
    )
    return F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("und"))


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting/dedup: lowercase, strip
    non-alphanumerics to spaces, collapse runs of spaces, trim."""
    t = F.lower(text)
    t = F.regexp_replace(t, "[^a-z0-9 ]", " ")
    t = F.regexp_replace(t, " +", " ")
    return F.trim(t)


def fingerprint(text: Column) -> Column:
    """Document fingerprint: md5 over the normalized text. (The rolling/
    shingled variant for near-dup detection is operators/dedup.py.)"""
    return F.md5(normalize_text(text))


def char_grams(text: Column, k: int = 5) -> Column:
    """All character k-grams of the text (positional, not distinct).
    Pure built-in expressions: sequence + transform + substring, all
    inside whole-stage codegen. Short texts (< k chars) yield the text
    itself as the single gram."""
    # Bind text as a lambda variable so an expensive input expression
    # (e.g. normalize_text's regexes) is evaluated once per row, not
    # once per gram — see winnow_hashes for the same pattern.
    def grams(t: Column) -> Column:
        n = F.length(t) - (k - 1)
        return F.when(
            n >= 1,
            F.transform(
                F.sequence(F.lit(1), n), lambda i: F.substring(t, i, k)
            ),
        ).otherwise(F.array(t))

    return F.element_at(F.transform(F.array(text), grams), 1)


def gram_hash(gram: Column) -> Column:
    """Rolling-hash stand-in, engine-portable: first 8 hex digits of
    md5 as a bigint. (True Rabin-Karp saves the rehash cost but is not
    reproducible across engines; md5-prefix keeps the oracle exact.)"""
    return F.conv(F.substring(F.md5(gram), 1, 8), 16, 10).cast("long")


def winnow_hashes(text: Column, k: int = 5, w: int = 4) -> Column:
    """Winnowing document fingerprint (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every char k-gram, then keep
    the minimum hash of each sliding window of ``w`` consecutive grams;
    the distinct selected hashes are the fingerprint.

    Guarantees a match for any shared run of length >= w + k - 1 while
    storing ~2/(w+1) of the grams. All array expressions — per-row,
    no shuffle, codegen-friendly; the output column feeds a keyed
    groupBy for corpus-level near-dup detection."""
    hashes = F.transform(char_grams(text, k), gram_hash)

    # Bind the hash array as a lambda VARIABLE (single-element-array
    # trick): expressions referenced from inside a higher-order-function
    # lambda are re-evaluated per element (no CSE in interpreted HOF
    # eval), which would redo all the md5s for every window — O(n²)
    # hashes per row. A bound variable is evaluated exactly once.
    def select_mins(h: Column) -> Column:
        n_win = F.size(h) - (w - 1)
        return F.when(
            n_win >= 1,
            F.transform(
                F.sequence(F.lit(1), n_win),
                # least() over w direct lookups — no per-window array
                # allocation (vs slice + array_min), ~3x cheaper in the
                # interpreted HOF path.
                lambda j: F.least(
                    *[F.element_at(h, j + off) for off in range(w)]
                ),
            ),
        ).otherwise(F.array(F.array_min(h)))

    mins = F.element_at(F.transform(F.array(hashes), select_mins), 1)
    return F.array_sort(F.array_distinct(mins))


def cdc_chunks(text: Column, w: int = 3, divisor: int = 8) -> Column:
    """Content-defined chunking (the FastCDC / Rabin-fingerprint
    pattern of dedup storage, at word granularity): a rolling hash
    over the last ``w`` words places a chunk boundary wherever
    ``hash % divisor == 0``, so identical passages chunk identically
    REGARDLESS of their byte offset — the property fixed-size chunking
    lacks and the reason CDC is the storage-dedup standard.

    Returns the array of chunk strings (space-joined word runs).
    Expression-only: boundaries, starts/ends and slices are all array
    ops inside the scan — per-row, zero shuffle, so at 100 TB chunking
    rides the read like any projection. Mean chunk length ~``divisor``
    words. The window hash mixes md5-derived word hashes (gram_hash)
    with small coefficients, staying far inside long range; everything
    is exact integer arithmetic the SQL oracle replays verbatim."""

    def chunked(toks: Column) -> Column:
        n = F.size(toks)

        def win_hash(hs: Column) -> Column:
            # boundary-eligible window hash at position i (1-based,
            # i >= w); positions < w get 1 (never divisible).
            return F.transform(
                F.sequence(F.lit(1), n),
                lambda i: F.when(
                    i >= w,
                    sum(
                        F.element_at(hs, i - off) * (2 ** off)
                        for off in range(w)
                    ),
                ).otherwise(F.lit(1)),
            )

        word_hashes = F.transform(toks, gram_hash)
        hs = F.element_at(F.transform(F.array(word_hashes), win_hash), 1)

        def pieces(bound: Column) -> Column:
            starts = F.concat(
                F.array(F.lit(1)), F.transform(bound, lambda b: b + 1)
            )
            ends = F.concat(bound, F.array(n))
            return F.transform(
                F.sequence(F.lit(1), F.size(starts)),
                lambda j: F.array_join(
                    F.slice(
                        toks,
                        F.element_at(starts, j),
                        F.element_at(ends, j)
                        - F.element_at(starts, j)
                        + 1,
                    ),
                    " ",
                ),
            )

        # boundary AFTER position i when the window hash divides; the
        # final position never opens a boundary (no empty tail chunk).
        bounds = F.filter(
            F.sequence(F.lit(1), n),
            lambda i: (i < n) & (F.element_at(hs, i) % divisor == 0),
        )
        return F.when(
            n >= 1,
            F.element_at(F.transform(F.array(bounds), pieces), 1),
        ).otherwise(F.array().cast("array<string>"))

    return F.element_at(F.transform(F.array(tokens(text)), chunked), 1)


def cdc_chunk_rows(
    df, text_col: str = "text", key: str = "doc_id",
    w: int = 3, divisor: int = 8,
):
    """DataFrame-level CDC chunking: (key, chunk) rows, value-identical
    to ``explode(cdc_chunks(text))`` (pinned in tests/test_functions).

    The column form is a deeply nested interpreted-HOF tree
    (transform-of-transform window hash + per-chunk slices) whose
    codegen/planning alone dominates a cold pass; here the same exact
    integer math — md5-prefix word hashes, ``sum(h[i-off]·2^off)``
    window, ``% divisor`` boundaries — runs batched in the Python
    worker over only (key, text) (guide §4.2: hand whole batches to
    native code; §4: ship only the columns the function needs).
    Tokenization is the same literal-single-space split + empty drop
    as ``tokens`` (trivially exact in Python); md5 of the UTF-8 token
    bytes matches Spark's ``md5`` by definition.
    """
    import hashlib

    import pandas as pd

    def gen(batches):
        for pdf in batches:
            ids, cs = [], []
            for key_val, text in zip(pdf[key], pdf[text_col]):
                if text is None:
                    continue
                toks = [t for t in text.split(" ") if t != ""]
                n = len(toks)
                if n < 1:
                    continue
                hs = [
                    int(hashlib.md5(t.encode("utf-8")).hexdigest()[:8], 16)
                    for t in toks
                ]
                bounds = []
                for i in range(w, n):  # 1-based i in [w, n-1]
                    wh = sum(hs[i - 1 - off] * (2 ** off) for off in range(w))
                    if wh % divisor == 0:
                        bounds.append(i)
                starts = [1] + [b + 1 for b in bounds]
                ends = bounds + [n]
                for s, e in zip(starts, ends):
                    ids.append(key_val)
                    cs.append(" ".join(toks[s - 1 : e]))
            yield pd.DataFrame({key: ids, "chunk": cs})

    key_type = df.schema[key].dataType.simpleString()
    return df.select(key, text_col).mapInPandas(
        gen, f"{key} {key_type}, chunk string"
    )


# BPE-ish subword pattern: runs of letters are split into 1-4 char
# pieces (greedy, like a coarse byte-pair vocabulary cap), digits run
# together, any other non-space char is its own token. Same regex
# semantics in Spark (Java) and DuckDB (RE2).
BPE_PATTERN = "[a-z]{1,4}|[0-9]+|[^a-z0-9 ]"


def bpe_tokens(text: Column) -> Column:
    """Subword tokens of the lowercased text under BPE_PATTERN —
    the 'BPE-ish regex' token counter for training-data budgeting."""
    return F.regexp_extract_all(F.lower(text), F.lit(BPE_PATTERN), 0)


def quality_score(text: Column) -> Column:
    """Heuristic quality features for training-data filtering, as a struct:

    n_chars, n_tokens, mean_token_len, distinct_ratio, space_ratio.
    All ratios are single divisions of exact integers (deterministic).
    """
    toks = tokens(text)
    n_chars = F.length(text)
    n_tokens = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    n_spaces = n_chars - F.length(F.replace(text, F.lit(" "), F.lit("")))
    alpha_len = n_chars - n_spaces
    return F.struct(
        n_chars.cast("long").alias("n_chars"),
        n_tokens.cast("long").alias("n_tokens"),
        (alpha_len.cast("double") / F.greatest(n_tokens, F.lit(1)).cast("double")
         ).alias("mean_token_len"),
        (n_distinct.cast("double") / F.greatest(n_tokens, F.lit(1)).cast("double")
         ).alias("distinct_ratio"),
        (n_spaces.cast("double") / F.greatest(n_chars, F.lit(1)).cast("double")
         ).alias("space_ratio"),
    )


# Gopher quality-rule constants (Rae et al. 2021, "Scaling Language
# Models: ... Gopher", §A1.1 — the published doc-level filter suite
# that became the de-facto pre-training baseline). Thresholds are the
# paper's; stopwords are the paper's 8-word list.
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MEAN_LEN = 3.0
GOPHER_MAX_MEAN_LEN = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MIN_STOPWORDS = 2


def gopher_rules(text: Column) -> Column:
    """Gopher document-quality rules as a struct of exact metrics and
    per-rule booleans plus the conjunctive ``keep`` flag.

    Expression-only (rides the scan, zero shuffle — the shape a 100 TB
    quality-filter pass must have). Every ratio is ONE IEEE division
    of exact integers, so the DuckDB oracle replays it bit-for-bit:

    * ``n_words`` in [GOPHER_MIN_WORDS, GOPHER_MAX_WORDS]
    * ``mean_word_len`` (sum of word lengths / n_words) in [3, 10]
    * ``symbol_ratio`` — '#' or '...' occurrences per word <= 0.1
    * ``alpha_frac`` — words containing an alphabetic char >= 0.8
    * ``n_stopwords`` — occurrences of the paper's 8 stopwords >= 2
    """
    def rules(toks: Column) -> Column:
        n_words = F.size(toks)
        sum_len = F.aggregate(
            toks, F.lit(0), lambda acc, t: acc + F.length(t)
        )
        n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]")))
        n_stop = F.size(
            F.filter(toks, lambda t: F.lower(t).isin(*GOPHER_STOPWORDS))
        )
        denom_w = F.greatest(n_words, F.lit(1)).cast("double")
        mean_len = sum_len.cast("double") / denom_w
        n_sym = F.aggregate(
            toks,
            F.lit(0),
            lambda acc, t: acc
            + (F.length(t) - F.length(F.replace(t, F.lit("#"))))
            + F.when(t.contains("..."), F.lit(1)).otherwise(F.lit(0)),
        )
        sym_ratio = n_sym.cast("double") / denom_w
        alpha_frac = n_alpha.cast("double") / denom_w
        ok_words = (n_words >= GOPHER_MIN_WORDS) & (
            n_words <= GOPHER_MAX_WORDS
        )
        ok_mean = (mean_len >= GOPHER_MIN_MEAN_LEN) & (
            mean_len <= GOPHER_MAX_MEAN_LEN
        )
        ok_sym = sym_ratio <= GOPHER_MAX_SYMBOL_RATIO
        ok_alpha = alpha_frac >= GOPHER_MIN_ALPHA_FRAC
        ok_stop = n_stop >= GOPHER_MIN_STOPWORDS
        return F.struct(
            n_words.cast("long").alias("n_words"),
            mean_len.alias("mean_word_len"),
            sym_ratio.alias("symbol_ratio"),
            alpha_frac.alias("alpha_frac"),
            n_stop.cast("long").alias("n_stopwords"),
            ok_words.alias("ok_words"),
            ok_mean.alias("ok_mean_len"),
            ok_sym.alias("ok_symbol"),
            ok_alpha.alias("ok_alpha"),
            ok_stop.alias("ok_stopwords"),
            (ok_words & ok_mean & ok_sym & ok_alpha & ok_stop).alias(
                "keep"
            ),
        )

    # Single-element-array trick (see winnow_hashes): bind the token
    # array once so the split isn't re-evaluated per rule.
    return F.element_at(F.transform(F.array(tokens(text)), rules), 1)


# PII patterns — RE2-safe (no lookaround/backrefs) so the SAME pattern
# strings run in Spark (Java regex) and the DuckDB oracle (RE2).
# Order matters: the SSN-shaped id must be redacted before the generic
# phone pattern can eat its digits.
PII_PATTERNS = (
    ("EMAIL", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"),
    ("ID", r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"),
    ("IP", r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"),
    ("PHONE", r"\+[0-9][0-9 -]{7,}[0-9]"),
)


def pii_counts(text: Column) -> Column:
    """Struct of per-type PII match counts (regexp_count — expression
    only, runs inside the scan stage)."""
    return F.struct(
        *[
            F.regexp_count(text, F.lit(pat)).cast("long").alias(f"n_{k.lower()}")
            for k, pat in PII_PATTERNS
        ]
    )


def redact_pii(text: Column) -> Column:
    """Redact PII in-place: each match replaced by its <TYPE> tag, in
    PII_PATTERNS order. The standard pre-training scrub pass — pure
    regexp_replace chain, no UDF, no shuffle; at 100 TB this rides the
    scan like any other projection."""
    out = text
    for k, pat in PII_PATTERNS:
        out = F.regexp_replace(out, pat, f"<{k}>")
    return out

"""Text-analysis operators for large-scale training-data pipelines.

All JVM-side (built-in ``pyspark.sql.functions`` — no Python in the hot
path): language-ID heuristic, quality scoring, token counting, rolling-
hash document fingerprinting.  Each has an ANSI-SQL oracle in
``__spark_entry__.oracle_sql`` so DuckDB verifies the semantics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# Tiny per-language stopword signatures for the n-gram/stopword
# heuristic language ID (public-knowledge word lists).
LANG_SIGNATURES = {
    "en": ["the", "and", "of", "to", "in"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "et", "les", "des"],
}


def tokens(col) -> Column:
    """Whitespace tokenization; empty strings removed."""
    return F.filter(F.split(col, r"\s+"), lambda t: t != "")


def token_count(col) -> Column:
    return F.size(tokens(col))


# BPE-ish pre-tokenization: word pieces, number runs, punctuation runs
# (the usual GPT-style splitter shape, ASCII-simplified so the same
# pattern runs identically in Spark and the DuckDB oracle)
BPE_ISH_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+"


def bpe_ish_token_count(col) -> Column:
    """Token count under the BPE-ish splitter — the quick proxy for
    'how many LLM tokens is this document' used in data pipelines."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), 0))


def _quality_from(text_col, n_tokens) -> Column:
    """:func:`quality_score` with the token count supplied (so a
    single-pass profile can feed a bound token array's size instead of
    re-tokenizing) — the expression tree is otherwise identical."""
    length = F.length(text_col)
    punct = F.length(F.regexp_replace(text_col, r"[^.,;:!?]", ""))
    mean_tok = length / F.greatest(n_tokens, F.lit(1))
    raw = F.greatest(F.lit(0.0), F.least(F.lit(1.0),
        0.5 * F.least(n_tokens / F.lit(100.0), F.lit(1.0))
        + 0.3 * F.least(mean_tok / F.lit(8.0), F.lit(1.0))
        + 0.2 * (1.0 - F.least(punct / F.greatest(length, F.lit(1))
                               * 10.0, F.lit(1.0)))))
    # floor-truncate, not round: floor is exact on IEEE doubles so any
    # engine computing the same expression gets the same 4-decimal value
    # (Spark and DuckDB round() disagree on .5-ulp boundaries)
    return F.floor(raw * 10000).cast("double") / 10000


def quality_score(text_col) -> Column:
    """Length / punctuation-ratio / mean-token-length quality features
    folded to one score in [0,1] (the usual pre-training heuristics)."""
    return _quality_from(text_col, token_count(text_col))


# Gopher rule-7 stopword list verbatim (Rae et al. 2021, appendix A1.1)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that",
                    "have", "with")


def gopher_quality_flags(text_col) -> Column:
    """The Gopher quality-filter rule bundle (Rae et al. 2021,
    MassiveText appendix A1.1) as ONE codegen struct column — per-rule
    booleans plus the conjunction:

    1. ``ok_word_count``  — 50 ≤ words ≤ 100 000
    2. ``ok_mean_word_len`` — mean word length in [3, 10]
    3. ``ok_symbol_ratio`` — (# '#' chars + # '...' runs) / words ≤ 0.1
    4. ``ok_bullet_lines`` — < 90% of lines may NOT start with a bullet
       ⇒ bullet-started lines ≤ 10%  (paper phrasing inverted)
    5. ``ok_ellipsis_lines`` — lines ending in an ellipsis ≤ 30%
    6. ``ok_alpha_words`` — ≥ 80% of words contain ≥ 1 alphabetic char
    7. ``ok_stopwords`` — ≥ 2 distinct members of the 8-word list

    Every ratio threshold is evaluated by INTEGER cross-multiplication
    (``10·symbols ≤ words`` instead of ``symbols/words ≤ 0.1``): no
    division, no float, so any engine computing the same counts gets
    bit-identical booleans — the DuckDB oracle proves it.  All counts
    are built-in expressions (split/filter/size) — whole-stage codegen,
    no Python, one pass over the text."""
    words = tokens(text_col)
    n_words = F.size(words)
    sum_len = F.aggregate(words, F.lit(0),
                          lambda acc, w: acc + F.length(w))
    n_hash = (F.length(text_col)
              - F.length(F.regexp_replace(text_col, r"#", "")))
    # chars removed by deleting non-overlapping '...' runs = 3 × runs;
    # kept as a char count so rule 3 stays integer (×3 both sides)
    n_ellipsis_chars = (
        F.length(text_col)
        - F.length(F.regexp_replace(text_col, r"\.\.\.", "")))
    lines = F.split(text_col, r"\n")
    n_lines = F.size(lines)
    is_bullet = lambda ln: F.ltrim(ln).rlike(r"^([-*•])")
    n_bullet = F.size(F.filter(lines, is_bullet))
    ends_ell = lambda ln: F.rtrim(ln).rlike(r"(\.\.\.|…)$")
    n_ell_lines = F.size(F.filter(lines, ends_ell))
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    lower_words = F.array_distinct(
        F.transform(words, lambda w: F.lower(w)))
    n_stop = F.size(F.filter(
        lower_words, lambda w: w.isin(*GOPHER_STOPWORDS)))
    ok = {
        "ok_word_count": (n_words >= 50) & (n_words <= 100000),
        "ok_mean_word_len": (sum_len >= 3 * n_words)
                            & (sum_len <= 10 * n_words)
                            & (n_words > 0),
        "ok_symbol_ratio": (10 * (3 * n_hash + n_ellipsis_chars)
                            <= 3 * n_words),
        "ok_bullet_lines": 10 * n_bullet <= n_lines,
        "ok_ellipsis_lines": 10 * n_ell_lines <= 3 * n_lines,
        "ok_alpha_words": 5 * n_alpha >= 4 * n_words,
        "ok_stopwords": n_stop >= 2,
    }
    passed = None
    for flag in ok.values():
        passed = flag if passed is None else (passed & flag)
    return F.struct(*[c.alias(n) for n, c in ok.items()],
                    passed.alias("gopher_pass"))


def gopher_gate(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Keep only documents passing ALL Gopher rules — one codegen
    filter, no shuffle."""
    return df.filter(
        gopher_quality_flags(F.col(text_col))["gopher_pass"])


def langid_guess(text_col) -> Column:
    """Pick the language whose signature hits most (ties → first key).

    Single traversal: ONE tokenization and one ``aggregate`` whose
    accumulator is the per-language hit-count vector (the earlier shape
    re-tokenized the text once per language).  Every intermediate is
    referenced exactly once — repeated subtrees would re-evaluate the
    whole chain per reference.
    """
    return _langid_from(tokens(F.lower(text_col)))


def _langid_from(toks) -> Column:
    """:func:`langid_guess` over an already-built (ideally bound)
    lowercased token array — identical expression tree."""
    langs = list(LANG_SIGNATURES)
    zero = F.array(*[F.lit(0) for _ in langs])
    counts = F.aggregate(
        toks, zero,
        lambda acc, t: F.zip_with(
            acc,
            F.array(*[t.isin(LANG_SIGNATURES[lang]).cast("int")
                      for lang in langs]),
            lambda a, h: a + h))
    # pick argmax with first-key tie-break: max (count, -index)
    neg_idx = F.array(*[F.lit(-i) for i in range(len(langs))])
    packed = F.zip_with(counts, neg_idx,
                        lambda c, ni: F.struct(c.alias("c"),
                                               ni.alias("ni")))
    lang_arr = F.array(*[F.lit(lang) for lang in langs])
    # fold over the single-element [array_max(...)] so `best` is bound
    # to a lambda variable (evaluated once), not a duplicated subtree
    return F.aggregate(
        F.array(F.array_max(packed)), F.lit("und"),
        lambda acc, b: F.when(
            b["c"] > 0,
            F.element_at(lang_arr, F.lit(1) - b["ni"])).otherwise(acc))


def fingerprint(text_col) -> Column:
    """Order-insensitive document fingerprint: XOR-fold of token hashes
    (stable across partitioning, overflow-free under ANSI mode)."""
    return F.aggregate(
        F.transform(tokens(text_col), lambda t: F.xxhash64(t)),
        F.lit(0).cast("long"), lambda acc, h: acc.bitwiseXOR(h))


def rolling_fingerprint(text_col) -> Column:
    """Order-SENSITIVE rolling fingerprint: rotate-left-5 + XOR fold of
    token hashes — permuting the tokens changes the value (the classic
    rolling-hash shape), while staying pure bit arithmetic so ANSI mode
    never overflows.  Complements :func:`fingerprint` (bag-of-tokens)."""
    def step(acc, h):
        rot = (F.shiftleft(acc, 5)
               .bitwiseOR(F.shiftrightunsigned(acc, 59)))
        return rot.bitwiseXOR(h)
    return F.aggregate(
        F.transform(tokens(text_col), lambda t: F.xxhash64(t)),
        F.lit(0).cast("long"), step)


def _once(expr, fn, init):
    """Evaluate ``expr`` exactly once and feed it to ``fn``.

    A repeated Column subtree re-evaluates per reference (Catalyst does
    not CSE across higher-order functions), so folding over the
    single-element array ``[expr]`` binds it to a lambda variable —
    the same trick :func:`langid_guess` uses for its argmax.  ``init``
    must carry ``fn``'s result type.
    """
    return F.aggregate(F.array(expr), init, lambda acc, x: fn(x))


def word_ngrams(col, n: int) -> Column:
    """ALL word n-grams (non-distinct, order-preserving) of the
    lowercased text; fewer than ``n`` tokens → empty array.  The
    multiset counterpart of ``dedup.shingles`` (which distincts).
    The token array is bound once (three references otherwise)."""
    def grams_of(tk):
        idx = F.sequence(F.lit(0), F.greatest(F.size(tk) - n, F.lit(0)))
        full = F.transform(
            idx, lambda i: F.array_join(F.slice(tk, i + 1, n), " "))
        return F.when(F.size(tk) >= n, full) \
                .otherwise(F.array().cast("array<string>"))
    return _once(tokens(F.lower(col)), grams_of,
                 F.array().cast("array<string>"))


def word_grams12(col) -> Column:
    """``word_ngrams(col, 1) ++ word_ngrams(col, 2)`` with ONE
    tokenization (the separate calls each re-lower + re-split the
    text).  1-grams are the tokens themselves; 2-grams join adjacent
    tokens with a single space — byte-identical gram strings to the
    two-call form (pytest-pinned), so hashed-feature consumers
    (DSIR, the classifier gate) see the same buckets."""
    empty = F.array().cast("array<string>")

    def of(tk):
        two = F.when(
            F.size(tk) >= 2,
            F.transform(F.sequence(F.lit(1), F.size(tk) - 1),
                        lambda i: F.array_join(F.slice(tk, i, 2), " "))
        ).otherwise(empty)
        return F.when(tk.isNotNull(), F.concat(tk, two)).otherwise(empty)

    return _once(tokens(F.lower(col)), of, empty)


def _max_run(sorted_arr) -> Column:
    """Length of the longest run of equal adjacent elements in a SORTED
    long array — i.e. the multiplicity of the most frequent element.
    One linear ``aggregate`` fold per row: no explode, no shuffle."""
    init = F.struct(F.lit(None).cast("long").alias("prev"),
                    F.lit(0).alias("run"), F.lit(0).alias("best"))

    def step(acc, t):
        run = F.when(acc["prev"].isNotNull() & (t == acc["prev"]),
                     acc["run"] + 1).otherwise(F.lit(1))
        return F.struct(t.alias("prev"), run.alias("run"),
                        F.greatest(acc["best"], run).alias("best"))

    return F.aggregate(sorted_arr, init, step, lambda acc: acc["best"])


def dup_token_fraction(col) -> Column:
    """Fraction of tokens that are repeats of an earlier token
    (1 - distinct/total), floor-truncated to 4 decimals; 0.0 for empty
    text.  The Gopher-style 'duplicate line fraction' family of intra-
    document repetition signals, applied at token granularity.

    Tokens are hashed to longs before the distinct (cheap set ops; a
    64-bit in-document collision is ~k²/2⁶⁵ — never observable) and the
    hashed array is bound once via :func:`_once`."""
    hashed = F.transform(tokens(F.lower(col)), lambda t: F.xxhash64(t))

    def frac_of(th):
        n = F.size(th)
        frac = 1.0 - (F.size(F.array_distinct(th)) * F.lit(1.0) / n)
        return F.when(n > 0,
                      F.floor(frac * 10000).cast("double") / 10000) \
                .otherwise(F.lit(0.0))

    return _once(hashed, frac_of, F.lit(0.0))


def _dup_token_from(tkl) -> Column:
    """:func:`dup_token_fraction` over a bound lowercased token array —
    identical expression tree, one less tokenization when the caller
    shares the array across features."""
    hashed = F.transform(tkl, lambda t: F.xxhash64(t))

    def frac_of(th):
        n = F.size(th)
        frac = 1.0 - (F.size(F.array_distinct(th)) * F.lit(1.0) / n)
        return F.when(n > 0,
                      F.floor(frac * 10000).cast("double") / 10000) \
                .otherwise(F.lit(0.0))

    return _once(hashed, frac_of, F.lit(0.0))


def repetition_profile(col) -> Column:
    """Both intra-document repetition signals —
    ``(dup_token_frac, top_bigram_frac)`` — as ONE struct over ONE
    tokenization (the separate :func:`dup_token_fraction` +
    :func:`top_ngram_fraction` columns each re-lower + re-split the
    text; whole-stage codegen CSEs the shared struct across the
    expanded output columns, same discipline as
    ``gopher_quality_flags``).  Values are identical by construction:
    each field's expression tree over the bound array is the one the
    per-column functions build (pytest-pinned)."""
    def of(tkl):
        return F.struct(
            _dup_token_from(tkl).alias("dup_token_frac"),
            _top_ngram_from(tkl, 2).alias("top_bigram_frac"))

    return _once(tokens(F.lower(col)), of,
                 F.lit(None).cast(
                     "struct<dup_token_frac:double,"
                     "top_bigram_frac:double>"))


def top_ngram_fraction(col, n: int = 2) -> Column:
    """Fraction of all word n-grams taken up by the single most frequent
    n-gram (Gopher's 'top-2-gram fraction' repetition filter), floor-
    truncated to 4 decimals; 0.0 when the doc has no n-grams.

    Zero-shuffle per-row plan: hash each n-gram to a long, sort the
    longs, then the most frequent n-gram's count is the longest
    equal-adjacent run — one linear fold, no explode + groupBy (which
    at 100 TB would shuffle every n-gram of every document).  Hashing
    first keeps the sort comparator on fixed-width longs instead of
    strings; the token array and the sorted hash array are each bound
    once via :func:`_once`."""
    return _once(tokens(F.lower(col)),
                 lambda tkl: _top_ngram_from(tkl, n), F.lit(0.0))


def _top_ngram_from(tkl, n: int) -> Column:
    """:func:`top_ngram_fraction` over a bound lowercased token
    array — identical values, one less tokenization when the caller
    shares the array across features."""
    idx = F.sequence(F.lit(0), F.greatest(F.size(tkl) - n, F.lit(0)))
    full = F.transform(
        idx, lambda i: F.array_join(F.slice(tkl, i + 1, n), " "))
    grams = F.when(F.size(tkl) >= n, full) \
        .otherwise(F.array().cast("array<string>"))
    hashed = F.array_sort(F.transform(grams, lambda g: F.xxhash64(g)))

    def frac_of(g):
        frac = _max_run(g) * F.lit(1.0) / F.size(g)
        return F.when(F.size(g) > 0,
                      F.floor(frac * 10000).cast("double") / 10000) \
                .otherwise(F.lit(0.0))

    return _once(hashed, frac_of, F.lit(0.0))


def profile_and_gate(df: DataFrame, min_quality: float = 0.0,
                     max_top_bigram: float = 1.0,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """The curation profile + quality gate shared by the batch CLI
    (``jobs/curate.py``) and the streaming curator
    (``streaming/curate_stream.py``) — one definition so the two paths
    cannot silently diverge: per-doc token count, quality score,
    language guess and top-bigram repetition, filtered to
    ``quality >= min_quality`` and ``top_bigram_frac <=
    max_top_bigram``.

    Single-pass shape (round 7): the text is tokenized ONCE per casing
    (raw + lowercased), both arrays bound to lambda variables, and all
    four features come out of one struct expanded via ``inline`` — the
    per-column form re-tokenized per feature AND re-evaluated the
    quality/top-bigram trees in the pushed-down gate predicates (the
    §4.4 double-evaluation trap, just with built-ins); the Generate
    boundary keeps the filter above the one evaluation.  Values are
    identical: each feature's expression tree over the bound arrays is
    the one the per-column functions build."""
    col = F.col(text_col)

    def feats_of(p):
        tk, tkl = p["tk"], p["tkl"]
        return F.struct(
            F.size(tk).alias("n_tokens"),
            _quality_from(col, F.size(tk)).alias("quality"),
            _langid_from(tkl).alias("lang_guess"),
            _top_ngram_from(tkl, 2).alias("top_bigram_frac"))

    init = F.lit(None).cast(
        "struct<n_tokens:int,quality:double,"
        "lang_guess:string,top_bigram_frac:double>")
    feats = F.aggregate(
        F.array(F.struct(tokens(col).alias("tk"),
                         tokens(F.lower(col)).alias("tkl"))),
        init, lambda acc, p: feats_of(p))
    return (df.select(F.col(id_col), col, F.inline(F.array(feats)))
            .filter((F.col("quality") >= min_quality) &
                    (F.col("top_bigram_frac") <= max_top_bigram)))


def text_profile(documents: DataFrame, text_col: str = "text") -> DataFrame:
    """One row per document with all derived text features."""
    col = F.col(text_col)
    return documents.select(
        "*",
        token_count(col).alias("n_tokens"),
        quality_score(col).alias("quality"),
        langid_guess(col).alias("lang_guess"),
        fingerprint(col).alias("fingerprint"),
    )

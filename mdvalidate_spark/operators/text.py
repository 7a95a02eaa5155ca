"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language identification, document fingerprinting.

These extend the engine beyond the reference's operator set (they're the
caption/document analogs of its matcher kernels — every one is built from the
same `regexp`/`split`/`filter` primitives as MatcherVsText, reference:
walkers/validators/matchers.rs:38-431) and are designed twice over:

1. *Spark-first*: every formula is built-in `pyspark.sql.functions` column
   algebra — JVM codegen, zero Python, one narrow pass over `text`. At 100 TB
   these run at scan speed with no shuffle.
2. *Oracle-parity*: formulas avoid dialect-divergent constructs (`\\w` unicode
   classes, locale-dependent casing) so the DuckDB oracle in
   __spark_entry__.py can reproduce values bit-for-bit.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# explicit ASCII classes — identical semantics in Spark (Java regex) and
# DuckDB (RE2); \w/\s unicode behavior differs between dialects
WORD_RE = "[A-Za-z0-9]+"
BPE_RE = "[A-Za-z0-9]+|[^A-Za-z0-9 \\t\\r\\n]"
PUNCT_RE = "[^A-Za-z0-9 \\t\\r\\n]"

# small deterministic marker lists for the n-gram language heuristic
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "a"),
    "es": ("el", "la", "de", "que", "y", "los", "es"),
    "de": ("der", "die", "und", "das", "ist", "ein", "nicht"),
    "fr": ("le", "les", "et", "des", "une", "est", "que"),
}
LANG_PRIORITY = ("en", "es", "de", "fr")  # deterministic tie-break order


def tokens(text: Column) -> Column:
    """Whitespace tokens; empty/null/whitespace-only-safe (0 tokens).

    Filters empty fragments rather than trimming: Spark's trim() strips only
    spaces, so tab/newline-padded text would otherwise yield phantom tokens.
    \\r is whitespace too — CRLF corpora must tokenize (and fingerprint)
    identically to their LF twins.
    """
    parts = F.split(F.coalesce(text, F.lit("")), "[ \\t\\r\\n]+")
    return F.filter(parts, lambda x: F.length(x) > 0)


def token_count_ws(text: Column) -> Column:
    return F.size(tokens(text))


#: every character the PUNCT_RE class treats as NON-punctuation, enumerated
#: for translate() (round 6: a char-map delete replaces the regexp_replace —
#: identical counts for any input, ~8x less CPU per row at corpus scale)
_NON_PUNCT_CHARS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789 \t\r\n"
)
_LETTER_CHARS = "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"


def token_count_bpe(text: Column) -> Column:
    """BPE-ish token count: alphanumeric runs + individual punctuation marks
    (the classic pre-tokenizer upper bound on BPE length). regexp_count —
    same non-overlapping match count as size(regexp_extract_all(...)) with
    no per-match array materialization (round-6 guide §1.2: don't compute
    things you throw away)."""
    return F.regexp_count(F.coalesce(text, F.lit("")), F.lit(BPE_RE)).cast("int")


def punct_ratio(text: Column) -> Column:
    """Fraction of characters outside [A-Za-z0-9 \\t\\r\\n] — computed by a
    translate() char-map delete of the ALLOWED set (what survives IS the
    punctuation count), value-identical to the former
    ``length - length(regexp_replace(t, PUNCT_RE, ''))`` for any input."""
    t = F.coalesce(text, F.lit(""))
    total = F.length(t)
    punct = F.length(F.translate(t, _NON_PUNCT_CHARS, ""))
    return F.when(total == 0, F.lit(0.0)).otherwise(punct / total)


def alpha_ratio(text: Column) -> Column:
    """Fraction of [A-Za-z] characters — translate() deletes the letters and
    the length drop is the letter count (value-identical to the former
    regexp_replace form)."""
    t = F.coalesce(text, F.lit(""))
    total = F.length(t)
    alpha = total - F.length(F.translate(t, _LETTER_CHARS, ""))
    return F.when(total == 0, F.lit(0.0)).otherwise(alpha / total)


def quality_score(text: Column) -> Column:
    """Deterministic composite in [0,1]: alphabetic density × (1 − punct
    noise) × saturating length credit. Rounded to 6 dp so engines agree."""
    n = token_count_ws(text).cast("double")
    score = (
        alpha_ratio(text)
        * (F.lit(1.0) - punct_ratio(text))
        * F.least(F.lit(1.0), n / F.lit(20.0))
    )
    return F.round(score, 6)


def lang_scores(text: Column) -> dict[str, Column]:
    toks = tokens(F.lower(text))

    def hit_counter(markers: tuple[str, ...]):
        # single-arg lambda: a second parameter would be bound to the array
        # index by Spark's higher-order-function protocol
        return F.size(F.filter(toks, lambda x: x.isin(*markers)))

    return {lang: hit_counter(markers) for lang, markers in LANG_MARKERS.items()}


def lang_id(text: Column) -> Column:
    """Marker-token language heuristic with deterministic priority tie-break
    (en > es > de > fr); 'und' when no marker hits at all."""
    s = lang_scores(text)
    best = F.greatest(*[s[lang] for lang in LANG_PRIORITY])
    expr = F.lit("und")
    # build reversed so earlier-priority langs win ties
    for lang in reversed(LANG_PRIORITY):
        expr = F.when((best > 0) & (s[lang] == best), F.lit(lang)).otherwise(expr)
    return expr


def normalize_text(text: Column) -> Column:
    """Canonical form for fingerprinting/dedup: lowercase, collapse runs of
    whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(F.coalesce(text, F.lit(""))), "[ \\t\\r\\n]+", " "))


def fingerprint_md5(text: Column) -> Column:
    """Exact-dup fingerprint: md5 of normalized text (md5 exists in both
    Spark and DuckDB with identical output)."""
    return F.md5(normalize_text(text))


def shingles(text: Column, k: int = 3) -> Column:
    """Word k-gram shingle strings of the normalized text (distinct).

    Built entirely from array primitives (sequence + transform + slice) —
    no UDF, no explode; stays inside codegen."""
    toks = F.split(normalize_text(text), " ")
    n = F.size(toks)
    # sequence(1, 0) would DESCEND ([1, 0]); short docs need an explicit empty
    idx = F.when(n < k, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(1), n - (k - 1))
    )
    return F.array_distinct(
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i, k)))
    )


def fingerprint_winnow(text: Column, k: int = 3) -> Column:
    """Rolling-hash-style document fingerprint: lexicographic min of md5 over
    word k-gram shingles (the winnowing idea with window = whole doc);
    documents sharing any minimal shingle hash collide — a cheap near-dup
    prefilter that is exactly reproducible in SQL."""
    sh = shingles(text, k)
    hashed = F.transform(sh, F.md5)
    return F.when(F.size(sh) == 0, F.md5(normalize_text(text))).otherwise(
        F.array_min(hashed)
    )


def text_profile(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """One-pass profile of a documents table: all metrics in a single select
    (one scan, no shuffle)."""
    t = F.col(text_col)
    return df.select(
        F.col(id_col),
        token_count_ws(t).alias("n_tokens_ws"),
        token_count_bpe(t).alias("n_tokens_bpe"),
        F.round(punct_ratio(t), 6).alias("punct_ratio"),
        F.round(alpha_ratio(t), 6).alias("alpha_ratio"),
        quality_score(t).alias("quality"),
        lang_id(t).alias("lang_pred"),
        fingerprint_md5(t).alias("fp_md5"),
    )


# --------------------------------------------------- repetition signals
# The Gopher-family repetition filters (Rae et al. 2021 §A1.1; reused by
# RefinedWeb/Dolma/FineWeb): machine-generated and boilerplate web text is
# dominated by repeated lines and repeated word n-grams, and the standard
# gates are "fraction of duplicate lines", "fraction of characters in
# duplicate lines", and "fraction of characters in the most frequent word
# n-gram". Every signal below is pure column algebra over per-document
# arrays — sort_array + a single linear F.aggregate run-length walk instead
# of a per-doc explode+groupBy, so the whole profile is ONE narrow scan
# with no shuffle and no Python: at 100 TB it runs at parquet-scan speed
# and parallelizes per-row regardless of skew.


def doc_lines(text: Column) -> Column:
    """Non-empty lines, CRLF-safe (split on ``\\r?\\n``, drop empties)."""
    parts = F.split(F.coalesce(text, F.lit("")), "\\r?\\n")
    return F.filter(parts, lambda x: F.length(x) > 0)


def words(text: Column) -> Column:
    """Words of the normalized text (lowercased, whitespace-collapsed)."""
    parts = F.split(normalize_text(text), " ")
    return F.filter(parts, lambda x: F.length(x) > 0)


def word_ngrams(ws: Column, k: int) -> Column:
    """All word k-grams (NOT distinct — counts matter here), built from
    array primitives like shingles()."""
    n = F.size(ws)
    idx = F.when(n < k, F.array().cast("array<int>")).otherwise(
        F.sequence(F.lit(1), n - (k - 1))
    )
    return F.transform(idx, lambda i: F.concat_ws(" ", F.slice(ws, i, k)))


def _run_state(prev: Column, run: Column, best: Column) -> Column:
    return F.struct(prev.alias("prev"), run.alias("run"), best.alias("best"))


def max_run(arr: Column) -> Column:
    """Length of the longest equal-adjacent run in the SORTED array — i.e.
    the count of the most frequent element. Linear single pass, no explode."""
    init = _run_state(
        F.lit(None).cast("string"), F.lit(0).cast("long"), F.lit(0).cast("long")
    )

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + F.lit(1).cast("long")).otherwise(
            F.lit(1).cast("long")
        )
        return _run_state(x, run, F.greatest(acc["best"], run))

    return F.aggregate(F.sort_array(arr), init, step, lambda acc: acc["best"])


def _freq_state(prev, run, best_run, best_len):
    return F.struct(
        prev.alias("prev"),
        run.alias("run"),
        best_run.alias("best_run"),
        best_len.alias("best_len"),
    )


def max_run_chars(arr: Column) -> Column:
    """Characters covered by the MOST FREQUENT element of the sorted array:
    (max occurrence count) × (length of the element holding it, ties broken
    by the LONGEST such element — deterministic, oracle-reproducible). This
    is Gopher's "chars in the most frequently-occurring n-gram" numerator —
    a once-occurring long gram does NOT outrank a thrice-occurring short
    one (it only wins when every gram is unique and counts tie at 1). Same
    linear walk as max_run, tracking (best_run, best_len) jointly."""
    zero = F.lit(0).cast("long")
    init = _freq_state(F.lit(None).cast("string"), zero, zero, zero)

    def step(acc: Column, x: Column) -> Column:
        run = F.when(x == acc["prev"], acc["run"] + F.lit(1).cast("long")).otherwise(
            F.lit(1).cast("long")
        )
        xlen = F.length(x).cast("long")
        best_run = F.greatest(acc["best_run"], run)
        best_len = (
            F.when(run > acc["best_run"], xlen)
            .when((run == acc["best_run"]) & (xlen > acc["best_len"]), xlen)
            .otherwise(acc["best_len"])
        )
        return _freq_state(x, run, best_run, best_len)

    return F.aggregate(
        F.sort_array(arr), init, step, lambda acc: acc["best_run"] * acc["best_len"]
    )


def dup_chars(arr: Column) -> Column:
    """Characters contained in the 2nd..nth occurrences of repeated elements
    (the "characters in duplicate lines" numerator): linear walk over the
    sorted array adding len(x) whenever x repeats its predecessor."""
    init = _run_state(
        F.lit(None).cast("string"), F.lit(0).cast("long"), F.lit(0).cast("long")
    )

    def step(acc: Column, x: Column) -> Column:
        dup = F.when(
            x == acc["prev"], acc["best"] + F.length(x).cast("long")
        ).otherwise(acc["best"])
        return _run_state(x, acc["run"], dup)

    return F.aggregate(F.sort_array(arr), init, step, lambda acc: acc["best"])


def _frac(num: Column, den: Column) -> Column:
    return F.round(
        F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(F.lit(0.0)),
        6,
    )


def repetition_metrics(text: Column) -> dict[str, Column]:
    """All repetition signal Columns keyed by metric name — the ONE source
    of the formulas, shared by repetition_profile (the standalone profile)
    and RepetitionRule (the spec-level gate riding the fused row pass):

    - dup_word_frac:       fraction of word occurrences that are repeats
    - top_word_frac:       frequency of the most common word
    - top_2gram_char_frac: chars covered by the most frequent word 2-gram /
                           chars of normalized text
    - top_3gram_char_frac: same for 3-grams
    - dup_line_frac:       fraction of non-empty lines that are repeats
    - dup_line_char_frac:  chars in repeated line occurrences / line chars

    Plus n_words / n_lines. All fractions are 0.0 on empty/degenerate inputs
    and rounded to 6 dp so the DuckDB oracle reproduces them bit-for-bit."""
    t = text
    ws = words(t)
    ls = doc_lines(t)
    norm_len = F.length(normalize_text(t))
    line_chars = F.aggregate(
        ls, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x).cast("long")
    )
    n_words = F.size(ws)
    n_lines = F.size(ls)
    return {
        "n_words": n_words,
        "n_lines": n_lines,
        "dup_word_frac": _frac(n_words - F.size(F.array_distinct(ws)), n_words),
        "top_word_frac": _frac(max_run(ws), n_words),
        "top_2gram_char_frac": _frac(max_run_chars(word_ngrams(ws, 2)), norm_len),
        "top_3gram_char_frac": _frac(max_run_chars(word_ngrams(ws, 3)), norm_len),
        "dup_line_frac": _frac(n_lines - F.size(F.array_distinct(ls)), n_lines),
        "dup_line_char_frac": _frac(dup_chars(ls), line_chars),
    }


@lru_cache(maxsize=64)
def repetition_metrics_for(col_name: str) -> dict[str, Column]:
    """``repetition_metrics`` over a NAMED column, memoized: the sorted-walk
    expression tree costs ~150 py4j round trips to build and Column trees
    are immutable (construction-latency fix only, identical expressions)."""
    return repetition_metrics(F.col(col_name))


#: gateable metric names (excludes the n_words/n_lines scalars)
REPETITION_METRICS: tuple[str, ...] = (
    "dup_word_frac",
    "top_word_frac",
    "top_2gram_char_frac",
    "top_3gram_char_frac",
    "dup_line_frac",
    "dup_line_char_frac",
)


def repetition_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document repetition signals (Gopher §A1.1 family), one scan —
    see repetition_metrics for the signal definitions."""
    m = repetition_metrics_for(text_col)
    return df.select(
        F.col(id_col),
        *[m[k].alias(k) for k in ("n_words", "n_lines", *REPETITION_METRICS)],
    )


#: Gopher-ish default gates (Rae et al. 2021 table A1); None disables a gate
REPETITION_GATES: dict[str, float] = {
    "dup_line_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
}

#: mathematical ceiling per metric: the dup/top-word fractions cannot exceed
#: 1, but "chars covered by the top k-gram / chars" counts each character of
#: an overlapping run up to k times, so its honest ceiling is k
REPETITION_METRIC_LIMITS: dict[str, float] = {
    "dup_word_frac": 1.0,
    "top_word_frac": 1.0,
    "top_2gram_char_frac": 2.0,
    "top_3gram_char_frac": 3.0,
    "dup_line_frac": 1.0,
    "dup_line_char_frac": 1.0,
}


def repetition_violations(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gates: dict[str, float] | None = None,
    min_words: int = 20,
) -> DataFrame:
    """Quality-filter verdicts in the engine's violation-row shape: one row
    per (document, exceeded gate). Same plan as repetition_profile plus a
    codegen'd threshold array — still one scan, no shuffle; the common case
    (clean doc) emits nothing.

    ``min_words`` mirrors Gopher's length pre-filter: a 5-word caption's top
    2-gram trivially covers >20% of its characters, so repetition gates are
    meaningless below a floor — short docs emit no violations (gate them
    with word-count rules instead)."""
    gates = REPETITION_GATES if gates is None else gates
    prof = repetition_profile(df, text_col, id_col).where(
        F.col("n_words") >= min_words
    )
    checks = [
        F.when(
            F.col(m) > F.lit(thr),
            F.struct(
                F.lit(f"repetition_{m}").alias("rule_id"),
                F.lit(m).alias("column"),
                F.lit(f"{m} <= {thr}").alias("expected"),
                F.format_number(F.col(m), 6).alias("actual"),
                F.lit("repetition").alias("kind"),
            ),
        )
        for m, thr in gates.items()
        if thr is not None
    ]
    return (
        prof.select(
            F.col(id_col), F.explode(F.array_compact(F.array(*checks))).alias("v")
        )
        .select(
            F.col(id_col),
            F.col("v.rule_id").alias("rule_id"),
            F.col("v.column").alias("column"),
            F.col("v.expected").alias("expected"),
            F.col("v.actual").alias("actual"),
            F.col("v.kind").alias("kind"),
        )
    )


# ------------------------------------------------- Gopher quality signals
# The remaining published Gopher quality-filter rules (Rae et al. 2021
# §A1.1) beyond the repetition family: length bounds, mean word length,
# symbol-to-word ratio, bullet/ellipsis line shares, alphabetic-word
# fraction, and the stop-word floor. Same design rules as everything above:
# pure column algebra, one narrow scan, DuckDB-reproducible formulas.

#: Gopher's stop-word presence list (≥2 occurrences expected in real prose)
GOPHER_STOPWORDS: tuple[str, ...] = (
    "the", "be", "to", "of", "and", "that", "have", "with",
)

_BULLETS = ("-", "*", "•")  # -, *, •


def gopher_quality_metrics(text: Column) -> dict[str, Column]:
    """All Gopher quality signal Columns keyed by metric name:

    - n_words:             whitespace words of the normalized text
    - mean_word_len:       mean characters per word
    - symbol_word_ratio:   (# count + ellipsis count) / words
    - bullet_line_frac:    lines starting with -, * or • (after ltrim)
    - ellipsis_line_frac:  lines ending with ... or … (after rtrim)
    - alpha_word_frac:     fraction of words containing a letter
    - n_stopwords:         total occurrences of the 8 Gopher stop words
    """
    t = F.coalesce(text, F.lit(""))
    ws = words(text)
    ls = doc_lines(text)
    n_words = F.size(ws)
    n_lines = F.size(ls)
    word_chars = F.aggregate(
        ws, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x).cast("long")
    )
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ellipsis = F.regexp_count(t, F.lit("\\.\\.\\.|…"))
    # regexp trims, not ltrim/rtrim: Spark trim functions strip only SPACES,
    # and tab-indented bullets / tab-padded ellipsis lines are routine in
    # scraped text (same pitfall tokens() documents)
    bullet = F.size(
        F.filter(
            ls,
            lambda x: F.substring(
                F.regexp_replace(x, "^[ \\t]+", ""), 1, 1
            ).isin(*_BULLETS),
        )
    )
    ellipsis_lines = F.size(
        F.filter(
            ls,
            lambda x: F.regexp_replace(x, "[ \\t]+$", "").rlike("(\\.\\.\\.|…)$"),
        )
    )
    alpha = F.size(F.filter(ws, lambda x: x.rlike("[a-z]")))
    stops = F.size(F.filter(ws, lambda x: x.isin(*GOPHER_STOPWORDS)))
    return {
        "n_words": n_words,
        "n_lines": n_lines,
        "mean_word_len": _frac(word_chars, n_words),
        "symbol_word_ratio": _frac(n_hash + n_ellipsis, n_words),
        "bullet_line_frac": _frac(bullet, n_lines),
        "ellipsis_line_frac": _frac(ellipsis_lines, n_lines),
        "alpha_word_frac": _frac(alpha, n_words),
        "n_stopwords": stops,
    }


@lru_cache(maxsize=64)
def gopher_quality_metrics_for(col_name: str) -> dict[str, Column]:
    """``gopher_quality_metrics`` over a NAMED column, memoized (same
    construction-latency rationale as repetition_metrics_for)."""
    return gopher_quality_metrics(F.col(col_name))


_QUALITY_COLS = (
    "n_words",
    "n_lines",
    "mean_word_len",
    "symbol_word_ratio",
    "bullet_line_frac",
    "ellipsis_line_frac",
    "alpha_word_frac",
    "n_stopwords",
)


def gopher_quality_profile(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Per-document Gopher quality signals, one scan."""
    m = gopher_quality_metrics_for(text_col)
    return df.select(F.col(id_col), *[m[k].alias(k) for k in _QUALITY_COLS])


#: published Gopher gates: (metric, min, max); None = open bound
GOPHER_GATES: tuple[tuple[str, float | None, float | None], ...] = (
    ("n_words", 50.0, 100000.0),
    ("mean_word_len", 3.0, 10.0),
    ("symbol_word_ratio", None, 0.1),
    ("bullet_line_frac", None, 0.9),
    ("ellipsis_line_frac", None, 0.3),
    ("alpha_word_frac", 0.8, None),
    ("n_stopwords", 2.0, None),
)


def gopher_quality_violations(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    gates: tuple[tuple[str, float | None, float | None], ...] = GOPHER_GATES,
) -> DataFrame:
    """Engine-shape violation rows for documents outside the published
    Gopher envelopes. One row per (doc, violated gate); same single-scan
    plan as the profile."""
    prof = gopher_quality_profile(df, text_col, id_col)
    checks = []
    for m, lo, hi in gates:
        conds = []
        if lo is not None:
            conds.append(F.col(m) < lo)
        if hi is not None:
            conds.append(F.col(m) > hi)
        if not conds:
            continue
        fail = conds[0]
        for c in conds[1:]:
            fail = fail | c
        if lo is not None and hi is not None:
            expected = f"{m} in [{lo}, {hi}]"
        elif lo is not None:
            expected = f"{m} >= {lo}"
        else:
            expected = f"{m} <= {hi}"
        checks.append(
            F.when(
                fail,
                F.struct(
                    F.lit(f"gopher_{m}").alias("rule_id"),
                    F.lit(m).alias("column"),
                    F.lit(expected).alias("expected"),
                    # format_string, not format_number: no digit grouping,
                    # so a 5-digit n_words renders oracle-identically
                    F.format_string("%.6f", F.col(m).cast("double")).alias("actual"),
                    F.lit("quality").alias("kind"),
                ),
            )
        )
    return (
        prof.select(
            F.col(id_col), F.explode(F.array_compact(F.array(*checks))).alias("v")
        )
        .select(
            F.col(id_col),
            F.col("v.rule_id").alias("rule_id"),
            F.col("v.column").alias("column"),
            F.col("v.expected").alias("expected"),
            F.col("v.actual").alias("actual"),
            F.col("v.kind").alias("kind"),
        )
    )


# ------------------------------------------------------------- zipf profile


def zipf_profile(
    df: DataFrame,
    text_col: str = "text",
    *,
    top_n: int = 100,
    min_count: int = 1,
) -> DataFrame:
    """Token-frequency power-law profile: the ``top_n`` most frequent
    normalized tokens with exact counts and a deterministic 1-based rank
    (count desc, token asc). Natural-language corpora follow Zipf's law
    (frequency ∝ 1/rank); a head that flattens or collapses flags
    boilerplate floods, template spam, or a corpus-composition shift that
    per-document quality gates can't see — feed the rows to
    ``zipf_slope`` for the scalar gate, or drift-compare the token head
    across snapshots like any categorical profile.

    Scale shape: tokenize → groupBy(token) is the classic map-side-
    combined wordcount (no hot key: the combiner collapses each
    partition's counts first); the head extraction is orderBy+limit —
    Spark plans TakeOrdered, a per-partition heap, never a full sort
    shuffle — and the rank window runs over ≤ ``top_n`` rows. Tokens use
    the shared ``normalize_text`` canon (lowercase, collapsed ASCII
    whitespace), so the oracle splits on a single space, exactly."""
    from pyspark.sql import Window

    from ..errors import SchemaError

    if top_n <= 0:
        raise SchemaError(f"zipf top_n must be positive, got {top_n}")
    if min_count < 1:
        raise SchemaError(f"zipf min_count must be >= 1, got {min_count}")
    if text_col not in df.columns:
        raise SchemaError(
            f"zipf column {text_col!r} not in {sorted(df.columns)}"
        )
    counts = (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.explode(F.split(normalize_text(F.col(text_col)), " ")).alias(
                "token"
            )
        )
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") >= min_count)
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(top_n)
    )
    w = Window.orderBy(F.col("n").desc(), F.col("token").asc())
    return counts.select(
        F.row_number().over(w).cast("long").alias("rank"),
        F.col("token"),
        F.col("n"),
    )


def zipf_slope(profile: DataFrame) -> DataFrame:
    """Least-squares slope of ln(count) vs ln(rank) over a
    ``zipf_profile`` frame — one tiny aggregation (the profile is ≤ top_n
    rows). A healthy natural-language head sits near -1 (Zipf); values
    near 0 mean a flat, template-dominated head. Returns one row:
    (slope, r2, n_ranks). Float math over a bounded row set — gate it
    with a tolerance band, not exact equality."""
    return profile.agg(
        F.expr("regr_slope(ln(n), ln(rank))").alias("slope"),
        F.expr("regr_r2(ln(n), ln(rank))").alias("r2"),
        F.count(F.lit(1)).alias("n_ranks"),
    )


# ------------------------------------------------- compressibility signal


def compressibility(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    level: int = 6,
) -> DataFrame:
    """Per-document zlib compressibility — the classic corpus-quality
    heuristic the regex/ratio gates cannot express: highly compressible
    text (ratio → 0) is templated/repetitive boilerplate beyond what the
    Gopher n-gram walks see; incompressible text (ratio ≥ ~1) is
    random-looking junk (binary spill, encrypted blobs, base64 dumps).

    This is the module's ONE Python kernel, and deliberately so: DEFLATE
    has no column-algebra or SQL equivalent, so it runs as an Arrow-batched
    pandas UDF (one zlib.compress per doc inside a batch loop — C-speed per
    call, vectorized transfer) and the driver's correctness harness records
    it rows-only (no DuckDB oracle exists by construction; determinism is
    pytest-locked instead — fixed level, byte-exact across calls).

    Output: (doc_id, n_bytes, n_compressed, compression_ratio) over the
    utf-8 encoding of the RAW text (normalization would hide the very
    whitespace floods this signal exists to catch); NULL text → NULL
    metrics (out of scope, NotNullRule's job)."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def _comp_fn(s):
        import zlib

        nb, nc = [], []
        for t in s:
            if t is None:
                nb.append(None)
                nc.append(None)
            else:
                raw = t.encode("utf-8")
                nb.append(len(raw))
                nc.append(len(zlib.compress(raw, level)))
        return pd.DataFrame({"n_bytes": nb, "n_compressed": nc})

    # no type hints on purpose: the hint-inference path rejects the
    # Series -> DataFrame (struct-returning scalar) shape; the explicit
    # returnType form accepts it
    _comp = pandas_udf(_comp_fn, "n_bytes long, n_compressed long")

    out = df.select(
        F.col(id_col).alias("doc_id"), _comp(F.col(text_col)).alias("__c")
    )
    nb, nc = F.col("__c.n_bytes"), F.col("__c.n_compressed")
    return out.select(
        "doc_id",
        nb.alias("n_bytes"),
        nc.alias("n_compressed"),
        F.when(nb > 0, F.round(nc / nb, 6)).alias("compression_ratio"),
    )


def compressibility_violations(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_ratio: float = 0.15,
    max_ratio: float = 1.05,
    min_bytes: int = 256,
    level: int = 6,
) -> DataFrame:
    """Gate form: documents whose compression ratio falls outside
    [min_ratio, max_ratio] — below = repetitive boilerplate, above =
    random-looking junk. Documents shorter than ``min_bytes`` are skipped
    (zlib overhead dominates tiny inputs; ratios there are header noise,
    not a content signal), as are NULL/empty texts."""
    if not 0 <= min_ratio < max_ratio:
        raise ValueError(
            f"compressibility_violations: need 0 <= min_ratio < max_ratio, "
            f"got [{min_ratio}, {max_ratio}]"
        )
    prof = compressibility(df, text_col, id_col, level)
    r = F.col("compression_ratio")
    return prof.where(
        (F.col("n_bytes") >= min_bytes) & ((r < min_ratio) | (r > max_ratio))
    ).withColumn(
        "kind",
        F.when(r < min_ratio, F.lit("boilerplate")).otherwise(F.lit("junk")),
    )

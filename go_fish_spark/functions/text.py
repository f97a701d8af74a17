"""Text-analysis column expressions: tokenization, shingling, language-ID,
quality scoring, fingerprinting.

The reference has no text operators at all (its rules do ad-hoc Go string
work: regex `domain_cert_issued.go:19`, len `length.go:14`); these extend
the engine for large-scale training-data pipelines (north star in
BASELINE.json). All pure Column expressions — no UDFs, no shuffles.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Tokenization


def _let(value: Column, body) -> Column:
    """Let-binding for column expressions: evaluate ``value`` once per row
    and reference it as a lambda variable inside ``body``. (``transform``
    evaluates its input array once; the lambda sees the bound value, so
    Catalyst cannot inline-duplicate the expensive expression — there is
    no common-subexpression elimination across higher-order-function
    lambdas.)"""
    return F.element_at(F.transform(F.array(value), body), 1)


def tokens(text: Column | str) -> Column:
    """Whitespace tokens."""
    return F.split(text, " ")


#: BPE-ish token pattern: word runs or single non-space punctuation.
BPE_ISH_PATTERN = r"\w+|[^\w\s]"


def bpe_ish_token_count(text: Column | str) -> Column:
    return F.regexp_count(text, F.lit(BPE_ISH_PATTERN))


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct word k-shingles ("a b c" style), built array-side:
    transform over a 0..n-k index sequence + slice + concat — no explode,
    no shuffle. The token array is let-bound, so each row's text is split
    once and the cost is linear per row regardless of cluster size."""

    def body(w: Column) -> Column:
        # Guard: sequence(1, n) with n < 1 would generate a DESCENDING
        # sequence in Spark, not an empty one.
        shingles = F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(w) - (k - 1)),
                lambda i: F.concat_ws(" ", F.slice(w, i, k)),
            )
        )
        return F.when(F.size(w) >= k, shingles).otherwise(
            F.array().cast("array<string>")
        )

    return _let(tokens(text), body)


# ---------------------------------------------------------------------------
# Language identification (marker-token heuristic)

#: Deterministic marker sets per language. Order matters: ties resolve to
#: the earlier entry; docs matching no marker → 'und'.
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to"),
    "de": ("der", "die", "das", "und", "ist"),
    "es": ("el", "la", "los", "las", "es"),
    "fr": ("le", "la", "les", "et", "est"),
    "zh": ("的", "是", "了", "在", "我"),
}


def lang_scores(text: Column | str) -> dict[str, Column]:
    """Per-language marker-hit counts (duplicates counted — frequency
    matters for the heuristic)."""
    w = tokens(text)
    return {
        lang: F.size(F.filter(w, lambda t: t.isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text: Column | str) -> Column:
    """argmax over marker counts with deterministic tie-break (dict order);
    all-zero → 'und'."""
    scores = lang_scores(text)
    best = F.greatest(*scores.values())
    expr = F.when(best <= 0, F.lit("und"))
    for lang, score in scores.items():
        expr = expr.when(score == best, F.lit(lang))
    return expr.otherwise(F.lit("und"))


def duck_lang_scores(text_expr: str = "text") -> dict[str, str]:
    """DuckDB mirror of :func:`lang_scores` (same markers)."""
    return {
        lang: (
            f"len(list_filter(string_split({text_expr}, ' '), "
            f"w -> w IN ({', '.join(chr(39) + m + chr(39) for m in markers)})))"
        )
        for lang, markers in LANG_MARKERS.items()
    }


# ---------------------------------------------------------------------------
# Quality scoring

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")


def quality_metrics(text: Column | str) -> dict[str, Column]:
    """Length / stopword-ratio / mean-word-length quality signals."""
    t = F.col(text) if isinstance(text, str) else text
    w = tokens(t)
    n_words = F.size(w)
    n_stop = F.size(F.filter(w, lambda x: x.isin(*STOPWORDS)))
    # single-space-joined corpus: chars = sum(word lens) + (n_words - 1)
    mean_word_len = (F.length(t) - (n_words - 1)) / n_words
    return {
        "n_words": n_words,
        "stop_ratio": n_stop / n_words,
        "mean_word_len": mean_word_len,
    }


def quality_score(text: Column | str) -> Column:
    """Composite [0,1] quality score: longer docs, fewer stopwords,
    plausible word lengths."""
    m = quality_metrics(text)
    return (
        0.4 * F.least(m["n_words"] / F.lit(100.0), F.lit(1.0))
        + 0.3 * (1.0 - m["stop_ratio"])
        + 0.3 * F.least(m["mean_word_len"] / F.lit(10.0), F.lit(1.0))
    )


# ---------------------------------------------------------------------------
# Repetition signals (Gopher-style quality rules)


def repetition_metrics(text: Column | str) -> dict[str, Column]:
    """Per-document repetition signals (the Gopher/MassiveText family of
    quality rules): fraction of duplicated words, and the fraction of all
    word-2-grams taken by the single most frequent 2-gram.

    Pure Column expressions, zero shuffle, and — critically for the 100 TB
    path, where HOF lambdas run interpreted — LINEAR per row after a
    2-gram sort: the most-frequent-2-gram count equals the longest run of
    equal adjacent elements in the SORTED 2-gram array, computed by one
    ``aggregate`` fold (the naive distinct×filter argmax is O(words²) per
    document and measured ~30× slower on this corpus). The DuckDB mirror
    keeps the quadratic list form — both reduce to the same exact integer,
    so the double ratios divide bit-identically. Zero-/one-word documents
    define every ratio as 0.0 on both engines.
    """
    t = F.col(text) if isinstance(text, str) else text

    def dup_ratio(wv: Column) -> Column:
        n = F.size(wv)
        return F.when(n <= 0, F.lit(0.0)).otherwise(
            1.0 - F.size(F.array_distinct(wv)) / n
        )

    def sorted_g2(wv: Column) -> Column:
        n = F.size(wv)
        return F.array_sort(
            F.when(n >= 2, F.transform(
                F.sequence(F.lit(1), n - 1),
                lambda i: F.concat_ws(" ", F.slice(wv, i, 2)),
            )).otherwise(F.array().cast("array<string>"))
        )

    def top_frac(gs: Column) -> Column:
        # longest equal-run fold over the sorted array: (prev, run, best)
        best = F.aggregate(
            gs,
            F.struct(
                F.lit(None).cast("string").alias("prev"),
                F.lit(0).alias("run"),
                F.lit(0).alias("best"),
            ),
            lambda acc, x: _let(
                F.when(x.eqNullSafe(acc["prev"]), acc["run"] + 1).otherwise(
                    F.lit(1)
                ),
                lambda run: F.struct(
                    x.alias("prev"),
                    run.alias("run"),
                    F.greatest(run, acc["best"]).alias("best"),
                ),
            ),
        )["best"]
        return F.when(F.size(gs) <= 0, F.lit(0.0)).otherwise(best / F.size(gs))

    return {
        "dup_word_ratio": _let(tokens(t), dup_ratio),
        "top_2gram_frac": _let(
            tokens(t), lambda wv: _let(sorted_g2(wv), top_frac)
        ),
    }


# (The DuckDB mirror for repetition_metrics lives inline in the x22 oracle:
# it needs CTE-level let-binding - MATERIALIZED ws/g2 layers - which a
# per-expression string helper cannot express.)


# ---------------------------------------------------------------------------
# Gopher-style heuristic rule gate

#: Thresholds for the non-repetition Gopher/MassiveText document rules
#: (Rae et al. 2021 §A1.1; the repetition pair lives in
#: :func:`repetition_metrics` / x22). Word-count bounds, mean-word-length
#: band, symbol-to-word ceiling, alphabetic-word floor, and a
#: distinct-stopword floor. Centralized so the Spark flags and the DuckDB
#: oracle mirror read the SAME numbers.
GOPHER_THRESHOLDS = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len": 3.0,
    "max_mean_word_len": 10.0,
    "max_symbol_ratio": 0.1,
    "min_alpha_ratio": 0.8,
    "min_distinct_stopwords": 2,
}

#: Symbols counted against the symbol-to-word ratio ('#' and ellipsis).
_SYMBOL_PATTERN = r"#|\.\.\."


def gopher_metrics(text: Column | str) -> dict[str, Column]:
    """The raw signals behind the Gopher rule gate — all pure Column
    expressions (map-only; at 100 TB this runs at scan speed with zero
    shuffles). ``mean_word_len`` uses the single-space-joined identity
    (chars − spaces) / words, same as :func:`quality_metrics`."""
    t = F.col(text) if isinstance(text, str) else text
    w = tokens(t)
    n_words = F.size(w)
    safe_n = F.when(n_words > 0, n_words)  # NULL-div guard for empty docs
    return {
        "n_words": n_words,
        "mean_word_len": (F.length(t) - (n_words - 1)) / safe_n,
        "symbol_ratio": F.regexp_count(t, F.lit(_SYMBOL_PATTERN)) / safe_n,
        "alpha_ratio": F.size(F.filter(w, lambda x: x.rlike("[A-Za-z]"))) / safe_n,
        "n_stop_distinct": F.size(
            F.array_distinct(F.filter(w, lambda x: x.isin(*STOPWORDS)))
        ),
    }


def gopher_flags(m: dict[str, Column]) -> dict[str, Column]:
    """Per-rule pass/fail booleans over :func:`gopher_metrics` output.
    A document KEEPS iff every flag is true (:func:`gopher_keep`)."""
    th = GOPHER_THRESHOLDS
    return {
        "ok_word_count": (m["n_words"] >= th["min_words"])
        & (m["n_words"] <= th["max_words"]),
        "ok_mean_word_len": (m["mean_word_len"] >= th["min_mean_word_len"])
        & (m["mean_word_len"] <= th["max_mean_word_len"]),
        "ok_symbol_ratio": m["symbol_ratio"] <= th["max_symbol_ratio"],
        "ok_alpha_ratio": m["alpha_ratio"] >= th["min_alpha_ratio"],
        "ok_stopwords": m["n_stop_distinct"] >= th["min_distinct_stopwords"],
    }


def gopher_keep(flags: dict[str, Column]) -> Column:
    out = None
    for c in flags.values():
        out = c if out is None else out & c
    return out


def duck_gopher_exprs(text_expr: str = "text") -> dict[str, str]:
    """DuckDB mirrors of gopher_metrics + gopher_flags + keep, keyed by the
    same names (reads GOPHER_THRESHOLDS so the numbers cannot drift)."""
    th = GOPHER_THRESHOLDS
    w = f"string_split({text_expr}, ' ')"
    n = f"len({w})"
    stop_in = ", ".join(f"'{s}'" for s in STOPWORDS)
    m = {
        "n_words": n,
        "mean_word_len": (
            f"(length({text_expr}) - ({n} - 1))::DOUBLE / nullif({n}, 0)"
        ),
        "symbol_ratio": (
            f"len(regexp_extract_all({text_expr}, '#|\\.\\.\\.'))::DOUBLE"
            f" / nullif({n}, 0)"
        ),
        "alpha_ratio": (
            f"len(list_filter({w}, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE"
            f" / nullif({n}, 0)"
        ),
        "n_stop_distinct": (
            f"len(list_distinct(list_filter({w}, x -> x IN ({stop_in}))))"
        ),
    }
    flags = {
        "ok_word_count": (
            f"({m['n_words']} >= {th['min_words']}"
            f" AND {m['n_words']} <= {th['max_words']})"
        ),
        "ok_mean_word_len": (
            f"({m['mean_word_len']} >= {th['min_mean_word_len']}"
            f" AND {m['mean_word_len']} <= {th['max_mean_word_len']})"
        ),
        "ok_symbol_ratio": f"({m['symbol_ratio']} <= {th['max_symbol_ratio']})",
        "ok_alpha_ratio": f"({m['alpha_ratio']} >= {th['min_alpha_ratio']})",
        "ok_stopwords": f"({m['n_stop_distinct']} >= {th['min_distinct_stopwords']})",
    }
    keep = " AND ".join(flags.values())
    return {**m, **flags, "keep": f"({keep})"}


# ---------------------------------------------------------------------------
# PII detection / scrubbing

#: Pattern dialect chosen for Java-regex / DuckDB-RE2 agreement: character
#: classes, bounded quantifiers and \b only — no lookaround, no backrefs.
#: Replacement order is the dict order (email first so the IP-like dots
#: inside a hostname are already gone before the IPv4 pass).
PII_PATTERNS: dict[str, tuple[str, str]] = {
    "email": (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "[EMAIL]"),
    "ipv4": (r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "[IP]"),
    "phone": (r"\b\d{3}-\d{3}-\d{4}\b", "[PHONE]"),
}


def pii_counts(text: Column | str) -> dict[str, Column]:
    """Per-kind PII match counts (JVM-side regexp_count)."""
    t = F.col(text) if isinstance(text, str) else text
    return {
        kind: F.regexp_count(t, F.lit(pat))
        for kind, (pat, _) in PII_PATTERNS.items()
    }


def scrub_pii(text: Column | str) -> Column:
    """Replace every PII match with its typed placeholder, in the fixed
    PII_PATTERNS order (Spark regexp_replace is global by default; the
    DuckDB mirror must pass the 'g' flag)."""
    t = F.col(text) if isinstance(text, str) else text
    for pat, repl in PII_PATTERNS.values():
        t = F.regexp_replace(t, pat, repl)
    return t


def duck_scrub_pii(text_expr: str = "text") -> str:
    """DuckDB mirror of :func:`scrub_pii` (same patterns, same order,
    global flag)."""
    out = text_expr
    for pat, repl in PII_PATTERNS.values():
        # DuckDB single-quoted literals are escape-free: '\d' IS \d.
        sql_pat = pat.replace("'", "''")
        out = f"regexp_replace({out}, '{sql_pat}', '{repl}', 'g')"
    return out


def duck_pii_counts(text_expr: str = "text") -> dict[str, str]:
    """DuckDB mirror of :func:`pii_counts`. DuckDB has no regexp_count;
    len(regexp_extract_all(...)) is the same number."""
    out = {}
    for kind, (pat, _) in PII_PATTERNS.items():
        sql_pat = pat.replace("'", "''")
        out[kind] = f"len(regexp_extract_all({text_expr}, '{sql_pat}'))"
    return out


# ---------------------------------------------------------------------------
# Fingerprinting


def content_fingerprint(text: Column | str) -> Column:
    """Exact-content fingerprint: md5 of the normalized text."""
    t = F.col(text) if isinstance(text, str) else text
    return F.md5(F.lower(F.trim(t)))


def bag_fingerprint(text: Column | str) -> Column:
    """Order-insensitive fingerprint: md5 over the sorted distinct token
    set — catches word-order-permuted duplicates that
    :func:`content_fingerprint` misses."""
    return F.md5(
        F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(text))))
    )


# ---------------------------------------------------------------------------
# Code-likeness (heuristic code/text separator)

#: Characters that are dense in source code and sparse in prose.
CODE_SYMBOLS: tuple[str, ...] = (
    "{", "}", "(", ")", "[", "]", ";", "=", "<", ">",
)

#: Language-agnostic keyword markers (whitespace-token exact hits).
CODE_KEYWORDS: tuple[str, ...] = (
    "def", "return", "import", "class", "function", "var", "const",
    "void", "int", "public", "static", "if", "else", "for", "while",
    "null", "true", "false", "==", "!=", "->", "=>",
)


def _char_count(text: Column | str, ch: str) -> Column:
    t = F.col(text) if isinstance(text, str) else text
    return F.length(t) - F.length(F.replace(t, F.lit(ch), F.lit("")))


def code_symbol_count(text: Column | str) -> Column:
    """Total occurrences of the CODE_SYMBOLS characters — exact integer
    arithmetic (length-difference per character), identical on any
    engine."""
    c = F.lit(0)
    for ch in CODE_SYMBOLS:
        c = c + _char_count(text, ch)
    return c.cast("bigint")


def code_keyword_hits(text: Column | str) -> Column:
    """Number of DISTINCT CODE_KEYWORDS appearing as whitespace tokens
    (distinct-hit count: prose that happens to say "if" once scores 1,
    not its repeat count — repeats are the symbol signal's job)."""
    kw = F.array(*[F.lit(k) for k in CODE_KEYWORDS])
    return F.size(F.array_intersect(tokens(text), kw)).cast("bigint")


def code_likeness(text: Column | str) -> Column:
    """Heuristic code-likeness score in [0, 1] — the code/text separator
    every mixed-crawl pipeline needs (The Stack / StarCoder pipelines
    route code and prose to different cleaning stacks): a blend of
    symbol-character density (40× a prose baseline of ~0.01 saturates
    the term) and distinct keyword hits (5 distinct markers saturate).

        score = 0.6·min(symbol_ratio·40, 1) + 0.4·min(kw_hits/5, 1)

    Pure Column arithmetic over exact integer counts — one IEEE
    division per term, mirrored verbatim by the DuckDB oracle."""
    t = F.col(text) if isinstance(text, str) else text
    n = F.length(t)
    sym = code_symbol_count(t).cast("double") / F.when(n > 0, n).otherwise(
        F.lit(1)
    ).cast("double")
    kw = code_keyword_hits(t).cast("double")
    return F.round(
        F.lit(0.6) * F.least(sym * 40, F.lit(1.0))
        + F.lit(0.4) * F.least(kw / 5, F.lit(1.0)),
        9,
    )


def duck_code_likeness_sql(text_expr: str) -> str:
    """DuckDB mirror of :func:`code_likeness` (+ the two count terms) —
    same length-difference counts, distinct-token keyword hits, and
    blend order. Returns a SELECT-fragment dict-like 3-tuple of SQL
    expressions (symbol_count, kw_hits, score)."""
    sym_terms = " + ".join(
        f"(length({text_expr}) - length(replace({text_expr}, '{ch}', '')))"
        for ch in CODE_SYMBOLS
    )
    kw_list = "[" + ", ".join(f"'{k}'" for k in CODE_KEYWORDS) + "]"
    sym = f"CAST({sym_terms} AS BIGINT)"
    kw = (
        f"CAST(len(list_intersect(string_split({text_expr}, ' '), "
        f"{kw_list})) AS BIGINT)"
    )
    score = (
        f"round(0.6 * least((CAST(({sym_terms}) AS DOUBLE) / "
        f"CAST(CASE WHEN length({text_expr}) > 0 "
        f"THEN length({text_expr}) ELSE 1 END AS DOUBLE)) * 40, 1.0) "
        f"+ 0.4 * least(CAST(len(list_intersect(string_split({text_expr}, "
        f"' '), {kw_list})) AS DOUBLE) / 5, 1.0), 9)"
    )
    return sym, kw, score


#: Tiny embedded sentiment lexicon — the AFINN-style lexicon IDEA
#: (Nielsen 2011) with an original minimal word list; real deployments
#: swap in a full lexicon through the same two tuples.
POSITIVE_WORDS = (
    "good", "great", "excellent", "amazing", "love", "best", "happy",
    "wonderful", "fantastic", "awesome", "perfect", "beautiful",
    "success", "win", "benefit", "improve", "easy", "clear", "helpful",
    "reliable", "fast", "strong", "positive", "gain", "safe",
)
NEGATIVE_WORDS = (
    "bad", "terrible", "awful", "hate", "worst", "sad", "horrible",
    "poor", "fail", "failure", "broken", "slow", "wrong", "problem",
    "error", "risk", "loss", "negative", "hard", "difficult", "unsafe",
    "weak", "ugly", "angry", "crash",
)


def sentiment_metrics(text: Column | str) -> dict[str, Column]:
    """Lexicon-based sentiment signals (the SURVEY §7 phase-5
    "sentiment-style" text analyzer, as pure column expressions — no
    UDF): positive/negative token counts against the embedded lexicon
    and the normalized polarity (pos − neg)/n_words in [-1, 1]."""
    t = F.col(text) if isinstance(text, str) else text
    w = F.split(t, " ")
    n = F.size(w)
    n_pos = F.size(F.filter(w, lambda x: x.isin(*POSITIVE_WORDS)))
    n_neg = F.size(F.filter(w, lambda x: x.isin(*NEGATIVE_WORDS)))
    pol = F.when(
        n > 0,
        (n_pos - n_neg).cast("double") / n.cast("double"),
    ).otherwise(F.lit(0.0))
    return {"n_words": n, "n_pos": n_pos, "n_neg": n_neg, "polarity": pol}


def sentiment_score(text: Column | str) -> Column:
    """Normalized polarity in [-1, 1] (see :func:`sentiment_metrics`)."""
    return sentiment_metrics(text)["polarity"]


def duck_sentiment_parts(text_sql: str = "text") -> dict[str, str]:
    """DuckDB mirrors of :func:`sentiment_metrics` over the SAME
    lexicon tuples."""
    pos = ", ".join(f"'{w}'" for w in POSITIVE_WORDS)
    neg = ", ".join(f"'{w}'" for w in NEGATIVE_WORDS)
    ws = f"string_split({text_sql}, ' ')"
    return {
        "n_words": f"len({ws})",
        "n_pos": f"len(list_filter({ws}, w -> w IN ({pos})))",
        "n_neg": f"len(list_filter({ws}, w -> w IN ({neg})))",
    }

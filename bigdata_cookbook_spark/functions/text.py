"""Text-analysis scalar expressions (training-data pipeline tier).

All pure Column expressions — JVM-side, inside whole-stage codegen, no
Python UDFs. Each has an equivalent ANSI-SQL formulation used by the
DuckDB oracles in __spark_entry__.py.
"""

from __future__ import annotations

import re
import unicodedata

from pyspark.sql import Column
from pyspark.sql import functions as F

STOPWORDS = ("the", "a", "and", "of", "to", "in")

# marker word sets for the n-gram/stopword language-ID heuristic
LANG_MARKERS = {
    "en": ("the", "a", "of", "and", "is"),
    "es": ("el", "la", "de", "los", "es"),
    "fr": ("le", "la", "les", "des", "est"),
    "de": ("der", "die", "das", "und", "ist"),
}
CJK_RANGE = "一-鿿"


def token_count_expr(text: Column) -> Column:
    """Whitespace token count; empty/blank text -> 0.

    Splits on Java ``\\s+`` and the DuckDB oracles split on RE2 ``\\s+``;
    the two classes agree on ASCII space/tab/newline/CR/FF and differ
    only on exotica (\\x0B, Unicode spaces) — declared corpus contract
    is common whitespace (see BPE_TOKEN_PATTERN for the spelled-out
    variant used where the count itself is the oracled value)."""
    trimmed = F.trim(text)
    return (
        F.when(F.length(trimmed) == 0, F.lit(0))
        .otherwise(F.size(F.split(trimmed, r"\s+")))
        .cast("int")
    )


# GPT-2-style pretokenization, engine-portable subset: contraction
# suffixes, space-prefixed letter runs, digit runs capped at 3
# (Llama-style number splitting), punctuation runs. Leftmost-first
# alternation only — no lookarounds/backrefs — and the whitespace class
# is spelled out EXPLICITLY: \s means different sets to Java (includes
# \x0B), RE2 (excludes it), and Python (all of Unicode), so a literal
# [ \t\n\f\r] is the only way Spark, the DuckDB oracle, and the
# Python-re parity test count match-for-match; applied over lower().
BPE_TOKEN_PATTERN = r"'[a-z]{1,2}| ?[a-z]+| ?[0-9]{1,3}| ?[^a-z0-9 \t\n\f\r']+"


def clean_text_expr(text: Column) -> Column:
    """Pretraining text normalization as ONE chained codegen'd
    projection (the cleanup pass that runs before tokenization at
    100 TB — any Python here would dominate the pipeline):

    - fold whitespace-ACTING controls (VT, FF, CR, NEL U+0085) and
      exotic Unicode spaces (NBSP, U+1680, U+2000-200A, U+2028/29,
      U+202F, U+205F, ideographic space) to plain space — they separate
      words, so stripping them would fuse 'page one\\x0Cpage two';
    - strip the truly-invisible controls (remaining C0/C1, DEL) and
      zero-width/BOM code points (ZWSP..ZWJ, U+FEFF) that break
      tokenizers;
    - collapse whitespace runs to one space and trim.

    NOT full NFC normalization (no ICU in Spark's expression library);
    compose with an Arrow-batched unicodedata stage if canonical
    composition is required — for web-crawl cleanup these rules cover
    the tokenizer-visible cases.
    """
    out = F.regexp_replace(
        text,
        "[\\x00-\\x08\\x0E-\\x1F\\x7F-\\x84\\x86-\\x9F\\u200B-\\u200D\\uFEFF]",
        "",
    )
    out = F.regexp_replace(
        out,
        "[\\x0B\\x0C\\x85\\u00A0\\u1680\\u2000-\\u200A\\u2028\\u2029\\u202F\\u205F\\u3000]",
        " ",
    )
    return F.trim(F.regexp_replace(out, "\\s+", " "))


def bpe_token_count_expr(text: Column) -> Column:
    """BPE-ish subword-boundary token count (model-budget estimator one
    tier above whitespace counting and chars/4): number of
    BPE_TOKEN_PATTERN pretoken matches. The same pattern string drives
    the DuckDB oracle, so the two engines count identically."""
    return F.size(
        F.regexp_extract_all(F.lower(text), F.lit(BPE_TOKEN_PATTERN), F.lit(0))
    ).cast("int")


def marker_count(text: Column, words: tuple[str, ...]) -> Column:
    pat = r"\b(" + "|".join(words) + r")\b"
    return F.regexp_count(F.lower(text), F.lit(pat))


def lang_id_expr(text: Column) -> Column:
    """Marker-stopword language ID: CJK chars dominate, else the marker set
    with the highest hit count, ties broken by fixed priority en>es>fr>de.

    A real corpus would swap in a char-n-gram model via pandas_udf; the
    heuristic keeps the operator SQL-expressible for the oracle.

    One regex pass, not one per language: all marker words are extracted
    in a single union \\b(...)\\b scan into a let-bound array, and each
    language scores by filtering that in-memory array — a word shared by
    two marker sets (es/fr "la") still counts toward both, exactly as
    the old per-language regexp_count did. Winner = array_max over
    (score, priority) structs: highest score, ties to the
    higher-priority language, score 0 -> unknown. Measured 1.8x on the
    sf0.1 battery (5 full-text regex scans -> 2).
    """
    cjk = F.regexp_count(text, F.lit(f"[{CJK_RANGE}]"))
    union_words = sorted(
        {w for ws in LANG_MARKERS.values() for w in ws}, key=len, reverse=True
    )
    union_pat = r"\b(" + "|".join(union_words) + r")\b"
    matches = F.regexp_extract_all(F.lower(text), F.lit(union_pat), F.lit(1))

    # priority: later-listed languages lose ties (en > es > fr > de)
    ranked = [("en", 4), ("es", 3), ("fr", 2), ("de", 1)]

    def pick(m: Column) -> Column:
        entries = [
            F.struct(
                F.size(
                    F.filter(m, lambda w: w.isin(*LANG_MARKERS[lang]))
                ).alias("s"),
                F.lit(prio).alias("p"),
                F.lit(lang).alias("l"),
            )
            for lang, prio in ranked
        ]
        return let_bound(
            F.array_max(F.array(*entries)),
            lambda top: F.when(top["s"] > 0, top["l"]).otherwise("unknown"),
        )

    return F.when(cjk > 0, F.lit("zh")).otherwise(let_bound(matches, pick))


def quality_exprs(text: Column) -> dict[str, Column]:
    """Quality-scoring feature set: lengths, token stats, stopword and
    punctuation ratios."""
    n_tokens = token_count_expr(text)
    stop = marker_count(text, STOPWORDS)
    punct = F.regexp_count(text, F.lit(r"[.,;:!?]"))
    nchars = F.length(text)
    return {
        "n_chars_text": nchars,
        "n_tokens": n_tokens,
        "n_stopwords": stop.cast("int"),
        "stopword_ratio": F.round(
            F.when(n_tokens == 0, F.lit(0.0)).otherwise(stop.cast("double") / n_tokens), 4
        ),
        "punct_ratio": F.round(
            F.when(nchars == 0, F.lit(0.0)).otherwise(punct.cast("double") / nchars), 4
        ),
    }


def tokens_expr(text: Column) -> Column:
    """Lower-cased whitespace token array."""
    return F.split(F.lower(F.trim(text)), r"\s+")


#: token = maximal run of Unicode letters/digits (categories L*, N*);
#: everything else — punctuation, symbols, whitespace, underscores — is
#: a separator. One definition shared by the Spark expression, the
#: DuckDB oracle twin (ANALYZER_SEP_RE is valid RE2 too), and the
#: Python reference the property test checks against.
ANALYZER_SEP_RE = r"[^\pL\pN]+"


def analyzer_tokens_expr(text: Column) -> Column:
    """Case-folded, punctuation-stripping analyzer: lower-case, then
    split on runs of non-alphanumeric characters (``ANALYZER_SEP_RE``).
    The retrieval-tier tokenization (BM25 / hybrid search), upgrading
    ``tokens_expr``'s whitespace-only split so ``"Spark,"`` and
    ``"spark"`` are the same term.

    Reference behavior note (Tracking_Inflation_Drivers/src/
    token_manager.py:97-195): the reference splits text on '.' into
    sentences and then on whitespace into words — punctuation stays
    glued to tokens and case is preserved, so its keyword matching
    misses "Spark," vs "spark". This analyzer is the standard
    search-engine behavior instead; ``tokens_expr`` remains the
    token-COUNT definition (chunking/packing/quality), where
    whitespace splitting matches the reference's word counting.

    Empty tokens (text starting/ending with a separator, or all-
    separator text) are removed with array_remove — a vectorized
    collection expression, keeping the whole analyzer on the codegen
    fast path (no HOF lambda; see shingles_from_tokens notes).
    """
    return F.array_remove(F.split(F.lower(text), ANALYZER_SEP_RE), "")


def analyzer_tokens_py(text: str) -> list[str]:
    """Python APPROXIMATION of analyzer_tokens_expr: maximal runs of
    characters in Unicode categories L*/N* of the lower-cased text.

    UNICODE-VERSION SKEW (documented contract): the Spark expression
    classifies letters with the JVM's Unicode tables (Java 17 ships
    Unicode 13.0), this twin with Python's ``unicodedata`` (CPython
    3.11 ships 14.0), and the DuckDB oracle with RE2's tables — so the
    three DISAGREE on codepoints whose L*/N* category was assigned
    between those versions (e.g. U+16A70 TANGSA LETTER: letter in 14.0,
    unassigned — hence separator — in 13.0). On codepoints assigned
    before Unicode 13.0 all three agree (category assignments are
    stable by Unicode policy). Consequently this twin must NOT be used
    to tokenize one side of an equality the JVM tokenizes the other
    side of — retrieval query terms go through analyzer_tokens_jvm
    (same JVM expression, parity by construction); this function is the
    test reference and the fallback when no SparkSession is reachable.
    """
    out, cur = [], []
    for ch in text.lower():
        if unicodedata.category(ch)[0] in ("L", "N"):
            cur.append(ch)
        elif cur:
            out.append("".join(cur))
            cur = []
    if cur:
        out.append("".join(cur))
    return out


def analyzer_tokens_jvm(spark, texts: list[str]) -> list[list[str]]:
    """Analyze driver-side strings with the SAME JVM expression the
    document side uses (``analyzer_tokens_expr``), so query-term and
    document tokenization agree by construction — including on
    codepoints where the JVM's and Python's Unicode tables disagree
    (see analyzer_tokens_py's skew note).

    Cost contract: ONE driver-local job over ``len(texts)`` rows (query
    terms — a handful), no scan, no shuffle; the plan is a
    LocalTableScan + one codegen projection. Returns token lists in
    input order.
    """
    if not texts:
        return []
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i int, t string"
    )
    rows = df.select("i", analyzer_tokens_expr(F.col("t")).alias("toks")).collect()
    by_i = {r["i"]: list(r["toks"]) for r in rows}
    return [by_i[i] for i in range(len(texts))]


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles from a token-array column.

    PRECONDITION: size(toks) >= n — filter rows first; there is
    deliberately NO when() guard here, because wrapping a higher-order
    transform in a conditional drops it out of the vectorized path
    (measured 8.5 s vs 0.54 s on 5 k docs). Same reason ``toks`` must be
    a *bound column* (materialized by a prior select), not an inline
    expression — lambda-internal expressions re-evaluate per element, so
    an inline split() costs tokens x n regex splits per document. The
    gram is built from n element_at lookups (O(1) each), NOT
    slice(toks, i, n): slice copies a sub-array per position, making the
    plan O(tokens^2) per doc.
    """
    count = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), count),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + F.lit(j)) for j in range(n)]
        ),
    )
    return F.array_distinct(grams)


def shingles_expr(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as array<string> (MinHash/Jaccard
    input). Docs with < n tokens produce an empty array.

    NOTE: convenience form for small frames/tests. Hot paths must stage
    tokens_expr() in a select first and call shingles_from_tokens() —
    see its performance contract (doc_shingles does this).
    """
    toks = F.split(F.lower(F.trim(text)), r"\s+")
    count = F.size(toks) - (n - 1)
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(count, F.lit(0))),
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + F.lit(j)) for j in range(n)]
        ),
    )
    return F.when(
        (F.length(F.trim(text)) == 0) | (count <= 0), F.array().cast("array<string>")
    ).otherwise(F.array_distinct(grams))


def dedup_lines_exprs(text: Column, sep: str = "\n") -> dict[str, Column]:
    """Within-document line dedup (RefinedWeb line-level dedup /
    the within-doc half of C4's cleaning; Penedo et al. 2023 §3.3):
    remove every repeated line inside a document, keeping the FIRST
    occurrence, and report the line accounting.

    Pure zero-shuffle expressions — split on ``sep``, array_distinct
    (which preserves first-occurrence order), re-join. The corpus-wide
    cross-document rule is operators/corpus.span_dedup; this is the
    per-document boilerplate rule (navigation menus, repeated headers)
    that runs inside a quality scan at zero extra plan cost.

    Returns {text_deduped, n_lines_total, n_lines_kept} expressions
    over a bound text column. Blank documents pass through unchanged
    (one empty line in, one out).

    ``sep`` is treated as a LITERAL separator: it is regex-escaped
    before F.split (which takes a Java regex) so callers may pass
    regex-meaningful separators ('.', '|', '$') and still get the
    split/array_join round-trip they expect."""
    lines = F.split(text, re.escape(sep))
    kept = F.array_distinct(lines)
    return {
        "text_deduped": F.array_join(kept, sep),
        "n_lines_total": F.size(lines),
        "n_lines_kept": F.size(kept),
    }


def wrap_text(s: str, width: int = 60, sep: str = "<br>") -> str:
    """F4 — presentation word-wrap for hover/report text (reference
    tool.py:11-46, mind_map_tools.py:29-49). Driver-side: runs on already
    collected, post-aggregation rows only."""
    words = (s or "").split()
    lines: list[str] = []
    cur: list[str] = []
    n = 0
    for w in words:
        if cur and n + 1 + len(w) > width:
            lines.append(" ".join(cur))
            cur, n = [w], len(w)
        else:
            n += (1 if cur else 0) + len(w)
            cur.append(w)
    if cur:
        lines.append(" ".join(cur))
    return sep.join(lines)


def format_report_block(text: str, index: int) -> str:
    """F6 — report block wrapper (reference summary.py:106-111,
    summarize.py:84-89): numbered '--- Report Start/End ---' fences around
    each intermediate summary fed to the reduce stage."""
    return (
        f"--- Report {index} Start ---\n{text}\n--- Report {index} End ---"
    )


def bisect_on_delimiter(s: str, delimiters: str = ".!?;\n") -> tuple[str, str]:
    """F14 — split an oversize text at the delimiter nearest its midpoint
    (reference labels.py:221-260); falls back to a hard character split
    when no delimiter exists. Used by the LLM packer when a single row
    exceeds the prompt budget."""
    if len(s) < 2:
        return s, ""
    mid = len(s) // 2
    best = None
    for i, ch in enumerate(s):
        if ch in delimiters:
            if best is None or abs(i - mid) < abs(best - mid):
                best = i
    if best is None or best == len(s) - 1:
        return s[:mid], s[mid:]
    return s[: best + 1], s[best + 1 :]


def gopher_quality_exprs(toks: Column, text: Column) -> dict[str, Column]:
    """Gopher-rule document-quality metrics (Rae et al. 2021, "Scaling
    Language Models", table A1 subset) as pure column expressions —
    the filter tier a pretraining pipeline runs over every document.

    ``toks`` must be a BOUND lower-cased token-array column (materialized
    by a prior select — see shingles_from_tokens for why inline
    expressions inside lambdas are a measured 10x trap). Line-shape rules
    (bullet/ellipsis line fractions) are omitted: the corpus contract is
    one text blob per row, no line structure.

    Metrics: n_tokens; mean_word_len (non-ws chars / tokens);
    unique_word_ratio (distinct/total tokens — the repetition rule);
    alpha_word_ratio (fraction of tokens containing a letter — drops
    number/symbol soup); symbol_ratio (#, *, ellipsis chars per token).
    """
    n_tokens = F.size(toks)
    non_ws = F.length(F.regexp_replace(text, r"\s+", ""))
    uniq = F.size(F.array_distinct(toks))
    alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    symbols = F.regexp_count(text, F.lit(r"[#*…]|\.\.\."))
    safe_n = F.when(n_tokens == 0, F.lit(None)).otherwise(n_tokens)
    return {
        "n_tokens": n_tokens.cast("int"),
        "mean_word_len": F.round(non_ws / safe_n, 4),
        "unique_word_ratio": F.round(uniq / safe_n, 4),
        "alpha_word_ratio": F.round(alpha / safe_n, 4),
        "symbol_ratio": F.round(symbols / safe_n, 4),
    }


def gopher_keep_expr(
    m: dict[str, Column],
    min_tokens: int = 3,
    max_tokens: int = 100_000,
    word_len_range: tuple[float, float] = (2.0, 12.0),
    min_unique_ratio: float = 0.3,
    min_alpha_ratio: float = 0.8,
    max_symbol_ratio: float = 0.1,
) -> Column:
    """Conjunction of the Gopher keep-rules over gopher_quality_exprs
    output. Thresholds are the paper's spirit adapted to short synthetic
    documents (defaults documented per knob so a corpus owner retunes
    them, which the paper itself expects)."""
    return (
        (m["n_tokens"] >= min_tokens)
        & (m["n_tokens"] <= max_tokens)
        & (m["mean_word_len"] >= word_len_range[0])
        & (m["mean_word_len"] <= word_len_range[1])
        & (m["unique_word_ratio"] >= min_unique_ratio)
        & (m["alpha_word_ratio"] >= min_alpha_ratio)
        & (m["symbol_ratio"] <= max_symbol_ratio)
    )


# PII / boilerplate redaction patterns — one compiled regex pass each,
# ordered so URL redaction runs before email (an URL may embed an @ path
# segment, and the reverse order would chew it twice). All POSIX-ERE
# compatible so the same pattern strings drive the SQL oracle.
REDACTION_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("url", r"https?://[^\s]+", "<URL>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\+?\d[\d()\- ]{7,}\d", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def redact_pii_expr(text: Column) -> Column:
    """Scrub URLs / emails / phone numbers / IPv4s to typed placeholders
    — the PII pass a training-data pipeline runs before anything ships to
    a model. Chained regexp_replace: one codegen'd projection, no UDF,
    no shuffle. Pattern set is deliberately conservative (favor recall on
    unambiguous shapes over NER-grade precision — that tier plugs in via
    mapInPandas when a model is available)."""
    out = text
    for _, pat, repl in REDACTION_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out


def redaction_counts_exprs(text: Column) -> dict[str, Column]:
    """Per-kind match counts (audit trail: HOW MUCH was scrubbed, the
    number a privacy review asks for). Counts are measured on the
    progressively-redacted text, mirroring redact_pii_expr's chaining, so
    an URL's embedded @ never double-counts as an email."""
    staged = text
    out: dict[str, Column] = {}
    for kind, pat, repl in REDACTION_PATTERNS:
        out[f"n_{kind}"] = F.regexp_count(staged, F.lit(pat)).cast("int")
        staged = F.regexp_replace(staged, pat, repl)
    return out


def ngrams_expr(toks: Column, n: int) -> Column:
    """Word n-gram array WITH duplicates (occurrence counts preserved —
    contrast shingles_from_tokens, which distincts for set semantics);
    empty for size(toks) < n.

    Same measured shape rules as shingles_from_tokens (no when() around
    the transform, bound column, element_at not slice) — but SAFE on
    short arrays: F.sequence(1, count) with count < 1 produces a
    DESCENDING sequence whose indexes blow up ANSI element_at, and
    "filter rows first" is not enough protection because Catalyst
    collapses chained filters and reorders conjunctive predicates, so a
    downstream length filter does NOT guarantee evaluation order. The
    start-index list is therefore clamped ascending and filtered to
    <= count (an int-array filter, negligible next to the gram
    concats)."""
    count = F.size(toks) - (n - 1)
    starts = F.filter(
        F.sequence(F.lit(1), F.greatest(count, F.lit(1))),
        lambda i: i <= count,
    )
    return F.transform(
        starts,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, i + F.lit(j)) for j in range(n)]
        ),
    )


def _gram_char_stats(grams: Column) -> Column:
    """Run-length statistics over a sorted n-gram array, as ONE
    aggregate expression per document — no explode, no shuffle, the
    whole repetition tier stays a linear scan.

    Sorting groups equal grams into runs; a single left-to-right
    F.aggregate then flushes each run when the value changes, tracking
      best = max over distinct grams of count*length (chars covered by
             the heaviest gram),
      dup  = sum of count*length over grams occurring more than once,
      tot  = sum of count*length over all grams (the denominator).
    Returns struct<best, dup, tot> (longs).

    The alternative — explode + groupBy(doc_id, gram) — shuffles every
    n-gram occurrence across the cluster to compute a statistic that is
    local to one document; at 100 TB that is the difference between a
    scan and a corpus-wide shuffle of 5-10x the corpus size."""
    zero = F.lit(0).cast("long")
    init = F.struct(
        F.lit("").alias("prev"),
        zero.alias("run"),
        zero.alias("best"),
        zero.alias("dup"),
        zero.alias("tot"),
    )

    def merge(acc: Column, x: Column) -> Column:
        same = acc["prev"] == x
        runchars = acc["run"] * F.length(acc["prev"])
        return F.struct(
            x.alias("prev"),
            F.when(same, acc["run"] + 1)
            .otherwise(F.lit(1).cast("long"))
            .alias("run"),
            F.when(same | (runchars <= acc["best"]), acc["best"])
            .otherwise(runchars)
            .alias("best"),
            F.when(~same & (acc["run"] > 1), acc["dup"] + runchars)
            .otherwise(acc["dup"])
            .alias("dup"),
            F.when(same, acc["tot"])
            .otherwise(acc["tot"] + runchars)
            .alias("tot"),
        )

    def finish(acc: Column) -> Column:
        runchars = acc["run"] * F.length(acc["prev"])
        return F.struct(
            F.greatest(acc["best"], runchars).alias("best"),
            F.when(acc["run"] > 1, acc["dup"] + runchars)
            .otherwise(acc["dup"])
            .alias("dup"),
            (acc["tot"] + runchars).alias("tot"),
        )

    return F.aggregate(F.array_sort(grams), init, merge, finish)


def repetition_metrics_exprs(
    toks: Column,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 10),
) -> dict[str, Column]:
    """Gopher repetition rules (Rae et al. 2021 table A1, n-gram half —
    the half gopher_quality_exprs scopes out) as pure column
    expressions over a bound token-array column.

    top{n}gram_char_frac: fraction of n-gram-covered characters
    belonging to the HEAVIEST n-gram, weight = occurrences x gram
    length. (Engine-pinned semantics: the paper says "most frequently
    occurring n-gram"; weighting by chars directly makes the metric
    monotone in what it measures — how much of the text one phrase
    covers — and gives both engines one deterministic argmax.)

    dup{n}gram_char_frac: fraction of n-gram-covered characters
    belonging to n-grams that occur more than once.

    A row shorter than an n yields NULL for that n's metric (and a
    NULL-or-False keep flag from repetition_keep_expr — never True,
    never an error) — safe to evaluate on any row, so Catalyst
    filter-collapse/predicate-reordering cannot blow it up; still
    filter short rows first for meaningful output.

    This is the expression reference the tests pin to Python; the
    registry and both pipelines run gopher_repetition.
    """
    out: dict[str, Column] = {}
    # nullif: a row below the length precondition has an empty gram
    # array (tot = 0) and must yield NULL, not an ANSI divide-by-zero
    for n in top_ns:
        st = _gram_char_stats(ngrams_expr(toks, n))
        tot = F.nullif(st["tot"], F.lit(0))
        out[f"top{n}gram_char_frac"] = F.round(st["best"] / tot, 4)
    for n in dup_ns:
        st = _gram_char_stats(ngrams_expr(toks, n))
        tot = F.nullif(st["tot"], F.lit(0))
        out[f"dup{n}gram_char_frac"] = F.round(st["dup"] / tot, 4)
    return out


def repetition_stats_kernel(
    toksed,
    ns: tuple[int, ...] = (2, 3, 4, 5, 10),
    min_tokens: int | None = None,
):
    """Per-document Gopher repetition INTEGER statistics — best / dup /
    tot n-gram character counts per size — as one Arrow-batched
    ``mapInPandas`` kernel: the same numbers the ``array_sort`` +
    ``F.aggregate`` run-length fold of ``_gram_char_stats`` computes,
    without the interpreted higher-order functions.

    Takes (doc_id, toks) and returns (doc_id, best_{n}, dup_{n},
    tot_{n} ... per n) — LONGS only. The metric VALUES
    (``round(best/tot, 4)`` etc.) are computed in JVM expressions by the
    caller (gopher_repetition), so every division and ROUND half-up
    happens where the expression reference does it: the kernel moves
    only exact-integer character counting across the boundary (Python
    ``len``/``str`` equality matches JVM ``length``/``UTF8String``
    equality: both count code points and compare code-point sequences;
    tokens cannot contain the ``" "`` join delimiter, so id-tuple
    equality == joined-gram equality).

    Algorithm per batch (all NumPy/pandas C paths, no per-row Python):
    tokens of every document are concatenated and factorized to int
    codes once; gram codes are built INCREMENTALLY per size (extend by
    one token, re-ranked per level so products stay in int64; 10-grams
    double the 5-grams); per-(doc, gram) counts come from one sorted
    ``np.unique`` per size over (doc, gram-rank) keys; gram char
    lengths are prefix-sum differences of token lengths. A row with
    fewer than n tokens yields (0, 0, 0) for that n — identical to the
    expression fold over an empty gram array, so the caller's
    ``nullif(tot, 0)`` produces the same NULLs.

    ``min_tokens`` drops rows with fewer tokens INSIDE the kernel
    (Python ``len`` of the very same array a JVM ``size(toks) >= k``
    filter would measure — exact parity by construction). Use it
    instead of a pre-filter: predicate pushdown would otherwise push
    the size filter below the CPU-spread exchange and evaluate the
    tokenize split twice (once at raw-scan width under the filter,
    once in the projection feeding the kernel).
    """
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    spark_ns = list(ns)
    fields = [StructField("doc_id", LongType())]
    for n in spark_ns:
        for stat in ("best", "dup", "tot"):
            fields.append(StructField(f"{stat}_{n}", LongType()))
    schema = StructType(fields)

    # gram construction plan: extend by one token up to 5, double 5 -> 10
    sizes = sorted(set(spark_ns))

    def run(it):
        for pdf in it:
            d = len(pdf)
            if d == 0:
                yield pd.DataFrame(
                    {f.name: pd.Series(dtype="int64") for f in fields}
                )
                continue
            # NULL token arrays (tokens_expr over NULL text) arrive as
            # None; np.asarray(None) is 0-d and len() raises. Treat as
            # an empty token list — min_tokens then filters the row,
            # matching the expression tier's null propagation (the
            # winnow-kernel guard rule).
            toks_arrs = [
                np.asarray(a if a is not None else (), dtype=object)
                for a in pdf["toks"].values
            ]
            doc_lens = np.array([len(a) for a in toks_arrs], dtype=np.int64)
            ids = pdf["doc_id"].values
            if min_tokens is not None:
                keep_m = doc_lens >= min_tokens
                if not keep_m.all():
                    toks_arrs = [
                        a for a, k in zip(toks_arrs, keep_m) if k
                    ]
                    doc_lens = doc_lens[keep_m]
                    ids = ids[keep_m]
                    d = len(toks_arrs)
                    if d == 0:
                        yield pd.DataFrame(
                            {
                                f.name: pd.Series(dtype="int64")
                                for f in fields
                            }
                        )
                        continue
            flat = (
                np.concatenate(toks_arrs)
                if len(toks_arrs) > 1
                else toks_arrs[0]
            )
            t = len(flat)
            out = {"doc_id": ids}
            if t == 0:
                z = np.zeros(d, dtype=np.int64)
                for n in spark_ns:
                    for stat in ("best", "dup", "tot"):
                        out[f"{stat}_{n}"] = z
                yield pd.DataFrame(out)
                continue
            codes, _u = pd.factorize(flat)
            codes = codes.astype(np.int64)
            tok_len = np.fromiter(
                (len(s) for s in flat), dtype=np.int64, count=t
            )
            cum = np.concatenate(([0], np.cumsum(tok_len)))
            starts = np.concatenate(([0], np.cumsum(doc_lens)))
            doc_of = np.repeat(np.arange(d, dtype=np.int64), doc_lens)
            # tokens remaining in the document from position i (incl. i)
            rem = np.repeat(starts[1:], doc_lens) - np.arange(t)

            def shifted(arr, k):
                # arr[i + k], padded with 0 past the end (never read at
                # a valid position: validity requires rem[i] >= n)
                if k == 0:
                    return arr
                pad = np.zeros(k, dtype=np.int64)
                return np.concatenate((arr[k:], pad))

            def rerank(raw):
                # compress level codes to 0..K-1 so products stay small
                _uu, inv = np.unique(raw, return_inverse=True)
                return inv.astype(np.int64), len(_uu)

            level = {1: (codes, int(codes.max()) + 1)}
            built = [1]
            chain = []
            for n in sizes:
                if n in built:
                    continue
                if n % 2 == 0 and n // 2 in built:
                    chain.append(("double", n))
                    built.append(n)
                else:
                    cur = max(b for b in built if b < n)
                    while cur < n:
                        cur += 1
                        chain.append(("extend", cur))
                        built.append(cur)
            for op, n in chain:
                if op == "double":
                    g, k = level[n // 2]
                    raw = g * k + shifted(g, n // 2)
                else:
                    g, k = level[n - 1]
                    kt = level[1][1]
                    raw = g * kt + shifted(codes, n - 1)
                level[n] = rerank(raw)

            for n in spark_ns:
                g, k = level[n]
                valid = np.flatnonzero(rem >= n)
                best = np.zeros(d, dtype=np.int64)
                dup = np.zeros(d, dtype=np.int64)
                tot = np.zeros(d, dtype=np.int64)
                if len(valid):
                    glen = cum[valid + n] - cum[valid] + (n - 1)
                    docs_v = doc_of[valid]
                    # weighted bincount sums are float64 — exact here
                    # (per-doc char totals are far below 2^53)
                    tot += np.bincount(
                        docs_v, weights=glen, minlength=d
                    ).astype(np.int64)
                    key = docs_v * k + g[valid]
                    _uk, first, counts = np.unique(
                        key, return_index=True, return_counts=True
                    )
                    weight = counts * glen[first]
                    docs_u = docs_v[first]
                    # unique keys are (doc, rank)-sorted, so docs_u is
                    # non-decreasing: segmented max via reduceat
                    seg = np.flatnonzero(np.diff(docs_u)) + 1
                    seg_starts = np.concatenate(([0], seg))
                    best[docs_u[seg_starts]] = np.maximum.reduceat(
                        weight, seg_starts
                    )
                    multi = counts > 1
                    if multi.any():
                        dup += np.bincount(
                            docs_u[multi],
                            weights=weight[multi],
                            minlength=d,
                        ).astype(np.int64)
                out[f"best_{n}"] = best
                out[f"dup_{n}"] = dup
                out[f"tot_{n}"] = tot
            yield pd.DataFrame(out)

    return toksed.select("doc_id", "toks").mapInPandas(run, schema=schema)


def let_bound(value: Column, body) -> Column:
    """Let-binding for column expressions: evaluate ``value`` ONCE per
    row and pass it to ``body`` as a bound lambda variable —
    ``element_at(transform(array(value), body), 1)``.

    Why this exists: "materialize with a prior select" (the
    shingles_from_tokens rule) protects an expensive sub-expression
    only while it stays a projection. The moment it feeds a FILTER,
    predicate pushdown substitutes the alias into the predicate and
    re-inlines the sub-expression at every reference — for a token
    array consumed by element_at inside HOF lambdas that means one
    split() per array element (measured 28s vs 9s corpus_clean at 500
    docs). A lambda variable cannot be substituted through, so the
    binding survives pushdown, project-collapse, and any other
    Catalyst rewrite."""
    return F.element_at(F.transform(F.array(value), body), 1)


def repetition_keep_expr(
    m: dict[str, Column],
    max_top_fracs: dict[int, float] | None = None,
    max_dup_fracs: dict[int, float] | None = None,
) -> Column:
    """Conjunction of the repetition keep-rules. Default thresholds are
    the Gopher paper's (top 2/3/4-gram <= 0.20/0.18/0.16; duplicate
    5/10-gram <= 0.15/0.10), applied to whichever metrics are present
    in ``m``."""
    top_t = {2: 0.20, 3: 0.18, 4: 0.16}
    dup_t = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
    if max_top_fracs:
        top_t.update(max_top_fracs)
    if max_dup_fracs:
        dup_t.update(max_dup_fracs)
    keep = F.lit(True)
    for name, col in m.items():
        if name.startswith("top"):
            n = int(name[3 : name.index("gram")])
            # off-table n falls back to the tightest tabled threshold
            keep = keep & (col <= F.lit(top_t.get(n, min(top_t.values()))))
        elif name.startswith("dup"):
            n = int(name[3 : name.index("gram")])
            keep = keep & (col <= F.lit(dup_t.get(n, min(dup_t.values()))))
    return keep


def gopher_repetition(docs):
    """Gopher repetition rules (Rae et al. 2021 table A1, n-gram half)
    over a ``(doc_id, text)`` frame: returns ``doc_id``, the
    top-2/3/4-gram and duplicate-5/10-gram character fractions (the
    repetition_metrics_exprs definitions) and ``keep``, the
    repetition_keep_expr conjunction at the paper's thresholds.

    Documents with fewer than 10 tokens (no 10-gram) are dropped. The
    integer gram statistics come from repetition_stats_kernel; every
    division and ROUND is a JVM expression, so the values equal the
    expression reference exactly. Plan shape: a scan plus one Arrow
    kernel, no shuffle."""
    toksed = docs.select("doc_id", tokens_expr(F.col("text")).alias("toks"))
    stats = repetition_stats_kernel(toksed, min_tokens=10)
    metric = {}
    for kind, stat, ns in (("top", "best", (2, 3, 4)), ("dup", "dup", (5, 10))):
        for n in ns:
            metric[f"{kind}{n}gram_char_frac"] = F.round(
                F.col(f"{stat}_{n}") / F.nullif(F.col(f"tot_{n}"), F.lit(0)), 4
            )
    return stats.select(
        "doc_id",
        *[c.alias(k) for k, c in metric.items()],
        repetition_keep_expr(metric).alias("keep"),
    )


def sentence_budget_chunks_expr(
    text: Column, max_tokens: int, counter=None
) -> Column:
    """Sentence-boundary-preserving chunking to a token budget, as ONE
    JVM-side aggregate fold — the engine twin of the reference's
    TokenManager.split_text (Tracking_Inflation_Drivers/src/
    token_manager.py:97-195): split on periods, greedily pack whole
    sentences into chunks of <= max_tokens, and word-split any single
    sentence that alone exceeds the budget (an oversized single word
    becomes its own piece rather than being truncated).

    ``counter``: Column -> Column token counter; default
    bpe_token_count_expr (the engine's tiktoken-class estimator —
    counts are ADDITIVE under single-space joins because the pattern's
    optional leading space is count-invariant, so the sum of chunk
    counts equals the sum of sentence counts exactly; the partial
    oracle leans on this).

    Two reference quirks are fixed by design (each documented so a
    migrating user can diff behavior):

    - token_manager.py:128-163 appends oversized-sentence word pieces
      directly to the OUTPUT list while earlier whole sentences are
      still buffered, so chunk order interleaves out of text order.
      Here the buffer flushes first — chunks read in document order.
    - token_manager.py:144,170 joins buffered sentences (each already
      ending '.') with a further '+ "."', emitting doubled trailing
      periods. Here chunks are the space-join of their sentences,
      nothing added — concatenating the chunks reproduces the
      sentence stream verbatim.

    Returns array<string>; empty/blank text -> empty array. Everything
    runs inside Catalyst HOFs (aggregate/transform/filter) — no UDF,
    no shuffle, scales as a pure narrow map.
    """
    cnt = counter or bpe_token_count_expr
    mx = F.lit(int(max_tokens))

    sentences = F.transform(
        F.filter(
            F.transform(F.split(text, r"\."), lambda s: F.trim(s)),
            lambda s: s != F.lit(""),
        ),
        lambda s: F.concat(s, F.lit(".")),
    )

    chunk_arr = "array<string>"

    def word_pieces(s: Column) -> Column:
        """Budget-fitting pieces of one oversized sentence (word fold)."""
        words = F.split(F.trim(s), r"\s+")
        init = F.struct(
            F.array().cast(chunk_arr).alias("ps"),
            F.lit("").alias("cur"),
            F.lit(0).alias("n"),
        )

        def step(st, w):
            wn = cnt(w)
            over = (st["n"] + wn > mx) & (st["cur"] != F.lit(""))
            return F.struct(
                F.when(over, F.concat(st["ps"], F.array(st["cur"])))
                .otherwise(st["ps"])
                .alias("ps"),
                F.when(over, w)
                .otherwise(
                    F.when(st["cur"] == F.lit(""), w).otherwise(
                        F.concat_ws(" ", st["cur"], w)
                    )
                )
                .alias("cur"),
                F.when(over, wn).otherwise(st["n"] + wn).alias("n"),
            )

        return F.aggregate(
            words,
            init,
            step,
            lambda st: F.when(
                st["cur"] == F.lit(""), st["ps"]
            ).otherwise(F.concat(st["ps"], F.array(st["cur"]))),
        )

    init = F.struct(
        F.array().cast(chunk_arr).alias("cs"),
        F.lit("").alias("cur"),
        F.lit(0).alias("n"),
    )

    def step(st, s):
        sn = cnt(s)
        flushed = F.when(
            st["cur"] == F.lit(""), st["cs"]
        ).otherwise(F.concat(st["cs"], F.array(st["cur"])))
        oversized = sn > mx
        overflow = st["n"] + sn > mx
        return F.struct(
            F.when(oversized, F.concat(flushed, word_pieces(s)))
            .otherwise(F.when(overflow, flushed).otherwise(st["cs"]))
            .alias("cs"),
            F.when(oversized, F.lit(""))
            .otherwise(
                F.when(overflow, s).otherwise(
                    F.when(st["cur"] == F.lit(""), s).otherwise(
                        F.concat_ws(" ", st["cur"], s)
                    )
                )
            )
            .alias("cur"),
            F.when(oversized, F.lit(0))
            .otherwise(F.when(overflow, sn).otherwise(st["n"] + sn))
            .alias("n"),
        )

    return F.aggregate(
        sentences,
        init,
        step,
        lambda st: F.when(
            st["cur"] == F.lit(""), st["cs"]
        ).otherwise(F.concat(st["cs"], F.array(st["cur"]))),
    )


def sentence_budget_stats_kernel(
    docs,
    max_tokens: int,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Arrow-batched twin of the sentence_budget_chunks QUERY form —
    identical (id, total_tokens, within_budget, coverage_exact) rows
    (pytest-pinned against the expression tier), built per guide §4.2:
    the expression tier folds sentences through an interpreted
    aggregate whose accumulator re-CONCATENATES the growing chunk
    string on every step — O(n^2) bytes per document — and then
    re-counts every chunk and sentence through three more
    regexp_extract_all passes for the totals/assertion columns. Here
    one compiled-regex pass per sentence computes the counts, the fold
    runs over integers (chunk strings are assembled once, on flush),
    and only (long, int, bool, bool) rows cross back over the Arrow
    boundary.

    Exact-parity rules replicated from the expression tier (each
    pinned by the property test's whitespace-exotica rows):

    - sentence split: ``split(text, '\\.')`` keeps every fragment,
      ``trim`` strips SPACES ONLY (0x20 — not tabs/newlines), empty
      fragments drop, survivors get a trailing '.' — Python twin
      ``frag.strip(' ')``;
    - token counts: ``len(re.findall(BPE_TOKEN_PATTERN, s.lower()))``
      — the pattern is by construction Java/RE2/Python-identical
      (explicit whitespace class, no \\s), leftmost-first alternation
      agrees across engines, and lower() parity is the bpe_token_count
      precedent;
    - word split of an oversized sentence: Java ``\\s`` is
      ``[ \\t\\n\\x0B\\f\\r]`` (NOT Python's Unicode \\s), and a
      leading separator emits a leading EMPTY word that the fold's
      concat_ws visibly keeps as a trailing space — the kernel uses
      the explicit class and replicates the empty-word arithmetic;
    - NULL text propagates to NULL/NULL/NULL exactly as the
      expression tier's NULL-array fold does.
    """
    import re as _re

    import pandas as pd

    from pyspark.sql.types import (
        BooleanType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    mx = int(max_tokens)
    pat = _re.compile(BPE_TOKEN_PATTERN)
    java_ws = _re.compile(r"[ \t\n\x0b\f\r]+")

    schema = StructType(
        [
            StructField(id_col, LongType()),
            StructField("total_tokens", IntegerType()),
            StructField("within_budget", BooleanType()),
            StructField("coverage_exact", BooleanType()),
        ]
    )

    def cnt(s: str) -> int:
        return len(pat.findall(s.lower()))

    def word_pieces(s: str) -> list[str]:
        # twin of the expression tier's word fold, INCLUDING the
        # empty-word concat_ws behavior on leading Java-\s separators
        ps: list[str] = []
        pw, pn = "", 0
        for w in java_ws.split(s.strip(" ")):
            wn = cnt(w)
            if pn + wn > mx and pw != "":
                ps.append(pw)
                pw, pn = w, wn
            else:
                pw = w if pw == "" else pw + " " + w
                pn += wn
        if pw != "":
            ps.append(pw)
        return ps

    def run(it):
        for pdf in it:
            ids = pdf[id_col].values
            out_tot: list[int | None] = []
            out_within: list[bool | None] = []
            out_cov: list[bool | None] = []
            for t in pdf[text_col].values:
                if t is None:
                    out_tot.append(None)
                    out_within.append(None)
                    out_cov.append(None)
                    continue
                sents = []
                for frag in t.split("."):
                    s = frag.strip(" ")
                    if s:
                        sents.append(s + ".")
                scnt = [cnt(s) for s in sents]
                cs: list[str] = []
                cur, n = "", 0
                for s, sn in zip(sents, scnt):
                    if sn > mx:
                        if cur != "":
                            cs.append(cur)
                        cs.extend(word_pieces(s))
                        cur, n = "", 0
                    elif n + sn > mx:
                        if cur != "":
                            cs.append(cur)
                        cur, n = s, sn
                    else:
                        cur = s if cur == "" else cur + " " + s
                        n += sn
                if cur != "":
                    cs.append(cur)
                out_tot.append(sum(scnt))
                out_within.append(
                    all(cnt(c) <= mx or " " not in c for c in cs)
                )
                out_cov.append(" ".join(cs) == " ".join(sents))
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "total_tokens": pd.array(out_tot, dtype="Int32"),
                    "within_budget": pd.array(out_within, dtype="boolean"),
                    "coverage_exact": pd.array(out_cov, dtype="boolean"),
                }
            )

    staged = docs.select(F.col(id_col), F.col(text_col))
    return staged.mapInPandas(run, schema)


# regex steps of the HTML -> text extraction, shared verbatim by the
# Spark expression, the DuckDB oracle twin, and the Python reference
# (tests) so the three can never drift. Patterns stay inside the
# Java-regex/RE2 common subset: inline (?is) flags, lazy quantifiers,
# character classes — no backreferences, no lookaround.
HTML_STRIP_STEPS: tuple[tuple[str, str], ...] = (
    (r"(?is)<script\b.*?</script>", " "),  # script blocks, content and all
    (r"(?is)<style\b.*?</style>", " "),    # style blocks
    (r"(?s)<!--.*?-->", " "),              # comments
    (r"(?is)<br\s*/?>", "\n"),             # explicit line breaks survive
    (r"(?is)</(p|div|li|tr|h[1-6])>", "\n"),  # block closers -> newline
    (r"(?s)<[^>]*>", " "),                 # every remaining tag
)

# named entities decoded after tag stripping; '&amp;' LAST so
# '&amp;lt;' decodes to '&lt;' (one level, the HTML rule), never to '<'
HTML_ENTITIES: tuple[tuple[str, str], ...] = (
    ("&nbsp;", " "),
    ("&lt;", "<"),
    ("&gt;", ">"),
    ("&quot;", '"'),
    ("&#39;", "'"),
    ("&amp;", "&"),
)


def html_to_text_expr(html: Column) -> Column:
    """Extract readable text from an HTML column — the first stage of a
    web-corpus ingest (C4/FineWeb-style pipelines start from crawl HTML,
    not clean text). Script/style/comment blocks drop with their
    content, block-level closers become newlines (so paragraph structure
    survives for the paragraph/line dedup stages), remaining tags strip
    to spaces, the six ubiquitous named entities decode (one level), and
    horizontal whitespace collapses per line.

    Pure regexp_replace chain: JVM-side, codegen, zero UDFs, and the
    exact same HTML_STRIP_STEPS/HTML_ENTITIES constants compile the
    DuckDB twin (html_to_text_sql) and the Python reference
    (html_to_text_py), so the three implementations are generated from
    one table. Numeric character references beyond &#39; are NOT decoded
    (that needs a real parser — a Pandas-UDF tier with an HTML library
    would slot behind the same signature); declared limitation.
    """
    out = html
    for pat, rep in HTML_STRIP_STEPS:
        out = F.regexp_replace(out, pat, rep)
    for ent, ch in HTML_ENTITIES:
        out = F.replace(out, F.lit(ent), F.lit(ch))
    # collapse runs of spaces/tabs but PRESERVE the newlines planted by
    # the block rules; then trim each line's edges and the whole text
    out = F.regexp_replace(out, r"[ \t\r\f]+", " ")
    out = F.regexp_replace(out, r" ?\n ?", "\n")
    out = F.regexp_replace(out, r"\n{2,}", "\n")
    # regex trim, NOT trim(): SQL trim strips spaces only, the planted
    # newlines must go too (all three implementations agree on \s)
    return F.regexp_replace(out, r"^\s+|\s+$", "")


def html_to_text_py(html: str) -> str:
    """Python reference of html_to_text_expr — same step table."""
    out = html
    for pat, rep in HTML_STRIP_STEPS:
        out = re.sub(pat, rep, out)
    for ent, ch in HTML_ENTITIES:
        out = out.replace(ent, ch)
    out = re.sub(r"[ \t\r\f]+", " ", out)
    out = re.sub(r" ?\n ?", "\n", out)
    out = re.sub(r"\n{2,}", "\n", out)
    return re.sub(r"^\s+|\s+$", "", out)


def html_to_text_sql(col_sql: str) -> str:
    """DuckDB twin of html_to_text_expr, compiled from the same step
    table (regexp_replace with the 'g' flag; RE2 accepts the inline
    (?is) flags and lazy quantifiers these patterns use)."""

    def q(s: str) -> str:
        return "'" + s.replace("'", "''").replace("\n", "' || chr(10) || '") + "'"

    out = col_sql
    for pat, rep in HTML_STRIP_STEPS:
        out = f"regexp_replace({out}, {q(pat)}, {q(rep)}, 'g')"
    for ent, ch in HTML_ENTITIES:
        out = f"replace({out}, {q(ent)}, {q(ch)})"
    out = f"regexp_replace({out}, '[ \\t\\r\\f]+', ' ', 'g')"
    out = f"regexp_replace({out}, ' ?\\n ?', chr(10), 'g')"
    out = f"regexp_replace({out}, '\\n{{2,}}', chr(10), 'g')"
    return f"regexp_replace({out}, '^\\s+|\\s+$', '', 'g')"


def _html_parser_extract(html: str) -> str:
    """stdlib-parser extraction (html.parser.HTMLParser): real tokenizer,
    so numeric character references (&#65; &#x41;), attribute values
    containing '>', and unclosed tags are all handled correctly — the
    cases the regex tier declares out of scope. Same output conventions
    as html_to_text_py: script/style content dropped, <br> and block
    closers emit newlines, whitespace collapsed per line."""
    from html.parser import HTMLParser

    _BLOCK = {"p", "div", "li", "tr", "h1", "h2", "h3", "h4", "h5", "h6"}

    class _X(HTMLParser):
        def __init__(self) -> None:
            # convert_charrefs=True (default) decodes ALL character
            # references, named and numeric, into handle_data text
            super().__init__()
            self.parts: list[str] = []
            self.skip = 0

        def handle_starttag(self, tag, attrs):
            if tag in ("script", "style"):
                self.skip += 1
            elif tag == "br":
                self.parts.append("\n")

        def handle_endtag(self, tag):
            if tag in ("script", "style"):
                self.skip = max(0, self.skip - 1)
            elif tag in _BLOCK:
                self.parts.append("\n")

        def handle_data(self, data):
            if not self.skip:
                self.parts.append(data)

    p = _X()
    p.feed(html)
    p.close()
    out = "".join(p.parts)
    out = re.sub(r"[ \t\r\f]+", " ", out)
    out = re.sub(r" ?\n ?", "\n", out)
    out = re.sub(r"\n{2,}", "\n", out)
    return re.sub(r"^\s+|\s+$", "", out)


def html_to_text_parsed(
    docs,
    html_col: str = "text",
    out_col: str = "text_extracted",
):
    """Parser-tier HTML -> text over a DataFrame (Arrow-batched
    mapInPandas, the compression_ratio pattern): use when the corpus has
    numeric character references or attribute edge cases the expression
    tier (html_to_text_expr) declares out of scope. Python cost is the
    stdlib tokenizer per document — a linear scan, no shuffle; prefer
    the zero-UDF expression tier whenever its subset suffices."""
    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        list(docs.schema.fields) + [StructField(out_col, StringType(), True)]
    )

    def run(batches):
        for pdf in batches:
            pdf[out_col] = [
                None if t is None else _html_parser_extract(t)
                for t in pdf[html_col]
            ]
            yield pdf

    return docs.mapInPandas(run, schema)


# script ranges for script_ratio_exprs — the pattern strings embed the
# range endpoints as LITERAL characters (not \\u escapes), because Java
# regex and RE2 spell codepoint escapes differently but both accept the
# literal character inside a class; one table compiles the Spark
# expression and the DuckDB twin.
SCRIPT_RANGES: tuple[tuple[str, str], ...] = (
    ("latin", "A-Za-z"),
    ("cjk", "一-鿿"),
    ("cyrillic", "Ѐ-ӿ"),
    ("arabic", "؀-ۿ"),
    ("digit", "0-9"),
)


def script_ratio_exprs(text: Column) -> dict[str, Column]:
    """Per-script character ratios — the script-detection signal a
    multilingual ingest uses to route documents and flag mixed-script
    spam (e.g. Latin text stuffed with Cyrillic lookalikes). For each
    script: chars-in-range / non-whitespace chars, 4dp, NULL for
    empty/whitespace-only text. Counting is length(text) minus length
    with the range removed — two JVM regex passes per script, zero UDFs,
    and the DuckDB twin (script_ratio_sql) compiles from the same
    SCRIPT_RANGES table. This is the expression reference the tests
    compare against; callers run script_profile."""
    base = F.length(F.regexp_replace(text, r"\s", ""))
    out: dict[str, Column] = {}
    for name, rng in SCRIPT_RANGES:
        kept = F.length(F.regexp_replace(text, f"[^{rng}]", ""))
        out[name] = F.when(
            base > 0, F.round(kept / base, 4)
        ).otherwise(F.lit(None))
    return out


#: Java regex \s (what script_ratio_exprs' base count removes) is the
#: ASCII set [ \t\n\x0B\f\r] — pinned here for script_profile. RE2's
#: \s is the same set, so all three forms agree.
_JAVA_WS_CODEPOINTS: tuple[int, ...] = (9, 10, 11, 12, 13, 32)


def _parse_char_ranges(rng: str) -> list[tuple[int, int]]:
    """SCRIPT_RANGES pattern body ("A-Za-z", "一-鿿") -> inclusive
    codepoint ranges. The table only ever contains X-Y runs."""
    out: list[tuple[int, int]] = []
    i = 0
    while i < len(rng):
        if i + 2 < len(rng) and rng[i + 1] == "-":
            out.append((ord(rng[i]), ord(rng[i + 2])))
            i += 3
        else:
            out.append((ord(rng[i]), ord(rng[i])))
            i += 1
    return out


def script_profile(docs):
    """Per-script character ratios over a ``(doc_id, text)`` frame:
    returns ``doc_id`` and ``r_<script>`` for every SCRIPT_RANGES entry,
    with the script_ratio_exprs definitions (chars in range /
    non-whitespace chars, 4dp, NULL for NULL, empty or whitespace-only
    text).

    The character counting is one Arrow-batched ``mapInPandas`` kernel:
    every batch's documents are joined once, decoded to a uint32
    codepoint array (``utf-32-le``), and each script is one vectorized
    range mask plus a per-document prefix-sum difference. Ranges come
    from SCRIPT_RANGES (codepoint-inclusive, what a Java regex class
    ``[X-Y]`` matches), the base count excludes Java's ASCII ``\\s``
    set (_JAVA_WS_CODEPOINTS), and both ``length()`` and NumPy count
    code points. Only exact integer counts cross the boundary; the
    ratios and ROUND are JVM expressions, so the values equal
    script_ratio_exprs exactly."""
    import numpy as np
    import pandas as pd

    from pyspark.sql.types import LongType, StructField, StructType

    ranges = {n: _parse_char_ranges(r) for n, r in SCRIPT_RANGES}
    fields = (
        [StructField("doc_id", LongType())]
        + [StructField(f"c_{n}", LongType()) for n, _ in SCRIPT_RANGES]
        + [StructField("c_base", LongType())]
    )
    schema = StructType(fields)
    ws = np.array(_JAVA_WS_CODEPOINTS, dtype=np.uint32)

    def run(it):
        for pdf in it:
            texts = ["" if t is None else t for t in pdf["text"].values]
            n = len(texts)
            out = {"doc_id": pdf["doc_id"].values}
            if n == 0:
                yield pd.DataFrame(
                    {f.name: pd.Series(dtype="int64") for f in fields}
                )
                continue
            joined = "\x00".join(texts)
            cp = np.frombuffer(joined.encode("utf-32-le"), dtype=np.uint32)
            lens = np.fromiter(
                (len(t) for t in texts), dtype=np.int64, count=n
            )
            # doc i spans [bounds[i], bounds[i+1]-2]; bounds[i+1]-1 is
            # the \x00 separator (positions are computed from lens, so
            # an embedded NUL character in a document stays counted as
            # that document's own character)
            bounds = np.concatenate(([0], np.cumsum(lens + 1)))

            def segsum(mask):
                c = np.concatenate(
                    ([0], np.cumsum(mask.astype(np.int64)))
                )
                hi = np.minimum(bounds[1:] - 1, len(cp))
                return c[hi] - c[bounds[:-1]]

            out["c_base"] = segsum(~np.isin(cp, ws))
            for name, rngs in ranges.items():
                m = np.zeros(len(cp), dtype=bool)
                for lo, hi in rngs:
                    m |= (cp >= lo) & (cp <= hi)
                out[f"c_{name}"] = segsum(m)
            yield pd.DataFrame(out)

    counts = docs.select("doc_id", "text").mapInPandas(run, schema)
    return counts.select(
        "doc_id",
        *[
            F.when(
                F.col("c_base") > 0,
                F.round(F.col(f"c_{name}") / F.col("c_base"), 4),
            ).alias(f"r_{name}")
            for name, _ in SCRIPT_RANGES
        ],
    )


def script_ratio_sql(col_sql: str) -> dict[str, str]:
    """DuckDB twins of script_ratio_exprs, from the same range table."""
    base = f"length(regexp_replace({col_sql}, '\\s', '', 'g'))"
    out: dict[str, str] = {}
    for name, rng in SCRIPT_RANGES:
        kept = f"length(regexp_replace({col_sql}, '[^{rng}]', '', 'g'))"
        out[name] = (
            f"CASE WHEN {base} > 0 "
            f"THEN ROUND(CAST({kept} AS DOUBLE) / {base}, 4) END"
        )
    return out


def winnow_fingerprints(
    docs,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
):
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): per document, the DISTINCT word
    k-grams selected by taking, in every sliding window of ``w``
    consecutive k-gram hashes, the minimum hash — rightmost position on
    ties (the paper's robust-winnowing rule). The guarantee that makes
    this THE local fingerprinting scheme: any shared substring of at
    least k + w - 1 tokens between two documents yields at least one
    IDENTICAL selected fingerprint in both, while storing only
    ~2/(w+1) of all k-grams — the rolling-hash fingerprint tier above
    the whole-document md5 (q_doc_fingerprint).

    Tokens are the lower-cased JVM ``\\s+`` split of the trimmed text.
    Hash = md5 hex of the gram STRING, compared lexicographically —
    deterministic and engine-portable (Spark's md5(encode(utf-8)),
    Python's hashlib and DuckDB's md5() agree, and hex order == digest
    byte order, so the SQL oracle reproduces the selection itself).

    NULL and blank documents and documents with fewer than k tokens
    emit no fingerprints; documents with fewer than k + w - 1 tokens
    form one window over all their grams (one fingerprint). Output:
    (id_col, gram), distinct per document (``id_col`` must be unique
    per row).

    Plan shape: the JVM split feeds one Arrow-batched ``mapInPandas``
    kernel — one md5 per gram plus vectorized NumPy window minima over
    (digest-hi, digest-lo, -pos). Each document's grams live in one
    batch, so (id, gram) pairs are deduplicated inside the kernel and
    the plan has no exchange.
    """
    from hashlib import md5 as _md5

    import numpy as np
    import pandas as pd

    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    if k < 1 or w < 1:
        raise ValueError(f"k and w must be >= 1, got k={k}, w={w}")

    schema = StructType(
        [StructField(id_col, LongType()), StructField("gram", StringType())]
    )

    def run(it):
        for pdf in it:
            ids = pdf[id_col].values
            toks_arrs = pdf["__t"].values
            grams: list[str] = []
            gl = np.zeros(len(toks_arrs), dtype=np.int64)
            for di, arr in enumerate(toks_arrs):
                # NULL text, blank text (its split is [""]) and docs
                # shorter than k emit no grams. The length test stays in
                # the kernel: a JVM size() filter would be pushed below
                # the projection and run the split twice.
                if arr is None or (len(arr) == 1 and arr[0] == ""):
                    continue
                t = list(arr)
                n = len(t) - k + 1
                if n <= 0:
                    continue
                gl[di] = n
                for i in range(n):
                    grams.append(" ".join(t[i : i + k]))
            if not grams:
                yield pd.DataFrame(
                    {id_col: pd.Series(dtype="int64"),
                     "gram": pd.Series(dtype="object")}
                )
                continue
            digests = b"".join(
                _md5(g.encode("utf-8")).digest() for g in grams
            )
            hl = np.frombuffer(digests, dtype=">u8").reshape(-1, 2)
            hi, lo = hl[:, 0], hl[:, 1]
            gstart = np.concatenate(([0], np.cumsum(gl)))
            # gl == 0 marks a filtered (short/blank/null) doc: it gets
            # ZERO windows — max(gl-(w-1), 1) would hand it one window
            # whose clamped candidates read the PREVIOUS doc's grams
            nw = np.where(gl > 0, np.maximum(gl - (w - 1), 1), 0)
            total_w = int(nw.sum())
            # global window start gram-index per window
            wstart_base = np.repeat(gstart[:-1], nw)
            woff = np.arange(total_w) - np.repeat(
                np.concatenate(([0], np.cumsum(nw)))[:-1], nw
            )
            wstart = wstart_base + woff
            # clamp candidate indices to the doc's last gram
            last = np.repeat(gstart[1:] - 1, nw)
            best = np.minimum(wstart, last)
            bh, bl = hi[best], lo[best]
            for j in range(1, w):
                cand = np.minimum(wstart + j, last)
                ch, cl = hi[cand], lo[cand]
                # smaller digest wins; equal digest -> larger position
                # (rightmost tie, matching min(struct(h, -pos)))
                better = (
                    (ch < bh)
                    | ((ch == bh) & (cl < bl))
                    | ((ch == bh) & (cl == bl) & (cand > best))
                )
                best = np.where(better, cand, best)
                bh = np.where(better, ch, bh)
                bl = np.where(better, cl, bl)
            sel = np.unique(best)  # distinct selected positions
            doc_of_gram = np.repeat(np.arange(len(gl)), gl)
            out = pd.DataFrame(
                {
                    id_col: ids[doc_of_gram[sel]],
                    "gram": [grams[i] for i in sel],
                }
            )
            # distinct (id, gram) by STRING: two selected positions can
            # carry the same gram text when it repeats >= w apart in a doc
            yield out.drop_duplicates(ignore_index=True)

    toks = F.split(F.lower(F.trim(F.col(text_col))), r"\s+")
    staged = docs.select(F.col(id_col), toks.alias("__t"))
    return staged.mapInPandas(run, schema)


# ---------------------------------------------------------------------------
# RefinedWeb-style line-wise correction filtering (Penedo et al. 2023 §3.2:
# drop boilerplate/navigation/counter lines inside a document BEFORE the
# dedup stages; the within-doc duplicate-line rule is dedup_lines_exprs).
# ---------------------------------------------------------------------------

#: (rule_name, regex) — a line is DROPPED if it matches ANY rule. One
#: table compiles the Spark higher-order filter AND the DuckDB twin
#: (line_filter_sql); patterns stay in the Java/RE2 shared subset
#: (scoped (?i:...) groups, no lookaround). A line matching several
#: rules counts under EACH (documented; the kept set is unaffected).
LINE_FILTER_RULES: tuple[tuple[str, str], ...] = (
    # digits + numeric punctuation only (dates, scores, phone fragments)
    ("numeric_only", r"^[0-9 .,%/:+-]*[0-9][0-9 .,%/:+-]*$"),
    # shouting header / navigation: >=3 uppercase letters, no lowercase
    ("all_caps", r"^[^a-z]*[A-Z][^a-z]*[A-Z][^a-z]*[A-Z][^a-z]*$"),
    # social counters ("17 likes", "3 comments")
    ("counter", r"^[0-9]+ (?i:likes?|views?|comments?|shares?|retweets?)$"),
    # boilerplate phrases (cookie banners, footers, login walls)
    (
        "boilerplate",
        r"(?i:click here|all rights reserved|terms of (?:use|service)"
        r"|cookie polic|sign in|log in to|subscribe to our)",
    ),
    # empty / single-character lines
    ("tiny", r"^\s*\S?\s*$"),
)

_LINE_DROP_COMBINED = "|".join(f"(?:{pat})" for _, pat in LINE_FILTER_RULES)


def line_filter_exprs(text: Column, sep: str = "\n") -> dict[str, Column]:
    """Line-wise correction pass as pure zero-shuffle expressions:
    split on ``sep``, drop lines matching any LINE_FILTER_RULES entry
    (higher-order F.filter — codegen'd, no UDF), re-join, and report
    per-rule counts plus the RefinedWeb doc-level rule ``doc_keep`` =
    the kept text is at least half the original's characters (a doc
    that was mostly boilerplate should drop whole, not survive as a
    stub). Runs inside a quality scan at zero extra plan cost; at
    100 TB this is a free map stage."""
    lines = F.split(text, re.escape(sep))
    out: dict[str, Column] = {}

    # arity-1 lambda factory: F.filter treats a TWO-parameter lambda as
    # (element, index), so a `p=pat` default would receive the index
    def matches(pat: str):
        return lambda x: x.rlike(pat)

    for name, pat in LINE_FILTER_RULES:
        out[f"n_{name}"] = F.size(F.filter(lines, matches(pat)))
    kept = F.filter(lines, lambda x: ~x.rlike(_LINE_DROP_COMBINED))
    clean = F.array_join(kept, sep)
    out["text_clean"] = clean
    out["n_lines_total"] = F.size(lines)
    out["n_lines_kept"] = F.size(kept)
    out["doc_keep"] = F.length(clean) * 2 >= F.length(text)
    return out


def line_filter_sql(col_sql: str, sep_chr: str = "chr(10)") -> dict[str, str]:
    """DuckDB twin compiled from the same rule table. Returns SQL
    fragments keyed like line_filter_exprs; ``col_sql`` must be a
    side-effect-free expression (it is inlined several times)."""

    def q(pat: str) -> str:
        return pat.replace("'", "''")

    lines = f"string_split({col_sql}, {sep_chr})"
    out: dict[str, str] = {}
    for name, pat in LINE_FILTER_RULES:
        out[f"n_{name}"] = (
            f"CAST(len(list_filter({lines}, "
            f"x -> regexp_matches(x, '{q(pat)}'))) AS INT)"
        )
    kept = (
        f"list_filter({lines}, x -> NOT regexp_matches(x, "
        f"'{q(_LINE_DROP_COMBINED)}'))"
    )
    clean = f"array_to_string({kept}, {sep_chr})"
    out["text_clean"] = clean
    out["n_lines_total"] = f"CAST(len({lines}) AS INT)"
    out["n_lines_kept"] = f"CAST(len({kept}) AS INT)"
    out["doc_keep"] = f"(length({clean}) * 2 >= length({col_sql}))"
    return out

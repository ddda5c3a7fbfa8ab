"""Property tests (SURVEY.md §5 point 3) — hypothesis over the tricky
pure helpers, plus bounded Spark examples for the masking round-trip and
densification invariants."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from bigdata_cookbook_spark.functions.text import bisect_on_delimiter, wrap_text
from bigdata_cookbook_spark.operators.analytics import gaussian_kernel


@given(st.text(max_size=400))
def test_bisect_reassembles(s):
    left, right = bisect_on_delimiter(s)
    assert left + right == s
    if len(s) >= 2:
        assert left and right


@given(
    st.lists(st.text(alphabet=st.characters(blacklist_characters=" \t\n", blacklist_categories=("Cs",)), min_size=1, max_size=15), max_size=30),
    st.integers(min_value=1, max_value=80),
)
def test_wrap_preserves_words(words, width):
    s = " ".join(words)
    wrapped = wrap_text(s, width=width, sep="\n")
    assert wrapped.split() == s.split()  # no word lost or altered
    for line in wrapped.split("\n"):
        # a line only exceeds width when a single word does
        assert len(line) <= width or " " not in line


@given(st.floats(min_value=0.3, max_value=8.0))
def test_gaussian_kernel_normalized(sigma):
    k = gaussian_kernel(sigma, int(4.0 * sigma + 0.5))
    assert abs(sum(k) - 1.0) < 1e-9
    mid = len(k) // 2
    assert all(abs(k[i] - k[-1 - i]) < 1e-12 for i in range(mid))  # symmetric
    assert max(k) == k[mid]  # peak at center
    assert all(k[i] <= k[i + 1] + 1e-15 for i in range(mid))  # rising to peak


# --- bounded Spark properties (few examples: each runs a Spark job) -------


def test_masking_roundtrip_random_corpora(spark):
    """mask→unmask restores the original text over freshly generated
    corpora (non-overlapping spans by fixture construction). Hypothesis
    drives the corpus seed; fixture bridged via closure since @given
    can't take pytest fixtures."""
    from bigdata_cookbook_spark.functions.masking import unmask_text_expr
    from bigdata_cookbook_spark.operators.normalize import normalize_screening
    from bigdata_cookbook_spark.sources.fixtures import fixture_frames

    @settings(max_examples=6, deadline=None)
    @given(st.integers(min_value=0, max_value=2**31 - 1))
    def check(seed):
        ents, docs, chunks = fixture_frames(spark, n_docs=12, seed=seed)
        scr = normalize_screening(docs, chunks, ents, mode="discovery")
        restored = scr.select(
            "text",
            unmask_text_expr(
                F.col("masked_text"), F.col("other_entities_map"), F.col("entity_name")
            ).alias("restored"),
        )
        assert restored.filter(F.col("restored") != F.col("text")).count() == 0

    check()


def test_analyzer_matches_python_reference_stable_unicode(spark):
    """The retrieval analyzer (analyzer_tokens_expr: Java-regex split on
    [^\\pL\\pN]+ after lower) == analyzer_tokens_py (unicodedata
    category runs) over a VERSION-STABLE alphabet.

    The alphabet is bounded to U+0000..U+058F (ASCII, Latin-1/Extended,
    IPA, spacing modifiers, combining diacritics, Greek, Cyrillic,
    Armenian) — every codepoint in that range has carried its general
    category since far before Unicode 13.0, so Java 17 (Unicode 13),
    CPython 3.11 (14.0), and DuckDB's RE2 agree on all of them by
    Unicode's stability policy. Codepoints ASSIGNED a letter category
    between those versions (e.g. U+16A70 Tangsa, added in 14.0)
    genuinely tokenize differently across the runtimes — that skew is a
    documented limitation (functions/text.py analyzer_tokens_py), and
    the production retrieval path is immune to it because query terms
    are analyzed by the SAME JVM expression as documents
    (analyzer_tokens_jvm) — pinned by the regression test below.
    Batched: one Spark job per generated list."""
    from bigdata_cookbook_spark.functions.text import (
        analyzer_tokens_expr,
        analyzer_tokens_py,
    )

    alphabet = st.characters(max_codepoint=0x058F, blacklist_categories=("Cs",))

    @settings(max_examples=8, deadline=None, derandomize=True)
    @given(st.lists(st.text(alphabet=alphabet, max_size=60), min_size=1, max_size=25))
    def check(texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "i long, t string"
        )
        got = {
            r.i: r.toks
            for r in df.select(
                "i", analyzer_tokens_expr(F.col("t")).alias("toks")
            ).collect()
        }
        for i, t in enumerate(texts):
            assert got[i] == analyzer_tokens_py(t), repr(t)

    check()


def test_analyzer_query_doc_parity_post_unicode13_codepoint(spark):
    """Pinned regression for the r6 finding: U+16A70 (TANGSA LETTER KA,
    a letter since Unicode 14.0, unassigned in 13.0) tokenizes
    differently under Java 17's tables vs CPython 3.11's — so a
    query-side Python twin would miss documents the JVM tokenized the
    other way. The production path analyzes BOTH sides with the same
    JVM expression, so retrieval parity holds on these codepoints
    REGARDLESS of which Unicode version the JVM ships (the assertion is
    version-independent: same expression on both sides)."""
    from bigdata_cookbook_spark.functions.text import (
        analyzer_tokens_expr,
        analyzer_tokens_jvm,
    )
    from bigdata_cookbook_spark.operators.retrieval import bm25_scores

    tangsa_word = "\U00016A70\U00016A71"  # two Tangsa letters
    text = f"alpha {tangsa_word} beta"
    # 1) the JVM query helper IS the document expression: identical output
    df = spark.createDataFrame([(0, text)], "doc_id int, text string")
    doc_toks = df.select(
        analyzer_tokens_expr(F.col("text")).alias("toks")
    ).collect()[0]["toks"]
    (query_toks,) = analyzer_tokens_jvm(spark, [text])
    assert list(doc_toks) == list(query_toks)
    # 2) end-to-end: querying with the Tangsa word scores the document
    #    whenever the JVM treats it as a token at all (Unicode>=14 JVMs);
    #    on Unicode-13 JVMs it analyzes to no token on BOTH sides — then
    #    a query of only that word raises (no alphanumeric tokens), and
    #    a mixed query still matches via the stable term. Either way the
    #    two sides agree — the silent-zero-score skew is impossible.
    scored = bm25_scores(df, ["alpha", tangsa_word], id_col="doc_id")
    assert scored.count() == 1
    assert scored.collect()[0]["score"] > 0


def test_clean_text_idempotent_random_unicode(spark):
    """clean_text_expr is idempotent (clean∘clean == clean) and its
    output never contains the stripped/folded code points — over random
    unicode including the control/zero-width/space planes it targets.
    Batched: hypothesis generates string lists, one Spark job per list."""
    from bigdata_cookbook_spark.functions.text import clean_text_expr

    alphabet = st.characters(
        blacklist_categories=("Cs",),  # no lone surrogates (invalid UTF-8)
    )

    @settings(max_examples=8, deadline=None)
    @given(st.lists(st.text(alphabet=alphabet, max_size=60), min_size=1, max_size=25))
    def check(texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "i long, t string"
        )
        once = df.select(
            "i", clean_text_expr(F.col("t")).alias("c1")
        ).withColumn("c2", clean_text_expr(F.col("c1")))
        for r in once.collect():
            assert r.c2 == r.c1  # idempotent
            assert "​" not in r.c1 and "﻿" not in r.c1
            assert "\x00" not in r.c1 and "\x0c" not in r.c1
            assert " " not in r.c1 and "　" not in r.c1
            assert "  " not in r.c1  # no residual whitespace runs
            assert r.c1 == r.c1.strip()

    check()


def test_connected_components_matches_union_find_random_graphs(spark):
    """Pointer-jumped CC (operators/graph.py) == a Python union-find
    reference over random edge lists — labels exactly the component
    minimum for every node, across topologies hypothesis invents
    (chains, cliques, stars, isolated pairs)."""
    from bigdata_cookbook_spark.operators.graph import connected_components

    @settings(max_examples=8, deadline=None)
    @given(
        st.lists(
            st.tuples(
                st.integers(min_value=0, max_value=60),
                st.integers(min_value=0, max_value=60),
            ),
            min_size=1,
            max_size=120,
        )
    )
    def check(edges):
        real = [(a, b) for a, b in edges if a != b]
        if not real:
            return
        parent: dict[int, int] = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in real:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {}
        for n in parent:
            comps = want.setdefault(find(n), [])
            comps.append(n)
        expect = {n: min(members) for root, members in want.items() for n in members}

        df = spark.createDataFrame(real, "src long, dst long")
        got = {
            r.node: r.component for r in connected_components(df).collect()
        }
        assert got == expect

    check()


def test_jaccard_df_cap_matches_python_reference(spark):
    """ngram_jaccard_pairs(df_cap=k) == brute-force Python Jaccard over
    the capped distinct-shingle sets, for random template-y corpora
    (high shared-shingle density — the regime the cap exists for)."""
    from bigdata_cookbook_spark.operators.dedup import ngram_jaccard_pairs

    vocab = ["the", "cat", "sat", "on", "mat", "dog", "ran", "far", "big", "sun"]

    @settings(max_examples=6, deadline=None)
    @given(
        st.lists(
            st.lists(st.sampled_from(vocab), min_size=3, max_size=12),
            min_size=2,
            max_size=14,
        ),
        st.integers(min_value=1, max_value=6),
    )
    def check(docs_tokens, cap):
        rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_tokens)]
        # python reference: distinct 3-gram sets, df-capped, exact jaccard
        sets = {
            i: {
                " ".join(toks[j : j + 3]) for j in range(len(toks) - 2)
            }
            for i, toks in enumerate(docs_tokens)
            if len(toks) >= 3
        }
        df_count: dict[str, int] = {}
        for s in sets.values():
            for sh in s:
                df_count[sh] = df_count.get(sh, 0) + 1
        capped = {
            i: {sh for sh in s if df_count[sh] <= cap} for i, s in sets.items()
        }
        expect = set()
        ids = sorted(capped)
        for ai in range(len(ids)):
            for bi in range(ai + 1, len(ids)):
                a, b = ids[ai], ids[bi]
                inter = len(capped[a] & capped[b])
                union = len(capped[a] | capped[b])
                if union and round(inter / union, 4) >= 0.5:
                    expect.add((a, b))

        got = {
            (r.doc_a, r.doc_b)
            for r in ngram_jaccard_pairs(
                spark.createDataFrame(rows, "doc_id long, text string"),
                threshold=0.5,
                df_cap=cap,
            ).collect()
        }
        assert got == expect

    check()


def test_repetition_metrics_match_python_reference(spark):
    """Engine repetition fractions == a direct Python reference
    (Counter over n-grams) on random token lists — pins the run-length
    aggregate against an independent formulation, including heavy-dup
    and all-distinct extremes."""
    import random
    from collections import Counter

    from bigdata_cookbook_spark.functions.text import (
        repetition_metrics_exprs,
        tokens_expr,
    )

    rng = random.Random(77)
    vocab = ["aa", "b", "ccc", "dd", "e"]
    rows = []
    for i in range(60):
        n_toks = rng.randint(10, 40)
        # vary dup pressure: small effective vocab -> heavy repetition
        eff = vocab[: rng.randint(1, len(vocab))]
        rows.append((i, " ".join(rng.choice(eff) for _ in range(n_toks))))

    def ref(tokens, n, kind):
        grams = [" ".join(tokens[i : i + n]) for i in range(len(tokens) - n + 1)]
        c = Counter(grams)
        tot = sum(cnt * len(g) for g, cnt in c.items())
        if kind == "top":
            val = max(cnt * len(g) for g, cnt in c.items())
        else:
            val = sum(cnt * len(g) for g, cnt in c.items() if cnt > 1)
        return round(val / tot, 4)

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    toksed = df.select("doc_id", "text", tokens_expr(F.col("text")).alias("toks"))
    m = repetition_metrics_exprs(F.col("toks"), top_ns=(2, 3), dup_ns=(2, 5))
    got = {
        r["doc_id"]: r
        for r in toksed.select(
            "doc_id", *[c.alias(k) for k, c in m.items()]
        ).collect()
    }
    for i, text in rows:
        toks = text.split()
        assert got[i]["top2gram_char_frac"] == ref(toks, 2, "top"), i
        assert got[i]["top3gram_char_frac"] == ref(toks, 3, "top"), i
        assert got[i]["dup2gram_char_frac"] == ref(toks, 2, "dup"), i
        assert got[i]["dup5gram_char_frac"] == ref(toks, 5, "dup"), i


def test_repetition_metrics_null_below_precondition(spark):
    """Short rows yield NULL metrics, never an error — the guarantee
    that makes the expressions safe under Catalyst filter-collapse."""
    from bigdata_cookbook_spark.functions.text import (
        repetition_keep_expr,
        repetition_metrics_exprs,
        tokens_expr,
    )

    df = spark.createDataFrame(
        [(1, "one two three"), (2, "a b c d e f g h i j k")],
        ["doc_id", "text"],
    )
    toksed = df.select("doc_id", tokens_expr(F.col("text")).alias("toks"))
    m = repetition_metrics_exprs(F.col("toks"))  # needs >= 10 tokens
    out = {
        r["doc_id"]: r
        for r in toksed.select(
            "doc_id",
            *[c.alias(k) for k, c in m.items()],
            repetition_keep_expr(m).alias("keep"),
        ).collect()
    }
    assert out[1]["dup10gram_char_frac"] is None
    # keep is NULL or False on a short row (small-n metrics may still
    # compute and fail a threshold) — never True, never an error
    assert out[1]["keep"] is not True
    assert out[2]["keep"] is not None


def test_repetition_stats_kernel_matches_expression_tier(spark):
    """The Arrow-batched NumPy kernel (repetition_stats_kernel) must
    produce bit-identical INTEGER best/dup/tot gram-char stats — and
    therefore bit-identical rounded metrics — to the expression
    reference (repetition_metrics_exprs) on randomized documents:
    heavy-dup and all-distinct extremes, multi-char/Unicode tokens,
    several docs per Arrow batch (counting isolation), and rows shorter
    than an n (0/0/0 -> NULL parity)."""
    import random

    from pyspark.sql import functions as F

    from bigdata_cookbook_spark.functions.text import (
        repetition_metrics_exprs,
        repetition_stats_kernel,
        tokens_expr,
    )

    rng = random.Random(4242)
    vocab = ["aa", "b", "ccc", "dd", "e", "ffff", "héllo", "naïve", "日本語"]
    rows = []
    for i in range(80):
        eff = vocab[: rng.randint(1, len(vocab))]
        rows.append(
            (i, " ".join(rng.choice(eff) for _ in range(rng.randint(10, 45))))
        )
    # boundary rows: exactly 10 tokens (one 10-gram), near-duplicates
    rows.append((900, " ".join(["aa"] * 10)))
    rows.append((901, " ".join(f"t{j}" for j in range(10))))
    # NULL/blank text: tokens_expr yields NULL — the kernel must treat
    # the None array as empty (guard), not crash the Arrow batch
    rows.append((902, None))
    rows.append((903, "   "))

    df = spark.createDataFrame(rows, ["doc_id", "text"])
    toksed = df.select(
        "doc_id", tokens_expr(F.col("text")).alias("toks")
    ).where(F.size("toks") >= 10)

    ns = (2, 3, 4, 5, 10)
    names = [f"top{n}gram_char_frac" for n in ns] + [
        f"dup{n}gram_char_frac" for n in ns
    ]
    # kernel path, rounded by the SAME JVM expressions the query uses
    stats = repetition_stats_kernel(toksed, ns=ns)
    kern_metrics = stats.select(
        "doc_id",
        *[
            F.round(
                F.col(f"best_{n}") / F.nullif(F.col(f"tot_{n}"), F.lit(0)), 4
            ).alias(f"top{n}gram_char_frac")
            for n in ns
        ],
        *[
            F.round(
                F.col(f"dup_{n}") / F.nullif(F.col(f"tot_{n}"), F.lit(0)), 4
            ).alias(f"dup{n}gram_char_frac")
            for n in ns
        ],
    )
    kern = {r["doc_id"]: r for r in kern_metrics.collect()}

    m = repetition_metrics_exprs(F.col("toks"), top_ns=ns, dup_ns=ns)
    expr = {
        r["doc_id"]: r
        for r in toksed.select(
            "doc_id", *[m[k].alias(k) for k in names]
        ).collect()
    }
    assert set(kern) == set(expr) and len(kern) >= 80
    for i in kern:
        for k in names:
            # exact double equality (or both NULL): both sides divide
            # the same longs and round in the JVM
            assert kern[i][k] == expr[i][k] or (
                kern[i][k] is None and expr[i][k] is None
            ), (i, k, kern[i][k], expr[i][k])

    # the in-kernel min_tokens filter == a JVM size(toks) >= k filter:
    # same surviving ids, same stats (Python len of the same array)
    unfiltered = df.select(
        "doc_id", tokens_expr(F.col("text")).alias("toks")
    )
    via_kernel = {
        r["doc_id"]: tuple(r)[1:]
        for r in repetition_stats_kernel(
            unfiltered, ns=ns, min_tokens=10
        ).collect()
    }
    via_jvm_filter = {
        r["doc_id"]: tuple(r)[1:]
        for r in repetition_stats_kernel(
            unfiltered.where(F.size("toks") >= 10), ns=ns
        ).collect()
    }
    assert via_kernel == via_jvm_filter


def test_script_counts_kernel_matches_expression_tier(spark):
    """script_profile (the Arrow counting kernel + JVM ratio
    expressions) must equal the regexp_replace expression reference
    (script_ratio_exprs) exactly — on mixed-script Unicode, empty,
    whitespace-only, embedded-NUL and NULL rows, across several docs
    per Arrow batch."""
    import random

    from pyspark.sql import functions as F

    from bigdata_cookbook_spark.functions.text import (
        script_profile,
        script_ratio_exprs,
    )

    rng = random.Random(31337)
    pools = [
        "abcXYZ", "0123", "А-бвГ".replace("-", ""), "例漢字語",
        "ابجد", " \t\n", ".,;!?", "é±€",
    ]
    rows = []
    for i in range(70):
        s = "".join(
            rng.choice(rng.choice(pools))
            for _ in range(rng.randint(0, 60))
        )
        rows.append((i, s))
    rows += [
        (900, ""),
        (901, "   \t\n  "),
        (902, "with\x00nul\x00chars ab0"),
        (903, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    ratios = script_ratio_exprs(F.col("text"))
    expr = {
        r["doc_id"]: tuple(r)[1:]
        for r in df.select(
            "doc_id", *[c.alias(f"r_{n}") for n, c in ratios.items()]
        ).collect()
    }

    kern = {r["doc_id"]: tuple(r)[1:] for r in script_profile(df).collect()}
    assert expr == kern


def _winnow_expression_tier(docs, k: int, w: int):
    """Pure Spark-expression formulation of the winnowing selection
    rule (no UDF): JVM split + HOF k-grams, md5 per gram, argmin per
    window as min(struct(hash, -position, gram)) — rightmost tie — with
    out-of-range lookups clamped to the last gram, then explode +
    distinct. Kept here as the independent JVM-side reference the
    Arrow kernel behind winnow_fingerprints is pinned against."""
    from bigdata_cookbook_spark.functions.text import let_bound

    def windows(g, h):
        n_win = F.greatest(F.size(g) - (w - 1), F.lit(1))
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_win),
                lambda s: F.array_min(
                    F.transform(
                        F.sequence(F.lit(0), F.lit(w - 1)),
                        lambda j: F.struct(
                            F.element_at(h, F.least(s + j, F.size(h))).alias("h"),
                            (-F.least(s + j, F.size(h))).alias("np"),
                            F.element_at(g, F.least(s + j, F.size(g))).alias("g"),
                        ),
                    )
                )["g"],
            )
        )

    def selected(t):
        grams = F.transform(
            F.sequence(F.lit(1), F.size(t) - (k - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(t, i + F.lit(j)) for j in range(k)]
            ),
        )
        return let_bound(
            grams,
            lambda g: let_bound(
                F.transform(g, lambda x: F.md5(F.encode(x, "UTF-8"))),
                lambda h: windows(g, h),
            ),
        )

    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    staged = (
        docs.where(
            F.col("text").isNotNull() & (F.length(F.trim(F.col("text"))) > 0)
        )
        .select("doc_id", toks.alias("__t"))
        .where(F.size("__t") >= k)
    )
    return staged.select(
        "doc_id", F.explode(let_bound(F.col("__t"), selected)).alias("gram")
    ).distinct()


def test_winnow_kernel_matches_expression_tier(spark):
    """winnow_fingerprints (the Arrow kernel) must emit EXACTLY the
    Spark-expression formulation's (doc_id, gram) row set — same md5
    digests, same rightmost-tie argmin, same short-doc clamp — on
    random corpora with heavy gram repetition (tie pressure), docs
    shorter than k (no rows), shorter than k+w-1 (single window),
    blank/whitespace-only and NULL rows, and Unicode tokens."""
    import random

    from bigdata_cookbook_spark.functions.text import winnow_fingerprints

    rng = random.Random(555)
    vocab = ["aa", "bb", "cc", "dd", "ALPHA", "héllo", "日本", "x"]
    rows = []
    for i in range(60):
        eff = vocab[: rng.randint(1, len(vocab))]
        rows.append(
            (i, " ".join(rng.choice(eff) for _ in range(rng.randint(0, 30))))
        )
    rows += [
        (900, "one two three four"),        # < k tokens: no rows
        (901, "a b c d e"),                 # exactly k: one window
        (902, "a b c d e f g"),             # < k+w-1: still one window
        (903, ""),
        (904, "   \t  "),
        (905, None),
        (906, " ".join(["dup"] * 20)),      # all grams identical: ties
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # sorted multisets, not sets: a duplicate (doc_id, gram) emission
    # from the kernel must show up as a mismatch
    expr_rows = sorted(
        (r["doc_id"], r["gram"])
        for r in _winnow_expression_tier(df, k=5, w=4).collect()
    )
    kern_rows = sorted(
        (r["doc_id"], r["gram"])
        for r in winnow_fingerprints(df, k=5, w=4).collect()
    )
    assert kern_rows == expr_rows
    assert any(d == 906 for d, _ in kern_rows)  # tie case produced a row


def test_sentence_budget_stats_kernel_matches_expression_tier(spark):
    """Round-12 optimization pin: sentence_budget_stats_kernel must
    emit identical (doc_id, total_tokens, within_budget,
    coverage_exact) rows to the expression-tier query form it
    replaced — on randomized sentence corpora plus the exact-parity
    edge rows: NULL/empty/blank text, tabs and Java-\\s exotica
    (\\x0b) INSIDE sentences (word-split + coverage semantics),
    leading/trailing separators, oversized sentences and oversized
    single words, and several budgets."""
    import random

    from pyspark.sql import functions as F

    from bigdata_cookbook_spark.functions.text import (
        bpe_token_count_expr,
        sentence_budget_chunks_expr,
        sentence_budget_stats_kernel,
    )

    rng = random.Random(777)
    words = ["the", "cat", "sat", "supercalifragilistic", "a1b2", "x",
             "don't", "héllo", "日本", "co-op", "42", "12345"]
    rows = []
    for i in range(60):
        n_sent = rng.randint(0, 6)
        sents = []
        for _ in range(n_sent):
            k = rng.randint(0, 14)
            sents.append(" ".join(rng.choice(words) for _ in range(k)))
        rows.append((i, ". ".join(sents)))
    rows += [
        (900, None),
        (901, ""),
        (902, "   "),
        (903, "..."),
        (904, ". . ."),
        (905, "no period at all just words"),
        (906, "word " * 50 + "."),                       # oversized sentence
        (907, "a\tb\tc d. next\x0bone here. ok."),       # Java \s inside
        (908, "\tleading tab. trailing tab\t."),          # trim is SPACE-only
        (909, "one two three. " * 10),
        (910, "supercalifragilisticexpialidocious" * 4 + "."),  # lone word
        (911, "Mixed CASE. With, punct! inside. ok."),
        (912, " .x. .y.  . z ."),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    for mx in (3, 8, 64):
        sentences = F.transform(
            F.filter(
                F.transform(F.split(F.col("text"), r"\."), lambda s: F.trim(s)),
                lambda s: s != F.lit(""),
            ),
            lambda s: F.concat(s, F.lit(".")),
        )
        chunks = sentence_budget_chunks_expr(F.col("text"), mx)
        staged = df.select(
            "doc_id", sentences.alias("__sents"), chunks.alias("__chunks")
        )
        total = F.aggregate(
            "__sents", F.lit(0), lambda a, s: a + bpe_token_count_expr(s)
        )
        within = F.forall(
            "__chunks",
            lambda c: (bpe_token_count_expr(c) <= F.lit(mx))
            | (F.instr(c, " ") == 0),
        )
        coverage = F.array_join("__chunks", " ") == F.array_join(
            "__sents", " "
        )
        expr_rows = {
            r["doc_id"]: (
                r["total_tokens"], r["within_budget"], r["coverage_exact"]
            )
            for r in staged.select(
                "doc_id",
                total.cast("int").alias("total_tokens"),
                within.alias("within_budget"),
                coverage.alias("coverage_exact"),
            ).collect()
        }
        kern_rows = {
            r["doc_id"]: (
                r["total_tokens"], r["within_budget"], r["coverage_exact"]
            )
            for r in sentence_budget_stats_kernel(df, mx).collect()
        }
        assert kern_rows == expr_rows, (
            mx,
            {k: (kern_rows[k], expr_rows[k])
             for k in kern_rows if kern_rows[k] != expr_rows[k]},
        )
    # the exotica rows actually exercised the interesting branches
    assert expr_rows[907][2] is not None
    assert expr_rows[900] == (None, None, None)


def test_summarize_pack_ids_match_pack_token_budget(spark):
    """hierarchical_summarize packs inside its Arrow task; its pack ids
    must equal pack_token_budget's chars4 rule (relational window
    cumsum) on the same texts in the kernel's order (ascending, NULLs
    first): NULL, empty, multi-byte (2-, 3- and 4-byte UTF-8 count one
    char each) and texts exactly one budget long, which put a pack's
    start offset exactly on the boundary."""
    from bigdata_cookbook_spark.llm.stage import pack_token_budget
    from bigdata_cookbook_spark.llm.summarize import _null_first, _pack_ids

    alphabet = "ab xé日😀"
    texts = st.one_of(st.none(), st.text(alphabet=alphabet, max_size=40))

    @settings(max_examples=8, deadline=None, derandomize=True)
    @given(st.lists(texts, max_size=30), st.integers(min_value=1, max_value=12))
    def check(rand, max_tokens):
        rows = rand + [None, None, "", "", "😀" * 4 * max_tokens, "ab" * 2 * max_tokens]
        df = spark.createDataFrame([("g", t) for t in rows], "grp string, text string")
        spark_ids = sorted(
            ((r["text"] is not None, r["text"] or ""), r["pack_id"])
            for r in pack_token_budget(
                df, ["grp"], "text", max_tokens, ["grp", "text"], estimator="chars4"
            ).collect()
        )
        ordered = sorted(rows, key=_null_first)
        kernel_ids = sorted(
            (_null_first(t), p) for t, p in zip(ordered, _pack_ids(ordered, max_tokens))
        )
        assert kernel_ids == spark_ids

    check()

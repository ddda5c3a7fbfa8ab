"""Tests: S5 tabular source, P1 display schema, P6 topic blacklist,
F4 wrap, F6 report blocks, F14 bisection, L9 intro reducer."""

from __future__ import annotations

import datetime

from pyspark.sql import functions as F

from bigdata_cookbook_spark.functions.text import (
    bisect_on_delimiter,
    format_report_block,
    wrap_text,
)
from bigdata_cookbook_spark.llm.summarize import reduce_summaries, stub_summarizer
from bigdata_cookbook_spark.operators.analytics import (
    to_display_schema,
    topic_blacklist_filter,
)
from bigdata_cookbook_spark.sources.tabular import read_sheet


def test_read_sheet_with_junk_header(spark, tmp_path):
    p = tmp_path / "sheet.csv"
    p.write_text(
        "Exported report,,\n"  # junk prologue row (like excel header=1)
        "Date,Narrative,Unnamed: 2\n"
        "2024-01-05,AI capex,x\n"
        "2024-02-06,Rate cuts,y\n"
    )
    df = read_sheet(
        spark, str(p), source_name="news", date_col="Date", header_offset=1
    )
    rows = df.orderBy("Date").collect()
    assert df.columns == ["Date", "Narrative", "source"]  # Unnamed dropped
    assert rows[0].Date == datetime.date(2024, 1, 5)
    assert rows[0].source == "news"
    assert rows[1].Narrative == "Rate cuts"


def test_to_display_schema(spark):
    df = spark.createDataFrame(
        [("ACME", "Tech", datetime.datetime(2024, 3, 7, 14, 0))],
        "entity_name string, entity_sector string, timestamp_utc timestamp",
    )
    out = to_display_schema(
        df,
        rename={"entity_name": "Company", "entity_sector": "Sector", "timestamp_utc": "Date"},
        ts_col="timestamp_utc",
    )
    r = out.head()
    assert set(out.columns) == {"Company", "Sector", "Date", "Time Period"}
    assert r["Time Period"] == "Mar 2024"
    assert r["Date"] == datetime.date(2024, 3, 7)


def test_topic_blacklist_filter(spark):
    df = spark.createDataFrame(
        [(["Acme", "inflation", "Fed", "noise"], ["COMP", "TOPI", "ORGA", "TOPI"])],
        "topics array<string>, topics_type array<string>",
    )
    out = topic_blacklist_filter(df, blacklist=["noise"]).head()
    assert out.topics == ["inflation", "Fed"]  # COMP + blacklisted dropped
    assert out.topics_type == ["TOPI", "ORGA"]
    # empty blacklist still drops COMP
    out2 = topic_blacklist_filter(df, blacklist=[]).head()
    assert out2.topics == ["inflation", "Fed", "noise"]


def test_wrap_text():
    s = "alpha beta gamma delta epsilon"
    assert wrap_text(s, width=11) == "alpha beta<br>gamma delta<br>epsilon"
    assert wrap_text("", width=10) == ""
    assert wrap_text("word", width=2) == "word"  # single long word not split


def test_format_report_block_and_reduce():
    b = format_report_block("body", 2)
    assert b.startswith("--- Report 2 Start ---\nbody")
    out = reduce_summaries(["s1", "s2"])
    assert out == stub_summarizer(
        [format_report_block("s1", 1), format_report_block("s2", 2)]
    )


def test_bisect_on_delimiter():
    left, right = bisect_on_delimiter("One. Two longer sentence. Three.")
    assert left + right == "One. Two longer sentence. Three."
    assert left.endswith(".")
    # no delimiter: hard split at midpoint
    left2, right2 = bisect_on_delimiter("abcdefgh", delimiters=".")
    assert (left2, right2) == ("abcd", "efgh")
    assert bisect_on_delimiter("x") == ("x", "")


def test_corpus_clean_lsh_near_dup_tier(spark, sf_dir):
    """Round-10: the batch twin of the streaming pipeline's near_dup
    option. The LSH funnel (band candidates -> exact verify) must drop
    a non-empty SUBSET of the exact tier's near-dup losers (banding
    recall < 1 is the documented trade; verification guarantees no
    false drops), with every other bucket unchanged and the accounting
    partition still exact."""
    from bigdata_cookbook_spark.operators.corpus import corpus_clean
    from bigdata_cookbook_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    exact = corpus_clean(docs)
    lsh = corpus_clean(docs, near_dup="lsh")

    def ids(df):
        return {r.doc_id for r in df.select("doc_id").collect()}

    exact_losers = ids(exact["dropped_neardup"])
    lsh_losers = ids(lsh["dropped_neardup"])
    assert lsh_losers  # the fixture corpus plants near-dup clones
    assert lsh_losers <= exact_losers
    # verification at the same threshold: no false drops means the
    # quality/exact buckets are identical and kept = exact kept plus
    # exactly the candidates banding missed
    assert ids(lsh["dropped_quality"]) == ids(exact["dropped_quality"])
    assert ids(lsh["dropped_exact"]) == ids(exact["dropped_exact"])
    assert ids(lsh["kept"]) == ids(exact["kept"]) | (exact_losers - lsh_losers)
    # the accounting partition stays exact in lsh mode too
    n_total = docs.count()
    assert (
        lsh["kept"].count()
        + lsh["dropped_quality"].count()
        + lsh["dropped_exact"].count()
        + lsh["dropped_neardup"].count()
        == n_total
    )


def test_corpus_clean_lsh_candidates_checkpointed_once(spark, sf_dir):
    """Round-11 pin: the LSH tier's candidate pair list must be
    materialized (lazy localCheckpoint), not left as a lazy banding
    DAG — the verify stage references it from three places and every
    accounting action re-triggers it, which re-executed the banding
    DAG multiplicatively at the sf10 capstone (491 s marginal vs 62 s
    checkpointed, BASELINE.md section K). The checkpoint shows up as a
    truncated ExistingRDD scan in the kept plan after an action, and
    the banding lineage (the MinHashed band join) must NOT."""
    from bigdata_cookbook_spark.operators.corpus import corpus_clean
    from bigdata_cookbook_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    lsh = corpus_clean(docs, near_dup="lsh")
    # an action materializes the lazy checkpoint
    lsh["dropped_neardup"].count()
    plan = lsh["kept"]._jdf.queryExecution().executedPlan().toString()
    assert "ExistingRDD" in plan, plan[:2000]
    # the banding DAG itself must be gone from the post-checkpoint
    # lineage: the checkpoint truncates it to the opaque RDD scan, so
    # the band/bucket columns of minhash_lsh_candidates never appear in
    # the kept plan (they would if the lazy DAG were still inlined)
    assert "band" not in plan.lower(), plan[:2000]


def test_corpus_clean_spine_checkpointed_no_rescans(spark, sf_dir):
    """Round-11 optimization pin: corpus_clean materializes its spine
    at both fan-out points (after the quality filter, after the
    exact-dedup keeper join), so the kept plan reads checkpointed RDDs
    and contains ZERO parquet scans — before the change the scan +
    quality battery + exact dedup re-executed once per consumer (12
    parquet scans in the kept plan at the registry configuration)."""
    from bigdata_cookbook_spark.operators.corpus import corpus_clean
    from bigdata_cookbook_spark.plans.explain import explain_str
    from bigdata_cookbook_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = corpus_clean(docs)
    plan = explain_str(out["kept"])
    assert "Scan parquet" not in plan, plan[:2000]
    assert "localCheckpoint" in plan, plan[:2000]
    # the kept plan reads ONE checkpoint (the exact-dedup keeper set;
    # the quality-spine checkpoint sits inside its truncated lineage)
    import re

    cp_ids = set(re.findall(r"MapPartitionsRDD\[\d+\] at localCheckpoint", plan))
    assert len(cp_ids) == 1, cp_ids
    # the quality-spine checkpoint is visible where `passed` is
    # consumed directly: the exact-drop accounting output
    de_plan = explain_str(out["dropped_exact"])
    assert "Scan parquet" not in de_plan, de_plan[:2000]
    de_ids = set(re.findall(r"MapPartitionsRDD\[\d+\] at localCheckpoint", de_plan))
    assert len(de_ids) == 1 and de_ids != cp_ids, (de_ids, cp_ids)


def test_jaccard_verify_pairs_immune_to_duplicate_candidates(spark):
    """Round-10 self-review pin: a duplicated candidate pair must not
    inflate n_common through the expand join (jaccard could exceed 1
    and false-drop) — the function dedups the pair list itself instead
    of relying on caller discipline."""
    from bigdata_cookbook_spark.operators.dedup import jaccard_verify_pairs

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j"),
            (2, "a b c d e x y z w v"),
        ],
        "doc_id long, text string",
    )
    once = spark.createDataFrame([(1, 2)], "doc_a long, doc_b long")
    thrice = once.unionByName(once).unionByName(once)
    r1 = {(r.doc_a, r.doc_b): r.jaccard for r in jaccard_verify_pairs(docs, once, threshold=0.0).collect()}
    r3 = {(r.doc_a, r.doc_b): r.jaccard for r in jaccard_verify_pairs(docs, thrice, threshold=0.0).collect()}
    assert r1 == r3
    assert all(0.0 <= v <= 1.0 for v in r1.values())


def test_corpus_clean_rejects_df_cap_with_lsh(spark, sf_dir):
    """jaccard_df_cap shapes WHICH pairs qualify on the exact tier's
    within-batch self-join; silently ignoring it under near_dup='lsh',
    or next to a shingle_state whose cross-batch join scores uncapped
    sets, would break the drops-are-what-you-ran contract — every such
    combination fails loud."""
    import pytest as _pytest

    from bigdata_cookbook_spark.operators.corpus import (
        corpus_clean,
        incremental_corpus_clean,
    )
    from bigdata_cookbook_spark.sources.testdata import load_table
    from bigdata_cookbook_spark.streaming.pipeline import streaming_corpus_clean

    docs = load_table(spark, sf_dir, "documents")
    with _pytest.raises(ValueError, match="jaccard_df_cap"):
        corpus_clean(docs, near_dup="lsh", jaccard_df_cap=20)
    state = incremental_corpus_clean(docs)["new_shingles"]
    with _pytest.raises(ValueError, match="jaccard_df_cap"):
        incremental_corpus_clean(docs, shingle_state=state, jaccard_df_cap=20)
    # the streaming tier rejects it before the stream starts, not at the
    # second micro-batch
    with _pytest.raises(ValueError, match="jaccard_df_cap"):
        streaming_corpus_clean(docs, "state", "out", "ckpt", jaccard_df_cap=20)


def test_corpus_clean_rejects_unknown_near_dup_tier(spark, sf_dir):
    import pytest as _pytest

    from bigdata_cookbook_spark.operators.corpus import corpus_clean
    from bigdata_cookbook_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    with _pytest.raises(ValueError, match="near_dup"):
        corpus_clean(docs, near_dup="simhash")


def test_jaccard_verify_pairs_matches_exact_on_candidates(spark, sf_dir):
    """The verify kernel scores candidate pairs with the SAME Jaccard
    as ngram_jaccard_pairs: feeding it the exact tier's own pairs must
    reproduce their scores bit-for-bit (round-trip through the bounded
    candidate-keyed join instead of the inverted-index self-join)."""
    from bigdata_cookbook_spark.operators.corpus import quality_exprs
    from bigdata_cookbook_spark.operators.dedup import (
        jaccard_verify_pairs,
        ngram_jaccard_pairs,
    )
    from bigdata_cookbook_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    exact = ngram_jaccard_pairs(docs, threshold=0.5)
    got = jaccard_verify_pairs(
        docs, exact.select("doc_a", "doc_b"), threshold=0.5
    )
    e = {(r.doc_a, r.doc_b): r.jaccard for r in exact.collect()}
    g = {(r.doc_a, r.doc_b): r.jaccard for r in got.collect()}
    assert e and e == g


def test_corpus_clean_accounting(spark, sf_dir):
    from bigdata_cookbook_spark.operators.corpus import corpus_clean
    from bigdata_cookbook_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = corpus_clean(docs)
    n_total = docs.count()
    n_kept = out["kept"].count()
    n_q = out["dropped_quality"].count()
    n_e = out["dropped_exact"].count()
    n_n = out["dropped_neardup"].count()
    # every doc lands in exactly one bucket (lang column has no nulls)
    assert n_kept + n_q + n_e + n_n == n_total
    assert n_kept > 0 and n_q > 0  # pipeline actually filters
    # kept set is exact-dup free: all texts unique
    kept_ids = out["kept"].select("doc_id")
    kept_docs = docs.join(kept_ids, "doc_id", "left_semi")
    assert kept_docs.select("text").distinct().count() == n_kept
    # no drop bucket overlaps another
    for a, b in (
        ("dropped_quality", "dropped_exact"),
        ("dropped_quality", "dropped_neardup"),
        ("dropped_exact", "dropped_neardup"),
    ):
        assert out[a].join(out[b], "doc_id", "inner").count() == 0


def test_profile_columns_counts_nulls(spark):
    from pyspark.sql import Row

    from bigdata_cookbook_spark.operators.profile import profile_columns

    df = spark.createDataFrame(
        [
            Row(a=1, b="x", c=2.5),
            Row(a=None, b="y", c=None),
            Row(a=3, b=None, c=2.5),
            Row(a=1, b="x", c=0.5),
        ]
    )
    out = {r["column"]: r for r in profile_columns(df).collect()}
    assert set(out) == {"a", "b", "c"}
    assert all(r["n_rows"] == 4 for r in out.values())
    assert (out["a"]["n_nulls"], out["a"]["n_distinct"]) == (1, 2)
    assert (out["b"]["n_nulls"], out["b"]["n_distinct"]) == (1, 2)
    assert (out["c"]["n_nulls"], out["c"]["n_distinct"]) == (1, 2)
    # native-type ordering, not lexical: min of c is 0.5 even though
    # "0.5" < "2.5" happens to agree; a lexical min of [2.5, 10.5] would
    # be "10.5" — pin with the numeric column a: min 1, max 3
    assert (out["a"]["min_value"], out["a"]["max_value"]) == ("1", "3")
    assert (out["c"]["min_value"], out["c"]["max_value"]) == ("0.5", "2.5")


def test_gopher_quality_edges(spark):
    """Gopher metrics edge behavior: null text -> null metrics/flag;
    blank text -> the single-empty-token degenerate (dropped by keep);
    symbol soup and low-uniqueness repetition are rejected; normal prose
    survives."""
    from pyspark.sql import functions as F

    from bigdata_cookbook_spark.functions.text import (
        gopher_keep_expr,
        gopher_quality_exprs,
        tokens_expr,
    )

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "buy buy buy buy buy buy buy buy buy buy"),  # repetition
            (3, "#### **** …… 1234 5678 #### **** 9999"),  # symbol/number soup
            (4, "   "),
            (5, None),
        ],
        "id int, text string",
    )
    toksed = df.select("id", "text", tokens_expr(F.col("text")).alias("toks"))
    m = gopher_quality_exprs(F.col("toks"), F.col("text"))
    out = {
        r["id"]: r
        for r in toksed.select(
            "id", *[c.alias(k) for k, c in m.items()], gopher_keep_expr(m).alias("keep")
        ).collect()
    }
    assert out[1]["keep"] is True
    assert out[2]["keep"] is False and out[2]["unique_word_ratio"] < 0.3
    assert out[3]["keep"] is False and out[3]["alpha_word_ratio"] < 0.8
    assert out[4]["keep"] is False  # blank -> one empty token, no letters
    assert out[5]["keep"] is None and out[5]["n_tokens"] is None


def test_bm25_hand_computed(spark):
    """BM25 against a hand-computed value and the axioms: higher tf wins,
    shorter doc wins at equal tf, non-matching docs absent."""
    import math

    from bigdata_cookbook_spark.operators.retrieval import bm25_scores, bm25_topk

    docs = spark.createDataFrame(
        [
            (1, "spark spark spark row row"),      # tf=3, dl=5
            (2, "spark row row row row"),          # tf=1, dl=5
            (3, "spark row"),                      # tf=1, dl=2
            (4, "row row row"),                    # no match
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r["score"] for r in bm25_scores(docs, ["spark"]).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1] > out[2]          # tf monotone
    assert out[3] > out[2]          # length normalization
    n, df, avgdl, k1, b = 4, 3, 15 / 4, 1.2, 0.75
    idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
    tf, dl = 3, 5
    expect = idf * (tf * (k1 + 1)) / (tf + k1 * (1 - b + b * dl / avgdl))
    assert abs(out[1] - round(expect, 4)) < 1e-9
    top = bm25_topk(docs, ["spark"], k=2).collect()
    assert [r["doc_id"] for r in top] == [1, 3]
    assert [r["rank"] for r in top] == [1, 2]


def test_bm25_single_tokenize_pass_checkpoint(spark):
    """Round-11 optimization pin: bm25_scores materializes its narrow
    tf table (lazy localCheckpoint), so BOTH consumers — the stats
    broadcast build and the hits path — read the SAME checkpointed RDD
    and the tokenize projection appears nowhere in the physical plan
    (it ran once, inside the checkpoint). Before the change the plan
    carried two copies of the tokenize+array_remove battery — two full
    corpus reads per query."""
    from bigdata_cookbook_spark.operators.retrieval import bm25_scores
    from bigdata_cookbook_spark.plans.explain import explain_str

    docs = spark.createDataFrame(
        [(i, f"spark row {i}") for i in range(20)], "doc_id int, text string"
    )
    plan = explain_str(bm25_scores(docs, ["spark"]))
    # the tokenize/tf battery is fully behind the checkpoint
    assert "array_remove" not in plan, plan
    # both branches scan the checkpointed RDD — two ExistingRDD scans,
    # one shared MapPartitionsRDD (the localCheckpoint target); count
    # the formatted detail entries ("(n) Scan ExistingRDD"), which list
    # each node exactly once
    import re

    assert len(re.findall(r"\(\d+\) Scan ExistingRDD", plan)) == 2, plan
    rdd_ids = set(re.findall(r"MapPartitionsRDD\[\d+\]", plan))
    assert len(rdd_ids) == 1, rdd_ids
    # and the values are unchanged by the materialization
    out = {r["doc_id"]: r["score"] for r in bm25_scores(docs, ["spark"]).collect()}
    assert len(out) == 20


def test_tfidf_single_tokenize_pass_checkpoint(spark):
    """Round-11 optimization pin: tfidf_top_terms materializes its
    collapsed (doc, term, tf) table once (lazy localCheckpoint), so the
    df aggregate and the join's left side read the SAME checkpointed
    RDD — before the change the optimizer pruned tf's count from the
    df branch (turning its pre-shuffle aggregate into a bare distinct),
    ReuseExchange could not match the two subtrees, and the
    tokenize+explode corpus pass ran twice."""
    import re

    from bigdata_cookbook_spark.operators.retrieval import tfidf_top_terms
    from bigdata_cookbook_spark.plans.explain import explain_str

    docs = spark.createDataFrame(
        [(i, f"alpha beta word{i}") for i in range(20)],
        "doc_id int, text string",
    )
    plan = explain_str(tfidf_top_terms(docs, k=2))
    # the tokenize+explode battery is fully behind the checkpoint: the
    # two checkpoint consumers scan ONE shared localCheckpoint RDD (the
    # third ExistingRDD scan is the column-pruned N count over the
    # local-relation source), and explode appears at most once (inside
    # the checkpointed subtree's own lineage, never duplicated)
    cp_ids = re.findall(r"MapPartitionsRDD\[\d+\] at localCheckpoint", plan)
    assert len(cp_ids) == 2, plan
    assert len(set(cp_ids)) == 1, cp_ids
    assert len(re.findall(r"explode", plan)) <= 1, plan
    # and the values are unchanged by the materialization
    rows = tfidf_top_terms(docs, k=2).collect()
    assert {r["doc_id"] for r in rows} == set(range(20))
    for r in rows:
        assert r["rank"] in (1, 2)


def test_bm25_analyzer_punctuation_case(spark):
    """The retrieval analyzer makes "Spark," / "SPARK!" / "spark" one
    term, and a hyphenated query term contributes each analyzed word;
    punctuated and clean corpora score identically."""
    from bigdata_cookbook_spark.operators.retrieval import bm25_scores

    punct = spark.createDataFrame(
        [
            (1, "Spark, SPARK! (spark) — row/row"),
            (2, "spark; row. Row? row... ROW"),
            (3, "no match here"),
        ],
        "doc_id int, text string",
    )
    clean = spark.createDataFrame(
        [
            (1, "spark spark spark row row"),
            (2, "spark row row row row"),
            (3, "no match here"),
        ],
        "doc_id int, text string",
    )
    got = {r["doc_id"]: r["score"] for r in bm25_scores(punct, ["Spark"]).collect()}
    want = {r["doc_id"]: r["score"] for r in bm25_scores(clean, ["spark"]).collect()}
    assert got == want and set(got) == {1, 2}
    # multi-word query term is analyzed into its words
    hy = {
        r["doc_id"]: r["score"]
        for r in bm25_scores(punct, ["spark-row"]).collect()
    }
    two = {
        r["doc_id"]: r["score"]
        for r in bm25_scores(punct, ["spark", "row"]).collect()
    }
    assert hy == two
    import pytest as _pytest

    with _pytest.raises(ValueError, match="no alphanumeric"):
        bm25_scores(punct, ["!!", "--"])


def test_rrf_fuse_edges(spark):
    """RRF fusion: absent ids contribute 0 from that list, 3-way fusion
    sums all lists, k shifts the denominator."""
    from bigdata_cookbook_spark.operators.retrieval import rrf_fuse

    a = spark.createDataFrame([(1, 1), (2, 2)], "doc_id int, rank int")
    b = spark.createDataFrame([(2, 1), (3, 2)], "doc_id int, rank int")
    c = spark.createDataFrame([(3, 1)], "doc_id int, rank int")
    out = {r["doc_id"]: r["rrf"] for r in rrf_fuse([a, b, c], k=60).collect()}
    assert out[1] == round(1 / 61, 6)
    assert out[2] == round(1 / 62 + 1 / 61, 6)
    assert out[3] == round(1 / 62 + 1 / 61, 6)
    out10 = {r["doc_id"]: r["rrf"] for r in rrf_fuse([a], k=10).collect()}
    assert out10[1] == round(1 / 11, 6)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        rrf_fuse([])


def test_gaussian_smooth_series_shorter_than_kernel(spark):
    """W7 boundary rule (declared engine semantics, see gaussian_smooth
    docstring): out-of-range taps are DROPPED and the kernel renormalized
    over in-range weights — no reflect padding. Pinned on a series of 3
    points against a sigma=2 kernel (17 taps, radius 8 >> series), checked
    against a hand-computed truncation AND the DuckDB twin of the oracle's
    window SQL, so the engine, the declared rule, and the oracle agree on
    the all-edge case."""
    import duckdb
    from pyspark.sql import functions as F

    from bigdata_cookbook_spark.operators.analytics import (
        gaussian_kernel,
        gaussian_smooth,
    )

    vals = [10.0, 40.0, 25.0]
    df = spark.createDataFrame(
        [("a", i, v) for i, v in enumerate(vals)], "grp string, pos int, cnt double"
    )
    out = gaussian_smooth(df, ["grp"], [F.col("pos").asc()], "cnt", sigma=2.0)
    got = [round(r.smoothed, 6) for r in out.orderBy("pos").collect()]

    radius = 8
    kernel = gaussian_kernel(2.0, radius)
    want = []
    for p in range(len(vals)):
        num = den = 0.0
        for i, wt in zip(range(-radius, radius + 1), kernel):
            if 0 <= p + i < len(vals):
                num += wt * vals[p + i]
                den += wt
        want.append(round(num / den, 6))
    assert got == want

    num_terms, den_terms = [], []
    for i, wt in zip(range(-radius, radius + 1), kernel):
        nb = "cnt" if i == 0 else (
            f"LAG(cnt, {-i}) OVER w" if i < 0 else f"LEAD(cnt, {i}) OVER w"
        )
        num_terms.append(f"CASE WHEN {nb} IS NOT NULL THEN {wt!r} * {nb} ELSE 0 END")
        den_terms.append(f"CASE WHEN {nb} IS NOT NULL THEN {wt!r} ELSE 0 END")
    rows = duckdb.sql(
        f"""
        WITH s(grp, pos, cnt) AS (VALUES ('a', 0, 10.0), ('a', 1, 40.0), ('a', 2, 25.0))
        SELECT ROUND(({' + '.join(num_terms)}) / ({' + '.join(den_terms)}), 6) AS sm
        FROM s WINDOW w AS (PARTITION BY grp ORDER BY pos ASC) ORDER BY pos
        """
    ).fetchall()
    assert [r[0] for r in rows] == want


def test_contamination_pairs_planted_dup(spark):
    """A train doc embedding an eval doc verbatim scores containment 1.0;
    self-pairs are excluded; disjoint docs never pair."""
    from bigdata_cookbook_spark.operators.dedup import contamination_pairs

    eval_text = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens = one 8-gram
    rows = [
        (1, eval_text),                                  # eval doc (also in corpus)
        (2, "prefix words " + eval_text + " suffix tail"),  # contains it fully
        (3, "totally different words with no overlap at all here"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ev = df.filter("doc_id = 1")
    got = {
        (r.train_id, r.eval_id): r.containment
        for r in contamination_pairs(df, ev, n=8, threshold=0.3).collect()
    }
    assert got == {(2, 1): 1.0}

    # broadcast_eval=False (eval side too big for the broadcast contract):
    # identical results, and the shingle-index join runs as a shuffle
    # hash join instead of the force-broadcast. (AQE may still broadcast
    # the tiny per-eval-doc COUNT side — that one is size-gated, not
    # forced, which is the behavior the flag exists to restore.)
    nb = contamination_pairs(df, ev, n=8, threshold=0.3, broadcast_eval=False)
    got_nb = {(r.train_id, r.eval_id): r.containment for r in nb.collect()}
    assert got_nb == got
    plan = nb._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin [sh" in plan
    assert "BroadcastHashJoin [sh" not in plan


def test_length_curriculum_buckets_are_balanced_and_monotone(spark, sf_dir):
    from bigdata_cookbook_spark.operators.corpus import length_curriculum
    from bigdata_cookbook_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = length_curriculum(docs, n_buckets=8).collect()
    by_bucket = {}
    for r in out:
        by_bucket.setdefault(r.bucket, []).append(r.n_tokens)
    assert set(by_bucket) == set(range(1, 9))
    sizes = [len(v) for _, v in sorted(by_bucket.items())]
    assert max(sizes) - min(sizes) <= 1  # equal-population tiles
    # monotone: every token count in bucket k <= every count in bucket k+1
    for k in range(1, 8):
        assert max(by_bucket[k]) <= min(by_bucket[k + 1])


def test_char_bigram_perplexity_hand_computed(spark):
    """Two-doc corpus, hand-computed add-one-smoothed bigram model:
    'abab' -> bigrams ab,ba,ab; 'xy' -> xy. Counts: ab=2, ba=1, xy=1
    (N=4, V=3). The doc repeating common bigrams scores LOWER perplexity
    than the one-off doc."""
    import math

    from bigdata_cookbook_spark.operators.corpus import char_bigram_perplexity

    df = spark.createDataFrame(
        [(1, "abab"), (2, "xy"), (3, None), (4, " ")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in char_bigram_perplexity(df).collect()}
    assert set(got) == {1, 2}  # null/blank docs drop
    p = {"ab": (2 + 1) / 7, "ba": (1 + 1) / 7, "xy": (1 + 1) / 7}
    want1 = round(math.exp(-(2 * math.log(p["ab"]) + math.log(p["ba"])) / 3), 4)
    want2 = round(math.exp(-math.log(p["xy"])), 4)
    assert got[1].n_bigrams == 3 and abs(got[1].perplexity - want1) < 1e-9
    assert got[2].n_bigrams == 1 and abs(got[2].perplexity - want2) < 1e-9
    assert got[1].perplexity < got[2].perplexity


def test_char_bigram_perplexity_matches_two_pass_form(spark):
    """Round-12 parity pin: the single-explode histogram composition in
    char_bigram_perplexity must match the retained two-pass stream-static
    form (score_char_bigram_perplexity over _char_bigrams + the trained
    model) doc for doc — n_bigrams exactly, perplexity at the declared
    ROUND(4) (the reassociated k-weighted mean is the same real number;
    this pins that float reassociation stays inside the rounding).
    Seeded corpus with repeated bigrams, unicode (incl. multi-char case
    mappings), whitespace exotica, null/blank/1-char drops."""
    import random

    from bigdata_cookbook_spark.operators.corpus import (
        _char_bigrams,
        char_bigram_perplexity,
        score_char_bigram_perplexity,
        train_char_bigram_lm,
    )

    rng = random.Random(0xC1B2)
    alphabet = "abcdefgh АБвг中文ñİß😀 \t"
    rows = [(i, "".join(rng.choice(alphabet) for _ in range(rng.randint(2, 80))))
            for i in range(200)]
    rows += [(200, None), (201, ""), (202, "   "), (203, "x"),
             (204, "abababababab"), (205, "  ab  ")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    new = {r.doc_id: r for r in char_bigram_perplexity(df).collect()}
    cnt, tot = train_char_bigram_lm(df)
    old = {
        r.doc_id: r
        for r in score_char_bigram_perplexity(_char_bigrams(df), cnt, tot).collect()
    }
    assert set(new) == set(old) and 200 <= len(new)
    for k in new:
        assert new[k].n_bigrams == old[k].n_bigrams
        assert new[k].perplexity == old[k].perplexity, k


def test_minhash_lsh_candidates_matches_bucket_self_join(spark, sf_dir):
    """Round-12 parity pin: the groupBy + positional pair-expansion form
    of minhash_lsh_candidates must emit EXACTLY the pair set of the
    bucket self-join it replaced (same banded table, join on
    band+key columns with doc_a < doc_b, distinct)."""
    from bigdata_cookbook_spark.operators.dedup import (
        minhash_band_buckets,
        minhash_lsh_candidates,
    )
    from bigdata_cookbook_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    got = {(r.doc_a, r.doc_b) for r in minhash_lsh_candidates(docs).collect()}

    banded = minhash_band_buckets(docs, "text", "doc_id", 3, 12, 2)
    a = banded.alias("a")
    b = banded.alias("b")
    ref = {
        (r.doc_a, r.doc_b)
        for r in a.join(
            b,
            (F.col("a.k0") == F.col("b.k0"))
            & (F.col("a.k1") == F.col("b.k1"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
        .collect()
    }
    assert got == ref and len(got) > 0
    assert all(x < y for x, y in got)


def test_corpus_clean_decontamination_stage(spark, sf_dir):
    """corpus_clean(eval_df=...) drops contaminated survivors LAST and
    accounts for them. The stage must NOT be a no-op: when the eval set
    is a subset of the corpus, every eval doc that survives the dedup
    stages is its own worst contaminator (containment 1.0, same id) and
    MUST be dropped — kept is disjoint from the eval id set."""
    from bigdata_cookbook_spark.operators.corpus import corpus_clean
    from bigdata_cookbook_spark.sources.testdata import load_table

    docs = load_table(spark, sf_dir, "documents")
    ev = docs.filter(F.col("doc_id") % 7 == 0)
    ev_ids = {r.doc_id for r in ev.select("doc_id").collect()}
    base = corpus_clean(docs)
    decon = corpus_clean(docs, eval_df=ev, contamination_threshold=0.3)
    kept_base = {r.doc_id for r in base["kept"].collect()}
    kept_decon = {r.doc_id for r in decon["kept"].collect()}
    dropped = {r.doc_id for r in decon["dropped_contaminated"].collect()}
    assert kept_decon == kept_base - dropped
    assert kept_decon.isdisjoint(dropped)
    assert "dropped_contaminated" not in base
    # non-vacuous: eval docs that survived dedup were in kept_base (long
    # enough to shingle) and must now be gone
    survived_eval = kept_base & ev_ids
    assert survived_eval, "fixture produced no surviving eval docs"
    assert survived_eval <= dropped
    assert kept_decon.isdisjoint(ev_ids)


def test_bpe_token_count_hand_cases(spark):
    """BPE-ish pretokenizer count pinned against Python re on the same
    pattern, plus hand-verified boundary behavior: contraction suffixes
    split, digit runs cap at 3, punctuation runs are one token."""
    import re

    from bigdata_cookbook_spark.functions.text import (
        BPE_TOKEN_PATTERN,
        bpe_token_count_expr,
    )

    cases = [
        "Hello world, it's 2026!",
        "costs $1,234.56 -- really?",
        "a",
        "12345678",          # 8 digits -> 3+3+2 = 3 tokens
        "don't stop",
        "  spaced   out  ",
        "a\x0bb",            # vertical tab: NOT whitespace in the pattern
        "a\xa0b",            # NBSP: ditto — engine-divergence probes
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(cases)], "i long, t string")
    got = {r.i: r.n for r in df.select("i", bpe_token_count_expr(F.col("t")).alias("n")).collect()}
    for i, t in enumerate(cases):
        assert got[i] == len(re.findall(BPE_TOKEN_PATTERN, t.lower())), t
    assert got[3] == 3  # digit-run capping


def test_incremental_exact_dedup_two_batches(spark):
    """Batch 2 docs whose text arrived in batch 1 are dropped; state
    grows; within-batch dup keeps min id."""
    from bigdata_cookbook_spark.operators.dedup import incremental_exact_dedup

    b1 = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma delta"), (3, "alpha beta")],
        "doc_id long, text string",
    )
    r1 = incremental_exact_dedup(b1)
    kept1 = {r.doc_id for r in r1["kept"].collect()}
    assert kept1 == {1, 2}  # 3 is a within-batch dup of 1
    assert r1["seen_hashes"].count() == 2

    b2 = spark.createDataFrame(
        [(10, "alpha beta"), (11, "epsilon zeta"), (12, "epsilon zeta")],
        "doc_id long, text string",
    )
    r2 = incremental_exact_dedup(b2, r1["seen_hashes"])
    kept2 = {r.doc_id for r in r2["kept"].collect()}
    assert kept2 == {11}  # 10 seen in batch 1; 12 within-batch dup of 11
    assert r2["seen_hashes"].count() == 3
    # idempotence: replaying batch 2 against the new state keeps nothing
    r3 = incremental_exact_dedup(b2, r2["seen_hashes"])
    assert r3["kept"].count() == 0


def test_incremental_lsh_candidates_cross_batch(spark):
    """A batch-2 doc near-identical to a batch-1 doc pairs with it via
    the persisted bucket state — without re-signing batch 1; and the
    within+cross incremental candidates over two batches cover the
    all-at-once candidates on the union."""
    from bigdata_cookbook_spark.operators.dedup import (
        incremental_lsh_candidates,
        minhash_lsh_candidates,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    b1 = spark.createDataFrame(
        [(1, base), (2, "completely different words about spark shuffles here")],
        "doc_id long, text string",
    )
    r1 = incremental_lsh_candidates(b1)
    b2 = spark.createDataFrame(
        [(10, base + " tonight"), (11, "unrelated third topic entirely novel")],
        "doc_id long, text string",
    )
    r2 = incremental_lsh_candidates(b2, r1["buckets"])
    pairs = {(r.doc_a, r.doc_b) for r in r2["candidates"].collect()}
    assert (1, 10) in pairs  # cross-batch near-dup found via state (least-id-first)
    # parity: batch-wise incremental covers the all-at-once union pairs,
    # in the same least-id-first orientation — no sorting needed
    allpairs = {
        (r[0], r[1]) for r in minhash_lsh_candidates(b1.unionByName(b2)).collect()
    }
    inc_all = pairs | {(r.doc_a, r.doc_b) for r in r1["candidates"].collect()}
    assert allpairs <= inc_all
    # replay safety: re-running batch 2 against the updated state adds no
    # state rows and never pairs a doc with itself
    r3 = incremental_lsh_candidates(b2, r2["buckets"])
    assert r3["buckets"].count() == r2["buckets"].count()
    assert all(r.doc_a != r.doc_b for r in r3["candidates"].collect())


def test_clean_text_expr_normalization(spark):
    """Web-crawl cleanup rules: control chars and zero-width/BOM stripped,
    Unicode spaces normalized, whitespace collapsed, clean text untouched."""
    from bigdata_cookbook_spark.functions.text import clean_text_expr

    cases = [
        (0, "plain text stays", "plain text stays"),
        (1, "zero​width‍join﻿er", "zerowidthjoiner"),
        (2, "ctrl\x00chars\x1fgone\x7f", "ctrlcharsgone"),
        (3, "nbsp and em　spaces", "nbsp and em spaces"),
        (4, "  runs \t\t of\n\n space  ", "runs of space"),
        (5, "tab\tand\nnewline kept-as-space", "tab and newline kept-as-space"),
    ]
    df = spark.createDataFrame([(i, t) for i, t, _ in cases], "i long, t string")
    got = {r.i: r.c for r in df.select("i", clean_text_expr(F.col("t")).alias("c")).collect()}
    for i, _, want in cases:
        assert got[i] == want, (i, got[i], want)


def test_pack_token_budget_estimator_tiers(spark):
    """All three estimator tiers pack validly (start offset < budget);
    chars4 stays the oracle-pinned default; bad estimator is loud."""
    import pytest as _pytest

    from bigdata_cookbook_spark.llm.stage import pack_token_budget

    rows = [(1, i, "word " * (4 + i)) for i in range(12)]
    df = spark.createDataFrame(rows, "stream int, idx int, text string")
    for est in ("chars4", "ws", "bpe"):
        out = pack_token_budget(
            df, ["stream"], "text", max_tokens=20,
            order_cols=["idx"], estimator=est,
        ).collect()
        assert len(out) == 12
        # per-pack start offsets stay under the budget
        packs: dict = {}
        for r in sorted(out, key=lambda r: r.idx):
            start = packs.get(r.pack_id, 0)
            assert start < 20, (est, r.pack_id, start)
            packs[r.pack_id] = start + r.est_tokens
        assert len(packs) > 1  # budget actually splits the stream
    default = pack_token_budget(df, ["stream"], "text", 20, ["idx"]).collect()
    chars4 = pack_token_budget(df, ["stream"], "text", 20, ["idx"], "chars4").collect()
    assert sorted(map(tuple, default)) == sorted(map(tuple, chars4))
    with _pytest.raises(ValueError):
        pack_token_budget(df, ["stream"], "text", 20, ["idx"], "gpt5")


def test_nfc_normalize_stage_unifies_compositions(spark):
    """Composed and decomposed é normalize to one form; exact dedup then
    sees them as equal (the reason the stage exists); schema preserved."""
    import unicodedata

    from bigdata_cookbook_spark.operators.corpus import nfc_normalize_stage
    from bigdata_cookbook_spark.operators.dedup import exact_dedup

    composed = "café menu"
    decomposed = "café menu"
    assert composed != decomposed  # distinct byte sequences going in
    df = spark.createDataFrame(
        [(1, composed), (2, decomposed), (3, None)], "doc_id long, text string"
    )
    out = nfc_normalize_stage(df)
    assert out.schema == df.schema
    texts = {r.doc_id: r.text for r in out.collect()}
    assert texts[1] == texts[2] == unicodedata.normalize("NFC", decomposed)
    assert texts[3] is None
    # downstream exact dedup now collapses the pair
    assert exact_dedup(out.filter("text IS NOT NULL")).count() == 1
    import pytest as _pytest

    with _pytest.raises(ValueError):
        nfc_normalize_stage(df, form="NFX")


def test_incremental_lsh_reingest_replaces_stale_signatures(spark):
    """Latest-ingest-wins: a doc re-ingested with NEW text replaces its
    bucket rows, so later batches never pair against its old content."""
    from bigdata_cookbook_spark.operators.dedup import incremental_lsh_candidates

    text_a = "the quick brown fox jumps over the lazy dog again and again"
    b1 = spark.createDataFrame([(7, text_a)], "doc_id long, text string")
    r1 = incremental_lsh_candidates(b1)
    # doc 7 rewritten with unrelated content
    b2 = spark.createDataFrame(
        [(7, "entirely new content about columnar shuffles and codegen")],
        "doc_id long, text string",
    )
    r2 = incremental_lsh_candidates(b2, r1["buckets"])
    # batch 3: a near-copy of doc 7's OLD text must NOT pair with doc 7
    b3 = spark.createDataFrame([(99, text_a + " tonight")], "doc_id long, text string")
    r3 = incremental_lsh_candidates(b3, r2["buckets"])
    pairs = {(r.doc_a, r.doc_b) for r in r3["candidates"].collect()}
    assert (7, 99) not in pairs


def test_ngram_jaccard_df_cap_drops_boilerplate_only_pairs(spark):
    """df_cap semantics: a shingle occurring in more than cap docs stops
    contributing — docs whose only overlap is that boilerplate no longer
    pair, while genuine near-dups (low-df overlap) survive with their
    Jaccard computed over the capped sets. With a cap no shingle
    exceeds, output is identical to the exact form."""
    from bigdata_cookbook_spark.operators.dedup import ngram_jaccard_pairs

    boiler = "all rights reserved contact us for details"
    rows = [
        # genuine near-dup pair: long shared unique prefix
        (1, "alpha beta gamma delta epsilon zeta eta theta " + boiler),
        (2, "alpha beta gamma delta epsilon zeta eta iota " + boiler),
    ] + [
        # unrelated docs sharing ONLY the boilerplate tail
        (10 + i, f"unique{i} words{i} here{i} now{i} " + boiler)
        for i in range(8)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.3).collect()
    }
    capped = {
        (r.doc_a, r.doc_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.3, df_cap=5).collect()
    }
    # the boilerplate shingles sit in all 10 docs (> cap), so the
    # boilerplate-only pairs disappear; the real near-dup pair remains
    assert (1, 2) in uncapped and (1, 2) in capped
    assert any(a >= 10 and b >= 10 for a, b in uncapped)
    assert not any(a >= 10 and b >= 10 for a, b in capped)

    # cap that nothing reaches == exact form, value-identical
    loose = sorted(
        map(tuple, ngram_jaccard_pairs(docs, threshold=0.3, df_cap=100).collect())
    )
    exact = sorted(map(tuple, ngram_jaccard_pairs(docs, threshold=0.3).collect()))
    assert loose == exact


def test_repetition_metrics_hand_computed(spark):
    from bigdata_cookbook_spark.functions.text import (
        repetition_keep_expr,
        repetition_metrics_exprs,
        tokens_expr,
    )

    # doc A: "x y" repeated 10x -> the 2-gram population is
    # [x y]*10 + [y x]*9; heaviest 2-gram = "x y" (10 occ * 3 chars = 30)
    # over tot = 10*3 + 9*3 = 57; every 2-gram duplicates -> dup frac 1.
    # doc B: 20 distinct tokens -> no repetition at all.
    rows = [
        (1, " ".join(["x", "y"] * 10)),
        (2, " ".join(f"t{i}" for i in range(20))),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    toksed = df.select(
        "doc_id", tokens_expr(F.col("text")).alias("toks")
    ).where(F.size("toks") >= 10)
    m = repetition_metrics_exprs(F.col("toks"), top_ns=(2,), dup_ns=(2,))
    out = {
        r["doc_id"]: r
        for r in toksed.select(
            "doc_id",
            *[c.alias(k) for k, c in m.items()],
            repetition_keep_expr(m).alias("keep"),
        ).collect()
    }
    assert out[1]["top2gram_char_frac"] == round(30 / 57, 4)
    assert out[1]["dup2gram_char_frac"] == 1.0
    assert out[1]["keep"] is False  # blown past every threshold
    # doc B grams are all distinct; heaviest is "t18 t19" (7 chars, one
    # occurrence) over tot = 9*5 ("t0 t1".."t8 t9") + 6 ("t9 t10")
    # + 9*7 ("t10 t11".."t18 t19") = 114
    assert out[2]["top2gram_char_frac"] == round(7 / 114, 4)
    assert out[2]["dup2gram_char_frac"] == 0.0
    assert out[2]["keep"] is True


def test_repetition_metrics_no_shuffle_plan(spark):
    # the repetition tier must stay a scan: per-doc HOF aggregate, no
    # explode+groupBy (which would shuffle every n-gram occurrence)
    from bigdata_cookbook_spark.functions.text import (
        repetition_metrics_exprs,
        tokens_expr,
    )

    df = spark.createDataFrame(
        [(i, "alpha beta gamma delta " * 5) for i in range(10)],
        ["doc_id", "text"],
    )
    toksed = df.select(
        "doc_id", tokens_expr(F.col("text")).alias("toks")
    ).where(F.size("toks") >= 10)
    m = repetition_metrics_exprs(F.col("toks"))
    out = toksed.select("doc_id", *[c.alias(k) for k, c in m.items()])
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_semantic_dedup_drops_within_bucket_only(spark):
    import math

    from bigdata_cookbook_spark.operators.dedup import (
        semantic_dedup,
        srp_planes,
    )

    dim = 8
    planes = srp_planes(dim, n_planes=2)

    def bucket_of(v):
        b = 0
        for j, p in enumerate(planes):
            if sum(a * x for a, x in zip(v, p)) > 0:
                b |= 1 << j
        return b

    base = [1.0] * dim
    dup = [0.9] * dim  # cosine 1.0 with base -> must drop (higher id)
    # orthogonal-ish vector: flip half the signs -> cosine 0
    orth = [1.0] * (dim // 2) + [-1.0] * (dim // 2)
    rows = [(0, base), (1, dup), (2, orth)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    kept = semantic_dedup(
        df, threshold=0.9, n_planes=2, dim=dim
    ).collect()
    kept_ids = sorted(r["vec_id"] for r in kept)
    assert kept_ids == [0, 2]
    # bucket ids must match the Python-side plane math exactly
    for r in kept:
        v = dict(rows)[r["vec_id"]]
        assert r["bucket"] == bucket_of(v)
    # LSH contract, stated honestly: a near-dup pair split across
    # buckets is NOT dropped (recall is traded for bucket-local work;
    # raise n_planes/add IVF funnel to tune). Construct a pair that
    # lands in different buckets to pin the semantics.
    v_a = base
    v_b = [x * 1.0 for x in base]
    # perturb one coordinate until the bucket differs but cosine stays
    # above threshold
    found = None
    for k in range(dim):
        for mag in (-3.0, -4.0, -6.0, -8.0):
            cand = list(base)
            cand[k] = mag
            cos = sum(a * b for a, b in zip(base, cand)) / (
                math.sqrt(sum(a * a for a in base))
                * math.sqrt(sum(b * b for b in cand))
            )
            if bucket_of(cand) != bucket_of(v_a) and cos > 0.1:
                found = (cand, cos)
                break
        if found is not None:
            break
    # with dim=8, n_planes=2 and the fixed SRP seed a bucket-splitting
    # perturbation is deterministic — a None here means the recall
    # contract went untested, which must FAIL, not silently skip
    assert found is not None, "no bucket-splitting perturbation found"
    if found is not None:
        cand, cos = found
        df2 = spark.createDataFrame(
            [(0, v_a), (1, cand)], ["vec_id", "embedding"]
        )
        kept2 = sorted(
            r["vec_id"]
            for r in semantic_dedup(
                df2, threshold=cos - 0.05, n_planes=2, dim=dim
            ).collect()
        )
        assert kept2 == [0, 1]


def test_semantic_dedup_empty_and_determinism(spark):
    from bigdata_cookbook_spark.operators.dedup import semantic_dedup

    empty = spark.createDataFrame(
        [], "vec_id long, embedding array<double>"
    )
    assert semantic_dedup(empty, dim=4).count() == 0
    # same input -> same kept set, twice (replay-stable: fixed planes)
    df = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5 - 2) for j in range(4)]) for i in range(40)],
        ["vec_id", "embedding"],
    )
    a = sorted(r["vec_id"] for r in semantic_dedup(df, dim=4).collect())
    b = sorted(r["vec_id"] for r in semantic_dedup(df, dim=4).collect())
    assert a == b


def test_semantic_dedup_auto_planes(spark):
    from bigdata_cookbook_spark.operators.dedup import (
        default_srp_planes_for,
        semantic_dedup,
    )

    # expected bucket size stays bounded at ~64 as n grows: the plane
    # count must grow one per doubling past the target (total cosine
    # work ~ n x 64 = linear in the corpus)
    assert default_srp_planes_for(64) == 4
    assert default_srp_planes_for(500) == 4
    assert default_srp_planes_for(1024) == 4
    assert default_srp_planes_for(2048) == 5
    assert default_srp_planes_for(8192) == 7
    assert default_srp_planes_for(1_000_000) == 14
    assert default_srp_planes_for(1_000_000_000) == 24
    for n in (10, 1000, 10**6, 10**9, 10**12):
        p = default_srp_planes_for(n)
        assert n / (2**p) <= 64 or p == 4
    # n_planes=None derives the floor (4) at test scale -> identical
    # kept set to the previously fixed default; estimated_row_count
    # skips the count job but must give the same answer
    df = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 5 - 2) for j in range(4)]) for i in range(40)],
        ["vec_id", "embedding"],
    )
    auto = sorted(r["vec_id"] for r in semantic_dedup(df, dim=4).collect())
    pinned = sorted(
        r["vec_id"] for r in semantic_dedup(df, dim=4, n_planes=4).collect()
    )
    est = sorted(
        r["vec_id"]
        for r in semantic_dedup(
            df, dim=4, estimated_row_count=40
        ).collect()
    )
    assert auto == pinned == est


def test_bucket_cosine_prune_kernel_blocking_and_plan(spark):
    """Round-11 GEMM-kernel internals of the semantic dedup prune: tiny
    row/col blocks must agree with an unblocked brute-force pairwise
    reference (ALL lower-id rows disqualify, kept or dropped), zero-norm
    vectors drop via the NaN rule (matching the old expression tier's
    NaN-greatest comparison), and the plan is one bucket exchange into
    FlatMapGroupsInPandas with no join."""
    import math

    from bigdata_cookbook_spark.operators.dedup import _bucket_cosine_prune
    from bigdata_cookbook_spark.plans.explain import explain_str

    dim = 4
    rows = []
    for i in range(30):
        v = [float((i * 13 + j * 7) % 9 - 4) for j in range(dim)]
        rows.append((i, v, i % 2))
    # two zero-norm vectors in bucket 0: id 30's cosine vs every earlier
    # bucket-0 row is NaN (0/0) -> drops; id 31 likewise
    rows.append((30, [0.0] * dim, 0))
    rows.append((31, [0.0] * dim, 0))
    b = spark.createDataFrame(
        [
            (i, v, math.sqrt(sum(x * x for x in v)), bkt)
            for i, v, bkt in rows
        ],
        "vec_id long, __v array<double>, __n double, bucket int",
    )
    threshold = 0.3
    out = _bucket_cosine_prune(
        b, "vec_id", threshold, row_block=2, col_block=3
    )
    # capture the plan BEFORE executing: post-collect AQE explain prints
    # final+initial sections and double-counts every node
    plan = explain_str(out)
    kept = {r["vec_id"]: r["bucket"] for r in out.collect()}

    # brute-force reference: round-half-up(dot/(na*nb), 4) >= t, or NaN
    def dropped(i, v, bkt):
        for j, w, bk2 in rows:
            if bk2 != bkt or j >= i:
                continue
            na = math.sqrt(sum(x * x for x in v))
            nb = math.sqrt(sum(x * x for x in w))
            if na * nb == 0.0:
                return True  # NaN cosine -> drop, NaN-greatest rule
            cos = sum(a * c for a, c in zip(v, w)) / (na * nb)
            if math.floor(cos * 10.0**4 + 0.5) * 1e-4 >= threshold:
                return True
        return False

    expect = {i: bkt for i, v, bkt in rows if not dropped(i, v, bkt)}
    assert kept == expect
    assert 30 not in kept and 31 not in kept
    assert "FlatMapGroupsInPandas" in plan
    # one Exchange node = two mentions in formatted output (tree + detail)
    assert plan.count("Exchange") == 2
    assert "Join" not in plan


def test_span_dedup_cross_document_removal(spark):
    from bigdata_cookbook_spark.operators.corpus import span_dedup

    boiler = "aa bb cc dd ee"  # exactly one 5-token span
    rows = [
        (1, boiler + " unique one text here today"),
        (2, boiler + " different tail for doc two"),
        (3, "totally unrelated words in this document"),
        (4, boiler),  # nothing but the boilerplate
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in span_dedup(df).collect()}
    # doc 1 keeps the boilerplate (first occurrence) + its tail
    assert out[1]["text_deduped"] == boiler + " unique one text here today"
    assert out[1]["n_spans_kept"] == out[1]["n_spans_total"] == 2
    # docs 2 and 4 lose the boilerplate span
    assert out[2]["text_deduped"] == "different tail for doc two"
    assert out[2]["n_spans_kept"] == 1 and out[2]["n_spans_total"] == 2
    assert out[4]["text_deduped"] == ""
    assert out[4]["n_spans_kept"] == 0 and out[4]["n_spans_total"] == 1
    # doc 3 untouched
    assert out[3]["text_deduped"] == rows[2][1]


def test_span_dedup_blank_docs_excluded(spark):
    # blank/whitespace-only docs yield zero tokens (token_count_expr),
    # so they emit NO row — matching the oracle's CASE guard — rather
    # than a one-empty-span row deduped corpus-wide
    from bigdata_cookbook_spark.operators.corpus import span_dedup

    df = spark.createDataFrame(
        [(1, "real words in this document"), (2, ""), (3, "   ")],
        ["doc_id", "text"],
    )
    out = {r["doc_id"]: r for r in span_dedup(df).collect()}
    assert set(out) == {1}
    assert out[1]["text_deduped"] == "real words in this document"


def test_span_dedup_within_document_and_partial_tail(spark):
    from bigdata_cookbook_spark.operators.corpus import span_dedup

    # 12 tokens -> spans of 5/5/2; the two full spans are identical, so
    # the second occurrence (same doc, higher idx) is removed
    text = "a b c d e a b c d e x y"
    df = spark.createDataFrame([(7, text)], ["doc_id", "text"])
    r = span_dedup(df).collect()[0]
    assert r["text_deduped"] == "a b c d e x y"
    assert r["n_spans_kept"] == 2 and r["n_spans_total"] == 3


def test_dedup_lines_exprs(spark):
    """Within-doc line dedup: first occurrence kept IN ORDER, interior
    and trailing blanks preserved as lines, accounting exact."""
    from bigdata_cookbook_spark.functions.text import dedup_lines_exprs

    rows = [
        (1, "menu\nalpha\nmenu\nbeta\nmenu"),
        (2, "one line only"),
        (3, ""),
        (4, "a\n\nb\n\na"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    m = dedup_lines_exprs(F.col("text"))
    out = {
        r["doc_id"]: r
        for r in df.select(
            "doc_id",
            m["text_deduped"].alias("d"),
            m["n_lines_total"].alias("t"),
            m["n_lines_kept"].alias("k"),
        ).collect()
    }
    assert out[1]["d"] == "menu\nalpha\nbeta" and (out[1]["t"], out[1]["k"]) == (5, 3)
    assert out[2]["d"] == "one line only" and out[2]["k"] == 1
    # blank doc: one empty line in, one out — passes through
    assert out[3]["d"] == "" and (out[3]["t"], out[3]["k"]) == (1, 1)
    # the empty line between a and b is itself a line; its duplicate
    # (and the duplicate 'a') are removed, first occurrences ordered
    assert out[4]["d"] == "a\n\nb" and (out[4]["t"], out[4]["k"]) == (5, 3)


def test_dedup_lines_exprs_regex_meaningful_sep(spark):
    """sep is a LITERAL: regex-meaningful separators ('.', '|') must
    split on the character itself, not on the regex interpretation
    ('.' as any-char would shred the document)."""
    from bigdata_cookbook_spark.functions.text import dedup_lines_exprs

    df = spark.createDataFrame(
        [(1, "ab.cd.ab.ef"), (2, "x|y|x")], ["doc_id", "text"]
    )
    m_dot = dedup_lines_exprs(F.col("text"), sep=".")
    r1 = df.filter("doc_id=1").select(
        m_dot["text_deduped"].alias("d"), m_dot["n_lines_kept"].alias("k")
    ).first()
    assert r1["d"] == "ab.cd.ef" and r1["k"] == 3
    m_pipe = dedup_lines_exprs(F.col("text"), sep="|")
    r2 = df.filter("doc_id=2").select(
        m_pipe["text_deduped"].alias("d"), m_pipe["n_lines_kept"].alias("k")
    ).first()
    assert r2["d"] == "x|y" and r2["k"] == 2


def test_srp_dynamic_bucket_sql_equals_fixed():
    """The auto-plane oracle's two load-bearing claims:
    (1) the plane LCG stream makes srp_planes(dim, k) a PREFIX of
        srp_planes(dim, max) — so one emitted matrix serves every k;
    (2) srp_bucket_sql_dynamic's gated sum equals srp_bucket_sql over
        the k-plane matrix for every k, on real vectors in DuckDB;
    (3) default_srp_planes_sql == default_srp_planes_for across the
        boundary cases (<=target, exact power-of-two ratio, large n)."""
    import duckdb

    from bigdata_cookbook_spark.operators.dedup import (
        default_srp_planes_for,
        default_srp_planes_sql,
        srp_bucket_sql,
        srp_bucket_sql_dynamic,
        srp_planes,
    )

    dim = 16
    assert srp_planes(dim, 5) == srp_planes(dim, 24)[:5]
    con = duckdb.connect()
    # deterministic pseudo-vectors, no RNG at test time
    vecs = [
        [((i * 31 + j * 17) % 13 - 6) / 3.0 for j in range(dim)]
        for i in range(40)
    ]
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES " +
                ",".join(f"({i}, {v})" for i, v in enumerate(vecs)) +
                ") AS x(id, v)")
    for k in (1, 4, 7, 12):
        fixed = con.sql(
            f"SELECT id, {srp_bucket_sql('v', srp_planes(dim, k))} AS b "
            "FROM t ORDER BY id"
        ).fetchall()
        dyn = con.sql(
            f"SELECT id, {srp_bucket_sql_dynamic('v', dim, np_sql=str(k))} "
            "AS b FROM t ORDER BY id"
        ).fetchall()
        assert fixed == dyn, f"gated sum != fixed matrix at k={k}"
    for n in (1, 63, 64, 65, 500, 8192, 64 * 2**12, 10**9):
        got = con.sql(f"SELECT {default_srp_planes_sql(str(n))}").fetchone()[0]
        assert got == default_srp_planes_for(n), (n, got)


def test_compression_ratio_matches_zlib(spark):
    """compression_ratio == direct zlib on every row (the rows-only
    registry entry's value pin), NULL on blank/null, and the signal
    actually separates repetitive boilerplate from prose."""
    import zlib

    from bigdata_cookbook_spark.operators.corpus import compression_ratio

    rows = [
        (1, "the quick brown fox jumps over the lazy dog and then naps"),
        (2, "buy now! " * 60),
        (3, ""),
        (4, None),
        (5, "aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa"),
    ]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    got = {
        r["doc_id"]: r["compression_ratio"]
        for r in compression_ratio(df).collect()
    }
    for doc_id, text in rows:
        if not text:
            assert got[doc_id] is None, doc_id
        else:
            raw = text.encode("utf-8")
            want = len(zlib.compress(raw, 6)) / len(raw)
            assert abs(got[doc_id] - want) < 1e-12, doc_id
    # boilerplate compresses far below prose
    assert got[2] < 0.35 < got[1]
    assert got[5] < got[1]


def test_span_dedup_identity_roundtrip(spark):
    """On a corpus with no duplicate spans, span_dedup must reassemble
    every document EXACTLY (segmentation and reassembly are inverses) —
    across token counts that land on and off the span boundary."""
    import random

    from bigdata_cookbook_spark.operators.corpus import span_dedup

    rng = random.Random(11)
    rows = []
    for i in range(40):
        # globally unique tokens -> no span can repeat
        n = rng.randint(1, 23)
        rows.append((i, " ".join(f"w{i}x{j}" for j in range(n))))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in span_dedup(df).collect()}
    for i, text in rows:
        assert out[i]["text_deduped"] == text, i
        assert out[i]["n_spans_kept"] == out[i]["n_spans_total"]


def test_lang_id_hand_cases_and_shared_marker_double_count(spark):
    """lang_id_expr semantics pinned against the single-pass rewrite:
    hand cases per language, CJK dominance, priority tie-break, and the
    subtle one — a marker word SHARED by two languages ("la" is in both
    the es and fr sets) counts toward BOTH, exactly as the old
    per-language regexp_count battery did."""
    from bigdata_cookbook_spark.functions.text import lang_id_expr

    rows = [
        (1, "the cat and the hat is of note"),      # en
        (2, "el problema de la casa es grande"),    # es
        (3, "les regles des ville est le point"),   # fr
        (4, "der hund und die katze ist das tier"), # de
        (5, "mixed 文字 the of and"),                # CJK dominates any markers
        (6, "nothing matching here xyz"),           # unknown
        (7, ""),                                    # empty -> unknown
        # "la la la": la counts for es AND fr (1 marker each, tied at
        # 3) -> priority order es > fr wins
        (8, "la la la"),
        # tie between en and es at 1 each ("a" en vs "es" es... "a" is
        # en-only, "el" es-only) -> en priority wins
        (9, "a el"),
    ]
    out = {
        r["doc_id"]: r["pred"]
        for r in spark.createDataFrame(rows, "doc_id int, text string")
        .select("doc_id", lang_id_expr(F.col("text")).alias("pred"))
        .collect()
    }
    assert out == {
        1: "en", 2: "es", 3: "fr", 4: "de",
        5: "zh", 6: "unknown", 7: "unknown", 8: "es", 9: "en",
    }


def test_bm25_custom_tokenize_requires_query_twin(spark):
    """A custom document tokenizer without its Python query twin would
    silently analyze the two sides differently and score everything 0 —
    rejected loudly instead."""
    import pytest

    from bigdata_cookbook_spark.functions.text import tokens_expr
    from bigdata_cookbook_spark.operators.retrieval import bm25_scores, bm25_topk

    docs = spark.createDataFrame(
        [(1, "state-of-the-art spark engine")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="tokenize_query"):
        bm25_scores(docs, ["state-of-the-art"], tokenize=tokens_expr)
    with pytest.raises(ValueError, match="tokenize_query"):
        bm25_topk(docs, ["state-of-the-art"], tokenize=tokens_expr)
    # matched pair: whitespace tokenizer on both sides scores the
    # glued token as one term
    got = bm25_scores(
        docs,
        ["state-of-the-art"],
        tokenize=tokens_expr,
        tokenize_query=lambda s: s.lower().split(),
    ).collect()
    assert len(got) == 1 and got[0]["score"] > 0


def test_domain_mix_temperature_rejects_null_domains(spark):
    import pytest

    from bigdata_cookbook_spark.operators.sampling import domain_mix_temperature

    df = spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, None), (4, "b")], "doc_id long, source string"
    )
    with pytest.raises(ValueError, match="NULL"):
        domain_mix_temperature(df, "source", "doc_id", alpha=0.5)


def _split_text_py(text, max_tokens, count):
    """Python reference of sentence_budget_chunks_expr's semantics (the
    reference algorithm with its two documented quirks fixed: flush
    before word-splitting, no doubled trailing periods)."""
    sentences = [s.strip() + "." for s in text.split(".") if s.strip()]
    chunks, cur, n = [], "", 0
    for s in sentences:
        sn = count(s)
        if sn > max_tokens:
            if cur:
                chunks.append(cur)
                cur, n = "", 0
            pw, pn = "", 0
            for w in s.split():
                wn = count(w)
                if pn + wn > max_tokens and pw:
                    chunks.append(pw)
                    pw, pn = w, wn
                else:
                    pw = w if not pw else pw + " " + w
                    pn += wn
            if pw:
                chunks.append(pw)
        elif n + sn > max_tokens:
            chunks.append(cur)
            cur, n = s, sn
        else:
            cur = s if not cur else cur + " " + s
            n += sn
    if cur:
        chunks.append(cur)
    return chunks


def test_sentence_budget_chunks_matches_python_reference(spark):
    """The aggregate-fold chunker reproduces the Python reference on
    hand cases + a deterministic batch of varied texts; every chunk
    fits the budget (or is a single oversized word piece), order is
    document order, and concatenating chunks reproduces the sentence
    stream (the two reference quirks fixed by design)."""
    import re as _re

    from bigdata_cookbook_spark.functions.text import (
        BPE_TOKEN_PATTERN,
        sentence_budget_chunks_expr,
    )

    def count(s):
        return len(_re.findall(BPE_TOKEN_PATTERN, s.lower()))

    texts = [
        "the cat sat. the dog ran. a very long sentence with many many words here goes on. end.",
        "",
        "   ",
        "no period at all just words",
        "x. " * 30,
        "supercalifragilistic. tiny.",
        "one two three four five six seven eight nine ten eleven twelve.",
        "a. b. c. d. e. f. g. h.",
        "word " * 50 + ".",
        "Mixed CASE Sentences. With, punctuation! inside. ok.",
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "id long, text string")
    for mx in (5, 8, 20):
        got = {
            r["id"]: r["chunks"]
            for r in df.select(
                "id", sentence_budget_chunks_expr(F.col("text"), mx).alias("chunks")
            ).collect()
        }
        for i, t in enumerate(texts):
            want = _split_text_py(t, mx, count)
            assert got[i] == want, (mx, t, got[i], want)
            # every chunk within budget unless it is a lone word piece
            for c in want:
                assert count(c) <= mx or " " not in c
            # coverage: chunk concatenation == sentence stream
            sent_stream = " ".join(
                s.strip() + "." for s in t.split(".") if s.strip()
            )
            assert " ".join(want) == sent_stream


def test_paragraph_dedup_cross_doc_keeper_and_min_chars(spark):
    """Corpus-wide first occurrence (lowest (id, pos)) survives; later
    occurrences drop; sub-min_chars paragraphs are always kept; a doc
    whose every eligible paragraph was seen earlier reassembles to the
    formatting-only remainder (here: a trailing empty line)."""
    from bigdata_cookbook_spark.operators.corpus import paragraph_dedup

    docs = spark.createDataFrame(
        [
            (1, "FOOTER\nalpha beta\n"),
            (2, "FOOTER\ngamma\n"),
            (3, "FOOTER\nalpha beta\n"),
            (4, "solo"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in paragraph_dedup(docs).collect()
    }
    assert rows[1]["text_deduped"] == "FOOTER\nalpha beta\n"
    assert (rows[1]["n_paras_total"], rows[1]["n_paras_kept"]) == (3, 3)
    # doc 2: FOOTER already owned by doc 1; gamma + empty tail survive
    assert rows[2]["text_deduped"] == "gamma\n"
    assert rows[2]["n_paras_kept"] == 2
    # doc 3: both eligible paras are repeats -> only the ineligible
    # empty tail remains, which joins to the empty string
    assert rows[3]["text_deduped"] == ""
    assert (rows[3]["n_paras_total"], rows[3]["n_paras_kept"]) == (3, 1)
    assert rows[4]["text_deduped"] == "solo"


def test_paragraph_dedup_within_doc_repeat_and_sep_literal(spark):
    """A paragraph repeated WITHIN one doc keeps only its first
    position, and a regex-meaningful separator ('|') is treated as a
    literal on both the split and join sides."""
    from bigdata_cookbook_spark.operators.corpus import paragraph_dedup

    docs = spark.createDataFrame(
        [(7, "dup|dup|tail")], ["doc_id", "text"]
    )
    (r,) = paragraph_dedup(docs, sep="|").collect()
    assert r["text_deduped"] == "dup|tail"
    assert (r["n_paras_total"], r["n_paras_kept"]) == (3, 2)


def test_tfidf_top_terms_formula_and_tiebreak(spark):
    """score = tf * (ln((N+1)/(df+1)) + 1) rounded to 4; analyzer
    case-folds and strips punctuation; equal scores break ties by term
    ascending so the top-k is total-ordered."""
    import math

    from bigdata_cookbook_spark.operators.retrieval import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "Spark, spark WINDOW merge"), (2, "window window rare")],
        ["doc_id", "text"],
    )
    rows = tfidf_top_terms(docs, k=3).orderBy("doc_id", "rank").collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: spark tf=2 df=1 -> 2*(ln(3/2)+1); merge tf=1 df=1; window
    # tf=1 df=2 -> ln(1)+1 = 1.0
    assert [r["term"] for r in by_doc[1]] == ["spark", "merge", "window"]
    assert by_doc[1][0]["score"] == round(2 * (math.log(3 / 2) + 1), 4)
    assert by_doc[1][2]["score"] == 1.0
    # doc 2: window tf=2 -> 2.0 beats rare 1.4055
    assert [r["term"] for r in by_doc[2]] == ["window", "rare"]
    # ranks are 1..k dense per doc
    assert [r["rank"] for r in by_doc[1]] == [1, 2, 3]


def test_tfidf_top_terms_empty_and_tie_order(spark):
    """Docs with no analyzed tokens emit no rows; exact score ties
    order by term ascending."""
    from bigdata_cookbook_spark.operators.retrieval import tfidf_top_terms

    docs = spark.createDataFrame(
        [(1, "...!!!"), (2, "zeta alpha")], ["doc_id", "text"]
    )
    rows = tfidf_top_terms(docs, k=5).orderBy("doc_id", "rank").collect()
    assert all(r["doc_id"] == 2 for r in rows)
    # both terms: tf=1, df=1 -> identical score; term-ascending tiebreak
    assert [r["term"] for r in rows] == ["alpha", "zeta"]


def test_paragraph_dedup_incremental_two_batch_parity(spark):
    """Under non-decreasing doc_id ingest, the union of per-batch
    rewrites equals paragraph_dedup over the union of batches, and the
    state deltas are exactly the novel keeper paragraphs (formatting
    rows below min_chars never enter the state)."""
    from bigdata_cookbook_spark.operators.corpus import (
        paragraph_dedup,
        paragraph_dedup_incremental,
    )

    rows = [
        (1, "FOOTER\nalpha beta\n"),
        (2, "FOOTER\ngamma\n"),
        (3, "FOOTER\nalpha beta\n"),
        (4, "gamma\ndelta"),
        # NULL text reads as '' in both forms: one empty paragraph, kept
        (5, None),
        (6, ""),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    want = {tuple(r) for r in paragraph_dedup(docs).collect()}
    assert (5, "", 1, 1) in want and (6, "", 1, 1) in want

    b1 = docs.filter(F.col("doc_id") <= 2)
    b2 = docs.filter(F.col("doc_id") > 2)
    r1 = paragraph_dedup_incremental(b1)
    r2 = paragraph_dedup_incremental(b2, para_state=r1["new_paras"])
    got = {tuple(r) for r in r1["rewritten"].collect()} | {
        tuple(r) for r in r2["rewritten"].collect()
    }
    assert got == want
    # state deltas: batch 1 owns FOOTER/alpha beta/gamma; batch 2 adds
    # only delta; the empty formatting paragraph is in NEITHER delta
    s1 = {r["para"] for r in r1["new_paras"].collect()}
    s2 = {r["para"] for r in r2["new_paras"].collect()}
    assert s1 == {"FOOTER", "alpha beta", "gamma"}
    assert s2 == {"delta"}


def test_paragraph_dedup_incremental_replay_and_reingest(spark):
    """Crash-replay (same batch against the state WITHOUT its own
    delta) recomputes identical rewrites and an identical delta; a
    re-ingest of the same docs as a NEW batch against the state WITH
    the delta drops every eligible paragraph and adds nothing."""
    from bigdata_cookbook_spark.operators.corpus import (
        paragraph_dedup_incremental,
    )

    docs = spark.createDataFrame(
        [(1, "FOOTER\nalpha"), (2, "FOOTER\nbeta")], ["doc_id", "text"]
    )
    r1 = paragraph_dedup_incremental(docs)
    replay = paragraph_dedup_incremental(docs)
    assert {tuple(r) for r in replay["rewritten"].collect()} == {
        tuple(r) for r in r1["rewritten"].collect()
    }
    assert {tuple(r) for r in replay["new_paras"].collect()} == {
        tuple(r) for r in r1["new_paras"].collect()
    }
    reingest = paragraph_dedup_incremental(
        docs, para_state=r1["new_paras"]
    )
    assert reingest["new_paras"].count() == 0
    for r in reingest["rewritten"].collect():
        assert r["text_deduped"] == ""
        assert r["n_paras_kept"] == 0

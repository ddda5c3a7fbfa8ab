"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query on sf0.001; ``queries()`` exposes
one callable per implemented operator from SURVEY.md §2 (plus the
LLM-data-pipeline extensions); ``oracle_sql()`` gives the DuckDB-equivalent
ANSI SQL for each. Column names/aliases match exactly between both sides.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdata_cookbook_spark.functions.text import lang_id_expr, quality_exprs
from bigdata_cookbook_spark.operators.analytics import (
    argmax_row_per_group,
    calendar_densify,
    gaussian_kernel,
    gaussian_smooth,
    keep_first_dedup,
    mode_per_group,
    net_exposure,
    pivot_composite,
    topk_per_group,
    zscore_per_series,
)
from bigdata_cookbook_spark.operators.dedup import (
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    simhash16,
)
from bigdata_cookbook_spark.sources.testdata import load_table, spread_for_cpu_bound

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_hit_count_monthly_topk(spark, SF0001)


# ---------------------------------------------------------------------------
# Relational analytics queries (SURVEY.md §2.5-2.7) over driver testdata
# ---------------------------------------------------------------------------


def q_hit_count_monthly_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1+A2+W1+W5 spine (SURVEY §7 step 1): distinct-order "hit count" per
    (market segment, month), top-3 months per segment.

    Mirrors reference hit-count time series (tool.py:1219-1263) + top-k per
    sector (tool.py:121-128) on the relational testdata.

    Distinct-elimination rewrite (measured 0.50s -> 0.27s at sf0.1): the
    oracle counts DISTINCT o_orderkey, but o_orderkey is the primary key
    of orders, so COUNT(DISTINCT pk) == COUNT(*) — we apply the rewrite a
    catalog with uniqueness constraints would do automatically, skipping
    the two-phase distinct aggregate. The dim side is projected to the two
    needed columns before broadcast.
    """
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment"
    )
    monthly = (
        orders.select("o_custkey", "o_orderdate")
        .join(F.broadcast(customer), F.col("o_custkey") == F.col("c_custkey"))
        .groupBy(
            "c_mktsegment",
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return topk_per_group(
        monthly,
        ["c_mktsegment"],
        [F.col("n_orders").desc(), F.col("month").asc()],
        k=3,
    )


_DEC = "decimal(18,4)"


def _dec_sum(col, scale: int = 2):
    """Money sum accumulated in DECIMAL, rounded, cast back to double:
    double summation order differs between engines and partitionings,
    and a half-cent-boundary value flips ROUND by one cent (observed at
    sf1 on topk_parts_per_brand — two 1-cent hash mismatches). Decimal
    sums are exact and order-independent; integer-valued doubles (e.g.
    l_quantity) stay plain SUM — they are already exact below 2^53.
    SQL twin: CAST(ROUND(SUM(CAST(x AS DECIMAL(18,4))), k) AS DOUBLE)."""
    return F.round(F.sum(F.col(col).cast(_DEC)), scale).cast("double")


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 + aggregate arithmetic: TPC-H Q1-style pricing summary — the
    bench headline scan→agg query (full lineitem pass, map-side partial
    aggregation, 4-group output)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            _dec_sum("l_extendedprice").alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice").cast(_DEC) * (F.lit(1).cast(_DEC) - F.col("l_discount").cast(_DEC))), 2).cast("double").alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 2).alias("avg_qty"),
            F.round(F.sum(F.col("l_discount").cast(_DEC)).cast("double") / F.count(F.lit(1)), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def q_count_distinct_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2+A3: distinct-customer count per nation with a having filter,
    broadcast-joined to the nation dim (reference tool.py:115-119)."""
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    per_nation = (
        customer.groupBy("c_nationkey")
        .agg(
            F.countDistinct("c_custkey").alias("n_customers"),
            _dec_sum("c_acctbal").alias("total_acctbal"),
        )
        .filter(F.col("n_customers") >= 3)
    )
    return (
        per_nation.join(F.broadcast(nation), per_nation.c_nationkey == nation.n_nationkey)
        .select("n_name", "n_customers", "total_acctbal")
    )


def q_topk_parts_per_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: top-3 parts by revenue within each brand (reference top-5
    companies per sector, tool.py:121-128).

    Aggregates lineitem by partkey BEFORE the broadcast join: the join
    then touches one row per part instead of one per lineitem (join
    pushed through aggregation — valid because partkey determines brand).
    30%+ faster locally; at scale it shrinks the join input by the
    lineitem:part fan-in ratio.

    Revenue accumulates in DECIMAL, not double: double summation order
    differs between engines (and between partitionings), and at sf1 two
    part revenues landed a half-cent apart after ROUND — a one-cent
    hash mismatch. Decimal sums are exact and order-independent, so the
    rounded value is engine- and partitioning-portable; the final cast
    back to double keeps the output schema."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    dec = "decimal(18,4)"
    amount = F.col("l_extendedprice").cast(dec) * (
        F.lit(1).cast(dec) - F.col("l_discount").cast(dec)
    )
    rev = (
        li.groupBy("l_partkey")
        .agg(F.round(F.sum(amount), 2).cast("double").alias("revenue"))
        .join(F.broadcast(part.select("p_partkey", "p_brand")), F.col("l_partkey") == F.col("p_partkey"))
        .select("p_brand", "l_partkey", "revenue")
    )
    return topk_per_group(
        rev, ["p_brand"], [F.col("revenue").desc(), F.col("l_partkey").asc()], k=3
    )


def q_argmax_day_per_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2: day with the max order count per order priority (reference
    "peak day per entity", tool.py:49-91, visualization_tools.py:94-110)."""
    orders = load_table(spark, sf_dir, "orders")
    daily = (
        orders.groupBy(
            "o_orderpriority", F.to_date("o_orderdate").alias("day")
        ).agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return argmax_row_per_group(
        daily, ["o_orderpriority"], [F.col("n_orders").desc(), F.col("day").asc()]
    )


def q_calendar_densify_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9: daily event counts per event_type densified over the full
    calendar with zero fill (reference tool.py:708-753)."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    dense = calendar_densify(
        daily,
        date_col="day",
        entity_cols=["event_type"],
        value_cols={"cnt": F.coalesce(F.col("cnt"), F.lit(0))},
    )
    return dense


def q_weekly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5+W6: weekly event counts per type, z-scored per series
    (reference Narrative_Miners/src/tool.py:37-68)."""
    events = load_table(spark, sf_dir, "events")
    weekly = (
        events.groupBy(
            "event_type", F.date_trunc("week", "ts").cast("date").alias("week")
        ).agg(F.count(F.lit(1)).alias("cnt"))
    )
    z = zscore_per_series(weekly, ["event_type"], "cnt", out_col="zscore")
    return z.select("event_type", "week", "cnt", F.round("zscore", 4).alias("zscore"))


def q_dedup_keep_first(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O3: earliest order per customer kept, dup remainder dropped
    (reference tools.py:69-79 keep-first dedup)."""
    orders = load_table(spark, sf_dir, "orders")
    kept, _rest = keep_first_dedup(
        orders,
        dup_keys=["o_custkey"],
        order_by=[F.col("o_orderdate").asc(), F.col("o_orderkey").asc()],
    )
    return kept.select(
        "o_custkey", "o_orderkey", F.to_date("o_orderdate").alias("first_order_date"), "o_totalprice"
    )


def q_mode_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: most frequent event_type per user, ties broken by value asc
    (reference visualization_tools.py:608-612)."""
    events = load_table(spark, sf_dir, "events")
    return mode_per_group(events, ["user_id"], "event_type", out_col="top_event_type")


def q_collect_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5+A8: per-user sorted distinct event types joined with '; '
    (reference mind_map_tools.py:448-454, report_generator.py:112-134)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), "; ").alias("event_types"),
        F.count(F.lit(1)).alias("n_events"),
    )


def q_net_exposure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1+A11+A12: per-customer open vs finished order counts, shares and
    net exposure (reference tool.py:298-319,1073).

    Single-pass conditional aggregation: one scan + one shuffle. The
    reference (and our general ``net_exposure`` combinator) full-outer
    joins two per-status aggregates; when both sides derive from the SAME
    fact table, `count(when(status=..))` in one groupBy is equivalent —
    the row set (customers with >=1 O or F order) and every derived
    column are identical — and removes the join plus a whole shuffle.
    That is the efficient plan at any scale; the two-frame combinator
    remains for genuinely separate inputs."""
    orders = load_table(spark, sf_dir, "orders")
    agg = (
        orders.filter(F.col("o_orderstatus").isin("O", "F"))
        .groupBy("o_custkey")
        .agg(
            F.count(F.when(F.col("o_orderstatus") == "O", 1)).alias("pos_cnt"),
            F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("neg_cnt"),
        )
    )
    pc, nc = F.col("pos_cnt"), F.col("neg_cnt")
    total = pc + nc
    return agg.select(
        "o_custkey",
        pc.alias("pos_cnt"),
        nc.alias("neg_cnt"),
        total.alias("total_cnt"),
        F.round(pc * 100.0 / F.when(total == 0, F.lit(None)).otherwise(total), 2).alias("pos_pct"),
        F.round(nc * 100.0 / F.when(total == 0, F.lit(None)).otherwise(total), 2).alias("neg_pct"),
        (F.abs(pc) - F.abs(nc)).alias("net_exposure"),
    )


def q_summary_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17: per-event-type record count, date span, distinct users
    (reference Narrative_Miners/src/tool.py:735-751)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_records"),
        F.to_date(F.min("ts")).alias("min_date"),
        F.to_date(F.max("ts")).alias("max_date"),
        F.countDistinct("user_id").alias("n_users"),
        _dec_sum("value").alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Text-analysis / dedup / similarity (LLM-data-pipeline tier) over documents
# and embeddings
# ---------------------------------------------------------------------------


def q_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup: canonical doc (min doc_id) per distinct text +
    duplicate count. Hash-groupBy — one shuffle on the text hash."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("text").agg(
        F.min("doc_id").alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("n_dups"),
    ).select("canonical_doc_id", "n_dups")


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: md5 of normalized text + dup flag via a
    fingerprint-count window."""
    docs = load_table(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id",
        F.md5(F.encode(F.lower(F.trim(F.col("text"))), "UTF-8")).alias("fingerprint"),
    )
    w = Window.partitionBy("fingerprint")
    return fp.withColumn("n_same", F.count(F.lit(1)).over(w)).withColumn(
        "is_dup", (F.col("n_same") > 1).cast("boolean")
    )


def q_token_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text quality scoring: token count, char count, stopword count /
    ratio per document — all JVM-side built-ins, no UDF. CPU-bound
    battery, so spread_for_cpu_bound (no-op on a wide scan)."""
    docs = load_table(spark, sf_dir, "documents")
    docs = spread_for_cpu_bound(docs)
    trimmed = F.trim(F.col("text"))
    n_tokens = F.when(F.length(trimmed) == 0, F.lit(0)).otherwise(
        F.size(F.split(trimmed, r"\s+"))
    )
    stop = F.regexp_count(F.lower(F.col("text")), F.lit(r"\b(the|a|and|of|to|in)\b"))
    return docs.select(
        "doc_id",
        F.length(F.col("text")).alias("n_chars_text"),
        n_tokens.cast("int").alias("n_tokens"),
        stop.cast("int").alias("n_stopwords"),
        F.round(
            F.when(n_tokens == 0, F.lit(0.0)).otherwise(stop.cast("double") / n_tokens), 4
        ).alias("stopword_ratio"),
    )


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k similarity search against the embedding of
    vec_id=0 (baseline ANN path; LSH-bucketed variant is the scale path).

    All double math JVM-side via zip_with/aggregate — no UDF, broadcastable
    single-row query side.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    q = emb.filter(F.col("vec_id") == 0).select(F.col("e").alias("qe"))
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    sims = emb.crossJoin(F.broadcast(q)).select(
        "vec_id",
        (
            dot(F.col("e"), F.col("qe"))
            / (F.sqrt(dot(F.col("e"), F.col("e"))) * F.sqrt(dot(F.col("qe"), F.col("qe"))))
        ).alias("cos"),
    )
    return (
        sims.orderBy(F.col("cos").desc(), F.col("vec_id").asc())
        .limit(20)
        .select("vec_id", F.round("cos", 4).alias("cosine_sim"))
    )


def q_pivot_composite_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9/A14: order counts per (market segment × order status) pivoted to
    columns with a row-sum composite score (reference
    mind_map_tools.py:559-578 generate_pivot_table)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    joined = orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
    return pivot_composite(
        joined,
        group_by=["c_mktsegment"],
        pivot_col="o_orderstatus",
        pivot_values=["O", "F", "P"],
        agg=F.count(F.lit(1)),
    )


def q_gaussian_smooth_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7: Gaussian smoothing (sigma=2) of weekly event counts per type
    (reference Narrative_Miners/src/tool.py:50,67)."""
    events = load_table(spark, sf_dir, "events")
    weekly = (
        events.groupBy(
            "event_type", F.date_trunc("week", "ts").cast("date").alias("week")
        ).agg(F.count(F.lit(1)).alias("cnt"))
    )
    sm = gaussian_smooth(weekly, ["event_type"], [F.col("week").asc()], "cnt", sigma=2.0)
    return sm.select("event_type", "week", "cnt", F.round("smoothed", 4).alias("smoothed"))


def q_last_purchase_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4: forward-fill of the most recent purchase value within each user
    stream (reference tools.py:81-90 group-wise ffill)."""
    events = load_table(spark, sf_dir, "events")
    pv = F.when(F.col("event_type") == "purchase", F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "event_id",
        "user_id",
        F.round(F.last(pv, ignorenulls=True).over(w), 2).alias("last_purchase_value"),
    )


def q_score_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: per-supplier volume normalized by the global mean (reference
    report_generator.py:344-348 score = n_docs / mean)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_supp = li.groupBy("l_suppkey").agg(F.count(F.lit(1)).alias("n_items"))
    return per_supp.select(
        "l_suppkey",
        "n_items",
        F.round(F.col("n_items") / F.avg("n_items").over(Window.partitionBy()), 4).alias("score"),
    )


def q_source_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A16: top-3 document sources by count (reference
    Board_Management_Monitoring/src/tool.py:687)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), F.col("source").asc())
        .limit(3)
    )


def q_quarterly_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A15: quarterly order counts with quarter-start date (reference
    Board_Management_Monitoring/src/tool.py:386-407)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.groupBy(
            F.date_trunc("quarter", "o_orderdate").cast("date").alias("quarter_start")
        )
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6: set difference via left-anti join — customers never ordering
    (reference tool.py:719-724 all − present)."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    return customer.join(
        orders, customer.c_custkey == orders.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


def q_union_distinct_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5+O7: distinct union of customer and supplier nation keys
    (reference tool.py:302 set(pos) ∪ set(neg))."""
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    return (
        customer.select(F.col("c_nationkey").alias("nationkey"))
        .union(supplier.select(F.col("s_nationkey").alias("nationkey")))
        .distinct()
    )


def q_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2+Q4: keyword-OR filter with a source whitelist, aggregated per
    (source, lang) (reference query_builder.py:187,190 Keyword/Any +
    Source)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.filter(
            (F.col("text").contains("spark") | F.col("text").contains("vector"))
            & F.col("source").isin("src0", "src1", "src2")
        )
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )


def q_events_daterange(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9+P4: date-range predicate (inclusive start, exclusive end) with a
    type filter, daily counts (reference query_builder.py:410-485 date
    ranges as BETWEEN filters)."""
    events = load_table(spark, sf_dir, "events")
    return (
        events.filter(
            (F.col("ts") >= F.lit("2024-01-05").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-20").cast("timestamp"))
            & F.col("event_type").isin("purchase", "click")
        )
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (training-data tier): CJK detection + marker
    stopword scoring, plus agreement flag vs the labeled lang column.
    CPU-bound regex battery, so spread_for_cpu_bound (no-op on a wide
    scan — the scale rule lives in sources/testdata.py)."""
    docs = load_table(spark, sf_dir, "documents")
    docs = spread_for_cpu_bound(docs)
    pred = lang_id_expr(F.col("text"))
    return docs.select(
        "doc_id",
        "lang",
        pred.alias("pred_lang"),
        (pred == F.col("lang")).cast("boolean").alias("lang_match"),
    )


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring feature set (training-data tier): token/char counts,
    stopword and punctuation ratios. CPU-bound regexes, so
    spread_for_cpu_bound as in q_lang_id."""
    docs = load_table(spark, sf_dir, "documents")
    docs = spread_for_cpu_bound(docs)
    feats = quality_exprs(F.col("text"))
    return docs.select("doc_id", *[expr.alias(name) for name, expr in feats.items()])


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup detection: doc pairs with word-3-gram Jaccard >= 0.5 via
    inverted-index self-join (exact verification tier of MinHash/LSH)."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.5)


def q_ngram_jaccard_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs with the document-frequency cap — the linear-cost
    form of q_ngram_jaccard_pairs the sf1 rehearsal mandates at scale
    (join fan-out sum(df^2) grew 89x for 10x data without it; see
    operators/dedup.ngram_jaccard_pairs). df_cap=5 bites at every SF
    tier, so the oracle checks the capped SEMANTICS, not a no-op path:
    Jaccard over the capped shingle sets, boilerplate-only overlap
    scoring zero."""
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(docs, threshold=0.5, df_cap=5)


def q_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidates from MinHash(12 hashes) + LSH(6 bands × 2):
    pairs sharing any band bucket."""
    docs = load_table(spark, sf_dir, "documents")
    # shingle explode + per-shingle md5 is a CPU-bound map battery, so
    # spread_for_cpu_bound (no-op on a wide scan): round 11, measured
    # 6.7 -> 2.5 s at sf1 where the cached scan is 2 partitions
    docs = spread_for_cpu_bound(docs)
    return minhash_lsh_candidates(docs, num_hashes=12, band_size=2)


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash signature per document (near-dup fingerprint tier)."""
    docs = load_table(spark, sf_dir, "documents")
    return simhash16(docs)


def q_screening_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2+F1+F2: the chunk-explode screening normalizer with offset-based
    entity masking, run in discovery mode over the committed corpus
    fixture parquet (FIXTURES.md §1-4, tools/make_fixtures.py — same
    files the DuckDB oracle reads). Fully value-checked INCLUDING
    masked_text: on non-overlapping spans the offset-splice fold is
    equivalent to gap||replacement concatenation in span order, which the
    oracle expresses with string_agg over unnested mentions. The overlap
    -skip branch and mask/unmask round-trip stay pinned by
    tests/test_normalize_masking.py."""
    from bigdata_cookbook_spark.operators.normalize import normalize_screening
    from bigdata_cookbook_spark.sources.fixtures import fixture_tables

    ents, docs, chunks = fixture_tables(spark)
    scr = normalize_screening(docs, chunks, ents, mode="discovery")
    # project to flat scalar columns so the driver's schema/hash check is
    # stable (array columns break pandas-side canonicalizers)
    return scr.select(
        "sentence_id",
        "document_id",
        "entity_id",
        "document_type",
        "is_reporting_entity",
        "entity_name",
        "entity_sector",
        "other_entities",
        "masked_text",
        F.size("entities").alias("n_mentions"),
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranked lexical retrieval: BM25 top-20 for a 3-term query
    (operators/retrieval.py) — the first-stage ranker the reference's
    boolean Keyword search lacks; pairs with the similarity tier for
    hybrid search. TakeOrdered top-k, no global sort shuffle."""
    from bigdata_cookbook_spark.operators.retrieval import bm25_topk

    # round 11: the spread is affordable now — bm25_scores materializes
    # its narrow tf table (lazy localCheckpoint), so the repartition +
    # tokenize run ONCE, not once per branch (the old comment's reason
    # for skipping it); at scale the spread is a no-op (file splits)
    docs = spread_for_cpu_bound(load_table(spark, sf_dir, "documents"))
    return bm25_topk(docs, ["spark", "window", "merge"], k=20)


def q_hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 lexical ranking fused with embedding-cosine
    ranking by reciprocal-rank fusion (operators/retrieval.py rrf_fuse).
    Both rankers are top-100 pruned BEFORE ranking (TakeOrdered — the
    rank windows only see bounded candidate lists), fused 1/(60+rank),
    top-20 out. doc_id and vec_id share the id domain by the testdata
    contract (row i's embedding is vec_id i)."""
    from bigdata_cookbook_spark.operators.retrieval import bm25_scores, rrf_fuse
    from bigdata_cookbook_spark.operators.similarity import query_cosine_scores

    # spread affordable since round 11: bm25_scores checkpoints its
    # narrow tf table, so the raw-text exchange is paid once
    docs = spread_for_cpu_bound(load_table(spark, sf_dir, "documents"))
    lex = bm25_scores(docs, ["spark", "window", "merge"])
    wl = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    lex_r = (
        lex.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(100)
        .withColumn("rank", F.row_number().over(wl))
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qe"),
    )
    sem = query_cosine_scores(emb, q).select(
        F.col("vec_id").alias("doc_id"), "score"
    )
    ws = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    sem_r = (
        sem.orderBy(F.col("score").desc(), F.col("doc_id").asc())
        .limit(100)
        .withColumn("rank", F.row_number().over(ws))
    )

    fused = rrf_fuse([lex_r, sem_r])
    wf = Window.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
    return (
        fused.orderBy(F.col("rrf").desc(), F.col("doc_id").asc())
        .limit(20)
        .withColumn("rank", F.row_number().over(wf))
    )


def q_gopher_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-rule quality filter tier (training-data pipeline): document
    repetition / word-shape / symbol metrics and the keep-flag
    conjunction, all JVM-side column expressions
    (functions/text.py:gopher_quality_exprs). Linear scan, no shuffle —
    the shape a pretraining filter must have at 100 TB."""
    from bigdata_cookbook_spark.functions.text import (
        gopher_keep_expr,
        gopher_quality_exprs,
        tokens_expr,
    )

    docs = load_table(spark, sf_dir, "documents")
    docs = spread_for_cpu_bound(docs)
    toksed = docs.select("doc_id", "text", tokens_expr(F.col("text")).alias("toks"))
    m = gopher_quality_exprs(F.col("toks"), F.col("text"))
    return toksed.select(
        "doc_id",
        *[c.alias(k) for k, c in m.items()],
        gopher_keep_expr(m).alias("keep"),
    )


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub pass (training-data tier): URLs / emails / phones /
    IPv4s -> typed placeholders, plus per-kind audit counts
    (functions/text.py REDACTION_PATTERNS — one chained codegen'd
    regexp projection, no UDF, no shuffle).

    The synthetic corpus contains no PII, so the query deterministically
    plants contact strings on doc_id-keyed subsets (identical expression
    in the oracle) — the redaction itself is what's under test."""
    from bigdata_cookbook_spark.functions.text import (
        redact_pii_expr,
        redaction_counts_exprs,
    )

    docs = load_table(spark, sf_dir, "documents")
    docs = spread_for_cpu_bound(docs)
    d = F.col("doc_id")
    planted = F.concat(
        F.col("text"),
        F.when(d % 7 == 0, F.concat(F.lit(" contact user"), d.cast("string"), F.lit("@example.com"))).otherwise(F.lit("")),
        F.when(d % 11 == 0, F.concat(F.lit(" visit https://example.com/d/"), d.cast("string"))).otherwise(F.lit("")),
        F.when(d % 13 == 0, F.concat(F.lit(" call 555-010-"), F.lpad((d % 10000).cast("string"), 4, "0"))).otherwise(F.lit("")),
        F.when(d % 17 == 0, F.concat(F.lit(" from 10.0."), (d % 256).cast("string"), F.lit("."), ((d / 7).cast("long") % 256).cast("string"))).otherwise(F.lit("")),
    )
    aug = docs.select("doc_id", planted.alias("text"))
    counts = redaction_counts_exprs(F.col("text"))
    return aug.select(
        "doc_id",
        *[c.alias(k) for k, c in counts.items()],
        redact_pii_expr(F.col("text")).alias("redacted"),
    )


def q_token_window_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding token-window chunker (operators/corpus.py
    token_window_chunks): documents -> 32-token chunks at stride 16 —
    the RAG/pretraining segmentation stage, linear scan + explode, no
    shuffle."""
    from bigdata_cookbook_spark.operators.corpus import token_window_chunks

    docs = load_table(spark, sf_dir, "documents")
    docs = spread_for_cpu_bound(docs)
    return token_window_chunks(docs, window=32, stride=16)


def q_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining pipeline capstone composition: token_window_chunks ->
    per-stream pack_token_budget — chunk every document into 32-token
    windows, shard chunks into 8 deterministic pack streams (doc_id % 8;
    each stream packs independently, so the operator parallelizes by
    stream at any scale), then assign pack_id under a 128-token budget
    (start-offset rule, llm/stage.py). The chunk -> filter -> dedup ->
    PACK chain is the full data-to-model-sequences story."""
    from bigdata_cookbook_spark.llm.stage import pack_token_budget
    from bigdata_cookbook_spark.operators.corpus import token_window_chunks

    docs = load_table(spark, sf_dir, "documents")
    docs = spread_for_cpu_bound(docs)
    chunks = token_window_chunks(docs, window=32, stride=16).withColumn(
        "stream", (F.col("doc_id") % 8).cast("int")
    )
    packed = pack_token_budget(
        chunks,
        group_cols=["stream"],
        text_col="chunk_text",
        max_tokens=128,
        order_cols=["doc_id", "chunk_idx"],
    )
    return packed.select("stream", "doc_id", "chunk_idx", "est_tokens", "pack_id")


def q_comention_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J8: co-mention pairs — parts co-occurring within an order, edge
    weight = co-occurrence count (reference network_analysis.py:129-201).

    Implemented as groupBy(orderkey) -> in-array pair expansion instead
    of a self-join: one shuffle of the compact fact rows (keyed by the
    high-cardinality orderkey, even at scale), pairs expand inside each
    group (bounded by per-order cardinality), then one shuffle of the
    pairs. The sort-merge self-join formulation measured ~2x slower
    (per-key sorts); with a SHUFFLE_HASH hint it reaches parity at the
    min but with a fatter tail (round-2 interleaved 6-rep measurement),
    so the group-expand stays. mapInPandas/NumPy expansion also loses
    (Arrow transfer of the lists costs more than the interpreted lambda
    saves; measured 1.3s vs 0.6s). Semantics identical (strict <
    ordering on part keys).

    Two measured refinements (1.01s -> 0.59s at sf0.1):
    - widen the group shuffle to defaultParallelism: the expansion is
      CPU-bound, and the bench profile's small shuffle.partitions would
      run it on a fraction of the cores;
    - pack each pair into ONE long (a<<32 | b) so the pair shuffle rows
      and the aggregate hash keys are a single fixed-width column,
      decoded only after the HAVING filter has shrunk the result.

    Kernel lives in operators/graph.cooccurrence_pairs; the bench runs
    the same kernel over the bucketed lineitem layout (pre_partitioned,
    one Exchange) — the 100 TB storage plan. Round 4 exhausted the
    kernel space (four formulations within noise; decomposition table in
    the cooccurrence_pairs docstring): ~75% of the runtime is the
    pair-key Exchange + ~1.2M-distinct-key hash aggregate, common to
    every variant — the measured engine floor for a distributed pair
    count at this toy scale, with the scale-out plan already optimal."""
    from bigdata_cookbook_spark.operators.graph import cooccurrence_pairs

    li = load_table(spark, sf_dir, "lineitem")
    return cooccurrence_pairs(li, "l_orderkey", "l_partkey", min_weight=2)


def q_skew_salted_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew tier: COUNT(DISTINCT user_id) per event_type via the
    value-aligned salted two-phase aggregate (operators/skew.py
    salted_count_distinct). event_type has only a handful of values, so on
    a cluster every distinct-user reduce for one type lands on one task —
    exactly the hot-key regime the salt scatters. Oracle is the plain
    COUNT(DISTINCT): salting must be an execution detail, never a result
    change."""
    from bigdata_cookbook_spark.operators.skew import salted_count_distinct

    events = load_table(spark, sf_dir, "events")
    return salted_count_distinct(
        events, ["event_type"], "user_id", n_salts=16, out_col="n_users"
    )


def q_skew_salted_join_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew tier: orders joined to the customer dim through salted_join
    (operators/skew.py) — the build side replicated across 8 salts, the
    probe side scattered — then aggregated per market segment. Oracle is
    the plain join + group: row-identical by construction. (With a dim
    this small one would broadcast instead; the query pins the salted
    path's correctness for the too-big-to-broadcast regime.)"""
    from bigdata_cookbook_spark.operators.skew import salted_join

    orders = load_table(spark, sf_dir, "orders")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    joined = salted_join(
        orders.select("o_custkey", "o_totalprice"), dim, "o_custkey", n_salts=8
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        _dec_sum("o_totalprice").alias("total_price"),
    )


def q_asof_click_before_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (scale-tier temporal operator, operators/temporal.py):
    each purchase picks the same user's most recent click at-or-before it.
    Implemented as union + one windowed last(ignorenulls) pass — ONE
    shuffle on user_id, no |L|x|R| pair explosion. Oracle: DuckDB's
    native ASOF LEFT JOIN. Timestamps surface as epoch micros (BIGINT)
    on both engines (events.ts is ns-parquet; micros is Spark's native
    resolution)."""
    from bigdata_cookbook_spark.operators.temporal import asof_join

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_event_id")
    )
    res = asof_join(
        purchases, clicks, on="ts", by=["user_id"], right_cols=["click_event_id"]
    )
    return res.select(
        "user_id",
        F.unix_micros("ts").alias("purchase_ts_us"),
        "event_id",
        F.unix_micros("__asof_ts").alias("click_ts_us"),
        "click_event_id",
    )


def q_range_count_events_after_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binned range join (scale-tier temporal operator,
    operators/temporal.py): events per purchase in the 2 h after it, same
    user. The interval side explodes to 2 h bins and equi-joins on
    (user_id, bin) — fan-out bounded by bins-per-interval, never
    |points|x|intervals| — then the exact (ts > start AND ts <= end)
    predicate applies. Zero-match purchases kept via a count join-back.
    Oracle: the plain range-predicate LEFT JOIN; binning must be
    invisible in results."""
    from bigdata_cookbook_spark.operators.temporal import range_join_binned

    events = load_table(spark, sf_dir, "events")
    purchases = events.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "event_id"
    )
    intervals = purchases.withColumn("end_ts", F.col("ts") + F.expr("INTERVAL 2 HOURS"))
    points = events.select(
        "user_id", F.col("ts").alias("ev_ts"), F.col("event_id").alias("ev_id")
    )
    joined = range_join_binned(
        points,
        intervals,
        point_ts="ev_ts",
        start_col="ts",
        end_col="end_ts",
        equi_keys=["user_id"],
        bin_seconds=7200,
    )
    counts = joined.groupBy("event_id").agg(F.count(F.lit(1)).alias("__n"))
    return purchases.join(counts, "event_id", "left").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("purchase_ts_us"),
        F.coalesce(F.col("__n"), F.lit(0)).cast("long").alias("n_following"),
    )


def q_hash_split_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data tier: deterministic, engine-portable train/val/test
    split (80/10/10) of the documents table by content hash of doc_id
    (operators/sampling.py). No shuffle — a pure narrow map; the oracle
    recomputes the identical assignment from the same md5 rule, which is
    the portability property itself under test."""
    from bigdata_cookbook_spark.operators.sampling import hash_split

    docs = load_table(spark, sf_dir, "documents")
    return hash_split(
        docs.select("doc_id"), "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1}
    )


def q_stratified_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data tier: per-stratum deterministic sampling — urgent
    orders kept at 20%, high at 10%, the rest at 5%, selected by content
    hash of the order key (operators/sampling.py)."""
    from bigdata_cookbook_spark.operators.sampling import stratified_hash_sample

    orders = load_table(spark, sf_dir, "orders")
    return stratified_hash_sample(
        orders.select("o_orderkey", "o_orderpriority"),
        "o_orderkey",
        "o_orderpriority",
        {"1-URGENT": 0.2, "2-HIGH": 0.1},
        default_fraction=0.05,
    )


def q_weighted_sample_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data tier: deterministic importance sampling — orders
    kept with probability proportional to order value (p_i = min(1,
    0.1 * w_i / avg(w)), content-hash decided; operators/sampling.py).
    The oracle recomputes the identical row set."""
    from bigdata_cookbook_spark.operators.sampling import weighted_hash_sample

    orders = load_table(spark, sf_dir, "orders")
    return weighted_hash_sample(
        orders.select("o_orderkey", "o_totalprice"),
        "o_orderkey",
        "o_totalprice",
        fraction=0.1,
    )


def q_price_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A17 extension: exact interpolated percentiles (median, p95) of the
    order value per priority — percentile_cont semantics on both engines."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.95)), 4).alias("p95"),
        F.count(F.lit(1)).alias("n_orders"),
    )


def q_iqr_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality tier: Tukey IQR-fence outlier detection per group —
    fences at q1 - 1.5*IQR / q3 + 1.5*IQR on the order value, reporting
    per-priority outlier counts and rates. Two passes over one shuffle
    key (exact percentiles, then a broadcast join of the 5-row fence
    table back onto the facts); at 100 TB swap approx_percentile into
    the fence pass — the fence-join stage is unchanged."""
    orders = load_table(spark, sf_dir, "orders")
    fences = orders.groupBy("o_orderpriority").agg(
        F.percentile("o_totalprice", F.lit(0.25)).alias("q1"),
        F.percentile("o_totalprice", F.lit(0.75)).alias("q3"),
    ).select(
        "o_orderpriority",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    flagged = orders.join(F.broadcast(fences), "o_orderpriority").select(
        "o_orderpriority",
        ((F.col("o_totalprice") < F.col("lo")) | (F.col("o_totalprice") > F.col("hi"))).alias("is_out"),
    )
    return flagged.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("is_out"), 1)).alias("n_outliers"),
        F.round(F.count(F.when(F.col("is_out"), 1)) * 100.0 / F.count(F.lit(1)), 4).alias("outlier_pct"),
    )


def q_rolling_hour_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W-family extension: event-time RANGE-frame window — per user, the
    running average of `value` over the trailing hour (inclusive). The
    frame is value-based (interval on event time), not row-based: Spark
    expresses it as rangeBetween on epoch micros, DuckDB as RANGE BETWEEN
    INTERVAL 1 HOUR PRECEDING. One shuffle on user_id + per-key sort."""
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3_600_000_000, 0)
    )
    return events.select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.avg("value").over(w), 4).alias("avg_1h"),
    )


def q_rollup_order_volumes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A-family extension: hierarchical subtotals via ROLLUP
    (status, priority) — detail rows, per-status subtotals, grand total
    in ONE pass (Spark expands grouping sets map-side; no self-union of
    three aggregations). grouping_id disambiguates subtotal NULLs."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping_id("o_orderstatus", "o_orderpriority").alias("gid"),
            F.count(F.lit(1)).alias("n_orders"),
            _dec_sum("o_totalprice").alias("total_price"),
        )
        .select(
            "o_orderstatus", "o_orderpriority", "gid", "n_orders", "total_price"
        )
    )


def q_neardup_canonical_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup tier last step: MinHash/LSH candidate pairs -> transitive
    clusters (min-label-propagation connected components,
    operators/graph.py) -> deterministic canonical doc per cluster.
    FULL value oracle since round 5: the iterative min-label fixpoint
    converges to exactly what a recursive reachability CTE + MIN(label)
    computes (_neardup_clusters_sql); semantics additionally pinned by
    tests/test_graph_cc.py (randomized union-find equivalence,
    transitivity, convergence)."""
    from bigdata_cookbook_spark.operators.dedup import minhash_lsh_candidates
    from bigdata_cookbook_spark.operators.graph import dedup_clusters

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(docs, num_hashes=12, band_size=2)
    return dedup_clusters(pairs, docs, id_col="doc_id")


def q_neardup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware canonical selection (operators/graph.
    dedup_keep_best): same MinHash/LSH candidate pairs and transitive
    clusters as neardup_canonical_clusters, but each cluster keeps its
    LONGEST member (n_chars, ties to min id) instead of the min-id one —
    the keep-the-best-copy rule real pipelines use when a cluster holds
    a full article and its truncated syndication copies. Full value
    oracle: recursive-CTE components + the identical row_number argmax."""
    from bigdata_cookbook_spark.operators.dedup import minhash_lsh_candidates
    from bigdata_cookbook_spark.operators.graph import dedup_keep_best

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(docs, num_hashes=12, band_size=2)
    return dedup_keep_best(pairs, docs, "n_chars", id_col="doc_id")


def q_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data tier: LEAKAGE-SAFE train/val/test split — near-dup
    clusters (same MinHash/LSH candidates + connected components as
    neardup_canonical_clusters) are assigned to splits atomically by
    hashing the cluster's canonical id, so no near-dup pair straddles a
    split boundary (the eval-contamination path a per-document
    hash_split leaves open). Full value oracle: recursive-CTE
    components + the SAME md5 CASE rule generated by split_sql_case,
    applied to canonical_id."""
    from bigdata_cookbook_spark.operators.dedup import minhash_lsh_candidates
    from bigdata_cookbook_spark.operators.sampling import cluster_safe_split

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_lsh_candidates(docs, num_hashes=12, band_size=2)
    return cluster_safe_split(
        docs.select("doc_id"),
        pairs,
        "doc_id",
        {"train": 0.8, "val": 0.1, "test": 0.1},
    )


def q_risk_level_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: categorical -> numeric mapping (High/Medium/Low -> 3/2/1/0,
    reference summary.py:424-429) applied to order priorities."""
    orders = load_table(spark, sf_dir, "orders")
    level = (
        F.when(F.col("o_orderpriority") == "1-URGENT", 3)
        .when(F.col("o_orderpriority") == "2-HIGH", 2)
        .when(F.col("o_orderpriority") == "3-MEDIUM", 1)
        .otherwise(0)
    )
    return (
        orders.select("o_orderpriority", level.alias("risk_level"))
        .groupBy("o_orderpriority", "risk_level")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q_argmax_joinback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J7+W2: peak (priority, day) keys joined back to the fact rows to
    fetch the latest order that day (reference
    visualization_tools.py:94-110 max-coverage merge-back)."""
    orders = load_table(spark, sf_dir, "orders")
    daily = orders.groupBy(
        "o_orderpriority", F.to_date("o_orderdate").alias("day")
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    peak = argmax_row_per_group(
        daily, ["o_orderpriority"], [F.col("n_orders").desc(), F.col("day").asc()]
    )
    facts = orders.select(
        "o_orderpriority",
        F.to_date("o_orderdate").alias("day"),
        "o_orderkey",
        "o_totalprice",
    )
    joined = peak.join(facts, ["o_orderpriority", "day"])
    return argmax_row_per_group(
        joined, ["o_orderpriority"], [F.col("o_orderkey").desc()]
    ).select("o_orderpriority", "day", "n_orders", "o_orderkey", "o_totalprice")


def q_cross_source_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9: union of two series' date indices, full-outer join, forward-fill
    both sides (reference Narrative_Miners/src/tool.py:79-88)."""
    events = load_table(spark, sf_dir, "events")
    daily = (
        events.filter(F.col("event_type").isin("purchase", "error"))
        .groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    p = daily.filter(F.col("event_type") == "purchase").select(
        "day", F.col("cnt").alias("purchase_cnt")
    )
    e = daily.filter(F.col("event_type") == "error").select(
        "day", F.col("cnt").alias("error_cnt")
    )
    joined = p.join(e, "day", "full_outer")
    # unpartitioned window = one task, BUT the input is the post-agg
    # DAILY series (|rows| = |distinct days|, bounded by the calendar,
    # not the fact table) — matching the reference's single-frame ffill.
    # At multi-decade span, partition by year and seed each year with the
    # previous year's closing value (operators/analytics.py group_ffill).
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return joined.select(
        "day",
        F.last("purchase_cnt", ignorenulls=True).over(w).alias("purchase_cnt"),
        F.last("error_cnt", ignorenulls=True).over(w).alias("error_cnt"),
    )


def q_date_parse_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: date formatting family — '%b %Y' month labels and '2023Q1'
    quarter labels (reference tool.py:1130, Board tool.py:357-365)."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(
            F.date_format("o_orderdate", "MMM yyyy").alias("month_label"),
            F.concat(
                F.year("o_orderdate").cast("string"),
                F.lit("Q"),
                F.quarter("o_orderdate").cast("string"),
            ).alias("quarter_label"),
        )
        .groupBy("month_label", "quarter_label")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )


def q_log_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F12: log transform with clipping (reference
    Report_Generator_AI_Threats/src/tool.py:114-128)."""
    li = load_table(spark, sf_dir, "lineitem")
    per_part = li.groupBy("l_partkey").agg(F.sum("l_quantity").alias("sum_qty"))
    return per_part.select(
        "l_partkey",
        F.round(F.log(F.greatest(F.col("sum_qty") - 100.0, F.lit(0.01))), 4).alias("log_excess_qty"),
    )


def q_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11/F13: declared-schema JSON parsing (never eval) — extract props.k
    and bucket it (reference from_json stance, SURVEY §7 quirks)."""
    events = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (
        events.select((k % 10).alias("k_bucket"))
        .groupBy("k_bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def q_collect_list_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: order-pinned collect-list — first 5 event values per user by
    event_id (reference mind_map_tools.py:522-529; pandas relies on frame
    order, we sort explicitly inside the array).

    The ordered values are emitted as one ';'-joined %.4f string: a
    canonical scalar every comparison harness can sort/hash (an
    array<double> column broke the round-1 driver canonicalizer —
    pandas `unhashable type: 'list'`). The raw-array form stays under
    pytest (tests/test_entry_queries.py)."""
    return q_collect_list_ordered_array(spark, sf_dir).select(
        "user_id",
        F.concat_ws(
            ";", F.transform("first_values", lambda v: F.format_string("%.4f", v))
        ).alias("first_values"),
    )


def q_collect_list_ordered_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 raw form: array<double> output (pytest-only — see
    q_collect_list_ordered for why the registry emits a string)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        F.slice(
            F.transform(
                F.array_sort(F.collect_list(F.struct("event_id", "value"))),
                lambda s: s["value"],
            ),
            1,
            5,
        ).alias("first_values")
    )


def q_embedding_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (training-data tier): all
    pairs with cosine >= 0.4, via block-partitioned NumPy GEMM inside
    mapInPandas (operators/similarity.py — the n^2 expression plan is
    ~100x slower because higher-order array functions evaluate
    interpreted). At 100 TB, LSH bucketing (q_ann_lsh_buckets) prunes
    candidates before this verification kernel."""
    from bigdata_cookbook_spark.operators.similarity import blocked_cosine_pairs
    from bigdata_cookbook_spark.sources.testdata import parquet_row_count

    emb = load_table(spark, sf_dir, "embeddings")
    # block-grid cardinality from parquet footers (driver-side metadata,
    # no extra Spark job — the count() fallback was a full scan)
    n = parquet_row_count(f"{sf_dir}/embeddings.parquet")
    return blocked_cosine_pairs(emb, threshold=0.4, n_vectors=n)


def _hyperplanes(n: int = 8, dim: int = 64, seed: int = 123) -> list[list[float]]:
    import random

    rng = random.Random(seed)
    return [[round(rng.gauss(0, 1), 6) for _ in range(dim)] for _ in range(n)]


def q_ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing for ANN (scale path of similarity
    search): 8 sign bits of dot(embedding, r_i) -> bucket string. Vectors
    sharing a bucket are ANN candidates; the hyperplanes are seeded
    literals so Spark and the SQL oracle agree bit-for-bit."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    planes = _hyperplanes()
    dot = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    bits = [
        F.when(dot(F.col("e"), F.array(*[F.lit(v) for v in p])) > 0, F.lit("1")).otherwise(
            F.lit("0")
        )
        for p in planes
    ]
    return emb.select("vec_id", F.concat(*bits).alias("bucket"))


def q_min_occurrence_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: min-occurrence row filter — keep only lineitem rows of parts
    with >= 25 lineitems (window count, no groupBy+join), then summarize
    per surviving part (reference network_analysis.py:97-107)."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey")
    kept = li.withColumn("n_rows", F.count(F.lit(1)).over(w)).filter(
        F.col("n_rows") >= 25
    )
    return kept.groupBy("l_partkey", "n_rows").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty")
    )


def q_dedup_joinback_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: dedup -> expensive stage -> join-back. Labels are computed once
    per distinct text (the reference dedups before the LLM call,
    labeling.py:263-264,312-322) and merged back onto every row. The
    "label" here is a deterministic md5 prefix standing in for the LLM."""
    docs = load_table(spark, sf_dir, "documents")
    uniq = docs.select("text").distinct()
    labeled = uniq.select(
        "text",
        F.substring(F.md5(F.encode(F.lower(F.trim(F.col("text"))), "UTF-8")), 1, 2).alias("label"),
    )
    return docs.join(labeled, "text", "left").select("doc_id", "label")


def q_multi_source_daily_volumes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6: N-way reduce outer merge — per-label daily volume frames merged
    on the date key (reference visualization_tools.py:293-297), 0-filled."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy(F.to_date("ts").alias("day"), "event_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )

    def series(et: str, name: str) -> DataFrame:
        return daily.filter(F.col("event_type") == et).select(
            "day", F.col("cnt").alias(name)
        )

    merged = (
        series("click", "click_cnt")
        .join(series("view", "view_cnt"), "day", "full_outer")
        .join(series("purchase", "purchase_cnt"), "day", "full_outer")
    )
    return merged.select(
        "day",
        F.coalesce("click_cnt", F.lit(0)).alias("click_cnt"),
        F.coalesce("view_cnt", F.lit(0)).alias("view_cnt"),
        F.coalesce("purchase_cnt", F.lit(0)).alias("purchase_cnt"),
    )


def q_fallback_coalesce_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J10: fallback join — primary per-user purchase average, filled from
    the click average where absent (reference report_generator.py:453-470
    filings-response fillna news-response)."""
    events = load_table(spark, sf_dir, "events")
    users = events.select("user_id").distinct()

    def avg_of(et: str, name: str) -> DataFrame:
        return (
            events.filter(F.col("event_type") == et)
            .groupBy("user_id")
            .agg(F.avg("value").alias(name))
        )

    return (
        users.join(avg_of("purchase", "purchase_avg"), "user_id", "left")
        .join(avg_of("click", "click_avg"), "user_id", "left")
        .select(
            "user_id",
            F.coalesce("purchase_avg", "click_avg", F.lit(0.0)).alias("engagement"),
        )
    )


def q_sector_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3: sector ranking — market segments dense-ranked by summed order
    value (reference tool.py:131-134,795-799 sectors by summed counts)."""
    orders = load_table(spark, sf_dir, "orders")
    customer = load_table(spark, sf_dir, "customer")
    totals = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .groupBy("c_mktsegment")
        .agg(_dec_sum("o_totalprice").alias("total_price"))
    )
    return totals.select(
        "c_mktsegment",
        "total_price",
        F.dense_rank()
        .over(Window.orderBy(F.col("total_price").desc(), F.col("c_mktsegment").asc()))
        .alias("sector_rank"),
    )


def q_peak_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W8: peak detection and cross-series lag — argmax day per event_type
    and the day-lag of each series' peak vs the purchase peak (reference
    Narrative_Miners/src/tool.py:694-719 news-vs-filings peak lag)."""
    events = load_table(spark, sf_dir, "events")
    daily = events.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    peaks = argmax_row_per_group(
        daily, ["event_type"], [F.col("cnt").desc(), F.col("day").asc()]
    ).select("event_type", F.col("day").alias("peak_day"), F.col("cnt").alias("peak_cnt"))
    ref = peaks.filter(F.col("event_type") == "purchase").select(
        F.col("peak_day").alias("ref_day")
    )
    return peaks.crossJoin(F.broadcast(ref)).select(
        "event_type",
        "peak_day",
        "peak_cnt",
        F.datediff("peak_day", "ref_day").alias("lag_days_vs_purchase"),
    )


def q_first_last_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: first/last per group with a pinned ordering — per-user earliest
    and latest event value by event_id (reference tool.py:714,
    visualization_tools.py:108,270; pandas relies on frame order, we pin
    the order via min_by/max_by on a unique key)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("user_id").agg(
        F.round(F.min_by("value", "event_id"), 4).alias("first_value"),
        F.round(F.max_by("value", "event_id"), 4).alias("last_value"),
        F.min_by("event_type", "event_id").alias("first_event_type"),
    )


def q_keyword_context_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: text truncation around a keyword hit — 65-char window starting
    30 chars before the first 'spark' occurrence (reference
    network_analysis.py:141-151 co-mention text windows)."""
    docs = load_table(spark, sf_dir, "documents")
    pos = F.locate("spark", F.col("text"))
    return docs.filter(pos > 0).select(
        "doc_id",
        F.substring(F.col("text"), F.greatest(pos - 30, F.lit(1)), 65).alias("snippet"),
    )


def q_token_pack_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F8: token-budget packing as a relational plan — chars/4 token
    estimate, cumulative sum per source ordered by doc_id, bucket id =
    floor(start_offset / budget). Start-offset packing is this engine's
    declared semantics (the reference packs greedily in a Python loop,
    token_manager.py:58-94 — same budget envelope, order-stable)."""
    docs = load_table(spark, sf_dir, "documents")
    budget = 500
    tok = F.ceil(F.col("n_chars") / 4.0).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_cum = docs.select(
        "doc_id", "source", tok.alias("tok")
    ).withColumn("cum_tok", F.sum("tok").over(w))
    return with_cum.select(
        "doc_id",
        "source",
        "tok",
        F.floor((F.col("cum_tok") - F.col("tok")) / budget).cast("int").alias("bucket"),
    )


def q_llm_cost_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L11: LLM cost estimator — chars/4 ~= tokens, $0.15/1K input and
    $0.60/1K output at ~100 output tokens/row (reference
    labeling.py:411-432), aggregated per source."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum(F.length("text") / 4.0), 2).alias("input_tokens"),
        (
            F.sum(F.length("text") / 4.0) * 0.15 / 1000.0
            + F.count(F.lit(1)) * 100 * 0.60 / 1000.0
        ).alias("est_cost_usd"),
    )


def q_similarity_multiquery_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1+Q11: multi-query similarity retrieval with rerank threshold —
    three query vectors (vec_id 0,1,2), cosine vs the full corpus, keep
    score >= 0.2, top-5 per query (reference Similarity + rerank_threshold
    + document_limit, query_builder.py:59-82, search.py:40-73).

    Uses the tier-2 vectorized kernel (operators/similarity.py
    query_cosine_scores): one Arrow pass over the corpus with the tiny
    query matrix in the task closure — ~3x faster than the interpreted
    zip_with/aggregate expression tier at bench scale, same rounded
    scores, and still a single corpus scan for all queries."""
    from bigdata_cookbook_spark.operators.similarity import query_cosine_scores

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qe"),
    )
    sims = (
        query_cosine_scores(emb, q)
        .filter(F.col("vec_id") != F.col("query_id"))
        .filter(F.col("score") >= 0.2)
    )
    return topk_per_group(
        sims, ["query_id"], [F.col("score").desc(), F.col("vec_id").asc()], k=5
    )


def q_knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN majority-vote classification (similarity tier composed with
    A6 mode): for query vectors 0-2, the majority label among the 10
    cosine-nearest neighbors, ties broken toward the smaller label. One
    corpus scan for all queries (query matrix in the tier-2 kernel's task
    closure), per-query top-k window, then an argmax window over vote
    counts."""
    from bigdata_cookbook_spark.operators.similarity import query_cosine_scores

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").cast("array<double>").alias("qe"),
    )
    sims = (
        query_cosine_scores(emb, q, keep_cols=("label",), round_to=None)
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumnRenamed("score", "cos")
    )
    nn = topk_per_group(
        sims, ["query_id"], [F.col("cos").desc(), F.col("vec_id").asc()], k=10
    )
    votes = nn.groupBy("query_id", "label").agg(F.count(F.lit(1)).alias("votes"))
    best = topk_per_group(
        votes, ["query_id"], [F.col("votes").desc(), F.col("label").asc()], k=1
    )
    return best.select("query_id", F.col("label").alias("pred_label"), "votes")


def q_profile_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data tier: column profiling of orders — null counts,
    exact distinct cardinality, native-type min/max per column, all in
    ONE aggregation pass (operators/profile.py); the wide single-row
    result unpivots via stack()."""
    from bigdata_cookbook_spark.operators.profile import profile_columns

    orders = load_table(spark, sf_dir, "orders")
    return profile_columns(orders)


def q_continuous_aggregate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-rollup-style continuous aggregate (plans/rollup.py):
    refresh the incrementally-maintained daily rollup, then answer via
    rollup-for-closed-buckets UNION raw-tail — the rewrite must be
    indistinguishable from aggregating raw directly, which is exactly
    what the oracle computes."""
    import tempfile

    from bigdata_cookbook_spark.plans.rollup import rollup_query, rollup_refresh

    events = load_table(spark, sf_dir, "events")
    keys = ["event_type"]
    aggs = {"n": (None, "count"), "total": ("value", "sum"), "vmax": ("value", "max")}
    path = tempfile.mkdtemp(prefix="bcs_rollup_") + "/agg"
    rollup_refresh(spark, events, path, "ts", keys, aggs)
    out = rollup_query(spark, events, path, "ts", keys, aggs)
    return out.select(
        F.col("bucket").cast("date").alias("day"),
        "event_type",
        "n",
        F.round("total", 4).alias("total"),
        "vmax",
    )


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands) — the batch twin of the
    streaming session_window operator: per user, a new session starts
    when the gap to the previous event exceeds 6 hours; emit per-session
    start/end/count/value. One shuffle on user_id; both windows share the
    same (user_id, ts) sort so Spark plans a single Sort+Exchange."""
    events = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # microsecond epoch on BOTH engine sides: second-truncated casts
    # disagree with DuckDB's fractional EPOCH() exactly at the gap
    # boundary (found at sf0.1)
    us = F.unix_micros(F.col("ts"))
    gap_flag = F.when(
        us - F.lag(us).over(w) > 6 * 3600 * 1_000_000, 1
    ).otherwise(0)
    wc = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sess = events.withColumn("new_sess", gap_flag).withColumn(
        "session_no", F.sum("new_sess").over(wc)
    )
    return sess.groupBy("user_id", "session_no").agg(
        F.date_trunc("second", F.min("ts")).alias("session_start"),
        F.date_trunc("second", F.max("ts")).alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
        _dec_sum("value").alias("session_value"),
    )


def q_sliding_window_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of the streaming sliding window (size=2 days, slide=1
    day): each event lands in the window starting the day before and the
    one starting its own day. Explode of the two window-start dates, then
    one aggregation — the same result Structured Streaming's
    window(ts, '2 days', '1 day') produces once drained."""
    events = load_table(spark, sf_dir, "events")
    day = F.to_date("ts")
    return (
        events.select(
            F.explode(F.array(F.date_sub(day, 1), day)).alias("win_start"),
            "event_type",
        )
        .groupBy("win_start", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def q_corpus_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data pipeline capstone: quality filter -> exact dedup ->
    near-dup removal, end to end (operators/corpus.py). Output = the
    surviving corpus; the full stage-by-stage drop accounting is covered
    in tests/test_misc_operators.py."""
    from bigdata_cookbook_spark.operators.corpus import corpus_clean

    docs = load_table(spark, sf_dir, "documents")
    return corpus_clean(docs)["kept"]


def q_streaming_windowed_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming extension (§2.10): event-time tumbling-window
    counts with watermark, drained via availableNow into a memory sink.
    The oracle is the equivalent *batch* SQL — proving stream==batch parity
    once the stream is drained."""
    import uuid

    from bigdata_cookbook_spark.streaming.events import stream_events, windowed_counts

    name = f"bcs_win_{uuid.uuid4().hex[:8]}"
    stream = stream_events(spark, sf_dir)
    q = (
        windowed_counts(stream, "1 day")
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    return spark.sql(f"SELECT day, event_type, cnt FROM {name}")


def q_sentence_budget_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-boundary token-budget chunking (functions/text.
    sentence_budget_chunks_expr — the engine twin of the reference's
    TokenManager.split_text, token_manager.py:97-195), budget 64 BPE
    pretokens. Partial value oracle in the compression_ratio style:
    chunk BOUNDARIES come from an aggregate fold DuckDB cannot replay
    in plain SQL, but (a) the per-doc token total is recomputed
    independently by the oracle from the SAME sentence construction +
    shared BPE pattern and hash-matched, and (b) the two fold
    invariants — every chunk within budget unless it is a lone word
    piece, and chunk concatenation reproducing the sentence stream
    verbatim — are engine-computed booleans the oracle pins TRUE.
    Exact chunking semantics are pinned by the Python-reference
    property test (tests/test_misc_operators.py).

    Round 12 (guide §4.2, VERDICT r11 item 4): the interpreted
    aggregate fold accumulated the growing chunk by repeated concat —
    O(n^2) bytes per document — and the totals/assertion columns
    re-counted every chunk + sentence through three more
    regexp_extract_all passes; the query now runs the Arrow kernel
    twin (sentence_budget_stats_kernel: compiled-regex counts once per
    sentence, integer fold, strings assembled once on flush, only
    (long,int,bool,bool) back over the boundary), property-pinned
    against the expression tier incl. whitespace exotica
    (tests/test_property.py). The expression tier stays the
    contract/oracle form. Measured 1.00 -> 0.61 s at sf1 (min-of-3
    fresh-plan noop runs, this round's host; the r11 record put the
    expression tier at 2.2 s on a loaded host)."""
    from bigdata_cookbook_spark.functions.text import (
        sentence_budget_stats_kernel,
    )

    max_tokens = 64
    docs = load_table(spark, sf_dir, "documents")
    # the per-sentence count battery is CPU-bound, so
    # spread_for_cpu_bound (no-op on a wide scan): round 11,
    # 9.5 -> ~1.2 s at sf1
    docs = spread_for_cpu_bound(docs)
    return sentence_budget_stats_kernel(
        docs.select("doc_id", "text"), max_tokens
    )


def q_dual_role_workflow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 end-to-end: normalize -> stub-label -> top providers per
    sector (W1 over L1 output), over the committed fixture parquet.

    The mapInPandas LLM stage runs the deterministic stub backend
    (FNV-1a over entity_id|masked_text -> label bucket + guardrail), so
    the whole workflow is value-checkable: the oracle reproduces the
    masking in SQL and the FNV hash with a recursive CTE. Live-backend
    behavior stays pinned in tests/test_query_llm_workflows.py."""
    from bigdata_cookbook_spark.llm.stub import stub_backend
    from bigdata_cookbook_spark.sources.fixtures import fixture_tables
    from bigdata_cookbook_spark.workflows import dual_role_analysis

    ents, docs, chunks = fixture_tables(spark)
    out = dual_role_analysis(docs, chunks, ents, backend=stub_backend)
    return out["top_by_sector"]


def q_training_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle (training-data serving order).

    Emits the md5(id:seed) shuffle key (operators/sampling.shuffle_key)
    and the total-order position under it via sampling.global_rank —
    the distributed rank (range partition + local sort + broadcast
    offsets), NOT a partitionless row_number window, so the fact table
    never funnels through one task. The production serving operator —
    sampling.deterministic_shuffle — realizes the same order as a file
    layout (tests/test_sampling.py pins file order == this rank order);
    the registry query materializes the rank explicitly so the
    permutation itself is value-oracled against DuckDB."""
    from bigdata_cookbook_spark.operators.sampling import global_rank, shuffle_key

    docs = load_table(spark, sf_dir, "documents")
    keyed = docs.select("doc_id", shuffle_key(F.col("doc_id"), 42).alias("shuffle_key"))
    return global_rank(keyed, ["shuffle_key", "doc_id"], rank_col="rank")


def q_domain_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-mix resampling (operators/sampling.domain_mix_sample):
    rebalance the 20-source corpus so src0-src4 carry double the share of
    the rest — the pretraining data-mixing step (upweight curated
    sources, downweight crawl). Exact quotas, hash-rank row choice."""
    from bigdata_cookbook_spark.operators.sampling import domain_mix_sample

    docs = load_table(spark, sf_dir, "documents")
    shares = {f"src{i}": (2.0 if i < 5 else 1.0) for i in range(20)}
    out = domain_mix_sample(docs, "source", "doc_id", shares)
    return out.select("doc_id", "source")


def q_domain_mix_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (alpha=0.5) domain mixing
    (operators/sampling.domain_mix_temperature): shares proportional to
    sqrt(count) — the multilingual alpha-sampling rule, upweighting
    small sources. Full value oracle: quota_d =
    floor(sqrt(n_d) * min_e(sqrt(n_e))) uses only correctly-rounded
    IEEE ops (no float sums), so DuckDB recomputes bit-identical quotas
    from its own counts, then the identical md5-rank row choice."""
    from bigdata_cookbook_spark.operators.sampling import domain_mix_temperature

    docs = load_table(spark, sf_dir, "documents")
    out = domain_mix_temperature(docs, "source", "doc_id", alpha=0.5)
    return out.select("doc_id", "source")


def q_shard_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-targeted training-shard packing
    (operators/sampling.pack_shards): documents in doc_id order are
    assigned to ~32 KiB shards by exact global byte prefix sum —
    computed distributed (range partition + per-partition offsets +
    pid-local running sums), never through an Exchange SinglePartition.
    Full value oracle: SUM(...) OVER (ORDER BY ... ROWS UNBOUNDED
    PRECEDING AND 1 PRECEDING) integer-divided by the shard size."""
    from bigdata_cookbook_spark.operators.sampling import pack_shards

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.octet_length("text").alias("n_bytes")
    )
    return pack_shards(docs, ["doc_id"], "n_bytes", shard_bytes=32768)


def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup
    (operators/corpus.paragraph_dedup — the Dolma/CCNet paragraph-hash
    pass; within-doc complement is line_dedup, cross-doc n-gram spans
    are span_dedup). The synthetic corpus has no newlines, so the query
    PLANTS a paragraph structure both engines build with the same
    expression: para1 = 'BOILERPLATE-' || source (shared by every doc
    of that source — the skewed repeated-footer case the operator
    exists for), para2 = first 60 chars, para3 = rest. Keeper = lowest
    (doc_id, pos) corpus-wide; sub-min_chars paragraphs (here: the
    empty third para of short docs) are formatting, always kept.
    Full value oracle: window row_number over the paragraph key."""
    from bigdata_cookbook_spark.operators.corpus import paragraph_dedup

    docs = load_table(spark, sf_dir, "documents")
    syn = F.concat(
        F.lit("BOILERPLATE-"),
        F.col("source"),
        F.lit("\n"),
        F.substring(F.col("text"), 1, 60),
        F.lit("\n"),
        F.expr("substring(text, 61)"),
    )
    planted = docs.select("doc_id", syn.alias("text"))
    return paragraph_dedup(planted, min_chars=1)


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 terms per document by smoothed TF-IDF
    (operators/retrieval.tfidf_top_terms — corpus-aware keyword
    extraction; same analyzer as the BM25 tier, same sklearn
    smooth-idf formula, term-ascending tiebreak so top-k is
    total-ordered). Full value oracle: identical CTE chain in DuckDB
    with the shared [^\\pL\\pN]+ analyzer split."""
    from bigdata_cookbook_spark.operators.retrieval import tfidf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tfidf_top_terms(docs, k=3)


def q_benchmark_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check (operators/dedup.contamination_pairs):
    flag training docs whose 8-gram set contains >= 30% of an eval doc's
    8-grams. Eval set = doc_id % 7 == 0 (a deterministic stand-in for a
    held-out benchmark suite) — which GROWS with the corpus, so this
    query runs the broadcast_eval=False tier: shuffle hash join on the
    shingle key, no broadcast-size cliff (the force-broadcast default is
    the contract for genuinely benchmark-sized eval sets; round-3 ADVICE
    item, made honest here rather than only documented)."""
    from bigdata_cookbook_spark.operators.dedup import contamination_pairs

    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 7 == 0)
    return contamination_pairs(docs, eval_df, n=8, threshold=0.3, broadcast_eval=False)


def q_contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-prefiltered decontamination (operators/dedup.
    bloom_contamination): identical semantics and output to
    q_benchmark_contamination — the eval shingle set is first folded into
    a <=2 MiB Bloom filter probed MAP-SIDE over the corpus shingles
    (getbit into one array literal, zero joins), and only documents with
    a might-match shingle enter the exact containment join. False
    positives are removed by the exact verify; false negatives are
    impossible, so this entry shares benchmark_contamination's value
    oracle verbatim — the driver hash-checks that the prefilter changes
    nothing but the plan."""
    from bigdata_cookbook_spark.operators.dedup import bloom_contamination

    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 7 == 0)
    return bloom_contamination(
        docs, eval_df, n=8, threshold=0.3, broadcast_eval=False
    )


def q_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-eval-doc contamination audit (operators/dedup.
    contamination_report): for every eval doc (doc_id % 7 == 0, the
    same stand-in benchmark as q_benchmark_contamination) — how many
    corpus docs contain >= 30% of its 8-grams, the worst containment
    observed from ANY co-shingled corpus doc (sub-threshold leaks are
    the point of the report), and the argmax contaminator (ties ->
    smallest id). Eval docs with no shared 8-gram appear as
    (0, 0.0, NULL). Runs the shuffle tier (broadcast_eval=False) for
    the same growing-eval reason as the pairs query."""
    from bigdata_cookbook_spark.operators.dedup import contamination_report

    docs = load_table(spark, sf_dir, "documents")
    eval_df = docs.filter(F.col("doc_id") % 7 == 0)
    return contamination_report(
        docs, eval_df, n=8, threshold=0.3, broadcast_eval=False
    )


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (functions/text.
    winnow_fingerprints — Schleimer et al.'s MOSS algorithm): per doc,
    the distinct 5-gram fingerprints selected as the min-md5 gram
    (rightmost tie) of every 4-wide sliding hash window. The rolling-
    hash local-fingerprint tier above the whole-document md5
    (q_doc_fingerprint): any >= 8-token shared substring between two
    docs is GUARANTEED to produce an identical fingerprint in both.
    md5-hex ordering makes the selection itself engine-portable, so the
    oracle reproduces the argmin, not just the format."""
    from bigdata_cookbook_spark.functions.text import winnow_fingerprints

    docs = load_table(spark, sf_dir, "documents")
    # the gram/md5/argmin selection is CPU-bound
    docs = spread_for_cpu_bound(docs)
    return winnow_fingerprints(docs, k=5, w=4)


def q_quality_prune_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain quality pruning (operators/corpus.quality_prune): keep
    the top 60% of each source by document length — the keep-best-X%-
    per-domain pass a pre-training pipeline runs after quality scoring.
    Exact-integer threshold semantics (smallest score whose cumulative
    histogram count exceeds 0.4*n; ties at the cut survive), so the twin
    recomputes the identical row set with no interpolated-percentile
    boundary hazard."""
    from bigdata_cookbook_spark.operators.corpus import quality_prune

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return quality_prune(docs, "n_chars", "source", keep_frac=0.6)


_HTML_PRE = (
    '<html><head><script>var skip=1;</script><style>p{color:red}</style>'
    "</head><body><!-- nav --><h1>Doc</h1><p>"
)
_HTML_POST = '</p><p>A &amp;lt; B&nbsp;&quot;q&quot;<br/>tail</p></body></html>'


def q_html_to_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> text extraction (functions/text.html_to_text_expr): the
    first stage of a web-corpus ingest. Each document is wrapped in a
    deterministic HTML page (script/style/comment junk, block tags,
    entities incl. the one-level '&amp;lt;' case) and the extractor must
    recover the readable text. Spark expression, DuckDB twin
    (html_to_text_sql) and the Python reference are all compiled from
    the SAME step table, and the driver hash-matches the first two."""
    from bigdata_cookbook_spark.functions.text import html_to_text_expr

    docs = load_table(spark, sf_dir, "documents")
    # regex-chain extraction is CPU-bound, so spread_for_cpu_bound
    # (no-op on a wide scan): round 11, 2.7 -> ~0.4 s at sf1
    docs = spread_for_cpu_bound(docs)
    html = F.concat(F.lit(_HTML_PRE), F.col("text"), F.lit(_HTML_POST))
    return docs.select(
        "doc_id", html_to_text_expr(html).alias("text_extracted")
    )


def _html_to_text_sql() -> str:
    from bigdata_cookbook_spark.functions.text import html_to_text_sql

    pre = _HTML_PRE.replace("'", "''")
    post = _HTML_POST.replace("'", "''")
    inner = f"'{pre}' || text || '{post}'"
    return (
        f"SELECT doc_id, {html_to_text_sql(inner)} AS text_extracted "
        "FROM documents"
    )


def _planted_url_expr() -> "Column":
    """Deterministic messy URL per document (identical CASE expression in
    the oracle, _PLANTED_URL_SQL): mixed-case scheme/host, a default :80
    port on the http subset, tracking params in first/middle position,
    and fragments — every canonicalization rule fires on some subset."""
    d = F.col("doc_id")
    scheme = F.when(d % 2 == 0, F.lit("HTTP://")).otherwise(F.lit("https://"))
    host = (
        F.when(d % 5 == 0, F.lit("WWW.News-Site.COM"))
        .when(d % 5 == 1, F.lit("media.Example.co.uk"))
        .when(d % 5 == 2, F.lit("blog.example.com"))
        .when(d % 5 == 3, F.lit("93.184.216.34"))
        .otherwise(F.lit("Shop.Example.COM"))
    )
    port = F.when(d % 4 == 0, F.lit(":80")).otherwise(F.lit(""))
    path = F.concat(F.lit("/a/"), d.cast("string"))
    query = (
        F.when(
            d % 3 == 0,
            F.concat(
                F.lit("?utm_source=x&id="), d.cast("string"), F.lit("&utm_medium=y")
            ),
        )
        .when(d % 3 == 1, F.concat(F.lit("?id="), d.cast("string")))
        .otherwise(F.lit(""))
    )
    frag = F.when(d % 7 == 0, F.concat(F.lit("#Sec"), d.cast("string"))).otherwise(
        F.lit("")
    )
    return F.concat(scheme, host, port, path, query, frag)


_PLANTED_URL_SQL = """
        (CASE WHEN doc_id % 2 = 0 THEN 'HTTP://' ELSE 'https://' END)
        || (CASE WHEN doc_id % 5 = 0 THEN 'WWW.News-Site.COM'
                 WHEN doc_id % 5 = 1 THEN 'media.Example.co.uk'
                 WHEN doc_id % 5 = 2 THEN 'blog.example.com'
                 WHEN doc_id % 5 = 3 THEN '93.184.216.34'
                 ELSE 'Shop.Example.COM' END)
        || (CASE WHEN doc_id % 4 = 0 THEN ':80' ELSE '' END)
        || '/a/' || CAST(doc_id AS VARCHAR)
        || (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=x&id=' || CAST(doc_id AS VARCHAR) || '&utm_medium=y'
                 WHEN doc_id % 3 = 1 THEN '?id=' || CAST(doc_id AS VARCHAR)
                 ELSE '' END)
        || (CASE WHEN doc_id % 7 = 0 THEN '#Sec' || CAST(doc_id AS VARCHAR) ELSE '' END)
"""


def q_line_filter_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RefinedWeb-style line-wise correction filtering
    (functions/text.line_filter_exprs, Penedo et al. 2023 §3.2): drop
    navigation/counter/boilerplate/numeric/tiny lines inside each
    document, report per-rule counts and the doc-level keep rule (kept
    text >= half the original's characters). The synthetic corpus has
    no newlines, so a lined structure is PLANTED per doc_id (identical
    expression in the oracle) with every rule firing on some subset:
    an ALL-CAPS menu line, a numeric date line, a social counter, a
    boilerplate footer, then the real body. Zero-shuffle higher-order
    expressions — one scan, no UDF; the engine filter and the DuckDB
    twin compile from ONE rule table (LINE_FILTER_RULES)."""
    from bigdata_cookbook_spark.functions.text import line_filter_exprs

    docs = load_table(spark, sf_dir, "documents")
    # per-line regex rules are CPU-bound, so spread_for_cpu_bound
    # (no-op on a wide scan): round 11, 3.1 -> ~0.4 s at sf1
    docs = spread_for_cpu_bound(docs)
    d = F.col("doc_id")
    syn = F.concat_ws(
        "\n",
        F.when(d % 2 == 0, F.lit("MENU HOME NEWS")),
        F.when(d % 3 == 0, F.concat(F.lit("2024 12 "), (d % 28).cast("string"))),
        F.when(d % 5 == 0, F.concat((d % 100).cast("string"), F.lit(" likes"))),
        F.when(d % 7 == 0, F.lit("All rights reserved. Sign In to comment.")),
        F.col("text"),
    )
    exprs = line_filter_exprs(syn)
    return docs.select("doc_id", *[c.alias(k) for k, c in exprs.items()])


def _line_filter_clean_sql() -> str:
    """Oracle compiled from the SAME LINE_FILTER_RULES table."""
    from bigdata_cookbook_spark.functions.text import line_filter_sql

    frags = line_filter_sql("syn")
    sel = ",\n               ".join(f"{v} AS {k}" for k, v in frags.items())
    return f"""
        WITH s AS (
            SELECT doc_id,
                   concat_ws(chr(10),
                       CASE WHEN doc_id % 2 = 0 THEN 'MENU HOME NEWS' END,
                       CASE WHEN doc_id % 3 = 0 THEN '2024 12 ' || CAST(doc_id % 28 AS VARCHAR) END,
                       CASE WHEN doc_id % 5 = 0 THEN CAST(doc_id % 100 AS VARCHAR) || ' likes' END,
                       CASE WHEN doc_id % 7 = 0 THEN 'All rights reserved. Sign In to comment.' END,
                       text
                   ) AS syn
            FROM documents
        )
        SELECT doc_id,
               {sel}
        FROM s
    """


def q_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization + domain extraction (functions/url.py) — the
    web-ingest stage beside html_to_text: lowercase scheme/authority,
    fragment + tracking-param strip (with first-separator repair),
    default-port strip, host extraction, approximate eTLD+1 registered
    domain (multi-part public-suffix shortlist, IPv4 passthrough). The
    synthetic corpus has no URL column, so one is PLANTED per doc_id
    (identical expression in the oracle — the canonicalization itself is
    what's under test). Spark expression, DuckDB twin and the Python
    reference all compile from ONE step table (URL_CANON_STEPS); zero
    UDFs, zero shuffles — a free map stage fused into the scan at any
    scale."""
    from bigdata_cookbook_spark.functions.url import (
        canonicalize_url_expr,
        registered_domain_expr,
        url_host_expr,
    )

    docs = load_table(spark, sf_dir, "documents")
    # the canonicalization regex chain is CPU-bound, so
    # spread_for_cpu_bound (no-op on a wide scan): round 11
    docs = spread_for_cpu_bound(docs)
    raw = docs.select("doc_id", _planted_url_expr().alias("url"))
    c = raw.withColumn("url_canonical", canonicalize_url_expr(F.col("url")))
    h = c.withColumn("host", url_host_expr(F.col("url_canonical")))
    return h.withColumn("domain", registered_domain_expr(F.col("host")))


def _url_canonicalize_sql() -> str:
    """Oracle compiled from the SAME URL_CANON_STEPS table the engine
    uses, so pattern drift between engine and oracle is impossible."""
    from bigdata_cookbook_spark.functions.url import (
        canonicalize_url_sql,
        registered_domain_sql,
        url_host_sql,
    )

    return f"""
        WITH raw AS (
            SELECT doc_id, {_PLANTED_URL_SQL} AS url FROM documents
        ),
        c AS (
            SELECT doc_id, url,
                   {canonicalize_url_sql('url')} AS url_canonical
            FROM raw
        ),
        h AS (
            SELECT *, {url_host_sql('url_canonical')} AS host FROM c
        )
        SELECT doc_id, url, url_canonical, host,
               {registered_domain_sql('host')} AS domain
        FROM h
    """


def q_domain_blocklist_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap + blocklist — the crawl-selection pass
    after URL canonicalization (C4/RefinedWeb drop blocklisted domains
    and cap any single domain's share of the corpus). Keep the first
    CAP=40 docs per registered domain by doc_id, drop blocklisted
    domains entirely.

    Scale shape: the exact per-domain rank is computed in TWO phases —
    a local rank within (domain, doc_id%16 bucket) prefilters to rank
    <= CAP, so the final per-domain window sees at most 16*CAP rows per
    domain regardless of how skewed a giant domain is (the top-CAP by
    doc_id each rank <= CAP inside their own bucket, so the prefilter
    is lossless). The one-window form would put an entire 100-TB
    domain's rows through a single task; this form bounds it."""
    from bigdata_cookbook_spark.functions.url import (
        canonicalize_url_expr,
        registered_domain_expr,
        url_host_expr,
    )

    cap = 40
    # round 11: spread the scan for the canonicalize/domain regex chain
    # (no-op at cluster scale), and materialize the narrow (doc_id,
    # domain, blocked) table with a lazy localCheckpoint — `d` feeds
    # BOTH the rank path and the final join-back, so without it the
    # regex chain re-executes per branch (same two-consumer shape as
    # bm25_scores). Measured 5.06 -> 1.13 s at sf1 (noop, min-of-3,
    # paired same-session runs).
    docs = spread_for_cpu_bound(load_table(spark, sf_dir, "documents"))
    d = docs.select(
        "doc_id",
        registered_domain_expr(
            url_host_expr(canonicalize_url_expr(_planted_url_expr()))
        ).alias("domain"),
    ).withColumn("blocked", F.col("domain") == F.lit("news-site.com"))
    d = d.localCheckpoint(eager=False)
    bucket = (F.col("doc_id") % 16).cast("int")
    local = F.row_number().over(
        Window.partitionBy("domain", bucket).orderBy("doc_id")
    )
    pre = d.withColumn("lrank", local).filter(F.col("lrank") <= cap)
    rank = F.row_number().over(Window.partitionBy("domain").orderBy("doc_id"))
    ranked = pre.withColumn("rank", rank)
    kept = d.join(
        ranked.filter(F.col("rank") <= cap).select("doc_id", F.lit(True).alias("__k")),
        "doc_id",
        "left",
    )
    return kept.select(
        "doc_id",
        "domain",
        "blocked",
        (~F.col("blocked") & F.coalesce("__k", F.lit(False))).alias("kept"),
    )


def _domain_blocklist_cap_sql() -> str:
    from bigdata_cookbook_spark.functions.url import (
        canonicalize_url_sql,
        registered_domain_sql,
        url_host_sql,
    )

    canon = canonicalize_url_sql(f"({_PLANTED_URL_SQL})")
    host = url_host_sql(f"({canon})")
    dom = registered_domain_sql(f"({host})")
    return f"""
        WITH d AS (
            SELECT doc_id, {dom} AS domain FROM documents
        ),
        ranked AS (
            SELECT doc_id, domain,
                   ROW_NUMBER() OVER (PARTITION BY domain ORDER BY doc_id) AS rnk
            FROM d
        )
        SELECT doc_id, domain,
               (domain = 'news-site.com') AS blocked,
               (domain <> 'news-site.com' AND rnk <= 40) AS kept
        FROM ranked
    """


_DSIR_BUCKETS = 256  # small corpus -> dense counts; paper-scale is 1e4+
_DSIR_K = 100


def q_dsir_select_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance-resampling data selection, deterministic tier
    (operators/selection.py; Xie et al. 2023): fit hashed unigram+bigram
    LMs on a target sample (lang='en' documents) and the raw corpus,
    weight every document by the log-likelihood ratio, keep the top
    K=100 by (score desc, doc_id). Engine-portable md5 bucketing;
    log-ratios are quantized to INTEGER micro-nats so document sums are
    exact and association-order-free (float two-stage rounding fails
    here — see the selection.py module contract). The log-ratio side is
    The fitted model (256 log-ratios) is COLLECTED — bounded by
    contract — and embedded as an array literal, so the returned plan
    scores the corpus as a ZERO-exchange fold over the gram array and
    selects via TakeOrdered: at 100 TB, scoring is a map-only stage
    fused into the scan. The fit itself runs as a separate bounded job
    (two bucket-key map-side-combined aggregates — the cut-subtree
    pattern PLANS.md documents for the CC localCheckpoint)."""
    from bigdata_cookbook_spark.operators.selection import dsir_select

    docs = load_table(spark, sf_dir, "documents")
    # the gram explode (fit) and the scoring fold are CPU-bound md5/HOF
    # batteries, so spread_for_cpu_bound (no-op on a wide scan): round
    # 11, 12.9 -> ~1.5 s at sf1. The scoring plan's only exchange is
    # this round-robin spread, absent at scale.
    docs = spread_for_cpu_bound(docs)
    target = docs.filter(F.col("lang") == "en")
    return dsir_select(
        docs, target, k=_DSIR_K, n_buckets=_DSIR_BUCKETS, mode="topk"
    )


def q_dsir_gumbel_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR's resampling step proper (gumbel_topk): sample K=100 docs
    without replacement proportional to exp(score/T), T=2.0, via the
    Gumbel-top-k trick over a hash-seeded uniform — deterministic given
    (doc_id, seed), so the draw itself carries a full value oracle (the
    DuckDB twin reproduces the same md5-derived noise). gumbel_key is
    rounded to 4 decimals in the OUTPUT only; selection order uses the
    unrounded key (continuous noise — cross-engine ulp ties would need
    adjacent keys ~1e-15 apart)."""
    from bigdata_cookbook_spark.operators.selection import (
        dsir_logratio_table,
        dsir_scores_projected,
        gumbel_topk,
    )

    docs = load_table(spark, sf_dir, "documents")
    # same CPU-bound fit + scoring batteries as q_dsir_select_topk, same
    # round-11 spread (no-op on a wide scan)
    docs = spread_for_cpu_bound(docs)
    target = docs.filter(F.col("lang") == "en")
    lr = dsir_logratio_table(target, docs, n_buckets=_DSIR_BUCKETS)
    scores = dsir_scores_projected(docs, lr)
    out = gumbel_topk(scores, k=_DSIR_K, temperature=2.0, seed=7)
    return out.select(
        "doc_id", "score", F.round("gumbel_key", 4).alias("gumbel_key")
    )


def _dsir_scored_ctes() -> str:
    """Shared oracle CTE chain: (doc_id, score) for every document —
    compiled from the SAME analyzer/bigram/bucket constants the engine
    uses (selection.gram_sql_ctes / gram_bucket_sql)."""
    from bigdata_cookbook_spark.operators.selection import (
        gram_bucket_sql,
        gram_sql_ctes,
    )

    b = _DSIR_BUCKETS
    return f"""{gram_sql_ctes('documents')},
        g AS (
            SELECT g.id, {gram_bucket_sql('g.gram', b)} AS bucket, d.lang
            FROM grams_documents g
            JOIN documents d ON d.doc_id = g.id
        ),
        ct AS (
            SELECT bucket,
                   COUNT(*) FILTER (WHERE lang = 'en') AS ct_t,
                   COUNT(*) AS ct_r
            FROM g GROUP BY 1
        ),
        base AS (SELECT UNNEST(generate_series(0, {b - 1})) AS bucket),
        j AS (
            SELECT base.bucket,
                   COALESCE(ct.ct_t, 0) AS ct_t,
                   COALESCE(ct.ct_r, 0) AS ct_r
            FROM base LEFT JOIN ct USING (bucket)
        ),
        tot AS (SELECT SUM(ct_t) AS tt, SUM(ct_r) AS tr FROM j),
        lr AS (
            SELECT bucket,
                   CAST(ROUND((LN((ct_t + 1.0) / (tt + {b}.0))
                             - LN((ct_r + 1.0) / (tr + {b}.0)))
                             * 1000000.0) AS BIGINT) AS lr_micro
            FROM j CROSS JOIN tot
        ),
        sc AS (
            SELECT g.id AS doc_id,
                   SUM(lr.lr_micro) / 1000000.0 AS score
            FROM g JOIN lr USING (bucket)
            GROUP BY 1
        ),
        scored AS (
            SELECT d.doc_id, COALESCE(sc.score, 0.0) AS score
            FROM documents d LEFT JOIN sc USING (doc_id)
        )"""


def _dsir_select_topk_sql() -> str:
    return f"""
        WITH {_dsir_scored_ctes()}
        SELECT doc_id, score FROM scored
        ORDER BY score DESC, doc_id
        LIMIT {_DSIR_K}
    """


def _dsir_gumbel_sample_sql() -> str:
    # u = (first-8-hex(md5(doc_id || ':7')) + 0.5) / 2^32, exact in a
    # double; key = score/2 - ln(-ln(u)) — same expression as the engine
    u = (
        "((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 8)) "
        "AS BIGINT) + 0.5) / 4294967296.0)"
    )
    return f"""
        WITH {_dsir_scored_ctes()},
        keyed AS (
            SELECT doc_id, score,
                   score / 2.0 - LN(-LN({u})) AS gk
            FROM scored
        )
        SELECT doc_id, score, ROUND(gk, 4) AS gumbel_key
        FROM keyed
        ORDER BY gk DESC, doc_id
        LIMIT {_DSIR_K}
    """


def q_bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First BPE merge iteration's statistics (operators/bpe.py;
    Sennrich et al. 2016): corpus -> word histogram (one map-side-
    combined exchange — the combiner absorbs Zipf skew) -> adjacent
    symbol-pair counts weighted by word frequency (symbols = chars +
    the </w> end marker) -> top 150 by (cnt desc, pair asc) via
    TakeOrdered. This is the distributed aggregate a histogram-free
    trainer iterates; train_bpe's driver loop over the PRUNED histogram
    (the SentencePiece/HF contract) is pinned by tests/test_bpe.py."""
    from bigdata_cookbook_spark.operators.bpe import (
        pair_counts,
        word_freq_table,
        word_symbols_expr,
    )

    # round 11: spread the scan — the tokenize+explode battery feeding
    # the word histogram otherwise runs at raw-scan width (single
    # consumer, so no recompute concern); measured 1.42 -> 0.64 s sf1
    # (noop, min-of-3, paired same-session runs)
    docs = spread_for_cpu_bound(load_table(spark, sf_dir, "documents"))
    wf = word_freq_table(docs)
    syms = wf.select("freq", word_symbols_expr(F.col("word")).alias("symbols"))
    return (
        pair_counts(syms)
        .orderBy(F.desc("cnt"), F.asc("a"), F.asc("b"))
        .limit(150)
    )


def _bpe_pair_counts_sql() -> str:
    """Oracle: same analyzer split, same substr-based symbol rule, same
    </w> marker (DuckDB lists/strings are 1-based like the engine's
    sequence/substr form)."""
    from bigdata_cookbook_spark.functions.text import ANALYZER_SEP_RE

    return f"""
        WITH toks AS (
            SELECT LIST_FILTER(
                       STRING_SPLIT_REGEX(LOWER(text), '{ANALYZER_SEP_RE}'),
                       x -> x <> ''
                   ) AS toks
            FROM documents
        ),
        w AS (SELECT UNNEST(toks) AS word FROM toks),
        wf AS (SELECT word, COUNT(*) AS freq FROM w GROUP BY 1),
        pairs AS (
            SELECT substr(word, i, 1) AS a, substr(word, i + 1, 1) AS b, freq
            FROM (
                SELECT word, freq,
                       UNNEST(generate_series(1, LENGTH(word) - 1)) AS i
                FROM wf
            )
            UNION ALL
            SELECT substr(word, LENGTH(word), 1) AS a, '</w>' AS b, freq
            FROM wf
        )
        SELECT a, b, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM pairs
        GROUP BY 1, 2
        ORDER BY cnt DESC, a, b
        LIMIT 150
    """


_SCRIPT_SUFFIX = " 深度学习 Привет نص 42"  # plants CJK/Cyrillic/Arabic/digits


def q_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-script character ratios (functions/text.script_profile): the
    script-detection signal a multilingual ingest routes on. The
    synthetic corpus is ASCII, so a deterministic mixed-script suffix is
    planted per document; the DuckDB twin compiles from the same
    SCRIPT_RANGES table (range endpoints as literal characters — the
    Java-regex/RE2 portable spelling)."""
    from bigdata_cookbook_spark.functions.text import script_profile

    docs = load_table(spark, sf_dir, "documents")
    # per-script character counting is CPU-bound
    docs = spread_for_cpu_bound(docs)
    mixed = docs.select(
        "doc_id", F.concat(F.col("text"), F.lit(_SCRIPT_SUFFIX)).alias("text")
    )
    return script_profile(mixed)


def _script_profile_sql() -> str:
    from bigdata_cookbook_spark.functions.text import script_ratio_sql

    inner = f"text || '{_SCRIPT_SUFFIX}'"
    cols = ", ".join(
        f"{sql} AS r_{name}" for name, sql in script_ratio_sql(inner).items()
    )
    return f"SELECT doc_id, {cols} FROM documents"


def q_source_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-health report per source/domain — the monitoring aggregate
    a training-data pipeline runs per ingest: volume, token-length and
    stopword profiles, and the BPE-ish budget estimator, one shuffle on
    the bounded domain key."""
    from bigdata_cookbook_spark.functions.text import (
        bpe_token_count_expr,
        quality_exprs,
    )

    docs = load_table(spark, sf_dir, "documents")
    feats = quality_exprs(F.col("text"))
    scored = docs.select(
        "source",
        feats["n_tokens"].alias("n_tokens"),
        feats["stopword_ratio"].alias("stopword_ratio"),
        bpe_token_count_expr(F.col("text")).alias("n_bpe"),
    )
    return scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.round(F.avg("n_tokens"), 4).alias("avg_tokens"),
        F.round(F.avg("stopword_ratio"), 4).alias("avg_stopword_ratio"),
        F.round(F.avg("n_bpe"), 4).alias("avg_bpe_tokens"),
    )


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget estimators side by side (functions/text.py): exact
    whitespace count, BPE-ish pretokenizer count (GPT-2-style regex,
    engine-portable), and the chars/4 heuristic pack_token_budget uses —
    the three tiers a training pipeline budgets sequences with."""
    from bigdata_cookbook_spark.functions.text import (
        bpe_token_count_expr,
        token_count_expr,
    )

    docs = load_table(spark, sf_dir, "documents")
    # three regex token counters per doc are CPU-bound, so
    # spread_for_cpu_bound (no-op on a wide scan): round 11
    docs = spread_for_cpu_bound(docs)
    return docs.select(
        "doc_id",
        token_count_expr(F.col("text")).alias("n_tokens_ws"),
        bpe_token_count_expr(F.col("text")).alias("n_tokens_bpe"),
        F.greatest((F.length("text") / 4).cast("long"), F.lit(1)).alias(
            "est_tokens_chars4"
        ),
    )


def q_char_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained char-bigram LM perplexity per doc
    (operators/corpus.char_bigram_perplexity) — the CCNet-style
    statistical quality filter with no external model."""
    from bigdata_cookbook_spark.operators.corpus import char_bigram_perplexity

    docs = load_table(spark, sf_dir, "documents")
    return char_bigram_perplexity(docs)


def q_length_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-curriculum bucketing (operators/corpus.length_curriculum):
    8 equal-population token-count tiles with deterministic tie-break —
    the sequence-length curriculum / length-grouped batching step."""
    from bigdata_cookbook_spark.operators.corpus import length_curriculum

    docs = load_table(spark, sf_dir, "documents")
    return length_curriculum(docs, n_buckets=8)


def q_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition rules (functions/text.gopher_repetition) — the
    n-gram half of table A1 that q_gopher_quality scopes out (Rae et al.
    2021): top-2/3/4-gram character-coverage fractions, duplicate-5/10-
    gram fractions, and the keep conjunction at the paper's thresholds,
    for every document with at least 10 tokens.

    Plan shape: linear scan, zero shuffle — every metric is a
    per-document statistic, NOT an explode+groupBy (which would shuffle
    5-10x the corpus size to compute doc-local statistics). No orderBy:
    the oracle compare is order-insensitive."""
    from bigdata_cookbook_spark.functions.text import gopher_repetition

    docs = load_table(spark, sf_dir, "documents")
    docs = spread_for_cpu_bound(docs)
    return gopher_repetition(docs.select("doc_id", "text"))


def q_span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style corpus-wide duplicate-span removal
    (operators/corpus.span_dedup): non-overlapping 5-token spans, keep
    the first occurrence of each distinct span corpus-wide, reassemble
    docs with drop accounting. The synthetic corpus has natural span
    dups, and the query additionally plants a fixed 5-token boilerplate
    prefix on doc_id % 7 == 0 (identical expression in the oracle) so
    the cross-document removal path is always exercised."""
    from bigdata_cookbook_spark.operators.corpus import span_dedup

    docs = load_table(spark, sf_dir, "documents")
    docs = spread_for_cpu_bound(docs)
    planted = docs.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(F.lit(_SPAN_BOILER + " "), F.col("text")),
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return span_dedup(planted)


_SPAN_BOILER = "legal disclaimer boilerplate repeated verbatim"


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (operators/dedup.semantic_dedup):
    SRP-bucket the embedding space with fixed +-1 hyperplanes, drop any
    doc >= 0.4 cosine to an earlier doc in its bucket, return kept ids
    with bucket. Bucket bits and cosine are codegen'd expressions; the
    quadratic work is confined within buckets (n_planes controls bucket
    granularity at scale)."""
    from bigdata_cookbook_spark.operators.dedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    # n_planes pinned to the oracle's fixed 16-bucket grid (the SQL twin
    # hard-codes srp_planes(64, 4)); the engine default (n_planes=None)
    # auto-scales planes with corpus size — see default_srp_planes_for
    return semantic_dedup(emb, dim=64, n_planes=4).select(
        "vec_id", F.col("bucket").cast("int").alias("bucket")
    )


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document line dedup (functions/text.dedup_lines_exprs —
    RefinedWeb-style boilerplate-line removal, the per-doc complement of
    corpus-wide span_dedup): duplicate lines inside a doc are removed
    keeping the first occurrence. The synthetic corpus has no newlines,
    so the query PLANTS a lined structure both engines build with the
    same expression: line1 = first 40 chars, doc = line1\\nline1\\nrest —
    every doc carries exactly one duplicated line. Zero-shuffle scan:
    split / array_distinct (order-preserving) / re-join."""
    from bigdata_cookbook_spark.functions.text import dedup_lines_exprs

    docs = load_table(spark, sf_dir, "documents")
    docs = spread_for_cpu_bound(docs)
    syn = F.concat(
        F.substring(F.col("text"), 1, 40),
        F.lit("\n"),
        F.substring(F.col("text"), 1, 40),
        F.lit("\n"),
        F.expr("substring(text, 41)"),
    )
    m = dedup_lines_exprs(syn)
    return docs.select(
        "doc_id",
        m["text_deduped"].alias("text_deduped"),
        m["n_lines_total"].alias("n_lines_total"),
        m["n_lines_kept"].alias("n_lines_kept"),
    )


def q_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """zlib compression-ratio quality signal
    (operators/corpus.compression_ratio): deflate bytes / raw bytes per
    document — the boilerplate/template-spam detector of web-corpus
    cleaning recipes. STRONGEST ACHIEVABLE value check (round 6, was
    rows-only): DuckDB has no deflate expression, so the ratio VALUE
    has no SQL twin — instead the compared columns are the
    deterministic derivation both engines can compute (raw utf-8 byte
    length) plus ``ratio_ok``, an engine-side zlib-bound assertion
    (null exactly for null/empty text; otherwise 0 < ratio and
    reconstructed compressed bytes <= raw + raw/1000 + 64, the
    stored-block worst case with float-division margin) that the
    oracle pins to literal TRUE — any out-of-band or mis-nulled ratio
    hash-mismatches. Exact ratio values remain pinned by the zlib
    property test (tests/test_misc_operators.py)."""
    from bigdata_cookbook_spark.operators.corpus import compression_ratio

    docs = load_table(spark, sf_dir, "documents")
    docs = spread_for_cpu_bound(docs)
    cr = compression_ratio(docs.select("doc_id", "text"))
    raw = F.octet_length("text")
    ok = F.when(
        F.col("text").isNull() | (F.col("text") == ""),
        F.col("compression_ratio").isNull(),
    ).otherwise(
        (F.col("compression_ratio") > 0)
        & (
            F.col("compression_ratio") * raw
            <= raw + raw / F.lit(1000.0) + F.lit(64.0)
        )
    )
    return cr.select(
        "doc_id",
        raw.cast("long").alias("raw_bytes"),
        ok.alias("ratio_ok"),
    )


def q_semantic_dedup_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """semantic_dedup at its DEFAULT configuration: n_planes derived
    from the corpus row count (default_srp_planes_for — expected bucket
    size ~64 rows, total cosine work linear in the corpus). FULL value
    oracle since round 6: the plane count is SQL-derivable from the
    same table (_semantic_dedup_auto_sql — default_srp_planes_sql +
    gated prefix-plane bit terms via srp_bucket_sql_dynamic), so one
    static SQL string expresses the data-dependent grid at every scale
    factor. This entry also exists so the scale rehearsal
    (tools/scale_rehearsal.py) measures the DEFAULT path every round:
    the fixed-plane oracle form is deliberately super-linear (dense
    buckets) and its SCALING.json row must not be read as the engine
    default's curve (BASELINE.md §E round-5 table)."""
    from bigdata_cookbook_spark.operators.dedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return semantic_dedup(emb, dim=64).select(
        "vec_id", F.col("bucket").cast("int").alias("bucket")
    )


# ---------------------------------------------------------------------------
# Contract exports
# ---------------------------------------------------------------------------


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every oracle-checked registry query, in scoring order.

    Correctness scoring grades only the first 50 entries; the rest stay
    checked by tools/verify_local.py and tests/test_entry_contract.py.
    Rule: a row whose query or operator changed in one scoring round is
    in that window in the next. To make room, the in-window rows with
    the longest run of green scored rows (``hash_match`` in the
    CORRECTNESS_rNN.json files) move to the tail. Keys never change;
    only their order does."""
    return {
        # -- scored window: entries 1-50 --
        "keyword_search": q_keyword_search,
        "events_daterange": q_events_daterange,
        "min_occurrence_filter": q_min_occurrence_filter,
        "argmax_joinback": q_argmax_joinback,
        "gaussian_smooth_weekly": q_gaussian_smooth_weekly,
        "peak_lag": q_peak_lag,
        "cross_source_alignment": q_cross_source_alignment,
        "customers_without_orders": q_customers_without_orders,
        "json_props": q_json_props,
        "log_clip": q_log_clip,
        "bm25_topk": q_bm25_topk,
        "hybrid_search_rrf": q_hybrid_search_rrf,
        "span_dedup": q_span_dedup,
        "embedding_neardup_pairs": q_embedding_neardup_pairs,
        "streaming_windowed_counts": q_streaming_windowed_counts,
        "pivot_composite_status": q_pivot_composite_status,
        "last_purchase_ffill": q_last_purchase_ffill,
        "count_distinct_having": q_count_distinct_having,
        "collect_concat": q_collect_concat,
        "summary_stats": q_summary_stats,
        "score_normalization": q_score_normalization,
        "source_topn": q_source_topn,
        "quarterly_counts": q_quarterly_counts,
        "union_distinct_nations": q_union_distinct_nations,
        "html_to_text": q_html_to_text,
        "tfidf_top_terms": q_tfidf_top_terms,
        "script_profile": q_script_profile,
        "contamination_report": q_contamination_report,
        "winnow_fingerprints": q_winnow_fingerprints,
        "minhash_lsh_candidates": q_minhash_lsh_candidates,
        "dual_role_workflow": q_dual_role_workflow,
        "url_canonicalize": q_url_canonicalize,
        "domain_blocklist_cap": q_domain_blocklist_cap,
        "line_filter_clean": q_line_filter_clean,
        "paragraph_dedup": q_paragraph_dedup,
        "gopher_repetition": q_gopher_repetition,
        "neardup_canonical_clusters": q_neardup_canonical_clusters,
        "dsir_select_topk": q_dsir_select_topk,
        "dsir_gumbel_sample": q_dsir_gumbel_sample,
        "char_bigram_perplexity": q_char_bigram_perplexity,
        "corpus_clean": q_corpus_clean,
        "contamination_bloom": q_contamination_bloom,
        "shard_pack_documents": q_shard_pack,
        "quality_prune_per_source": q_quality_prune_per_source,
        "neardup_keep_best": q_neardup_keep_best,
        "bpe_pair_counts": q_bpe_pair_counts,
        "semantic_dedup": q_semantic_dedup,
        "sentence_budget_chunks": q_sentence_budget_chunks,
        "cluster_safe_split_docs": q_cluster_safe_split,
        "semantic_dedup_auto": q_semantic_dedup_auto,
        # -- tail: entries 51+ --
        "quality_score": q_quality_score,
        "risk_level_mapping": q_risk_level_mapping,
        "date_parse_format": q_date_parse_format,
        "ann_lsh_buckets": q_ann_lsh_buckets,
        "dedup_joinback_labels": q_dedup_joinback_labels,
        "multi_source_daily_volumes": q_multi_source_daily_volumes,
        "fallback_coalesce_join": q_fallback_coalesce_join,
        "sector_rank": q_sector_rank,
        "skew_salted_join_segments": q_skew_salted_join_segments,
        "argmax_day_per_priority": q_argmax_day_per_priority,
        "ngram_jaccard_pairs": q_ngram_jaccard_pairs,
        "topk_parts_per_brand": q_topk_parts_per_brand,
        "weekly_zscore": q_weekly_zscore,
        "dedup_keep_first": q_dedup_keep_first,
        "mode_event_type": q_mode_event_type,
        "doc_fingerprint": q_doc_fingerprint,
        "iqr_outliers": q_iqr_outliers,
        "rolling_hour_avg": q_rolling_hour_avg,
        "rollup_order_volumes": q_rollup_order_volumes,
        "price_percentiles": q_price_percentiles,
        "sequence_pack": q_sequence_pack,
        "gopher_quality": q_gopher_quality,
        "token_window_chunks": q_token_window_chunks,
        "benchmark_contamination": q_benchmark_contamination,
        "pii_redaction": q_pii_redaction,
        "knn_label_vote": q_knn_label_vote,
        "length_curriculum": q_length_curriculum,
        "source_quality_profile": q_source_quality_profile,
        "collect_list_ordered": q_collect_list_ordered,
        "keyword_context_window": q_keyword_context_window,
        "llm_cost_estimate": q_llm_cost_estimate,
        "sliding_window_counts": q_sliding_window_counts,
        "asof_click_before_purchase": q_asof_click_before_purchase,
        "hash_split_documents": q_hash_split_documents,
        "weighted_sample_orders": q_weighted_sample_orders,
        "continuous_aggregate_daily": q_continuous_aggregate_daily,
        "profile_orders": q_profile_orders,
        "calendar_densify_daily": q_calendar_densify_daily,
        "net_exposure": q_net_exposure,
        "first_last_per_group": q_first_last_per_group,
        "ann_cosine_topk": q_ann_cosine_topk,
        "simhash": q_simhash,
        "comention_parts": q_comention_parts,
        "exact_dedup_docs": q_exact_dedup_docs,
        "lang_id": q_lang_id,
        "stratified_sample_orders": q_stratified_sample_orders,
        "pricing_summary": q_pricing_summary,
        "hit_count_monthly_topk": q_hit_count_monthly_topk,
        "token_quality": q_token_quality,
        "screening_normalize": q_screening_normalize,
        "similarity_multiquery_rerank": q_similarity_multiquery_rerank,
        "token_pack_buckets": q_token_pack_buckets,
        "sessionize": q_sessionize,
        "range_count_events_after_purchase": q_range_count_events_after_purchase,
        "training_shuffle": q_training_shuffle,
        "bpe_token_count": q_bpe_token_count,
        "skew_salted_distinct_users": q_skew_salted_distinct_users,
        "domain_mix_sample": q_domain_mix_sample,
        "ngram_jaccard_capped": q_ngram_jaccard_capped,
        "domain_mix_temperature": q_domain_mix_temperature,
        "compression_ratio": q_compression_ratio,
        "line_dedup": q_line_dedup,
    }


def _profile_orders_sql() -> str:
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ]
    parts = [
        f"""SELECT '{c}' AS column, COUNT(*) AS n_rows,
                   COUNT(*) - COUNT({c}) AS n_nulls,
                   COUNT(DISTINCT {c}) AS n_distinct,
                   CAST(MIN({c}) AS VARCHAR) AS min_value,
                   CAST(MAX({c}) AS VARCHAR) AS max_value
            FROM orders"""
        for c in cols
    ]
    return "\n            UNION ALL\n            ".join(parts)


def _hash_split_documents_sql() -> str:
    from bigdata_cookbook_spark.operators.sampling import split_sql_case

    case = split_sql_case("doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return f"SELECT doc_id, {case} AS split FROM documents"


def _gaussian_smooth_sql(sigma: float = 2.0) -> str:
    radius = int(4.0 * sigma + 0.5)
    kernel = gaussian_kernel(sigma, radius)
    num_terms, den_terms = [], []
    for i, wt in zip(range(-radius, radius + 1), kernel):
        if i == 0:
            nb = "cnt"
        elif i < 0:
            nb = f"LAG(cnt, {-i}) OVER w"
        else:
            nb = f"LEAD(cnt, {i}) OVER w"
        num_terms.append(f"CASE WHEN {nb} IS NOT NULL THEN {wt!r} * {nb} ELSE 0 END")
        den_terms.append(f"CASE WHEN {nb} IS NOT NULL THEN {wt!r} ELSE 0 END")
    num = " + ".join(num_terms)
    den = " + ".join(den_terms)
    return f"""
        WITH weekly AS (
            SELECT event_type, CAST(date_trunc('week', ts) AS DATE) AS week,
                   COUNT(*) AS cnt
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, week, cnt, ROUND(({num}) / ({den}), 4) AS smoothed
        FROM weekly
        WINDOW w AS (PARTITION BY event_type ORDER BY week ASC)
    """


_SHINGLES_CTE = """
        toks AS (
            SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
            FROM documents
            WHERE text IS NOT NULL AND length(trim(text)) > 0
        ),
        idx AS (
            SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
            FROM toks WHERE len(t) >= 3
        ),
        sh AS (
            SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
            FROM idx
        )
"""


def _minhash_lsh_sql(num_hashes: int = 12, band_size: int = 2) -> str:
    # Kirsch-Mitzenmacher double hashing, mirroring operators/dedup.py
    # minhash_signature: one md5 per shingle, 32-bit halves a/b, component
    # i = MIN((a + i*b) % 2^32). All signed-64-safe so the arithmetic is
    # bit-equal across engines.
    sig_cols = ",\n                   ".join(
        f"MIN((ha + {i} * hb) % 4294967296) AS mh{i}" for i in range(num_hashes)
    )
    band_selects = []
    for b in range(num_hashes // band_size):
        keys = ", ".join(
            f"mh{b * band_size + j} AS k{j}" for j in range(band_size)
        )
        band_selects.append(f"SELECT doc_id, {b} AS band, {keys} FROM sig")
    banded = "\n            UNION ALL\n            ".join(band_selects)
    key_eq = " AND ".join(f"a.k{j} = b.k{j}" for j in range(band_size))
    return f"""
        WITH {_SHINGLES_CTE},
        hashed AS (
            SELECT doc_id,
                   CAST(('0x' || substr(md5(shingle), 1, 8)) AS BIGINT) AS ha,
                   CAST(('0x' || substr(md5(shingle), 9, 8)) AS BIGINT) AS hb
            FROM sh
        ),
        sig AS (
            SELECT doc_id,
                   {sig_cols}
            FROM hashed GROUP BY doc_id
        ),
        banded AS (
            {banded}
        )
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND {key_eq} AND a.doc_id < b.doc_id
    """


def _simhash_sql() -> str:
    votes = ",\n                   ".join(
        "SUM(CASE WHEN substr(h, {j}, 1) IN ('8','9','a','b','c','d','e','f') "
        "THEN 1 ELSE -1 END) AS v{j}".format(j=j)
        for j in range(1, 17)
    )
    bits = " || ".join(f"CASE WHEN v{j} > 0 THEN '1' ELSE '0' END" for j in range(1, 17))
    return f"""
        WITH toks AS (
            SELECT doc_id, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
            FROM documents
        ),
        f AS (
            SELECT doc_id, MD5(tok) AS h FROM toks WHERE length(tok) > 0
        ),
        v AS (
            SELECT doc_id,
                   {votes}
            FROM f GROUP BY doc_id
        )
        SELECT doc_id, {bits} AS simhash FROM v
    """


_LANG_SCORES = {
    "en": "(the|a|of|and|is)",
    "es": "(el|la|de|los|es)",
    "fr": "(le|la|les|des|est)",
    "de": "(der|die|das|und|ist)",
}


def _lang_id_sql() -> str:
    score_cols = ",\n                   ".join(
        f"LEN(REGEXP_EXTRACT_ALL(lower(text), '\\b{pat}\\b')) AS s_{lang}"
        for lang, pat in _LANG_SCORES.items()
    )
    return f"""
        WITH scored AS (
            SELECT doc_id, lang,
                   REGEXP_MATCHES(text, '[\\x{{4E00}}-\\x{{9FFF}}]') AS has_cjk,
                   {score_cols}
            FROM documents
        ),
        pred AS (
            SELECT doc_id, lang,
                   CASE WHEN has_cjk THEN 'zh'
                        WHEN s_en = 0 AND s_es = 0 AND s_fr = 0 AND s_de = 0 THEN 'unknown'
                        WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
                        WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
                        WHEN s_fr >= s_de THEN 'fr'
                        ELSE 'de' END AS pred_lang
            FROM scored
        )
        SELECT doc_id, lang, pred_lang, pred_lang = lang AS lang_match FROM pred
    """


# BM25 scored-docs CTE chain (mirrors operators/retrieval.py bm25_scores
# for terms spark/window/merge, k1=1.2, b=0.75) — shared by the bm25
# ranker oracle and the hybrid-RRF fusion oracle. Tokenization is the
# retrieval analyzer (functions/text.py ANALYZER_SEP_RE: case-fold,
# split on non-alphanumeric runs — the same [^\pL\pN]+ is valid Java
# regex AND RE2, so engine and oracle share one separator definition);
# empty tokens from leading/trailing separators are filtered like
# array_remove does.
_BM25_SCORED_CTES = r"""t AS (
                SELECT doc_id,
                       LIST_FILTER(
                           STRING_SPLIT_REGEX(LOWER(text), '[^\pL\pN]+'),
                           x -> x <> ''
                       ) AS toks
                FROM documents
            ),
            dl AS (
                SELECT doc_id, toks, LEN(toks) AS dl
                FROM t
            ),
            stats AS (SELECT COUNT(*) AS n, AVG(dl) AS avgdl FROM dl),
            hits AS (SELECT doc_id, dl, UNNEST(toks) AS tok FROM dl),
            tf AS (
                SELECT doc_id, dl, tok, COUNT(*) AS tf
                FROM hits WHERE tok IN ('spark', 'window', 'merge')
                GROUP BY 1, 2, 3
            ),
            dfx AS (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
            raw AS (
                SELECT tf.doc_id,
                       SUM(LN((s.n - d.df + 0.5) / (d.df + 0.5) + 1.0)
                           * (tf.tf * 2.2)
                           / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / s.avgdl))
                       ) AS rawscore
                FROM tf
                JOIN dfx d USING (tok)
                CROSS JOIN stats s
                GROUP BY 1
            ),
            scored AS (SELECT doc_id, ROUND(rawscore, 4) AS score FROM raw)"""


# token_window_chunks CTE chain (mirrors operators/corpus.py
# token_window_chunks at window=32, stride=16) — shared by the chunker
# oracle and the sequence_pack composition oracle
_TOKEN_CHUNK_CTES = r"""t AS (
                SELECT doc_id,
                       STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS toks
                FROM documents
            ),
            fanned AS (
                SELECT doc_id, toks,
                       UNNEST(GENERATE_SERIES(0,
                           GREATEST(1, CAST(CEIL((LEN(toks) - 32) / 16.0) AS INT) + 1) - 1
                       )) AS chunk_idx
                FROM t
            ),
            sliced AS (
                SELECT doc_id, CAST(chunk_idx AS INT) AS chunk_idx,
                       toks[chunk_idx * 16 + 1 : chunk_idx * 16 + 32] AS ctoks
                FROM fanned
            )"""


def _pii_redaction_sql() -> str:
    """Oracle generated from the SAME REDACTION_PATTERNS tuple the engine
    compiles, so pattern drift between engine and oracle is impossible."""
    from bigdata_cookbook_spark.functions.text import REDACTION_PATTERNS

    staged = "text"
    count_cols = []
    for kind, pat, repl in REDACTION_PATTERNS:
        # plain single-quoted DuckDB strings pass backslashes through to
        # RE2 untouched — same text Java's regex engine sees
        p = pat.replace("'", "''")
        count_cols.append(
            f"CAST(LEN(REGEXP_EXTRACT_ALL({staged}, '{p}')) AS INT) AS n_{kind}"
        )
        staged = f"REGEXP_REPLACE({staged}, '{p}', '{repl}', 'g')"
    counts = ",\n                   ".join(count_cols)
    return f"""
        WITH aug AS (
            SELECT doc_id,
                   text
                   || CASE WHEN doc_id % 7 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END
                   || CASE WHEN doc_id % 11 = 0 THEN ' visit https://example.com/d/' || CAST(doc_id AS VARCHAR) ELSE '' END
                   || CASE WHEN doc_id % 13 = 0 THEN ' call 555-010-' || LPAD(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
                   || CASE WHEN doc_id % 17 = 0 THEN ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' || CAST((doc_id // 7) % 256 AS VARCHAR) ELSE '' END
                   AS text
            FROM documents
        )
        SELECT doc_id,
               {counts},
               {staged} AS redacted
        FROM aug
    """


def _fixture_screening_ctes() -> str:
    """CTE chain reproducing normalize_screening(mode='discovery') in pure
    SQL over the committed fixture parquet (tools/make_fixtures.py).

    The offset-splice masking fold (functions/masking.py:mask_text_expr)
    is re-expressed relationally: on non-overlapping spans the fold is
    exactly  string_agg(gap || replacement ORDER BY start) || tail , with
    gap = substr(text, prev_end+1, start - prev_end) via LAG. The
    'Other Company_<i>' index is the dense rank of each non-target key's
    first occurrence — identical to array_position over the distinct
    first-occurrence key array."""
    from bigdata_cookbook_spark.sources.fixtures import fixtures_dir

    base = fixtures_dir()
    return f"""
    fchunks AS (SELECT * FROM read_parquet('{base}/chunks.parquet')),
    fents AS (SELECT * FROM read_parquet('{base}/entities.parquet')),
    fdocs AS (SELECT * FROM read_parquet('{base}/documents.parquet')),
    exploded AS (
        SELECT document_id, sentence_id, text, UNNEST(entities) AS e
        FROM fchunks
    ),
    men AS (
        SELECT x.document_id, x.sentence_id, x.text,
               x.e.key AS key, x.e.start AS s, x.e."end" AS e_end,
               d.name AS name, d.entity_type AS etype
        FROM exploded x LEFT JOIN fents d ON x.e.key = d.entity_id
    ),
    targets AS (
        SELECT DISTINCT document_id, sentence_id, key AS entity_id
        FROM men WHERE etype = 'COMP'
    ),
    fan AS (
        SELECT m.sentence_id, m.text, t.entity_id, m.key, m.s, m.e_end, m.name
        FROM men m JOIN targets t
          ON m.document_id = t.document_id AND m.sentence_id = t.sentence_id
    ),
    others_idx AS (
        SELECT sentence_id, entity_id, key,
               ANY_VALUE(name) AS name,
               DENSE_RANK() OVER (
                   PARTITION BY sentence_id, entity_id ORDER BY MIN(s)
               ) AS idx
        FROM fan WHERE key <> entity_id
        GROUP BY sentence_id, entity_id, key
    ),
    spans AS (
        SELECT f.sentence_id, f.entity_id, f.text, f.s, f.e_end,
               CASE WHEN f.key = f.entity_id THEN 'Target Company'
                    ELSE 'Other Company_' || o.idx END AS repl
        FROM fan f LEFT JOIN others_idx o
          ON f.sentence_id = o.sentence_id
         AND f.entity_id = o.entity_id AND f.key = o.key
    ),
    gaps AS (
        SELECT sentence_id, entity_id, text, s, e_end, repl,
               COALESCE(LAG(e_end) OVER (
                   PARTITION BY sentence_id, entity_id ORDER BY s
               ), 0) AS prev_end,
               MAX(e_end) OVER (PARTITION BY sentence_id, entity_id) AS last_end
        FROM spans
    ),
    masked AS (
        SELECT sentence_id, entity_id,
               STRING_AGG(SUBSTR(text, prev_end + 1, s - prev_end) || repl,
                          '' ORDER BY s)
                 || SUBSTR(ANY_VALUE(text), ANY_VALUE(last_end) + 1) AS masked_raw
        FROM gaps GROUP BY sentence_id, entity_id
    ),
    other_str AS (
        SELECT sentence_id, entity_id,
               STRING_AGG(name, ', ' ORDER BY idx) AS other_entities
        FROM others_idx GROUP BY sentence_id, entity_id
    ),
    nmen AS (SELECT sentence_id, CAST(LEN(entities) AS INT) AS n_mentions FROM fchunks),
    screening AS (
        SELECT t.sentence_id,
               t.document_id,
               t.entity_id,
               d.document_type,
               COALESCE(LIST_CONTAINS(d.reporting_entities, t.entity_id), FALSE)
                   AS is_reporting_entity,
               e.name AS entity_name,
               e.sector AS entity_sector,
               COALESCE(o.other_entities, '') AS other_entities,
               REPLACE(REPLACE(m.masked_raw, CHR(123), ''), CHR(125), '')
                   AS masked_text,
               nmen.n_mentions
        FROM targets t
        JOIN fdocs d ON t.document_id = d.document_id
        LEFT JOIN fents e ON t.entity_id = e.entity_id
        LEFT JOIN masked m
          ON t.sentence_id = m.sentence_id AND t.entity_id = m.entity_id
        LEFT JOIN other_str o
          ON t.sentence_id = o.sentence_id AND t.entity_id = o.entity_id
        JOIN nmen ON t.sentence_id = nmen.sentence_id
    )"""


def _screening_normalize_sql() -> str:
    return f"WITH {_fixture_screening_ctes()} SELECT * FROM screening"


def _dual_role_sql() -> str:
    """End-to-end workflow oracle: screening CTEs + the deterministic stub
    labeler (llm/stub.py — FNV-1a over 'entity_id|masked_text', label
    bucket h%4, guardrail forcing 'U' when (h>>4)%4==0) as a recursive
    character-fold CTE, then top-5 providers per sector."""
    return f"""
WITH RECURSIVE {_fixture_screening_ctes()},
keys AS (
    SELECT DISTINCT entity_id, masked_text,
           entity_id || '|' || masked_text AS k
    FROM screening
),
fnv(k, i, n, h) AS (
    SELECT k, 0, LENGTH(k), CAST(2166136261 AS BIGINT) FROM keys
    UNION ALL
    SELECT k, i + 1, n,
           (xor(h, unicode(SUBSTR(k, i + 1, 1))) * 16777619) % 4294967296
    FROM fnv WHERE i < n
),
labels AS (
    SELECT ky.entity_id, ky.masked_text,
           CASE WHEN ((f.h // 16) % 4) <> 0
                THEN (['P','A','N','U'])[CAST(f.h % 4 AS INT) + 1]
                ELSE 'U' END AS label
    FROM keys ky JOIN (SELECT k, h FROM fnv WHERE i = n) f ON ky.k = f.k
),
hits AS (
    SELECT s.entity_sector, s.entity_name,
           COUNT(DISTINCT s.sentence_id) AS n_hits
    FROM screening s
    JOIN labels l
      ON s.entity_id = l.entity_id AND s.masked_text = l.masked_text
    WHERE l.label = 'P'
    GROUP BY 1, 2
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY entity_sector ORDER BY n_hits DESC, entity_name ASC
    ) AS rn FROM hits
)
SELECT entity_sector, entity_name, n_hits FROM ranked WHERE rn <= 5
"""


def _neardup_clusters_sql() -> str:
    """Connected components over the SAME MinHash/LSH candidate pairs, as
    a recursive reachability CTE: cc enumerates every (node, reachable
    label); MIN(label) per node = the component's min id — exactly the
    min-label fixpoint operators/graph.py converges to. Tractable because
    near-dup components are tiny cliques; the Spark side is the one that
    scales."""
    return f"""
WITH RECURSIVE pairs AS ({_minhash_lsh_sql()}),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION ALL
    SELECT doc_b AS a, doc_a AS b FROM pairs
),
cc(node, label) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM edges)
    UNION
    SELECT e.a, c.label FROM edges e JOIN cc c ON e.b = c.node
),
comp AS (SELECT node, MIN(label) AS component FROM cc GROUP BY node)
SELECT d.doc_id,
       COALESCE(c.component, d.doc_id) AS canonical_id,
       d.doc_id = COALESCE(c.component, d.doc_id) AS is_canonical
FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
"""


def _neardup_keep_best_sql() -> str:
    """Oracle twin of q_neardup_keep_best: the same recursive-CTE
    components as _neardup_clusters_sql, then the identical
    (n_chars DESC, node ASC) row_number argmax picks each cluster's
    keeper."""
    return f"""
WITH RECURSIVE pairs AS ({_minhash_lsh_sql()}),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION ALL
    SELECT doc_b AS a, doc_a AS b FROM pairs
),
cc(node, label) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM edges)
    UNION
    SELECT e.a, c.label FROM edges e JOIN cc c ON e.b = c.node
),
comp AS (SELECT node, MIN(label) AS component FROM cc GROUP BY node),
best AS (
    SELECT component, node AS best_id
    FROM (
        SELECT c.component, c.node,
               row_number() OVER (
                   PARTITION BY c.component
                   ORDER BY d.n_chars DESC, c.node ASC
               ) AS rn
        FROM comp c JOIN documents d ON d.doc_id = c.node
    )
    WHERE rn = 1
)
SELECT d.doc_id,
       COALESCE(b.best_id, d.doc_id) AS canonical_id,
       d.doc_id = COALESCE(b.best_id, d.doc_id) AS is_canonical
FROM documents d
LEFT JOIN comp c ON d.doc_id = c.node
LEFT JOIN best b ON c.component = b.component
"""


def _cluster_safe_split_sql() -> str:
    """Oracle twin of q_cluster_safe_split: the recursive-CTE components
    of _neardup_clusters_sql resolve each doc to its canonical id, then
    the IDENTICAL md5 CASE hash_split compiles (split_sql_case — shared
    constant, so the two rules cannot drift) is applied to canonical_id
    instead of doc_id. Any near-dup pair shares a canonical, hence a
    split — the leakage-safety property itself, recomputed end-to-end
    by a different engine."""
    from bigdata_cookbook_spark.operators.sampling import split_sql_case

    case = split_sql_case("canonical_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return f"""
WITH RECURSIVE pairs AS ({_minhash_lsh_sql()}),
edges AS (
    SELECT doc_a AS a, doc_b AS b FROM pairs
    UNION ALL
    SELECT doc_b AS a, doc_a AS b FROM pairs
),
cc(node, label) AS (
    SELECT a, a FROM (SELECT DISTINCT a FROM edges)
    UNION
    SELECT e.a, c.label FROM edges e JOIN cc c ON e.b = c.node
),
comp AS (SELECT node, MIN(label) AS component FROM cc GROUP BY node),
canon AS (
    SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS canonical_id
    FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
)
SELECT doc_id, canonical_id, {case} AS split FROM canon
"""


def _ann_lsh_sql() -> str:
    planes = _hyperplanes()
    bits = " || ".join(
        "CASE WHEN LIST_DOT_PRODUCT(CAST(embedding AS DOUBLE[]), "
        f"[{', '.join(repr(v) for v in p)}]::DOUBLE[]) > 0 THEN '1' ELSE '0' END"
        for p in planes
    )
    return f"SELECT vec_id, {bits} AS bucket FROM embeddings"


def _domain_mix_sql(shares: dict[str, float], salt: str = ":mix") -> str:
    """DuckDB twin of operators/sampling.domain_mix_sample: identical
    normalization, n_out = min(count/share), quota = floor(share*n_out)
    (FLOOR, matching Python int() truncation on the same IEEE doubles),
    identical md5 rank-within-domain row choice."""
    total = sum(shares.values())
    rows = ", ".join(f"('{k}', {v / total!r})" for k, v in shares.items())
    return f"""
        WITH w(source, share) AS (VALUES {rows}),
        c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
        m AS (SELECT MIN(CAST(c.n AS DOUBLE) / w.share) AS n_out
              FROM c JOIN w USING (source)),
        q AS (SELECT w.source,
                     CAST(FLOOR(w.share * (SELECT n_out FROM m)) AS BIGINT) AS quota
              FROM w),
        r AS (
            SELECT doc_id, source,
                   ROW_NUMBER() OVER (
                       PARTITION BY source
                       ORDER BY md5(CAST(doc_id AS VARCHAR) || '{salt}'), doc_id
                   ) AS rk
            FROM documents WHERE source IN (SELECT source FROM w)
        )
        SELECT doc_id, source FROM r JOIN q USING (source) WHERE rk <= quota
    """


def _bpe_token_count_sql() -> str:
    """Oracle twin of q_bpe_token_count — the regex literal comes from
    the SAME constant the engine compiles (functions/text.py
    BPE_TOKEN_PATTERN), so the two counts cannot drift."""
    from bigdata_cookbook_spark.functions.text import BPE_TOKEN_PATTERN

    pat = BPE_TOKEN_PATTERN.replace("'", "''")
    return f"""
        SELECT doc_id,
               CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                    ELSE LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) END AS INT)
                   AS n_tokens_ws,
               CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text), '{pat}')) AS INT)
                   AS n_tokens_bpe,
               GREATEST(CAST(FLOOR(LENGTH(text) / 4) AS BIGINT), 1)
                   AS est_tokens_chars4
        FROM documents
    """


def _sentence_budget_chunks_sql() -> str:
    """Oracle twin of q_sentence_budget_chunks: recompute the per-doc
    token total from the SAME sentence construction (trim-split on '.',
    drop empties, re-append '.') and the SAME shared BPE pattern, and
    pin the two engine-computed fold invariants TRUE. The fold itself
    (chunk boundaries) is not SQL-replayable; its semantics are pinned
    by the Python-reference property test."""
    from bigdata_cookbook_spark.functions.text import BPE_TOKEN_PATTERN

    pat = BPE_TOKEN_PATTERN.replace("'", "''")
    return f"""
        WITH s AS (
            SELECT doc_id,
                   LIST_TRANSFORM(
                       LIST_FILTER(
                           LIST_TRANSFORM(STRING_SPLIT(text, '.'), x -> TRIM(x)),
                           x -> x <> ''),
                       x -> x || '.') AS sents
            FROM documents
        )
        SELECT doc_id,
               CAST(COALESCE(LIST_SUM(LIST_TRANSFORM(sents,
                   x -> LEN(REGEXP_EXTRACT_ALL(LOWER(x), '{pat}')))), 0) AS INT)
                   AS total_tokens,
               TRUE AS within_budget,
               TRUE AS coverage_exact
        FROM s
    """


def _gopher_repetition_sql() -> str:
    """Oracle twin of q_gopher_repetition: per-(doc, n-gram) counts via
    UNNEST(RANGE(...)) + list slicing, the same heaviest-gram /
    duplicate-gram character fractions, the same Gopher thresholds."""

    def block(n: int) -> str:
        return f"""
    g{n} AS (
      SELECT doc_id, ARRAY_TO_STRING(t[i:i+{n - 1}], ' ') AS gram
      FROM base CROSS JOIN UNNEST(RANGE(1, LEN(t) - {n} + 2)) AS r(i)
    ),
    c{n} AS (
      SELECT doc_id, COUNT(*) AS cnt, COUNT(*)*LENGTH(gram) AS chars
      FROM g{n} GROUP BY doc_id, gram
    ),
    m{n} AS (
      SELECT doc_id,
             ROUND(MAX(chars) * 1.0 / SUM(chars), 4) AS top{n}gram_char_frac,
             ROUND(SUM(CASE WHEN cnt > 1 THEN chars ELSE 0 END) * 1.0
                   / SUM(chars), 4) AS dup{n}gram_char_frac
      FROM c{n} GROUP BY doc_id
    )"""

    blocks = ",".join(block(n) for n in (2, 3, 4, 5, 10))
    return f"""
        WITH base AS (
          SELECT doc_id, STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+') AS t
          FROM documents
          WHERE CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                ELSE LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) END >= 10
        ),{blocks}
        SELECT b.doc_id,
               m2.top2gram_char_frac, m3.top3gram_char_frac,
               m4.top4gram_char_frac,
               m5.dup5gram_char_frac, m10.dup10gram_char_frac,
               (m2.top2gram_char_frac <= 0.20
                AND m3.top3gram_char_frac <= 0.18
                AND m4.top4gram_char_frac <= 0.16
                AND m5.dup5gram_char_frac <= 0.15
                AND m10.dup10gram_char_frac <= 0.10) AS keep
        FROM base b
        JOIN m2 USING(doc_id) JOIN m3 USING(doc_id) JOIN m4 USING(doc_id)
        JOIN m5 USING(doc_id) JOIN m10 USING(doc_id)
        ORDER BY doc_id
    """


def _span_dedup_sql() -> str:
    """Oracle twin of q_span_dedup: same plant, same span segmentation
    (list slicing over RANGE), first-occurrence keeper via ROW_NUMBER
    over (doc_id, idx), ordered STRING_AGG reassembly."""
    return f"""
        WITH planted AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0
                      THEN '{_SPAN_BOILER} ' || text ELSE text END AS text
          FROM documents
        ),
        base AS (
          SELECT doc_id, STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+') AS t
          FROM planted
          WHERE CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                ELSE LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) END >= 1
        ),
        spans AS (
          SELECT doc_id, i AS idx,
                 ARRAY_TO_STRING(t[i*5+1 : i*5+5], ' ') AS span
          FROM base CROSS JOIN
               UNNEST(RANGE(0, CAST(CEIL(LEN(t) / 5.0) AS BIGINT))) AS r(i)
        ),
        kept AS (
          SELECT doc_id, idx, span FROM (
            SELECT *, ROW_NUMBER() OVER (
              PARTITION BY span ORDER BY doc_id, idx
            ) AS rn FROM spans
          ) WHERE rn = 1
        ),
        reassembled AS (
          SELECT doc_id, STRING_AGG(span, ' ' ORDER BY idx) AS text_deduped,
                 CAST(COUNT(*) AS INT) AS n_spans_kept
          FROM kept GROUP BY doc_id
        ),
        totals AS (
          SELECT doc_id, CAST(CEIL(LEN(t) / 5.0) AS INT) AS n_spans_total
          FROM base
        )
        SELECT t.doc_id,
               COALESCE(r.text_deduped, '') AS text_deduped,
               COALESCE(r.n_spans_kept, 0) AS n_spans_kept,
               t.n_spans_total
        FROM totals t LEFT JOIN reassembled r USING(doc_id)
    """


def _semantic_dedup_sql() -> str:
    """Oracle twin of q_semantic_dedup over the SAME srp_planes
    constants (emitted as list literals by srp_bucket_sql)."""
    from bigdata_cookbook_spark.operators.dedup import (
        srp_bucket_sql,
        srp_planes,
    )

    bsql = srp_bucket_sql("v", srp_planes(64, 4))
    return f"""
        WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        b AS (SELECT vec_id, v, SQRT(LIST_DOT_PRODUCT(v, v)) AS n,
                     {bsql} AS bucket
              FROM e),
        dropped AS (
          SELECT DISTINCT bb.vec_id
          FROM b aa JOIN b bb
            ON aa.bucket = bb.bucket AND aa.vec_id < bb.vec_id
          WHERE ROUND(LIST_DOT_PRODUCT(aa.v, bb.v) / (aa.n * bb.n), 4)
                >= 0.4
        )
        SELECT vec_id, CAST(bucket AS INT) AS bucket FROM b
        WHERE NOT EXISTS (SELECT 1 FROM dropped d
                          WHERE d.vec_id = b.vec_id)
        ORDER BY vec_id
    """


def _semantic_dedup_auto_sql() -> str:
    """Oracle twin of q_semantic_dedup_auto — the DEFAULT
    (n_planes=None) path. The plane count is DERIVED IN SQL from the
    same embeddings table the engine counts
    (default_srp_planes_sql == default_srp_planes_for, probe-tested),
    and the bucket id uses gated bit terms over the 24-plane prefix
    matrix (srp_bucket_sql_dynamic — valid because the plane LCG
    stream makes srp_planes(dim, k) a prefix of srp_planes(dim, 24)).
    One static SQL string therefore expresses the data-dependent
    grid at every scale factor, upgrading this entry from rows-only
    to a full value oracle (round-5 VERDICT task 1)."""
    from bigdata_cookbook_spark.operators.dedup import (
        default_srp_planes_sql,
        srp_bucket_sql_dynamic,
    )

    np_sql = default_srp_planes_sql("SELECT COUNT(*) FROM embeddings")
    bsql = srp_bucket_sql_dynamic("v", 64, np_sql="np")
    return f"""
        WITH np_t AS (SELECT {np_sql} AS np),
        e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
              FROM embeddings),
        b AS (SELECT vec_id, v, SQRT(LIST_DOT_PRODUCT(v, v)) AS n,
                     {bsql} AS bucket
              FROM e, np_t),
        dropped AS (
          SELECT DISTINCT bb.vec_id
          FROM b aa JOIN b bb
            ON aa.bucket = bb.bucket AND aa.vec_id < bb.vec_id
          WHERE ROUND(LIST_DOT_PRODUCT(aa.v, bb.v) / (aa.n * bb.n), 4)
                >= 0.4
        )
        SELECT vec_id, CAST(bucket AS INT) AS bucket FROM b
        WHERE NOT EXISTS (SELECT 1 FROM dropped d
                          WHERE d.vec_id = b.vec_id)
        ORDER BY vec_id
    """


def oracle_sql() -> dict[str, str]:
    sql = {
        "line_dedup": """
            WITH s AS (
                SELECT doc_id,
                       substr(text, 1, 40) || chr(10) || substr(text, 1, 40)
                           || chr(10) || substr(text, 41) AS syn
                FROM documents
            ), u AS (
                SELECT doc_id,
                       unnest(string_split(syn, chr(10))) AS line,
                       generate_subscripts(string_split(syn, chr(10)), 1) AS ord
                FROM s
            ), k AS (
                SELECT doc_id, line, ord,
                       min(ord) OVER (PARTITION BY doc_id, line) AS first_ord,
                       count(*) OVER (PARTITION BY doc_id) AS n_total
                FROM u
            )
            SELECT doc_id,
                   string_agg(line, chr(10) ORDER BY ord) AS text_deduped,
                   CAST(max(n_total) AS INT) AS n_lines_total,
                   CAST(count(*) AS INT) AS n_lines_kept
            FROM k WHERE ord = first_ord
            GROUP BY doc_id
        """,
        "bpe_token_count": _bpe_token_count_sql(),
        "gopher_repetition": _gopher_repetition_sql(),
        "semantic_dedup": _semantic_dedup_sql(),
        "semantic_dedup_auto": _semantic_dedup_auto_sql(),
        "span_dedup": _span_dedup_sql(),
        "source_quality_profile": """
            WITH scored AS (
                SELECT source,
                       CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                            ELSE LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+'))
                            END AS INT) AS n_tokens,
                       ROUND(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0.0
                            ELSE CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text),
                                 '\\b(the|a|and|of|to|in)\\b')) AS DOUBLE)
                                 / LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+'))
                            END, 4) AS stopword_ratio,
                       LEN(REGEXP_EXTRACT_ALL(LOWER(text), '<BPE>')) AS n_bpe
                FROM documents
            )
            SELECT source, COUNT(*) AS n_docs,
                   ROUND(AVG(n_tokens), 4) AS avg_tokens,
                   ROUND(AVG(stopword_ratio), 4) AS avg_stopword_ratio,
                   ROUND(AVG(n_bpe), 4) AS avg_bpe_tokens
            FROM scored GROUP BY source
        """.replace(
            "<BPE>", __import__(
                "bigdata_cookbook_spark.functions.text", fromlist=["BPE_TOKEN_PATTERN"]
            ).BPE_TOKEN_PATTERN.replace("'", "''")
        ),
        "training_shuffle": """
            SELECT doc_id,
                   md5(CAST(doc_id AS VARCHAR) || ':42') AS shuffle_key,
                   ROW_NUMBER() OVER (
                       ORDER BY md5(CAST(doc_id AS VARCHAR) || ':42'), doc_id
                   ) AS "rank"
            FROM documents
        """,
        "domain_mix_sample": _domain_mix_sql(
            {f"src{i}": (2.0 if i < 5 else 1.0) for i in range(20)}
        ),
        # temperature mixing: quota_d = floor(n_d^alpha * min_e(n_e^(1-alpha)))
        # recomputed from DuckDB's OWN counts — both engines call the
        # platform's pow on the same doubles (no float sums anywhere in
        # the quota math), then the identical md5-rank row choice.
        "domain_mix_temperature": """
            WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
            m AS (SELECT MIN(POWER(CAST(n AS DOUBLE), 0.5)) AS n_out FROM c),
            q AS (SELECT source,
                         CAST(FLOOR(POWER(CAST(n AS DOUBLE), 0.5)
                                    * (SELECT n_out FROM m)) AS BIGINT) AS quota
                  FROM c),
            r AS (SELECT doc_id, source,
                         ROW_NUMBER() OVER (
                             PARTITION BY source
                             ORDER BY md5(CAST(doc_id AS VARCHAR) || ':mix'), doc_id
                         ) AS rk
                  FROM documents)
            SELECT doc_id, source FROM r JOIN q USING (source) WHERE rk <= quota
        """,
        # exact global byte prefix sum -> integer-divide by the shard
        # size; the Spark side realizes the same sum distributed
        # (range partition + broadcast offsets), never single-reducer
        "shard_pack_documents": """
            WITH b AS (
                SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes
                FROM documents
            )
            SELECT doc_id, n_bytes,
                   CAST(COALESCE(SUM(CAST(n_bytes AS BIGINT)) OVER (
                       ORDER BY doc_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) // 32768 AS shard_id
            FROM b
        """,
        # winnowing (MOSS) fingerprint selection: the argmin is over
        # md5 HEX STRINGS (lexicographic), identical in both engines,
        # so the oracle reproduces the selection itself; slice t[i:i+4]
        # is DuckDB-inclusive = 5 tokens; window = i BETWEEN s AND s+3;
        # short docs (< 4 grams) fall into the single s=1 window
        "winnow_fingerprints": """
            WITH toks AS (
                SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
                FROM documents
                WHERE text IS NOT NULL AND length(trim(text)) > 0
            ),
            g AS (
                SELECT doc_id, i, array_to_string(t[i:i+4], ' ') AS gram
                FROM (SELECT doc_id, t,
                             unnest(generate_series(1, len(t) - 4)) AS i
                      FROM toks WHERE len(t) >= 5)
            ),
            h AS (SELECT doc_id, i, gram, md5(gram) AS hh FROM g),
            ng AS (SELECT doc_id, MAX(i) AS n FROM h GROUP BY 1),
            win AS (
                SELECT doc_id, unnest(generate_series(1, greatest(n - 3, 1))) AS s
                FROM ng
            ),
            sel AS (
                SELECT w.doc_id, w.s,
                       (ARRAY_AGG(h.gram ORDER BY h.hh ASC, h.i DESC))[1] AS gram
                FROM win w
                JOIN h ON h.doc_id = w.doc_id AND h.i BETWEEN w.s AND w.s + 3
                GROUP BY 1, 2
            )
            SELECT DISTINCT doc_id, gram FROM sel
        """,
        # per-eval-doc audit over the SAME shingle universe as
        # benchmark_contamination: max containment over ALL co-shingled
        # pairs (no threshold filter), flag count at 0.3, argmax
        # contaminator (ties -> smallest id), zero-leak eval docs kept
        # via the left join from the shingled-eval universe
        "contamination_report": """
            WITH toks AS (
                SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
                FROM documents
                WHERE text IS NOT NULL AND length(trim(text)) > 0
            ),
            idx AS (
                SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
                FROM toks WHERE len(t) >= 8
            ),
            sh AS (
                SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS shingle
                FROM idx
            ),
            ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 7 = 0),
            evsz AS (SELECT eval_id, COUNT(*) AS n_eval FROM ev GROUP BY 1),
            inter AS (
                SELECT s.doc_id AS train_id, e.eval_id, COUNT(*) AS n_common
                FROM sh s JOIN ev e USING (shingle)
                WHERE s.doc_id <> e.eval_id
                GROUP BY 1, 2
            ),
            scored AS (
                SELECT eval_id, train_id,
                       ROUND(CAST(n_common AS DOUBLE) / n_eval, 4) AS c
                FROM inter JOIN evsz USING (eval_id)
            ),
            agg AS (
                SELECT eval_id,
                       CAST(COUNT(*) FILTER (WHERE c >= 0.3) AS INTEGER) AS n_flagged,
                       MAX(c) AS max_containment,
                       (ARRAY_AGG(train_id ORDER BY c DESC, train_id ASC))[1]
                           AS top_train_id
                FROM scored GROUP BY 1
            )
            SELECT e.eval_id,
                   COALESCE(a.n_flagged, 0) AS n_flagged,
                   COALESCE(a.max_containment, 0.0) AS max_containment,
                   a.top_train_id
            FROM (SELECT DISTINCT eval_id FROM ev) e
            LEFT JOIN agg a USING (eval_id)
        """,
        "benchmark_contamination": """
            WITH toks AS (
                SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
                FROM documents
                WHERE text IS NOT NULL AND length(trim(text)) > 0
            ),
            idx AS (
                SELECT doc_id, t, unnest(generate_series(1, len(t) - 7)) AS i
                FROM toks WHERE len(t) >= 8
            ),
            sh AS (
                SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS shingle
                FROM idx
            ),
            ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 7 = 0),
            evsz AS (SELECT eval_id, COUNT(*) AS n_eval FROM ev GROUP BY 1),
            inter AS (
                SELECT s.doc_id AS train_id, e.eval_id, COUNT(*) AS n_common
                FROM sh s JOIN ev e USING (shingle)
                GROUP BY 1, 2
            )
            SELECT train_id, eval_id,
                   ROUND(CAST(n_common AS DOUBLE) / n_eval, 4) AS containment
            FROM inter JOIN evsz USING (eval_id)
            WHERE ROUND(CAST(n_common AS DOUBLE) / n_eval, 4) >= 0.3
              AND train_id <> eval_id
        """,
        "char_bigram_perplexity": """
            WITH d AS (
                SELECT doc_id, lower(trim(text)) AS t FROM documents
                WHERE text IS NOT NULL AND length(trim(text)) >= 2
            ),
            bg AS (
                SELECT doc_id, substr(t, i, 2) AS b
                FROM (SELECT doc_id, t,
                             unnest(generate_series(1, length(t) - 1)) AS i
                      FROM d)
            ),
            cnt AS (SELECT b, COUNT(*) AS c FROM bg GROUP BY 1),
            tot AS (SELECT SUM(c) AS n, COUNT(*) AS v FROM cnt),
            scored AS (
                SELECT bg.doc_id, ln((cnt.c + 1.0) / (tot.n + tot.v)) AS lp
                FROM bg JOIN cnt USING (b), tot
            )
            SELECT doc_id, COUNT(*) AS n_bigrams,
                   ROUND(exp(-AVG(lp)), 4) AS perplexity
            FROM scored GROUP BY 1
        """,
        "length_curriculum": """
            WITH t AS (
                SELECT doc_id,
                       COALESCE(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                                ELSE LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+'))
                                END, 0) AS n_tokens
                FROM documents
            )
            SELECT doc_id, n_tokens,
                   NTILE(8) OVER (ORDER BY n_tokens, doc_id) AS bucket
            FROM t
        """,
        "hit_count_monthly_topk": """
            WITH monthly AS (
                SELECT c_mktsegment,
                       CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
                       COUNT(DISTINCT o_orderkey) AS n_orders
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1, 2
            )
            SELECT c_mktsegment, month, n_orders
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY c_mktsegment ORDER BY n_orders DESC, month ASC
                ) AS rn FROM monthly
            ) WHERE rn <= 3
        """,
        "pricing_summary": """
            SELECT l_returnflag, l_linestatus,
                   ROUND(SUM(l_quantity), 2) AS sum_qty,
                   CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_base_price,
                   CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4)) * (CAST(1 AS DECIMAL(18,4)) - CAST(l_discount AS DECIMAL(18,4)))), 2) AS DOUBLE) AS sum_disc_price,
                   ROUND(AVG(l_quantity), 2) AS avg_qty,
                   ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 4) AS avg_disc,
                   COUNT(*) AS count_order
            FROM lineitem
            GROUP BY l_returnflag, l_linestatus
        """,
        "count_distinct_having": """
            SELECT n_name, n_customers, total_acctbal
            FROM (
                SELECT c_nationkey,
                       COUNT(DISTINCT c_custkey) AS n_customers,
                       CAST(ROUND(SUM(CAST(c_acctbal AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_acctbal
                FROM customer GROUP BY c_nationkey
                HAVING COUNT(DISTINCT c_custkey) >= 3
            ) JOIN nation ON c_nationkey = n_nationkey
        """,
        "topk_parts_per_brand": """
            WITH rev AS (
                SELECT p_brand, l_partkey,
                       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                            * (CAST(1 AS DECIMAL(18,4))
                               - CAST(l_discount AS DECIMAL(18,4)))), 2)
                            AS DOUBLE) AS revenue
                FROM lineitem JOIN part ON l_partkey = p_partkey
                GROUP BY 1, 2
            )
            SELECT p_brand, l_partkey, revenue
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY p_brand ORDER BY revenue DESC, l_partkey ASC
                ) AS rn FROM rev
            ) WHERE rn <= 3
        """,
        "argmax_day_per_priority": """
            WITH daily AS (
                SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
                       COUNT(*) AS n_orders
                FROM orders GROUP BY 1, 2
            )
            SELECT o_orderpriority, day, n_orders
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY o_orderpriority ORDER BY n_orders DESC, day ASC
                ) AS rn FROM daily
            ) WHERE rn = 1
        """,
        "calendar_densify_daily": """
            WITH daily AS (
                SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS cnt
                FROM events GROUP BY 1, 2
            ),
            bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
            calendar AS (
                SELECT CAST(UNNEST(generate_series(lo, hi, INTERVAL 1 DAY)) AS DATE) AS day
                FROM bounds
            ),
            types AS (SELECT DISTINCT event_type FROM daily)
            SELECT c.day, t.event_type, COALESCE(d.cnt, 0) AS cnt
            FROM calendar c CROSS JOIN types t
            LEFT JOIN daily d ON d.day = c.day AND d.event_type = t.event_type
        """,
        "weekly_zscore": """
            WITH weekly AS (
                SELECT event_type,
                       CAST(date_trunc('week', ts) AS DATE) AS week,
                       COUNT(*) AS cnt
                FROM events GROUP BY 1, 2
            )
            SELECT event_type, week, cnt,
                   ROUND(CASE WHEN COALESCE(STDDEV_SAMP(cnt) OVER (PARTITION BY event_type), 0) = 0
                         THEN 0.0
                         ELSE (cnt - AVG(cnt) OVER (PARTITION BY event_type))
                              / STDDEV_SAMP(cnt) OVER (PARTITION BY event_type)
                    END, 4) AS zscore
            FROM weekly
        """,
        "dedup_keep_first": """
            SELECT o_custkey, o_orderkey,
                   CAST(o_orderdate AS DATE) AS first_order_date, o_totalprice
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC
                ) AS rn FROM orders
            ) WHERE rn = 1
        """,
        "mode_event_type": """
            WITH counts AS (
                SELECT user_id, event_type, COUNT(*) AS cnt
                FROM events GROUP BY 1, 2
            )
            SELECT user_id, event_type AS top_event_type
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY user_id ORDER BY cnt DESC, event_type ASC
                ) AS rn FROM counts
            ) WHERE rn = 1
        """,
        "collect_concat": """
            SELECT user_id,
                   STRING_AGG(DISTINCT event_type, '; ' ORDER BY event_type) AS event_types,
                   COUNT(*) AS n_events
            FROM events GROUP BY user_id
        """,
        "net_exposure": """
            WITH pos AS (
                SELECT o_custkey, COUNT(*) AS pos_cnt FROM orders
                WHERE o_orderstatus = 'O' GROUP BY 1
            ),
            neg AS (
                SELECT o_custkey, COUNT(*) AS neg_cnt FROM orders
                WHERE o_orderstatus = 'F' GROUP BY 1
            )
            SELECT COALESCE(p.o_custkey, n.o_custkey) AS o_custkey,
                   COALESCE(pos_cnt, 0) AS pos_cnt,
                   COALESCE(neg_cnt, 0) AS neg_cnt,
                   COALESCE(pos_cnt, 0) + COALESCE(neg_cnt, 0) AS total_cnt,
                   ROUND(COALESCE(pos_cnt, 0) * 100.0
                         / (COALESCE(pos_cnt, 0) + COALESCE(neg_cnt, 0)), 2) AS pos_pct,
                   ROUND(COALESCE(neg_cnt, 0) * 100.0
                         / (COALESCE(pos_cnt, 0) + COALESCE(neg_cnt, 0)), 2) AS neg_pct,
                   ABS(COALESCE(pos_cnt, 0)) - ABS(COALESCE(neg_cnt, 0)) AS net_exposure
            FROM pos p FULL OUTER JOIN neg n ON p.o_custkey = n.o_custkey
        """,
        "summary_stats": """
            SELECT event_type,
                   COUNT(*) AS n_records,
                   CAST(MIN(ts) AS DATE) AS min_date,
                   CAST(MAX(ts) AS DATE) AS max_date,
                   COUNT(DISTINCT user_id) AS n_users,
                   CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
            FROM events GROUP BY event_type
        """,
        "exact_dedup_docs": """
            SELECT MIN(doc_id) AS canonical_doc_id, COUNT(*) AS n_dups
            FROM documents GROUP BY text
        """,
        "doc_fingerprint": """
            WITH fp AS (
                SELECT doc_id, MD5(LOWER(TRIM(text))) AS fingerprint
                FROM documents
            )
            SELECT doc_id, fingerprint,
                   COUNT(*) OVER (PARTITION BY fingerprint) AS n_same,
                   (COUNT(*) OVER (PARTITION BY fingerprint)) > 1 AS is_dup
            FROM fp
        """,
        "token_quality": """
            SELECT doc_id,
                   LENGTH(text) AS n_chars_text,
                   CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                        ELSE LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) END AS INT) AS n_tokens,
                   CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\\b(the|a|and|of|to|in)\\b')) AS INT) AS n_stopwords,
                   ROUND(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0.0
                        ELSE CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\\b(the|a|and|of|to|in)\\b')) AS DOUBLE)
                             / LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) END, 4) AS stopword_ratio
            FROM documents
        """,
        "ann_cosine_topk": """
            WITH q AS (
                SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
            ),
            sims AS (
                SELECT e.vec_id,
                       LIST_DOT_PRODUCT(CAST(e.embedding AS DOUBLE[]), q.qe)
                       / (SQRT(LIST_DOT_PRODUCT(CAST(e.embedding AS DOUBLE[]), CAST(e.embedding AS DOUBLE[])))
                          * SQRT(LIST_DOT_PRODUCT(q.qe, q.qe))) AS cos
                FROM embeddings e CROSS JOIN q
            )
            SELECT vec_id, ROUND(cos, 4) AS cosine_sim
            FROM sims ORDER BY cos DESC, vec_id ASC LIMIT 20
        """,
        "pivot_composite_status": """
            SELECT c_mktsegment,
                   COUNT(*) FILTER (o_orderstatus = 'O') AS "O",
                   COUNT(*) FILTER (o_orderstatus = 'F') AS "F",
                   COUNT(*) FILTER (o_orderstatus = 'P') AS "P",
                   COUNT(*) FILTER (o_orderstatus IN ('O','F','P')) AS composite_score
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY c_mktsegment
        """,
        "gaussian_smooth_weekly": _gaussian_smooth_sql(2.0),
        "last_purchase_ffill": """
            SELECT event_id, user_id,
                   ROUND(LAST_VALUE(CASE WHEN event_type = 'purchase' THEN value END IGNORE NULLS)
                         OVER (PARTITION BY user_id ORDER BY event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2)
                       AS last_purchase_value
            FROM events
        """,
        "score_normalization": """
            WITH per_supp AS (
                SELECT l_suppkey, COUNT(*) AS n_items FROM lineitem GROUP BY 1
            )
            SELECT l_suppkey, n_items,
                   ROUND(n_items / AVG(n_items) OVER (), 4) AS score
            FROM per_supp
        """,
        "source_topn": """
            SELECT source, COUNT(*) AS n_docs
            FROM documents GROUP BY source
            ORDER BY n_docs DESC, source ASC LIMIT 3
        """,
        "quarterly_counts": """
            SELECT CAST(date_trunc('quarter', o_orderdate) AS DATE) AS quarter_start,
                   COUNT(*) AS n_orders
            FROM orders GROUP BY 1
        """,
        "customers_without_orders": """
            SELECT c_custkey, c_name FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
        """,
        "union_distinct_nations": """
            SELECT DISTINCT nationkey FROM (
                SELECT c_nationkey AS nationkey FROM customer
                UNION ALL
                SELECT s_nationkey AS nationkey FROM supplier
            )
        """,
        "keyword_search": """
            SELECT source, lang, COUNT(*) AS n_docs
            FROM documents
            WHERE (text LIKE '%spark%' OR text LIKE '%vector%')
              AND source IN ('src0', 'src1', 'src2')
            GROUP BY source, lang
        """,
        "events_daterange": """
            SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS cnt
            FROM events
            WHERE ts >= TIMESTAMP '2024-01-05' AND ts < TIMESTAMP '2024-01-20'
              AND event_type IN ('purchase', 'click')
            GROUP BY 1, 2
        """,
        "lang_id": _lang_id_sql(),
        "quality_score": """
            WITH feats AS (
                SELECT doc_id,
                       LENGTH(text) AS n_chars_text,
                       CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                            ELSE LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) END AS INT) AS n_tokens,
                       CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\\b(the|a|and|of|to|in)\\b')) AS INT) AS n_stopwords,
                       LEN(REGEXP_EXTRACT_ALL(text, '[.,;:!?]')) AS n_punct
                FROM documents
            )
            SELECT doc_id, n_chars_text, n_tokens, n_stopwords,
                   ROUND(CASE WHEN n_tokens = 0 THEN 0.0
                        ELSE CAST(n_stopwords AS DOUBLE) / n_tokens END, 4) AS stopword_ratio,
                   ROUND(CASE WHEN n_chars_text = 0 THEN 0.0
                        ELSE CAST(n_punct AS DOUBLE) / n_chars_text END, 4) AS punct_ratio
            FROM feats
        """,
        "ngram_jaccard_pairs": f"""
            WITH {_SHINGLES_CTE},
            sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   ROUND(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
        """,
        "ngram_jaccard_capped": f"""
            WITH {_SHINGLES_CTE},
            capped AS (
                SELECT doc_id, shingle FROM sh
                QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 5
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM capped GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
                FROM capped a JOIN capped b
                  ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            )
            SELECT doc_a, doc_b,
                   ROUND(CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common), 4) AS jaccard
            FROM inter
            JOIN sizes sa ON sa.doc_id = doc_a
            JOIN sizes sb ON sb.doc_id = doc_b
            WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= 0.5
        """,
        "minhash_lsh_candidates": _minhash_lsh_sql(12, 2),
        "simhash": _simhash_sql(),
        "bm25_topk": f"""
            WITH {_BM25_SCORED_CTES},
            ranked AS (
                SELECT doc_id, score,
                       ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
                FROM scored
            )
            SELECT doc_id, score, CAST(rank AS INT) AS rank
            FROM ranked WHERE rank <= 20
        """,
        "hybrid_search_rrf": f"""
            WITH {_BM25_SCORED_CTES},
            lex_top AS (
                SELECT doc_id, score FROM scored
                ORDER BY score DESC, doc_id ASC LIMIT 100
            ),
            lex_r AS (
                SELECT doc_id,
                       ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS lrank
                FROM lex_top
            ),
            qv AS (
                SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings WHERE vec_id = 0
            ),
            cos AS (
                SELECT e.vec_id AS doc_id,
                       ROUND(LIST_DOT_PRODUCT(CAST(e.embedding AS DOUBLE[]), q.v)
                             / (SQRT(LIST_DOT_PRODUCT(CAST(e.embedding AS DOUBLE[]),
                                                      CAST(e.embedding AS DOUBLE[])))
                                * SQRT(LIST_DOT_PRODUCT(q.v, q.v))), 4) AS score
                FROM embeddings e CROSS JOIN qv q
            ),
            sem_top AS (
                SELECT doc_id, score FROM cos
                ORDER BY score DESC, doc_id ASC LIMIT 100
            ),
            sem_r AS (
                SELECT doc_id,
                       ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS srank
                FROM sem_top
            ),
            fused AS (
                SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
                       ROUND(COALESCE(1.0 / (60 + l.lrank), 0)
                             + COALESCE(1.0 / (60 + s.srank), 0), 6) AS rrf
                FROM lex_r l FULL OUTER JOIN sem_r s ON l.doc_id = s.doc_id
            ),
            out AS (
                SELECT doc_id, rrf,
                       ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id ASC) AS rank
                FROM fused
            )
            SELECT doc_id, rrf, CAST(rank AS INT) AS rank FROM out WHERE rank <= 20
        """,
        # strongest achievable twin for a deflate-derived value (DuckDB
        # has no deflate): full value match on the deterministic
        # derivation (raw utf-8 bytes), and the engine-side zlib-bound
        # assertion column pinned to literal TRUE — see
        # q_compression_ratio's docstring for the bound
        "compression_ratio": """
            SELECT doc_id,
                   CAST(STRLEN(text) AS BIGINT) AS raw_bytes,
                   TRUE AS ratio_ok
            FROM documents
        """,
        "pii_redaction": _pii_redaction_sql(),
        "token_window_chunks": f"""
            WITH {_TOKEN_CHUNK_CTES}
            SELECT doc_id, chunk_idx,
                   ARRAY_TO_STRING(ctoks, ' ') AS chunk_text,
                   CAST(LEN(LIST_FILTER(ctoks, x -> LENGTH(x) > 0)) AS INT) AS n_tokens
            FROM sliced
        """,
        "sequence_pack": f"""
            WITH {_TOKEN_CHUNK_CTES},
            chunks AS (
                SELECT doc_id, chunk_idx,
                       ARRAY_TO_STRING(ctoks, ' ') AS chunk_text
                FROM sliced
            ),
            est AS (
                SELECT doc_id, chunk_idx,
                       CAST(doc_id % 8 AS INT) AS stream,
                       GREATEST(CAST(LENGTH(chunk_text) AS BIGINT) // 4, 1) AS est_tokens
                FROM chunks
            ),
            c AS (
                SELECT *,
                       CAST(SUM(est_tokens) OVER (
                           PARTITION BY stream ORDER BY doc_id, chunk_idx
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                       ) AS BIGINT) AS cum
                FROM est
            )
            SELECT stream, doc_id, chunk_idx, est_tokens,
                   CAST(FLOOR((cum - est_tokens) / 128.0) AS INT) AS pack_id
            FROM c
        """,
        "gopher_quality": r"""
            WITH t AS (
                SELECT doc_id, text,
                       STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS toks
                FROM documents
            ),
            mm AS (
                SELECT doc_id,
                       CAST(LEN(toks) AS INT) AS n_tokens,
                       ROUND(LENGTH(REGEXP_REPLACE(text, '\s+', '', 'g'))
                             / NULLIF(LEN(toks), 0), 4) AS mean_word_len,
                       ROUND(LEN(LIST_DISTINCT(toks)) * 1.0
                             / NULLIF(LEN(toks), 0), 4) AS unique_word_ratio,
                       ROUND(LEN(LIST_FILTER(toks, x -> REGEXP_MATCHES(x, '[a-z]'))) * 1.0
                             / NULLIF(LEN(toks), 0), 4) AS alpha_word_ratio,
                       ROUND(LEN(REGEXP_EXTRACT_ALL(text, '[#*…]|\.\.\.')) * 1.0
                             / NULLIF(LEN(toks), 0), 4) AS symbol_ratio
                FROM t
            )
            SELECT *,
                   (n_tokens >= 3 AND n_tokens <= 100000
                    AND mean_word_len >= 2.0 AND mean_word_len <= 12.0
                    AND unique_word_ratio >= 0.3
                    AND alpha_word_ratio >= 0.8
                    AND symbol_ratio <= 0.1) AS keep
            FROM mm
        """,
        "screening_normalize": _screening_normalize_sql(),
        "dual_role_workflow": _dual_role_sql(),
        "neardup_canonical_clusters": _neardup_clusters_sql(),
        "cluster_safe_split_docs": _cluster_safe_split_sql(),
        "sentence_budget_chunks": _sentence_budget_chunks_sql(),
        "paragraph_dedup": r"""
            WITH s AS (
                SELECT doc_id,
                       'BOILERPLATE-' || source || chr(10)
                           || substr(text, 1, 60) || chr(10)
                           || substr(text, 61) AS syn
                FROM documents
            ), u AS (
                SELECT doc_id,
                       unnest(string_split(syn, chr(10))) AS para,
                       generate_subscripts(string_split(syn, chr(10)), 1) AS pos
                FROM s
            ), k AS (
                SELECT doc_id, para, pos,
                       (LENGTH(para) < 1) OR (row_number() OVER (
                           PARTITION BY para ORDER BY doc_id, pos) = 1
                       ) AS keep
                FROM u
            ), agg AS (
                SELECT doc_id,
                       string_agg(para, chr(10) ORDER BY pos) AS text_deduped,
                       CAST(count(*) AS INT) AS n_paras_kept
                FROM k WHERE keep GROUP BY doc_id
            ), tot AS (
                SELECT doc_id,
                       CAST(LEN(string_split(syn, chr(10))) AS INT) AS n_paras_total
                FROM s
            )
            SELECT t.doc_id,
                   coalesce(a.text_deduped, '') AS text_deduped,
                   t.n_paras_total,
                   coalesce(a.n_paras_kept, 0) AS n_paras_kept
            FROM tot t LEFT JOIN agg a USING (doc_id)
        """,
        "tfidf_top_terms": r"""
            WITH t AS (
                SELECT doc_id,
                       LIST_FILTER(
                           STRING_SPLIT_REGEX(LOWER(text), '[^\pL\pN]+'),
                           x -> x <> ''
                       ) AS toks
                FROM documents
            ),
            h AS (SELECT doc_id, UNNEST(toks) AS term FROM t),
            tf AS (
                SELECT doc_id, term, COUNT(*) AS tf
                FROM h GROUP BY 1, 2
            ),
            dfx AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
            stats AS (SELECT COUNT(*) AS n FROM documents),
            scored AS (
                SELECT tf.doc_id, tf.term, tf.tf,
                       ROUND(tf.tf * (LN((s.n + 1.0) / (d.df + 1.0)) + 1.0),
                             4) AS score
                FROM tf JOIN dfx d USING (term) CROSS JOIN stats s
            ),
            ranked AS (
                SELECT doc_id, term, tf, score,
                       row_number() OVER (
                           PARTITION BY doc_id
                           ORDER BY score DESC, term) AS rank
                FROM scored
            )
            SELECT doc_id, term, CAST(rank AS INT) AS rank, tf, score
            FROM ranked WHERE rank <= 3
        """,
        "comention_parts": """
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b, COUNT(*) AS weight
            FROM lineitem a JOIN lineitem b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING COUNT(*) >= 2
        """,
        "skew_salted_distinct_users": """
            SELECT event_type, COUNT(DISTINCT user_id) AS n_users
            FROM events GROUP BY 1
        """,
        "skew_salted_join_segments": """
            SELECT c_mktsegment, COUNT(*) AS n_orders,
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_price
            FROM orders JOIN customer ON o_custkey = c_custkey
            GROUP BY 1
        """,
        "asof_click_before_purchase": """
            SELECT p.user_id, epoch_us(p.ts) AS purchase_ts_us, p.event_id,
                   epoch_us(c.ts) AS click_ts_us, c.event_id AS click_event_id
            FROM (SELECT user_id, ts, event_id FROM events
                  WHERE event_type = 'purchase') p
            ASOF LEFT JOIN (SELECT user_id, ts, event_id FROM events
                  WHERE event_type = 'click') c
              ON p.user_id = c.user_id AND p.ts >= c.ts
        """,
        "range_count_events_after_purchase": """
            SELECT p.event_id, p.user_id, epoch_us(p.ts) AS purchase_ts_us,
                   COUNT(e.event_id) AS n_following
            FROM (SELECT user_id, ts, event_id FROM events
                  WHERE event_type = 'purchase') p
            LEFT JOIN events e
              ON e.user_id = p.user_id AND e.ts > p.ts
             AND e.ts <= p.ts + INTERVAL 2 HOUR
            GROUP BY 1, 2, 3
        """,
        "hash_split_documents": _hash_split_documents_sql(),
        "stratified_sample_orders": """
            SELECT o_orderkey, o_orderpriority FROM orders
            WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ''), 1, 8))
                       AS BIGINT) % 10000
                  < CASE o_orderpriority
                        WHEN '1-URGENT' THEN 2000
                        WHEN '2-HIGH' THEN 1000
                        ELSE 500 END
        """,
        "weighted_sample_orders": """
            SELECT o_orderkey, o_totalprice FROM orders
            WHERE CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || ''), 1, 8))
                       AS BIGINT) % 10000
                  < CAST(FLOOR(ROUND(LEAST(1.0,
                        0.1 * o_totalprice / (SELECT AVG(o_totalprice) FROM orders)
                    ) * 10000, 6)) AS BIGINT)
        """,
        "price_percentiles": """
            SELECT o_orderpriority,
                   ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
                   ROUND(quantile_cont(o_totalprice, 0.95), 4) AS p95,
                   COUNT(*) AS n_orders
            FROM orders GROUP BY 1
        """,
        "iqr_outliers": """
            WITH fences AS (
                SELECT o_orderpriority,
                       quantile_cont(o_totalprice, 0.25)
                         - 1.5 * (quantile_cont(o_totalprice, 0.75)
                                  - quantile_cont(o_totalprice, 0.25)) AS lo,
                       quantile_cont(o_totalprice, 0.75)
                         + 1.5 * (quantile_cont(o_totalprice, 0.75)
                                  - quantile_cont(o_totalprice, 0.25)) AS hi
                FROM orders GROUP BY 1
            )
            SELECT o.o_orderpriority,
                   COUNT(*) AS n_orders,
                   COUNT(*) FILTER (WHERE o.o_totalprice < f.lo
                                       OR o.o_totalprice > f.hi) AS n_outliers,
                   ROUND(COUNT(*) FILTER (WHERE o.o_totalprice < f.lo
                                             OR o.o_totalprice > f.hi)
                         * 100.0 / COUNT(*), 4) AS outlier_pct
            FROM orders o JOIN fences f USING (o_orderpriority)
            GROUP BY 1
        """,
        "rolling_hour_avg": """
            SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                   ROUND(AVG(value) OVER (
                       PARTITION BY user_id ORDER BY ts
                       RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW
                   ), 4) AS avg_1h
            FROM events
        """,
        "profile_orders": _profile_orders_sql(),
        "continuous_aggregate_daily": """
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day, event_type,
                   COUNT(*) AS n, ROUND(SUM(value), 4) AS total,
                   MAX(value) AS vmax
            FROM events GROUP BY 1, 2
        """,
        "knn_label_vote": """
            WITH e AS (SELECT vec_id, label,
                              CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e
                  WHERE vec_id IN (0, 1, 2)),
            sims AS (
                SELECT q.query_id, e.vec_id, e.label,
                       LIST_DOT_PRODUCT(e.v, q.qv)
                       / (SQRT(LIST_DOT_PRODUCT(e.v, e.v))
                          * SQRT(LIST_DOT_PRODUCT(q.qv, q.qv))) AS cos
                FROM e CROSS JOIN q
                WHERE e.vec_id <> q.query_id
            ),
            nn AS (
                SELECT * FROM (
                    SELECT *, ROW_NUMBER() OVER (
                        PARTITION BY query_id ORDER BY cos DESC, vec_id ASC
                    ) AS rn FROM sims
                ) WHERE rn <= 10
            ),
            votes AS (
                SELECT query_id, label, COUNT(*) AS votes
                FROM nn GROUP BY 1, 2
            )
            SELECT query_id, label AS pred_label, votes FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY query_id ORDER BY votes DESC, label ASC
                ) AS rn FROM votes
            ) WHERE rn = 1
        """,
        "rollup_order_volumes": """
            SELECT o_orderstatus, o_orderpriority,
                   GROUPING(o_orderstatus, o_orderpriority) AS gid,
                   COUNT(*) AS n_orders,
                   CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_price
            FROM orders
            GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
        """,
        "risk_level_mapping": """
            SELECT o_orderpriority,
                   CASE o_orderpriority WHEN '1-URGENT' THEN 3 WHEN '2-HIGH' THEN 2
                        WHEN '3-MEDIUM' THEN 1 ELSE 0 END AS risk_level,
                   COUNT(*) AS n_orders
            FROM orders GROUP BY 1, 2
        """,
        "argmax_joinback": """
            WITH daily AS (
                SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
                       COUNT(*) AS n_orders
                FROM orders GROUP BY 1, 2
            ),
            peak AS (
                SELECT o_orderpriority, day, n_orders
                FROM (
                    SELECT *, ROW_NUMBER() OVER (
                        PARTITION BY o_orderpriority ORDER BY n_orders DESC, day ASC
                    ) AS rn FROM daily
                ) WHERE rn = 1
            ),
            joined AS (
                SELECT p.o_orderpriority, p.day, p.n_orders, o.o_orderkey, o.o_totalprice
                FROM peak p JOIN orders o
                  ON o.o_orderpriority = p.o_orderpriority
                 AND CAST(o.o_orderdate AS DATE) = p.day
            )
            SELECT o_orderpriority, day, n_orders, o_orderkey, o_totalprice
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY o_orderpriority ORDER BY o_orderkey DESC
                ) AS rn FROM joined
            ) WHERE rn = 1
        """,
        "cross_source_alignment": """
            WITH daily AS (
                SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS cnt
                FROM events WHERE event_type IN ('purchase', 'error')
                GROUP BY 1, 2
            ),
            p AS (SELECT day, cnt AS purchase_cnt FROM daily WHERE event_type = 'purchase'),
            e AS (SELECT day, cnt AS error_cnt FROM daily WHERE event_type = 'error'),
            j AS (
                SELECT COALESCE(p.day, e.day) AS day, purchase_cnt, error_cnt
                FROM p FULL OUTER JOIN e ON p.day = e.day
            )
            SELECT day,
                   LAST_VALUE(purchase_cnt IGNORE NULLS) OVER (
                       ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS purchase_cnt,
                   LAST_VALUE(error_cnt IGNORE NULLS) OVER (
                       ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                   ) AS error_cnt
            FROM j
        """,
        "date_parse_format": """
            SELECT strftime(o_orderdate, '%b %Y') AS month_label,
                   CAST(YEAR(o_orderdate) AS VARCHAR) || 'Q' ||
                       CAST(QUARTER(o_orderdate) AS VARCHAR) AS quarter_label,
                   COUNT(*) AS n_orders
            FROM orders GROUP BY 1, 2
        """,
        "log_clip": """
            WITH per_part AS (
                SELECT l_partkey, SUM(l_quantity) AS sum_qty FROM lineitem GROUP BY 1
            )
            SELECT l_partkey,
                   ROUND(LN(GREATEST(sum_qty - 100.0, 0.01)), 4) AS log_excess_qty
            FROM per_part
        """,
        "json_props": """
            SELECT CAST(json_extract(props, '$.k') AS INT) % 10 AS k_bucket,
                   COUNT(*) AS cnt
            FROM events GROUP BY 1
        """,
        "collect_list_ordered": """
            SELECT user_id,
                   ARRAY_TO_STRING(
                       LIST_TRANSFORM((LIST(value ORDER BY event_id ASC))[1:5],
                                      v -> PRINTF('%.4f', v)),
                       ';') AS first_values
            FROM events GROUP BY user_id
        """,
        "embedding_neardup_pairs": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   ROUND(LIST_DOT_PRODUCT(a.v, b.v)
                         / (SQRT(LIST_DOT_PRODUCT(a.v, a.v)) * SQRT(LIST_DOT_PRODUCT(b.v, b.v))),
                         4) AS cosine_sim
            FROM e a JOIN e b ON a.vec_id < b.vec_id
            WHERE ROUND(LIST_DOT_PRODUCT(a.v, b.v)
                  / (SQRT(LIST_DOT_PRODUCT(a.v, a.v)) * SQRT(LIST_DOT_PRODUCT(b.v, b.v))), 4) >= 0.4
        """,
        "ann_lsh_buckets": _ann_lsh_sql(),
        "streaming_windowed_counts": """
            SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS cnt
            FROM events GROUP BY 1, 2
        """,
        "min_occurrence_filter": """
            WITH kept AS (
                SELECT *, COUNT(*) OVER (PARTITION BY l_partkey) AS n_rows
                FROM lineitem
            )
            SELECT l_partkey, n_rows, ROUND(SUM(l_quantity), 2) AS sum_qty
            FROM kept WHERE n_rows >= 25
            GROUP BY l_partkey, n_rows
        """,
        "dedup_joinback_labels": """
            WITH labeled AS (
                SELECT text, SUBSTR(MD5(LOWER(TRIM(text))), 1, 2) AS label
                FROM (SELECT DISTINCT text FROM documents)
            )
            SELECT d.doc_id, l.label
            FROM documents d LEFT JOIN labeled l ON d.text = l.text
        """,
        "multi_source_daily_volumes": """
            WITH daily AS (
                SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS cnt
                FROM events GROUP BY 1, 2
            ),
            c AS (SELECT day, cnt FROM daily WHERE event_type = 'click'),
            v AS (SELECT day, cnt FROM daily WHERE event_type = 'view'),
            p AS (SELECT day, cnt FROM daily WHERE event_type = 'purchase')
            SELECT COALESCE(c.day, v.day, p.day) AS day,
                   COALESCE(c.cnt, 0) AS click_cnt,
                   COALESCE(v.cnt, 0) AS view_cnt,
                   COALESCE(p.cnt, 0) AS purchase_cnt
            FROM c
            FULL OUTER JOIN v ON c.day = v.day
            FULL OUTER JOIN p ON COALESCE(c.day, v.day) = p.day
        """,
        "fallback_coalesce_join": """
            WITH users AS (SELECT DISTINCT user_id FROM events),
            pa AS (
                SELECT user_id, AVG(value) AS purchase_avg
                FROM events WHERE event_type = 'purchase' GROUP BY 1
            ),
            ca AS (
                SELECT user_id, AVG(value) AS click_avg
                FROM events WHERE event_type = 'click' GROUP BY 1
            )
            SELECT u.user_id,
                   COALESCE(purchase_avg, click_avg, 0.0) AS engagement
            FROM users u
            LEFT JOIN pa ON u.user_id = pa.user_id
            LEFT JOIN ca ON u.user_id = ca.user_id
        """,
        "sector_rank": """
            WITH totals AS (
                SELECT c_mktsegment, CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_price
                FROM orders JOIN customer ON o_custkey = c_custkey
                GROUP BY 1
            )
            SELECT c_mktsegment, total_price,
                   DENSE_RANK() OVER (ORDER BY total_price DESC, c_mktsegment ASC)
                       AS sector_rank
            FROM totals
        """,
        "peak_lag": """
            WITH daily AS (
                SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
                FROM events GROUP BY 1, 2
            ),
            peaks AS (
                SELECT event_type, day AS peak_day, cnt AS peak_cnt
                FROM (
                    SELECT *, ROW_NUMBER() OVER (
                        PARTITION BY event_type ORDER BY cnt DESC, day ASC
                    ) AS rn FROM daily
                ) WHERE rn = 1
            ),
            ref AS (SELECT peak_day AS ref_day FROM peaks WHERE event_type = 'purchase')
            SELECT event_type, peak_day, peak_cnt,
                   DATEDIFF('day', ref_day, peak_day) AS lag_days_vs_purchase
            FROM peaks CROSS JOIN ref
        """,
        "first_last_per_group": """
            SELECT user_id,
                   ROUND(ARG_MIN(value, event_id), 4) AS first_value,
                   ROUND(ARG_MAX(value, event_id), 4) AS last_value,
                   ARG_MIN(event_type, event_id) AS first_event_type
            FROM events GROUP BY user_id
        """,
        "keyword_context_window": """
            SELECT doc_id,
                   SUBSTR(text, GREATEST(STRPOS(text, 'spark') - 30, 1), 65) AS snippet
            FROM documents WHERE STRPOS(text, 'spark') > 0
        """,
        "token_pack_buckets": """
            WITH t AS (
                SELECT doc_id, source, CAST(CEIL(n_chars / 4.0) AS BIGINT) AS tok
                FROM documents
            ),
            c AS (
                SELECT doc_id, source, tok,
                       SUM(tok) OVER (PARTITION BY source ORDER BY doc_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                           AS cum_tok
                FROM t
            )
            SELECT doc_id, source, tok,
                   CAST(FLOOR((cum_tok - tok) / 500.0) AS INT) AS bucket
            FROM c
        """,
        "llm_cost_estimate": """
            SELECT source,
                   COUNT(*) AS n_rows,
                   ROUND(SUM(LENGTH(text) / 4.0), 2) AS input_tokens,
                   SUM(LENGTH(text) / 4.0) * 0.15 / 1000.0
                       + COUNT(*) * 100 * 0.60 / 1000.0 AS est_cost_usd
            FROM documents GROUP BY source
        """,
        "similarity_multiquery_rerank": """
            WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
            q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id IN (0, 1, 2)),
            sims AS (
                SELECT q.query_id, e.vec_id,
                       ROUND(LIST_DOT_PRODUCT(e.v, q.qv)
                             / (SQRT(LIST_DOT_PRODUCT(e.v, e.v))
                                * SQRT(LIST_DOT_PRODUCT(q.qv, q.qv))), 4) AS score
                FROM e CROSS JOIN q
                WHERE e.vec_id <> q.query_id
            )
            SELECT query_id, vec_id, score
            FROM (
                SELECT *, ROW_NUMBER() OVER (
                    PARTITION BY query_id ORDER BY score DESC, vec_id ASC
                ) AS rn FROM sims
                WHERE score >= 0.2
            ) WHERE rn <= 5
        """,
        "sessionize": """
            WITH flagged AS (
                SELECT user_id, event_id, ts, value,
                       CASE WHEN EPOCH_US(ts) - LAG(EPOCH_US(ts)) OVER (
                                PARTITION BY user_id ORDER BY ts, event_id
                            ) > CAST(6 AS BIGINT) * 3600 * 1000000 THEN 1 ELSE 0 END AS new_sess
                FROM events
            ),
            numbered AS (
                SELECT *, SUM(new_sess) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                ) AS session_no
                FROM flagged
            )
            SELECT user_id, CAST(session_no AS BIGINT) AS session_no,
                   date_trunc('second', MIN(ts)) AS session_start,
                   date_trunc('second', MAX(ts)) AS session_end,
                   COUNT(*) AS n_events,
                   CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS session_value
            FROM numbered GROUP BY user_id, session_no
        """,
        "sliding_window_counts": """
            SELECT win_start, event_type, COUNT(*) AS cnt
            FROM (
                SELECT UNNEST([CAST(ts AS DATE) - 1, CAST(ts AS DATE)]) AS win_start,
                       event_type
                FROM events
            )
            GROUP BY win_start, event_type
        """,
        "corpus_clean": """
            WITH scored AS (
                SELECT doc_id, text, lang, source,
                       CAST(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                            ELSE LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) END AS INT) AS n_tokens,
                       ROUND(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0.0
                            ELSE CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text), '\\b(the|a|and|of|to|in)\\b')) AS DOUBLE)
                                 / LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) END, 4) AS stopword_ratio
                FROM documents
            ),
            passed AS (
                SELECT * FROM scored
                WHERE lang = 'en' AND n_tokens >= 10 AND stopword_ratio <= 0.8
            ),
            canon AS (SELECT MIN(doc_id) AS doc_id FROM passed GROUP BY text),
            exact_kept AS (
                SELECT p.* FROM passed p JOIN canon c ON p.doc_id = c.doc_id
            ),
            toks AS (
                SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
                FROM exact_kept
                WHERE text IS NOT NULL AND length(trim(text)) > 0
            ),
            idx AS (
                SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
                FROM toks WHERE len(t) >= 3
            ),
            sh AS (
                SELECT DISTINCT doc_id, array_to_string(t[i:i+2], ' ') AS shingle
                FROM idx
            ),
            sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
            inter AS (
                SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
                FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                GROUP BY 1, 2
            ),
            losers AS (
                SELECT DISTINCT doc_b AS doc_id
                FROM inter
                JOIN sizes sa ON sa.doc_id = doc_a
                JOIN sizes sb ON sb.doc_id = doc_b
                WHERE ROUND(CAST(n_common AS DOUBLE)
                            / (sa.n_sh + sb.n_sh - n_common), 4) >= 0.5
            )
            SELECT doc_id, lang, source, n_tokens
            FROM exact_kept
            WHERE doc_id NOT IN (SELECT doc_id FROM losers)
        """,
    }
    # the Bloom prefilter is exactness-preserving by construction (false
    # positives verified away, false negatives impossible), so its oracle
    # IS the exact tier's — shared by reference, not by copy, so the two
    # can never drift
    sql["contamination_bloom"] = sql["benchmark_contamination"]
    sql["neardup_keep_best"] = _neardup_keep_best_sql()
    sql["html_to_text"] = _html_to_text_sql()
    sql["script_profile"] = _script_profile_sql()
    sql["quality_prune_per_source"] = """
        WITH hist AS (
            SELECT source, n_chars, COUNT(*) AS c
            FROM documents GROUP BY 1, 2
        ),
        cum AS (
            SELECT source, n_chars,
                   SUM(c) OVER (PARTITION BY source ORDER BY n_chars ASC
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cumc
            FROM hist
        ),
        tot AS (SELECT source, SUM(c) AS n FROM hist GROUP BY 1),
        thr AS (
            SELECT source, MIN(n_chars) AS cut
            FROM cum JOIN tot USING (source)
            WHERE cumc > 0.4 * n
            GROUP BY source
        )
        SELECT d.doc_id, d.source, d.n_chars
        FROM documents d JOIN thr USING (source)
        WHERE d.n_chars >= cut
    """
    # round-8 URL tier: both oracles compiled from the SAME
    # URL_CANON_STEPS table the engine uses (functions/url.py)
    sql["url_canonicalize"] = _url_canonicalize_sql()
    sql["domain_blocklist_cap"] = _domain_blocklist_cap_sql()
    # round-8 line-wise corrections: oracle compiled from the SAME
    # LINE_FILTER_RULES table (functions/text.py)
    sql["line_filter_clean"] = _line_filter_clean_sql()
    # round-8 DSIR tier: oracles compiled from the SAME analyzer /
    # bigram / md5-bucket constants (operators/selection.py)
    sql["dsir_select_topk"] = _dsir_select_topk_sql()
    sql["dsir_gumbel_sample"] = _dsir_gumbel_sample_sql()
    # round-8 BPE tier: oracle shares the analyzer split + substr
    # symbol rule (operators/bpe.py)
    sql["bpe_pair_counts"] = _bpe_pair_counts_sql()
    return sql

"""Workflow recompositions (SURVEY.md §3) — thin pipelines over the layers.

Each mirrors a reference notebook skeleton with the LLM replaced by a
pluggable backend (deterministic stub in tests):

- thematic_screener: §3.1 ThematicScreener.ipynb cells 18-34
- dual_role_analysis: §3.2 AI_Cost_Cutting_Market_Analysis.ipynb cells 18-41
- narrative_timeseries: Narrative_Miners/src/tool.py:21-88 analytics
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigdata_cookbook_spark.llm.stage import Backend, llm_label_stage
from bigdata_cookbook_spark.operators.analytics import (
    calendar_densify,
    gaussian_smooth,
    pivot_composite,
    topk_per_group,
    zscore_per_series,
)
from bigdata_cookbook_spark.operators.graph import co_mention_pairs
from bigdata_cookbook_spark.operators.normalize import normalize_screening
from bigdata_cookbook_spark.query.algebra import QuerySpec, run_search, unified_chunk_frame


def thematic_screener(
    documents: DataFrame,
    chunks: DataFrame,
    entities: DataFrame,
    theme_labels: Sequence[str],
    backend: Backend,
    specs: list[QuerySpec] | None = None,
    watchlist: Sequence[str] | None = None,
) -> dict[str, DataFrame]:
    """§3.1: (optional search) -> normalize -> label -> per-company and
    per-industry theme score pivot with composite (A9/A14)."""
    if specs:
        hits = run_search(unified_chunk_frame(documents, chunks), specs)
        chunk_ids = hits.select("sentence_id").distinct()
        chunks = chunks.join(chunk_ids, "sentence_id", "left_semi")
    mode = "watchlist" if watchlist else "discovery"
    # §3.3: callers consume the returned dict's four frames as separate
    # actions (the migration example materializes all four), and
    # labeled's lineage holds the backend mapInPandas — the most
    # expensive node of any real deployment (an LLM call per unique key).
    # Lazy localCheckpoints at both fan-out nodes run normalize and the
    # backend stage once.
    screening = normalize_screening(
        documents, chunks, entities, mode=mode, watchlist=watchlist
    ).localCheckpoint(eager=False)
    labeled = llm_label_stage(screening, backend).localCheckpoint(eager=False)
    clean = labeled.filter(~F.col("label").isin("", "unassigned", "unclear", "U"))
    by_company = pivot_composite(
        clean,
        group_by=["entity_name", "entity_sector"],
        pivot_col="label",
        pivot_values=list(theme_labels),
        agg=F.count(F.lit(1)),
    )
    by_industry = pivot_composite(
        clean,
        group_by=["entity_industry"],
        pivot_col="label",
        pivot_values=list(theme_labels),
        agg=F.count(F.lit(1)),
    )
    return {"screening": screening, "labeled": labeled, "by_company": by_company, "by_industry": by_industry}


def dual_role_analysis(
    documents: DataFrame,
    chunks: DataFrame,
    entities: DataFrame,
    backend: Backend,
    top_k_per_sector: int = 5,
) -> dict[str, DataFrame]:
    """§3.2: normalize -> label P/A/N -> split -> top companies per sector
    (W1), weekly net-exposure time series (J9+A12), co-mention network
    (J8)."""
    screening = normalize_screening(documents, chunks, entities, mode="discovery")
    # §3.3: labeled fans out to providers/users/top/weekly/network + the
    # returned frame — six consumers of the backend stage (see the
    # thematic_screener note)
    labeled = llm_label_stage(screening, backend).localCheckpoint(eager=False)
    providers = labeled.filter(F.col("label") == "P")
    users = labeled.filter(F.col("label").isin("A", "N"))

    top_by_sector = topk_per_group(
        providers.groupBy("entity_sector", "entity_name").agg(
            F.countDistinct("sentence_id").alias("n_hits")
        ),
        ["entity_sector"],
        [F.col("n_hits").desc(), F.col("entity_name").asc()],
        k=top_k_per_sector,
    )

    weekly = (
        labeled.filter(F.col("label").isin("P", "A", "N"))
        .groupBy(
            F.date_trunc("week", "timestamp_utc").cast("date").alias("week"),
            "entity_name",
        )
        .agg(
            F.count(F.when(F.col("label") == "P", 1)).alias("pos_cnt"),
            F.count(F.when(F.col("label") != "P", 1)).alias("neg_cnt"),
        )
    )
    dense = calendar_densify(
        weekly,
        date_col="week",
        entity_cols=["entity_name"],
        value_cols={
            "pos_cnt": F.coalesce(F.col("pos_cnt"), F.lit(0)),
            "neg_cnt": F.coalesce(F.col("neg_cnt"), F.lit(0)),
        },
        step="interval 7 day",
    ).withColumn("net_exposure", F.abs(F.col("pos_cnt")) - F.abs(F.col("neg_cnt")))

    network = co_mention_pairs(labeled)
    return {
        "labeled": labeled,
        "providers": providers,
        "users": users,
        "top_by_sector": top_by_sector,
        "weekly_net": dense,
        "network": network,
    }


def narrative_timeseries(
    labeled: DataFrame,
    date_col: str = "timestamp_utc",
    label_col: str = "label",
    sigma: float = 2.0,
) -> DataFrame:
    """Narrative miner analytics: weekly counts per label -> z-score (W6)
    -> Gaussian smoothing (W7)."""
    weekly = labeled.groupBy(
        label_col, F.date_trunc("week", date_col).cast("date").alias("week")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    z = zscore_per_series(weekly, [label_col], "cnt", out_col="zscore")
    return gaussian_smooth(z, [label_col], [F.col("week").asc()], "zscore", sigma=sigma)


def report_generator(
    documents: DataFrame,
    chunks: DataFrame,
    entities: DataFrame,
    backend: Backend,
    summarize_backend=None,
    risk_levels: dict[str, int] | None = None,
) -> dict[str, DataFrame]:
    """§3 Report_Generator skeleton (Report_Generator_AI_Threats/
    src/report_generator.py, Report_Generator_Regulatory_Issues_in_Tech):
    normalize -> label -> drop unassigned (P3) -> per-(entity, label)
    hierarchical summaries (L5) -> risk mapping (A13/L6) -> doc-volume
    score normalized by global mean (A10) -> fallback coalesce of
    filings-vs-news summaries (J10) -> HTML-ready frame (S7 input)."""
    from bigdata_cookbook_spark.llm.summarize import (
        hierarchical_summarize,
        stub_summarizer,
    )

    summarize_backend = summarize_backend or stub_summarizer
    risk_levels = risk_levels or {"P": 3, "A": 2, "N": 1}

    screening = normalize_screening(documents, chunks, entities, mode="discovery")
    # §3.3: labeled fans out to filings/news/volumes + the returned
    # frame (see the thematic_screener note)
    labeled = llm_label_stage(screening, backend).filter(
        ~F.col("label").isin("", "unassigned", "unclear", "U")
    ).localCheckpoint(eager=False)

    # L5 per (entity, label, population) in one summary pass: filings
    # (filings + transcripts) and news are summarized apart, other
    # document types not at all
    population = F.when(
        F.col("document_type").isin("filings", "transcripts"), "filings"
    ).when(F.col("document_type") == "news", "news")
    summaries = hierarchical_summarize(
        labeled.withColumn("population", population).filter(
            F.col("population").isNotNull()
        ),
        keys=["entity_name", "label", "population"],
        text_col="masked_text",
        doc_col="document_id",
        backend=summarize_backend,
    )

    def of(pop: str, col: str) -> F.Column:
        return F.max(F.when(F.col("population") == pop, F.col(col)))

    # J10: filings summary preferred, news fallback
    merged = (
        summaries.groupBy("entity_name", "label")
        .agg(
            of("filings", "summary").alias("filings_summary"),
            of("news", "summary").alias("news_summary"),
            of("news", "n_documents").alias("n_news_docs"),
        )
        .withColumn("summary", F.coalesce("filings_summary", "news_summary"))
        # §3.3: consumed by the report join AND returned — and the
        # lineage holds the summarize backend
        .localCheckpoint(eager=False)
    )

    # A13 risk mapping + A10 score = n_docs / mean(n_docs)
    level = F.lit(0)
    for lab, lv in sorted(risk_levels.items()):
        level = F.when(F.col("label") == lab, lv).otherwise(level)
    volumes = labeled.groupBy("entity_name").agg(
        F.countDistinct("document_id").alias("n_docs")
    )
    scored = volumes.withColumn(
        "score", F.col("n_docs") / F.avg("n_docs").over(Window.partitionBy())
    )

    report = (
        merged.withColumn("risk_level", level)
        .join(F.broadcast(scored), "entity_name", "left")
        .select(
            "entity_name", "label", "risk_level", "summary",
            "n_docs", F.round("score", 4).alias("score"),
        )
    )
    return {"labeled": labeled, "summaries": merged, "report": report}


def board_monitoring(
    documents: DataFrame,
    chunks: DataFrame,
    entities: DataFrame,
    person_variations: Sequence[str],
    strict_company_id: str | None = None,
) -> dict[str, DataFrame]:
    """§3 Board_Management_Monitoring workflow (src/tool.py:573-667):
    person-variation query (Q10) -> doc-id dedup across hits (O4) ->
    doc-level annotated view (S8) -> quarterly doc counts (A15) and
    top sources (A16). Explicit query-id provenance replaces the
    reference's positional result indexing (tool.py:262-274)."""
    from bigdata_cookbook_spark.operators.normalize import doc_level_annotations
    from bigdata_cookbook_spark.query.algebra import PersonVariations

    frame = unified_chunk_frame(documents, chunks)
    pred = PersonVariations(
        *person_variations, strict_company_id=strict_company_id
    )
    hits = frame.filter(pred.to_column())

    # O4: first chunk hit per document wins
    # §3.3: doc_hits fans out to annotated/quarterly/top_sources + the
    # returned frame — four consumers of the variation-query scan
    doc_hits = hits.dropDuplicates(["document_id"]).select(
        "document_id", "timestamp_utc", "source_id", "document_type"
    ).localCheckpoint(eager=False)
    annotated = doc_hits.join(
        doc_level_annotations(chunks, entities), "document_id", "left"
    )
    quarterly = doc_hits.groupBy(
        F.date_trunc("quarter", "timestamp_utc").cast("date").alias("quarter_start")
    ).agg(F.countDistinct("document_id").alias("n_docs"))
    top_sources = (
        doc_hits.groupBy("source_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy(F.col("n_docs").desc(), F.col("source_id").asc())
        .limit(5)
    )
    return {
        "doc_hits": doc_hits,
        "annotated": annotated,
        "quarterly": quarterly,
        "top_sources": top_sources,
    }


def pretraining_pipeline(
    docs: DataFrame,
    eval_df: DataFrame | None = None,
    target_shares: dict[str, float] | None = None,
    lang: str = "en",
    min_tokens: int = 10,
    seed: int = 42,
    n_curriculum_buckets: int = 8,
    with_accounting: bool = True,
    jaccard_df_cap: int | None = None,
    paragraph_dedup_sep: str | None = None,
    span_dedup_tokens: int | None = None,
    repetition_filter: bool = False,
    embeddings_df: DataFrame | None = None,
    semantic_threshold: float = 0.4,
    shard_bytes: int | None = None,
    quality_prune_frac: float | None = None,
    bloom_decontaminate: bool = False,
    near_dup: str = "exact",
    html_input: bool = False,
    line_filter: bool = False,
    url_col: str | None = None,
    domain_blocklist: list[str] | None = None,
    dsir_target: DataFrame | None = None,
    dsir_keep_k: int | None = None,
    dsir_n_buckets: int = 1024,
) -> dict[str, DataFrame]:
    """Capstone composition of the training-data tier — the full corpus
    -> training-set flow, each stage an individually-oracled operator:

        [domain blocklist -> URL dedup ->]
        [HTML -> text ->] [line-wise corrections ->]
        [paragraph dedup ->] [span dedup ->]
        quality filter [+ repetition rules]
        -> exact dedup -> near-dup removal
        [-> decontaminate vs eval_df] [-> per-domain quality prune]
        [-> semantic dedup] [-> domain-mix resample]
        -> deterministic shuffle key + length-curriculum bucket

    Optional stages (all off by default, preserving the oracled
    baseline shape): ``url_col`` names a crawl-record URL column and
    turns on RefinedWeb's first stage, BEFORE any text work — docs
    whose registered domain is in ``domain_blocklist`` drop (booked as
    ``dropped_domain_blocklist``), then canonical-URL exact dedup keeps
    the best capture per URL (dedup.url_dedup_keep_best: longest text,
    tie lowest id; booked as ``dropped_url_dedup``); the URL column is
    consumed by the stage and not carried further.
    From HTML extraction to decontamination the pipeline is one no-state
    call of the corpus-clean spine (corpus.incremental_corpus_clean),
    whose docstring carries each stage's rule: ``line_filter`` runs the
    RefinedWeb line-wise corrections right after HTML extraction
    (booked as ``dropped_line_filter``); ``paragraph_dedup_sep`` (e.g.
    ``"\\n"``) rewrites document text with corpus-wide paragraph dedup
    (the Dolma/CCNet boilerplate-footer pass) before the span and token
    stages, so they never re-discover the same footers window by
    window; ``span_dedup_tokens`` rewrites it next with C4-style
    duplicate-span removal, so later token counts see the deduped
    text; ``repetition_filter`` adds the Gopher n-gram repetition rules
    to the quality stage; ``embeddings_df``
    (id-aligned: its vec_id == doc_id) adds SemDeDup-style semantic
    near-dup removal (dedup.semantic_dedup at ``semantic_threshold``)
    after the text-level stages — text near-dups are cheaper to find
    and decontamination must never be masked by a dedup drop, so the
    embedding pass runs last and only sees survivors;
    ``quality_prune_frac`` keeps only that top fraction of each source
    by n_tokens (corpus.quality_prune — the FineWeb-style
    keep-the-best-X%-per-domain cut), applied after cleaning +
    decontamination and before the semantic stage, booked as
    ``dropped_quality_prune``; ``bloom_decontaminate`` builds the eval
    set's shingle Bloom filter and hands it to the spine — the
    decontamination drop set is bit-identical, only the plan changes
    (map-side Bloom prefilter instead of the full shingle join);
    ``near_dup="lsh"`` swaps the near-dup stage's inverted-index
    self-join for the MinHash-banding + candidate-verify funnel (the
    drop set is a SUBSET of the exact tier's, short only of banding
    recall — corpus_clean's docstring carries the trade);
    ``dsir_target`` (a DataFrame with a ``text`` column) turns on DSIR
    importance resampling (operators/selection.py) as the LAST drop
    stage — after dedup / decontamination / semantic so the selector
    only ranks docs allowed to train at all, before mixing so target
    shares apply to the targeted pool: hashed-gram LMs fit on the target sample vs the
    surviving pool, keep the ``dsir_keep_k`` (required with
    ``dsir_target``) highest-weight docs, booked as ``dropped_dsir``.
    Selection is TakeOrdered over a slim (doc_id, score) projection —
    fine to ~1e6-1e7 k; beyond that the declared alternative is a
    sampled score threshold + filter (same scores, no driver merge).
    The ``dsir_n_buckets``-row model is COLLECTED during pipeline
    construction (bounded by contract — selection.py module notes).

    Returns {clean, mixed, training_set, accounting, stage_seconds}:
    ``stage_seconds`` (None when ``with_accounting=False``) maps each
    accounting stage to the wall seconds its drop count took, plus a
    ``prefix_materialize`` row — the shared prefixes (the temporary
    caches, and ``clean`` itself, whose count also fills the spine's
    lazy checkpoints) are counted once, timed, BEFORE the per-stage
    loop, so each stage's number is its own marginal cost on warmed
    caches and is independent of acc_rows order (a first-counted stage
    would otherwise absorb the one-time prefix cost); the numbers do
    not sum to the end-to-end wall because the prefix row carries the
    shared work;
    ``training_set``
    carries (doc_id, source, n_tokens, shuffle_key, bucket) — write it
    with sampling.deterministic_shuffle's range partitioning and readers
    stream a reproducible permutation. With ``shard_bytes`` set it also
    carries ``shard_id``: byte-targeted output shards
    (sampling.pack_shards) in the training order (shuffle_key, doc_id),
    sized from the text the model actually trains on (the spine's
    ``rewritten`` text) — ``write.partitionBy("shard_id")``
    realizes ~shard_bytes files; ``accounting`` (None when
    ``with_accounting=False``) is one row per pipeline stage with its
    drop count (the audit trail a production data pipeline is judged
    on). Every stage is deterministic: the same corpus + parameters
    yield the same training set on any engine.

    Cost shape: ``clean`` is persist()ed — it feeds the mix (whose quota
    pass counts it), the curriculum, and the accounting, and without the
    persist each of those re-executes the quality/dedup/contamination
    lineage from scratch. The cache is handed to the CALLER: release it
    with ``out["clean"].unpersist()`` once the outputs are written —
    repeated invocations (sweeps, nightly jobs) otherwise accumulate one
    cached corpus copy per call. Curriculum buckets come from the n_tokens
    column clean already carries (length_curriculum_from_counts) — no
    join back to the text, no re-tokenization. Accounting materializes
    one count per stage; pass with_accounting=False to keep the whole
    return lazy: counts are skipped, the only cache is ``clean``'s
    persist, and the spine's lazy localCheckpoints (one per fan-out
    node) store their batch-sized blocks only when the caller's first
    action runs through them. The jobs that run at construction time
    are the Bloom build over ``eval_df`` (``bloom_decontaminate``), a
    count-star over the raw ``embeddings_df`` that sizes the SRP plane
    count (semantic stage), and the DSIR model fit over the surviving
    pool (``dsir_target``).
    """
    from bigdata_cookbook_spark.operators.corpus import (
        incremental_corpus_clean,
        length_curriculum_from_counts,
    )
    from bigdata_cookbook_spark.operators.dedup import build_shingle_bloom
    from bigdata_cookbook_spark.operators.sampling import domain_mix_sample, shuffle_key
    from bigdata_cookbook_spark.sources.testdata import spread_for_cpu_bound

    # bounded-lifetime caches for the accounting pass over the stages
    # outside the spine (URL, semantic, DSIR): every dropped_* count
    # re-executes its stage lineage without them. Released before
    # returning — only ``clean``'s cache is handed to the caller.
    temp_caches = []

    dropped_blocklist = None
    dropped_url = None
    if domain_blocklist and url_col is None:
        raise ValueError("domain_blocklist requires url_col")
    if url_col is not None:
        from bigdata_cookbook_spark.functions.url import (
            canonicalize_url_expr,
            registered_domain_expr,
            url_host_expr,
        )
        from bigdata_cookbook_spark.operators.dedup import url_dedup_keep_best

        # RefinedWeb order: URL-level work precedes every text stage —
        # a blocklisted or duplicate crawl record must never pay HTML
        # extraction, line filtering, or dedup shingling.
        if domain_blocklist:
            dom = registered_domain_expr(
                url_host_expr(canonicalize_url_expr(F.col(url_col)))
            )
            staged = docs.withColumn("__dom", dom)
            if with_accounting:
                staged = staged.persist()
                temp_caches.append(staged)
            blocked = F.col("__dom").isin(list(domain_blocklist))
            dropped_blocklist = staged.filter(blocked).select("doc_id")
            docs = staged.filter(~blocked).drop("__dom")
        pre_url = docs
        if with_accounting:
            # the anti-join below re-executes the (possibly blocklist-
            # filtered) lineage once per count without this
            pre_url = pre_url.persist()
            temp_caches.append(pre_url)
        kept_url = url_dedup_keep_best(pre_url, url_col=url_col)
        dropped_url = pre_url.join(
            kept_url.select("doc_id"), "doc_id", "left_anti"
        ).select("doc_id")
        docs = kept_url.drop("n_url_dups", url_col)

    if html_input:
        from bigdata_cookbook_spark.functions.text import html_to_text_expr

        # raw-crawl corpora arrive as HTML; extract BEFORE every text
        # stage so paragraph/span/quality all see readable text (block
        # closers become newlines — exactly what the paragraph stage
        # keys on). A rewrite, not a drop: nothing to book.
        docs = docs.withColumn("text", html_to_text_expr(F.col("text")))

    # the corpus-clean spine, no state: [line filter ->] [paragraph
    # dedup ->] [span dedup ->] quality -> exact -> near-dup [->
    # decontamination]; its lazy checkpoints keep each accounting count
    # from re-running the stages above it
    stages = incremental_corpus_clean(
        spread_for_cpu_bound(docs),
        eval_df=eval_df,
        lang=lang,
        min_tokens=min_tokens,
        jaccard_df_cap=jaccard_df_cap,
        repetition_filter=repetition_filter,
        near_dup=near_dup,
        eval_bloom=(
            build_shingle_bloom(eval_df)
            if bloom_decontaminate and eval_df is not None
            else None
        ),
        line_filter=line_filter,
        paragraph_sep=paragraph_dedup_sep,
        span_tokens=span_dedup_tokens,
    )
    clean = stages["kept"]
    # (doc_id, text) as the model trains on it: the rewrite stages'
    # output, read by the DSIR pool and the shard sizer
    docs = stages["rewritten"]

    dropped_prune = None
    if quality_prune_frac is not None:
        from bigdata_cookbook_spark.operators.corpus import quality_prune

        # localCheckpoint, NOT persist: the prune joins the cleaned
        # corpus against itself (histogram -> threshold -> join-back +
        # the drop-set anti-join) on top of an already-deep optional-
        # stage lineage (paragraph/span rewrites, bloom prefilter,
        # decontamination). A cache would keep the full logical plan,
        # whose tree STRING alone blows the driver heap at
        # explain/event-log time once every stage is on; checkpointing
        # truncates the plan.
        # eager only under accounting (which runs actions anyway); the
        # lazy path truncates at its single action, keeping the
        # one-action contract below.
        clean = clean.localCheckpoint(eager=with_accounting)
        pruned = quality_prune(
            clean, "n_tokens", "source", keep_frac=quality_prune_frac
        )
        dropped_prune = clean.join(
            pruned.select("doc_id"), "doc_id", "left_anti"
        ).select("doc_id")
        clean = pruned

    dropped_semantic = None
    if embeddings_df is not None:
        from bigdata_cookbook_spark.operators.dedup import semantic_dedup

        if with_accounting:
            # the pre-semantic kept set feeds the semantic join AND its
            # drop count — cache it for the accounting pass
            clean = clean.persist()
            temp_caches.append(clean)

        # only survivors' embeddings compete: a doc must not be dropped
        # for resembling one that an earlier stage already removed
        surv_emb = embeddings_df.join(
            clean.select(F.col("doc_id").alias("vec_id")),
            "vec_id",
            "left_semi",
        )
        if with_accounting:
            # semantic_dedup self-joins its input, so an uncached
            # surv_emb executes the whole upstream cleaning lineage
            # once per join side per action — ruinous across the
            # accounting counts. The lazy with_accounting=False path
            # performs one action total and caches nothing here.
            surv_emb = surv_emb.persist()
            temp_caches.append(surv_emb)
        # plane count sized from the RAW embeddings frame (one cheap
        # count-star on the input, not on surv_emb whose count would
        # execute the whole cleaning lineage): an upper bound on the
        # survivor count, so buckets only come out smaller than the
        # bucket-size target (default_srp_planes_for's 64 rows) — never super-linear
        sem_kept = semantic_dedup(
            surv_emb,
            threshold=semantic_threshold,
            estimated_row_count=embeddings_df.count(),
        )
        # restrict the drop to docs that actually HAD an embedding: a
        # surviving doc absent from embeddings_df never entered the
        # semantic stage (left_semi above), so anti-joining the whole
        # clean set against sem_kept would silently remove it and book
        # the loss as "dropped_semantic" — mislabeled data loss in the
        # audit trail. Docs without embedding coverage pass through.
        covered = clean.join(
            embeddings_df.select(F.col("vec_id").alias("doc_id")).distinct(),
            "doc_id",
            "left_semi",
        )
        dropped_semantic = covered.join(
            sem_kept.select(F.col("vec_id").alias("doc_id")),
            "doc_id",
            "left_anti",
        ).select("doc_id")
        clean = clean.join(dropped_semantic, "doc_id", "left_anti")

    dropped_dsir = None
    if dsir_target is not None:
        if dsir_keep_k is None:
            raise ValueError("dsir_target requires dsir_keep_k")
        from bigdata_cookbook_spark.operators.selection import (
            dsir_logratio_table,
            dsir_scores_projected,
            dsir_topk,
        )

        # score the SURVIVING pool's rewritten text
        pool = docs.join(clean.select("doc_id"), "doc_id", "left_semi")
        if with_accounting:
            # the fit collects two aggregates over pool and the scoring
            # pass reads it again — cache it for the construction-time
            # jobs plus the accounting counts
            pool = pool.persist()
            temp_caches.append(pool)
        lr = dsir_logratio_table(
            dsir_target, pool, text_col="text", n_buckets=dsir_n_buckets
        )
        kept_ids = dsir_topk(
            dsir_scores_projected(pool, lr), dsir_keep_k
        ).select("doc_id")
        if with_accounting:
            kept_ids = kept_ids.persist()
            temp_caches.append(kept_ids)
        dropped_dsir = clean.join(kept_ids, "doc_id", "left_anti").select(
            "doc_id"
        )
        clean = clean.join(kept_ids, "doc_id", "left_semi")

    clean = clean.persist()

    mixed = (
        domain_mix_sample(clean, "source", "doc_id", target_shares)
        if target_shares
        else clean
    )

    curriculum = length_curriculum_from_counts(
        mixed.select("doc_id", "n_tokens"), n_buckets=n_curriculum_buckets
    )
    training_set = (
        mixed.join(curriculum.select("doc_id", "bucket"), "doc_id")
        .withColumn("shuffle_key", shuffle_key(F.col("doc_id"), seed))
        .select("doc_id", "source", "n_tokens", "shuffle_key", "bucket")
    )
    if shard_bytes is not None:
        from bigdata_cookbook_spark.operators.sampling import pack_shards

        # bytes of the text the model trains on (the rewritten text).
        # Slim join — only (doc_id, bytes) enters the prefix-sum
        # shuffles.
        sized = training_set.join(
            docs.select("doc_id", F.octet_length("text").alias("__bytes")),
            "doc_id",
        )
        training_set = pack_shards(
            sized, ["shuffle_key", "doc_id"], "__bytes", shard_bytes
        ).drop("__bytes")

    accounting = None
    if with_accounting:
        spark = docs.sparkSession
        acc_rows = [
            ("dropped_domain_blocklist", dropped_blocklist),
            ("dropped_url_dedup", dropped_url),
            ("dropped_line_filter", stages.get("dropped_line_filter")),
            ("dropped_quality", stages["dropped_quality"]),
            ("dropped_exact", stages["dropped_exact"]),
            ("dropped_neardup", stages["dropped_neardup"]),
            ("dropped_quality_prune", dropped_prune),
            ("dropped_semantic", dropped_semantic),
            ("dropped_dsir", dropped_dsir),
            ("dropped_contaminated", stages.get("dropped_contaminated")),
        ]
        acc_rows = [(name, dfx) for name, dfx in acc_rows if dfx is not None]
        # per-stage wall attribution rides along with the accounting
        # counts: each drop count is the first action over that stage's
        # own lineage, so its wall time is the stage's marginal cost.
        # The shared prefixes (temporary caches, and the spine's lazy
        # checkpoints filled by the clean count) are materialized
        # before the timed loop, in the ``prefix_materialize`` row, so
        # no stage absorbs the one-time prefix cost and re-ordering
        # acc_rows moves no stage's seconds. The numbers do not sum to
        # the end-to-end wall.
        import time as _time

        stage_seconds = {}
        t0 = _time.perf_counter()
        for dfx in temp_caches:
            dfx.count()
        clean.count()
        stage_seconds["prefix_materialize"] = round(_time.perf_counter() - t0, 3)
        acc_counts = []
        for name, dfx in acc_rows:
            t0 = _time.perf_counter()
            acc_counts.append((name, dfx.count()))
            stage_seconds[name] = round(_time.perf_counter() - t0, 3)
        t0 = _time.perf_counter()
        n_mixing = clean.count() - mixed.count() if target_shares else 0
        stage_seconds["dropped_mixing"] = round(_time.perf_counter() - t0, 3)
        accounting = spark.createDataFrame(
            acc_counts + [("dropped_mixing", n_mixing)],
            "stage string, n_dropped long",
        )
    if temp_caches:
        # materialize the caller-facing cache before releasing the
        # temporaries it is built from, so later actions on ``clean``
        # never re-run the span/semantic lineage uncached
        clean.count()
        for df in temp_caches:
            df.unpersist()
    return {
        "clean": clean,
        "mixed": mixed,
        "training_set": training_set,
        "accounting": accounting,
        "stage_seconds": stage_seconds if with_accounting else None,
    }

"""The corpus-clean spine and the training-data stages around it.

    [line filter ->] [DSIR gate ->] [paragraph dedup ->] [span dedup ->]
    quality [+ repetition] -> exact dedup -> near-dup removal
    [-> decontamination] [-> pinned quality prune] [-> semantic dedup]

incremental_corpus_clean is the one body of that spine: it cleans one
batch against optional append-only state (seen text hashes, shingle
index, LSH band buckets, paragraphs, spans, embeddings), and with no
state it is the batch operator. corpus_clean (the registry row),
workflows.pretraining_pipeline and streaming/pipeline.
streaming_corpus_clean all call it. Every stage keeps its drop set, so
a run reports what it removed and why.

Determinism: survivors of an exact-dup group = min doc_id; of a near-dup
pair = the smaller doc_id (greedy on the pair list; pairs are symmetric
and the relation is applied as "drop any doc that is the larger side of
any pair", which over-drops chains slightly but is order-independent —
declared engine semantics, same in the SQL oracle).

Parity (tests/test_streaming_pipeline.py): when documents arrive in
non-decreasing doc_id order — the natural shape for append-only ingest
ids — the union of per-batch kept sets equals the no-state run over the
union of batches, drop accounting included. First-arrival-wins under
ordered ingest is the batch near-dup rule PROVIDED the shingle state
keeps every exact-kept doc, not just survivors: a near-dup loser can
still be the smaller side of a later doc's pair. Out-of-order ingest
degrades to first-ingest-wins (declared semantics of the streaming
form, same as streaming_dedup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_cookbook_spark.functions.text import gopher_repetition, quality_exprs
from bigdata_cookbook_spark.operators.dedup import (
    _jaccard_from_counts,
    bloom_contamination,
    build_shingle_bloom,
    contamination_pairs,
    incremental_lsh_candidates,
    jaccard_verify_on_index,
    ngram_jaccard_pairs,
    semantic_dedup_incremental,
    shingle_index,
)
from bigdata_cookbook_spark.sources.testdata import spread_for_cpu_bound


def corpus_clean(
    docs: DataFrame,
    lang: str = "en",
    min_tokens: int = 10,
    max_stopword_ratio: float = 0.8,
    jaccard_threshold: float = 0.5,
    eval_df: DataFrame | None = None,
    contamination_threshold: float = 0.5,
    contamination_n: int = 8,
    broadcast_eval: bool = True,
    jaccard_df_cap: int | None = None,
    repetition_filter: bool = False,
    bloom_decontaminate: bool = False,
    near_dup: str = "exact",
    lsh_num_hashes: int = 12,
    lsh_band_size: int = 2,
) -> dict[str, DataFrame]:
    """Batch corpus cleaning: incremental_corpus_clean with no state.

    Returns {kept, dropped_quality, dropped_exact, dropped_neardup}
    (+ dropped_contaminated when ``eval_df`` is given); kept is
    (doc_id, lang, source, n_tokens). Every option is the spine's
    (incremental_corpus_clean) except ``bloom_decontaminate=True``,
    which builds the eval set's shingle Bloom filter
    (dedup.build_shingle_bloom at ``contamination_n``) and passes it as
    the spine's ``eval_bloom``: a bit-identical drop set, with the
    corpus side streaming through a map-side probe of a <=2 MiB filter
    instead of entering the full shingle join — the 100 TB default
    when eval_df is benchmark-sized.

    ``near_dup="lsh"`` drops a SUBSET of the exact tier's near-dups
    (banding recall < 1 is the trade; verification guarantees no false
    drops). Measured on the real corpus at sf1 (tools/lsh_recall.py,
    BASELINE.md §K): drop recall 0.980 at jaccard >= 0.5 and 1.0 at
    >= 0.7/0.8 with the defaults; ``lsh_num_hashes=24`` is the recall
    knob (1.0 at every threshold, 2x signature cost).
    """
    # spread the scan for the quality battery (a no-op at cluster scale,
    # where file splits provide the parallelism)
    docs = spread_for_cpu_bound(docs)
    eval_bloom = None
    if bloom_decontaminate and eval_df is not None:
        eval_bloom = build_shingle_bloom(eval_df, n=contamination_n)
    out = incremental_corpus_clean(
        docs,
        eval_df=eval_df,
        lang=lang,
        min_tokens=min_tokens,
        max_stopword_ratio=max_stopword_ratio,
        jaccard_threshold=jaccard_threshold,
        contamination_threshold=contamination_threshold,
        contamination_n=contamination_n,
        broadcast_eval=broadcast_eval,
        jaccard_df_cap=jaccard_df_cap,
        repetition_filter=repetition_filter,
        eval_bloom=eval_bloom,
        near_dup=near_dup,
        lsh_num_hashes=lsh_num_hashes,
        lsh_band_size=lsh_band_size,
    )
    keys = ["kept", "dropped_quality", "dropped_exact", "dropped_neardup"]
    if eval_df is not None:
        keys.append("dropped_contaminated")
    return {k: out[k] for k in keys}


def _cross_batch_neardup(
    batch_idx: DataFrame, state_idx: DataFrame, threshold: float
) -> DataFrame:
    """Batch doc_ids whose Jaccard vs ANY state doc reaches threshold.

    Inverted-index join on the shingle hash (only co-shingled pairs
    materialize), scored like ngram_jaccard_pairs but batch-vs-state
    instead of self-join. With the state laid out bucketed on the
    shingle key the state-side shuffle disappears
    (plans/layout.write_bucketed), and the join cost is proportional to
    the BATCH, not the corpus.

    Scale caveat: the join materializes sum(df_batch x df_state) rows
    per shingle, and on a vocabulary-saturating corpus df_state grows
    with everything ever ingested. At the 100 TB tier run
    ``near_dup="lsh"``, whose band-bucket state bounds per-bucket
    occupancy; this exact-state form is the parity tier.
    """
    a = batch_idx.alias("a")
    s = state_idx.alias("s")
    inter = (
        a.join(s, F.col("a.shingle") == F.col("s.shingle"))
        # replay/re-ingest: a doc never near-dups itself
        .filter(F.col("a.doc_id") != F.col("s.doc_id"))
        .groupBy(
            F.col("a.doc_id").alias("doc_id"),
            F.col("s.doc_id").alias("state_doc"),
            F.col("a.n_sh").alias("n_a"),
            F.col("s.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = inter.select("doc_id", _jaccard_from_counts())
    return jac.filter(F.col("jaccard") >= threshold).select("doc_id")


def incremental_corpus_clean(
    batch_docs: DataFrame,
    seen_hashes: DataFrame | None = None,
    shingle_state: DataFrame | None = None,
    eval_df: DataFrame | None = None,
    lang: str = "en",
    min_tokens: int = 10,
    max_stopword_ratio: float = 0.8,
    jaccard_threshold: float = 0.5,
    contamination_threshold: float = 0.5,
    contamination_n: int = 8,
    ngram_n: int = 3,
    broadcast_eval: bool = True,
    near_dup: str = "exact",
    bucket_state: DataFrame | None = None,
    lsh_num_hashes: int = 12,
    lsh_band_size: int = 2,
    repetition_filter: bool = False,
    paragraph_sep: str | None = None,
    para_state: DataFrame | None = None,
    span_tokens: int | None = None,
    span_state: DataFrame | None = None,
    embeddings_df: DataFrame | None = None,
    srp_state: DataFrame | None = None,
    semantic_threshold: float = 0.4,
    semantic_n_planes: int = 8,
    eval_bloom=None,
    prune_thresholds: DataFrame | None = None,
    line_filter: bool = False,
    dsir_lr: list[int] | None = None,
    dsir_threshold: float = 0.0,
    dsir_normalize: bool = True,
    dsir_salt: str = "",
    jaccard_df_cap: int | None = None,
) -> dict[str, DataFrame]:
    """One batch through the corpus-clean spine: quality -> exact dedup
    -> near-dup removal -> decontamination, against the given state.
    Every state argument None is the batch operator (corpus_clean);
    streaming_corpus_clean reads the state tables and calls this once
    per micro-batch.

    Core stages:

    - quality: ``lang`` match, ``n_tokens >= min_tokens`` and
      ``stopword_ratio <= max_stopword_ratio``; NULL text or lang fails
      the gate. ``repetition_filter=True`` adds the Gopher n-gram
      repetition rules (functions/text.gopher_repetition) and requires
      ``min_tokens >= 10`` (every rule needs a 10-gram; the length
      filter guarantees one). Both land in dropped_quality.
    - exact: within the batch, the min doc_id per full text survives
      (the batch and DuckDB-oracle rule); then texts whose xxhash64 is
      in ``seen_hashes`` drop. The hash keys only that state, so a
      within-batch hash collision can never drop a doc.
    - near-dup, ``near_dup="exact"`` (default, the oracle tier): the
      word-``ngram_n``-gram inverted-index Jaccard self-join over the
      batch (dedup.ngram_jaccard_pairs, larger side of a pair drops)
      plus a join of the batch index against ``shingle_state`` (batch
      side drops — first arrival wins). ``jaccard_df_cap`` caps the
      self-join's shingle document frequency (REQUIRED at corpus
      scale: the exact form is quadratic on vocabulary-saturated
      corpora, BASELINE.md §D); it changes which pairs qualify, so it
      is rejected with ``shingle_state`` (the cross-batch join scores
      uncapped sets) and with ``near_dup="lsh"``.
    - near-dup, ``near_dup="lsh"``: MinHash band buckets generate
      candidates within the batch and against ``bucket_state``
      (dedup.incremental_lsh_candidates at ``lsh_num_hashes`` /
      ``lsh_band_size``), then exact Jaccard verifies only the
      candidates (dedup.jaccard_verify_on_index), so cost is bounded by
      the candidate count, never sum(df^2). The drops are a subset of
      the exact tier's.
    - decontamination (``eval_df``): a survivor whose n-gram
      containment of an eval doc reaches ``contamination_threshold``
      (dedup.contamination_pairs at ``contamination_n``) drops last, so
      dedup never masks a contamination hit. ``eval_bloom`` (a
      dedup.ShingleBloom built over the SAME eval_df and n) routes the
      batch through the map-side Bloom prefilter first: bit-identical
      drops, and a static benchmark set is folded once for a stream's
      lifetime. ``broadcast_eval`` passes through; leave it True only
      for a benchmark-sized eval set.

    Optional stages (all off by default):

    - ``line_filter`` runs the RefinedWeb line-wise corrections first
      (line_filter_split), booked as dropped_line_filter.
    - ``dsir_lr`` is a stateless DSIR gate on the line-cleaned text: the
      model is fit OFFLINE on a reference snapshot (a stream cannot see
      the full raw distribution) and passed as
      selection.collect_logratio's list; docs whose importance weight
      (per gram when ``dsir_normalize``) falls below ``dsir_threshold``
      drop, booked as dropped_dsir_gate. ``dsir_salt`` must equal the
      salt of the fit: a mismatch scores differently-bucketed grams.
    - ``paragraph_sep`` (e.g. ``"\\n"``) runs corpus-wide paragraph
      dedup against ``para_state`` (paragraph_dedup_incremental), then
      ``span_tokens`` runs C4-style duplicate-span removal against
      ``span_state`` (span_dedup_incremental). Both rewrite the text
      before quality scoring, so token counts see the deduped text; a
      doc whose text empties out drops at the quality stage.
    - ``prune_thresholds`` applies a PINNED per-source n_tokens cut
      (quality_prune_thresholds over a corpus snapshot; per-batch
      quantiles would drift with batch composition) after
      decontamination, booked as dropped_quality_prune.
    - ``embeddings_df`` (vec_id == doc_id) runs SemDeDup-style semantic
      dedup last over the survivors (dedup.semantic_dedup_incremental
      against ``srp_state``); docs without an embedding pass through.
      ``semantic_n_planes`` is pinned for the state's lifetime.

    Returns::

        {"kept":            survivors (doc_id, lang, source, n_tokens),
         "dropped_<stage>": (doc_id) per stage that ran — quality,
                            exact, neardup, and when on line_filter,
                            dsir_gate, contaminated, quality_prune,
                            semantic,
         "rewritten":       (doc_id, text) after the rewrite stages, for
                            every doc that reached quality scoring,
         "new_hashes", "new_shingles" [, "new_buckets", "new_paras",
         "new_spans", "new_embeddings"]: DELTAS to append to each state}

    The deltas are pure appends: novel hashes only, the shingle index
    of EVERY exact-kept doc (near-dup losers stay valid pair sources for
    later batches — the parity condition), the batch's band rows.
    Nothing re-reads or re-aggregates the accumulated state; a replay of
    the same batch yields empty kept and empty hash deltas. Append-only
    bucket deltas assume ingest-once doc ids; for re-ingest with changed
    text use incremental_lsh_candidates directly (latest-ingest-wins).
    """
    if near_dup not in ("exact", "lsh"):
        raise ValueError(f"near_dup must be 'exact' or 'lsh', got {near_dup!r}")
    if jaccard_df_cap is not None and (
        near_dup == "lsh" or shingle_state is not None
    ):
        # the cap changes WHICH pairs qualify, so silently ignoring it
        # would break the drops-are-what-you-ran contract
        raise ValueError(
            "jaccard_df_cap applies to the exact tier's within-batch "
            "self-join only: the lsh tier's candidate verify is already "
            "bounded, and the cross-batch join scores uncapped shingle "
            "sets. Drop the cap, or use near_dup='exact' with no "
            "shingle_state."
        )
    if repetition_filter and min_tokens < 10:
        raise ValueError(
            "repetition_filter requires min_tokens >= 10 (every "
            "repetition rule needs a 10-gram, and the length filter "
            "is what guarantees one)"
        )

    # Lazy localCheckpoint at every fan-out node: the returned frames
    # are read by separate actions (a streaming sink writes each one,
    # the pretraining accounting counts each one), so a frame with two
    # or more consumers would otherwise re-run the whole chain above it
    # once per action. Each checkpoint is batch-sized
    # (MEMORY_AND_DISK), changes no rows, and is freed with the
    # DataFrames. The shingle index is the one exception (below).
    out: dict[str, DataFrame] = {}
    if line_filter:
        batch_docs, out["dropped_line_filter"] = line_filter_split(batch_docs)

    if dsir_lr is not None:
        from bigdata_cookbook_spark.operators.selection import (
            dsir_score_expr,
            gram_array_expr,
        )

        score = dsir_score_expr(F.col("text"), dsir_lr, salt=dsir_salt)
        if dsir_normalize:
            n = F.size(gram_array_expr(F.col("text")))
            score = F.when(n > 0, score / n).otherwise(F.lit(0.0))
        staged = batch_docs.withColumn(
            "__dsir", F.coalesce(score >= dsir_threshold, F.lit(False))
        ).localCheckpoint(eager=False)
        out["dropped_dsir_gate"] = staged.filter(~F.col("__dsir")).select("doc_id")
        batch_docs = staged.filter(F.col("__dsir")).drop("__dsir")

    if paragraph_sep is not None:
        pr = paragraph_dedup_incremental(batch_docs, para_state, sep=paragraph_sep)
        batch_docs = join_rewritten_text(batch_docs, pr["rewritten"]).localCheckpoint(
            eager=False
        )
        out["new_paras"] = pr["new_paras"]

    if span_tokens is not None:
        sp = span_dedup_incremental(batch_docs, span_state, span_tokens=span_tokens)
        batch_docs = join_rewritten_text(batch_docs, sp["rewritten"])
        out["new_spans"] = sp["new_spans"]

    feats = quality_exprs(F.col("text"))
    scored = batch_docs.select(
        "doc_id",
        "text",
        "lang",
        "source",
        feats["n_tokens"].alias("n_tokens"),
        feats["stopword_ratio"].alias("stopword_ratio"),
    ).localCheckpoint(eager=False)
    out["rewritten"] = scored.select("doc_id", "text")
    quality_ok = F.coalesce(
        (F.col("lang") == lang)
        & (F.col("n_tokens") >= min_tokens)
        & (F.col("stopword_ratio") <= max_stopword_ratio),
        F.lit(False),
    )
    passed = scored.filter(quality_ok)
    dropped_quality = scored.filter(~quality_ok).select("doc_id")

    if repetition_filter:
        verdict = gopher_repetition(passed.select("doc_id", "text"))
        rep_staged = passed.join(
            verdict.select("doc_id", F.col("keep").alias("__rep")), "doc_id"
        ).localCheckpoint(eager=False)
        dropped_quality = dropped_quality.unionByName(
            rep_staged.filter(~F.col("__rep")).select("doc_id")
        )
        passed = rep_staged.filter(F.col("__rep")).drop("__rep")
    out["dropped_quality"] = dropped_quality

    canon = passed.groupBy("text").agg(F.min("doc_id").alias("doc_id")).select(
        "doc_id", F.xxhash64("text").alias("text_hash")
    )
    if seen_hashes is not None:
        canon = canon.join(seen_hashes, "text_hash", "left_anti")
    # text_hash is NULL exactly on the exact-dup losers
    flagged = passed.join(canon, "doc_id", "left").localCheckpoint(eager=False)
    exact_kept = flagged.filter(F.col("text_hash").isNotNull())
    out["dropped_exact"] = flagged.filter(F.col("text_hash").isNull()).select(
        "doc_id"
    )
    out["new_hashes"] = exact_kept.select("text_hash")

    # the shingle index is the largest frame (~|tokens| rows per doc)
    # and a shuffle-free explode off the checkpointed exact_kept, so it
    # is recomputed per consumer rather than stored
    batch_idx = shingle_index(exact_kept, n=ngram_n)
    out["new_shingles"] = batch_idx
    if near_dup == "lsh":
        lsh = incremental_lsh_candidates(
            exact_kept.select("doc_id", "text"),
            seen_buckets=bucket_state,
            n=ngram_n,
            num_hashes=lsh_num_hashes,
            band_size=lsh_band_size,
        )
        # candidates are least-id-first, so under ingest-once ordered
        # ids doc_b is the batch side of a cross pair and the larger id
        # within the batch — the loser either way; state docs only ever
        # appear as the kept partner
        cand = lsh["candidates"].join(
            exact_kept.select(F.col("doc_id").alias("doc_b")), "doc_b", "left_semi"
        )
        idx = batch_idx
        if shingle_state is not None:
            idx = idx.unionByName(shingle_state)
        losers = jaccard_verify_on_index(cand, idx, jaccard_threshold).select(
            F.col("doc_b").alias("doc_id")
        )
        out["new_buckets"] = (
            lsh["buckets"]
            if bucket_state is None
            else lsh["buckets"].join(bucket_state, ["doc_id"], "left_anti")
        )
    else:
        losers = ngram_jaccard_pairs(
            exact_kept, n=ngram_n, threshold=jaccard_threshold, df_cap=jaccard_df_cap
        ).select(F.col("doc_b").alias("doc_id"))
        if shingle_state is not None:
            losers = losers.unionByName(
                _cross_batch_neardup(batch_idx, shingle_state, jaccard_threshold)
            )
    near_losers = losers.distinct().localCheckpoint(eager=False)
    out["dropped_neardup"] = near_losers
    kept = exact_kept.join(near_losers, "doc_id", "left_anti").localCheckpoint(
        eager=False
    )

    if eval_df is not None:
        contam_kw = dict(
            n=contamination_n,
            threshold=contamination_threshold,
            # decontamination must flag the training COPY of an eval doc
            # too — never exempt a pair on id equality here
            exclude_self=False,
            broadcast_eval=broadcast_eval,
        )
        if eval_bloom is not None:
            raw = bloom_contamination(kept, eval_df, bloom=eval_bloom, **contam_kw)
        else:
            raw = contamination_pairs(kept, eval_df, **contam_kw)
        contaminated = (
            raw.select(F.col("train_id").alias("doc_id"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        kept = kept.join(contaminated, "doc_id", "left_anti")
        out["dropped_contaminated"] = contaminated
    if prune_thresholds is not None:
        pruned = quality_prune(
            kept, "n_tokens", "source", thresholds=prune_thresholds
        ).localCheckpoint(eager=False)
        out["dropped_quality_prune"] = kept.join(
            pruned.select("doc_id"), "doc_id", "left_anti"
        ).select("doc_id")
        kept = pruned
    if embeddings_df is not None:
        # only survivors with embedding coverage compete; uncovered docs
        # pass through
        surv_emb = embeddings_df.join(
            kept.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
        ).localCheckpoint(eager=False)
        sem = semantic_dedup_incremental(
            surv_emb, srp_state, threshold=semantic_threshold, n_planes=semantic_n_planes
        )
        dropped_semantic = (
            sem["dropped"]
            .select(F.col("vec_id").alias("doc_id"))
            .localCheckpoint(eager=False)
        )
        kept = kept.join(dropped_semantic, "doc_id", "left_anti")
        out["dropped_semantic"] = dropped_semantic
        out["new_embeddings"] = sem["new_state"]
    out["kept"] = kept.select("doc_id", "lang", "source", "n_tokens")
    return out


def token_window_chunks(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 32,
    stride: int = 16,
) -> DataFrame:
    """Sliding token-window chunker — the segmentation stage that turns
    raw documents into model-sized chunks (RAG indexing / pretraining
    sequence packing), the producer side of the chunk tables the
    screening tier consumes.

    Output: (id_col, chunk_idx, chunk_text, n_tokens); windows of
    ``window`` tokens starting every ``stride`` tokens, last window
    truncated, empty/blank docs -> one empty chunk (chunk_idx 0,
    n_tokens 0). Plan: tokenize once into a bound array column, explode
    a sequence of window starts, slice per window — per-doc cost is
    O(tokens x window/stride), linear in corpus size, no shuffle; the
    slice-per-WINDOW is fine precisely because windows are O(len/stride)
    — contrast shingles_from_tokens, where a slice per TOKEN would be
    quadratic.
    """
    if window < 1 or stride < 1:
        raise ValueError("window and stride must be >= 1")
    from bigdata_cookbook_spark.functions.text import tokens_expr

    toksed = docs.select(
        id_col, F.coalesce(tokens_expr(F.col(text_col)), F.array()).alias("__toks")
    )
    n = F.size("__toks")
    n_chunks = F.greatest(
        F.lit(1), F.ceil((n - F.lit(window)) / F.lit(stride)).cast("int") + 1
    )
    fanned = toksed.select(
        id_col,
        "__toks",
        F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
    )
    chunk_toks = F.slice("__toks", F.col("chunk_idx") * stride + 1, window)
    # a blank doc tokenizes to [''] — surface it as an empty chunk
    return fanned.select(
        id_col,
        "chunk_idx",
        F.concat_ws(" ", chunk_toks).alias("chunk_text"),
        F.size(F.filter(chunk_toks, lambda t: F.length(t) > 0)).alias("n_tokens"),
    )


def length_curriculum(
    docs: DataFrame,
    n_buckets: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Length-curriculum bucketing: equal-population token-count tiles
    (bucket 1 = shortest docs ... n = longest) — the sequence-length
    curriculum / length-grouped batching step of a training pipeline.

    Exact ntile over (n_tokens, id) — the id tiebreak makes bucket
    boundaries deterministic, so the assignment is engine-portable (the
    DuckDB oracle reproduces it bit-for-bit with NTILE). Realized
    WITHOUT the single-reducer ntile window: sampling.global_rank gives
    the distributed total-order rank (range partition + local sort),
    and the SQL NTILE assignment is a closed-form expression of (rank,
    total count, n_buckets) — bit-identical buckets, fact table moves
    through one range exchange.
    """
    from bigdata_cookbook_spark.functions.text import token_count_expr

    toksed = docs.select(
        id_col,
        # the ONE token-count rule (functions/text.py) — its DuckDB CASE
        # twin is what the length_curriculum oracle uses; null text -> 0
        F.coalesce(token_count_expr(F.col(text_col)), F.lit(0)).alias("n_tokens"),
    )
    return length_curriculum_from_counts(toksed, n_buckets, "n_tokens", id_col)


def length_curriculum_from_counts(
    df: DataFrame,
    n_buckets: int = 8,
    count_col: str = "n_tokens",
    id_col: str = "doc_id",
) -> DataFrame:
    """Curriculum bucketing when the token counts ALREADY exist as a
    column (e.g. corpus_clean's kept frame carries n_tokens) — same
    ntile-with-tiebreak rule, no re-tokenization and no join back to the
    text. pretraining_pipeline uses this form.

    SQL NTILE(n) over N rows puts q+1 rows in each of the first
    ``rem = N mod n`` buckets and q = N div n in the rest; given the
    total-order rank r that is
        r <= rem*(q+1)  ->  (r-1) div (q+1) + 1
        else            ->  rem + (r-1-rem*(q+1)) div q + 1
    — evaluated as a column expression over global_rank's (rank, total),
    so no partitionless window ever touches the fact table. Parity with
    F.ntile is pinned by tests/test_sampling.py."""
    from bigdata_cookbook_spark.operators.sampling import global_rank

    ranked = global_rank(
        df, [count_col, id_col], rank_col="__r", total_col="__N"
    )
    r, big_n = F.col("__r"), F.col("__N")
    n = F.lit(n_buckets)
    q = (big_n / n).cast("long")
    rem = big_n % n
    bucket = F.when(
        r <= rem * (q + 1), ((r - 1) / (q + 1)).cast("long") + 1
    ).otherwise(rem + ((r - 1 - rem * (q + 1)) / q).cast("long") + 1)
    return ranked.select(*df.columns, bucket.cast("int").alias("bucket"))


def char_bigram_perplexity(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Corpus-trained character-bigram LM perplexity per document — the
    CCNet-style statistical quality filter: gibberish/boilerplate scores
    high perplexity against the corpus's own character statistics, no
    external model needed.

    Model: add-one-smoothed unigram-of-bigrams, p(b) = (c_b + 1) /
    (N + V); doc score = exp(-mean(ln p(b_i))). Two aggregation passes:
    (1) global bigram counts — the shuffle moves only per-partition
    partial maps (vocab is bounded: |charset|^2, a few K rows), then the
    count table and the (N, V) scalars BROADCAST; (2) per-doc mean of
    log-probs — partial aggregation collapses each doc inside its scan
    partition before the doc_id shuffle. No UDFs, no driver collect;
    both passes scale linearly at 100 TB.

    The batch self-scoring composition explodes the corpus ONCE into a
    per-doc bigram histogram (doc_id, b, k) and materializes that
    narrow table (lazy localCheckpoint); the count table, the totals
    AND the per-doc score all derive from it, so there is no second
    scan or explode, and log/division run once per DISTINCT bigram on
    the vocab-sized broadcast side instead of once per exploded row.
    The per-doc mean of log-probs is reassociated from sum(lp_i)/n to
    sum(k*lp)/sum(k) — identical reals, float reassociation only, at
    the same ulp scale as the engine-vs-oracle difference the ROUND(4)
    contract already absorbs (DuckDB's AVG order is not pinned either).
    The stream-static path (train_char_bigram_lm +
    score_char_bigram_perplexity on a readStream) is untouched — this
    rewrite is the batch composition only, where both passes see the
    same corpus by construction, so every bigram is in cnt and the
    LEFT-join unseen-bigram rule is vacuous.
    """
    bg = _char_bigrams(docs, text_col, id_col)
    hist = bg.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("k"))
    if not hist.isStreaming:
        hist = hist.localCheckpoint(eager=False)
    cnt = hist.groupBy("b").agg(F.sum("k").alias("c"))
    tot = cnt.agg(F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("v_size"))
    lp_tbl = cnt.crossJoin(tot).select(
        "b",
        F.log(
            (F.col("c") + F.lit(1.0)) / (F.col("n_total") + F.col("v_size"))
        ).alias("lp"),
    )
    scored = hist.join(F.broadcast(lp_tbl), "b")
    return scored.groupBy("doc_id").agg(
        F.sum("k").alias("n_bigrams"),
        F.round(
            F.exp(-(F.sum(F.col("k") * F.col("lp")) / F.sum("k"))), 4
        ).alias("perplexity"),
    )


def _char_bigrams(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    repartition: bool = True,
) -> DataFrame:
    """(doc_id, b) exploded char-bigram rows; null/blank/1-char docs drop.
    Stateless projection — runs unchanged under Structured Streaming.

    Two scale lessons from the sf1 rehearsal (round 4, both measured on
    15M corpus chars):

    - extraction is split-into-chars + slice/zip_with/concat, NOT
      per-index ``substr(i, 2)``: substr on a UTF8 string scans from the
      start to find the char offset, so the transform-over-sequence
      formulation is O(len^2) per document — 16.1s for the sf1 bigram
      count vs 6.3s for this O(len) form, identical output (the lower()
      happens before splitting, so multi-char case mappings can't split
      a bigram differently).
    - ``repartition`` (doc_shingles' rule): the driver tables are
      single parquet files, so without it the whole corpus explodes in
      1-2 scan tasks regardless of cores — 8.6s -> 1.3s at sf1. The
      shuffle moves compact docs, never the 2x-larger bigram rows.
      Disabled automatically for streaming input (micro-batches are
      already small and a shuffle would break the stream-static join
      locality), and by hand for tiny already-broadcast sides.
    """
    t = F.lower(F.trim(F.col(text_col)))
    if repartition and not docs.isStreaming:
        par = docs.sparkSession.sparkContext.defaultParallelism
        docs = docs.repartition(par, id_col)
    base = docs.filter(
        F.col(text_col).isNotNull() & (F.length(F.trim(F.col(text_col))) >= 2)
    ).select(F.col(id_col).alias("doc_id"), t.alias("__t"))
    chars = F.split("__t", "")
    n = F.length("__t")
    return base.select(
        "doc_id",
        F.explode(
            F.zip_with(
                F.slice(chars, 1, n - 1),
                F.slice(chars, 2, n - 1),
                lambda x, y: F.concat(x, y),
            )
        ).alias("b"),
    )


def train_char_bigram_lm(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """Train pass: (count table (b, c), totals (n_total, v_size)).
    Both outputs are vocab-sized — persist them once (parquet/
    plans/checkpoint.py) and reuse across scoring runs; this is the
    static side of the streaming score path."""
    cnt = _char_bigrams(docs, text_col, id_col).groupBy("b").agg(
        F.count(F.lit(1)).alias("c")
    )
    tot = cnt.agg(F.sum("c").alias("n_total"), F.count(F.lit(1)).alias("v_size"))
    return cnt, tot


def score_char_bigram_perplexity(
    bigrams: DataFrame, cnt: DataFrame, tot: DataFrame
) -> DataFrame:
    """Score pass over (doc_id, b) rows against a trained model: a
    stream-static broadcast join when ``bigrams`` comes from readStream —
    continuous quality scoring at ingest with corpus statistics trained
    in batch."""
    scored = (
        # LEFT join: a doc scored against a model trained elsewhere can
        # contain unseen bigrams — they take the smoothed zero count
        # (c=0 -> p = 1/(N+V)) instead of silently dropping. For batch
        # self-scoring every bigram is in cnt, so this is join-identical.
        bigrams.join(F.broadcast(cnt), "b", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "doc_id",
            F.log(
                (F.coalesce(F.col("c"), F.lit(0)) + F.lit(1.0))
                / (F.col("n_total") + F.col("v_size"))
            ).alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(F.exp(-F.avg("lp")), 4).alias("perplexity"),
    )


def nfc_normalize_stage(
    docs: DataFrame,
    text_col: str = "text",
    form: str = "NFC",
) -> DataFrame:
    """Unicode canonical normalization as an Arrow-batched mapInPandas
    stage — the one text-cleanup rule clean_text_expr cannot express
    JVM-side (Spark's expression library has no ICU): é as U+00E9 and
    as U+0065+U+0301 must become one byte sequence before hashing/
    dedup/tokenization, or visually-identical docs escape every
    hash-based tier.

    Python is acceptable here by the engine's UDF-quarantine rule
    because the work is per-row C-implemented (stdlib unicodedata over
    Arrow batches, no per-row Python objects beyond the string), and
    normalization runs ONCE at ingest — not in the per-query hot path.
    Schema and partitioning are preserved.
    """
    if form not in ("NFC", "NFD", "NFKC", "NFKD"):
        raise ValueError("form must be NFC|NFD|NFKC|NFKD")
    if text_col not in docs.columns:
        raise ValueError(f"column {text_col!r} not in frame: {docs.columns}")
    schema = docs.schema

    def run(batches):
        for pdf in batches:
            if not pdf.empty:
                # pandas' cython str dispatch (nulls propagate natively) —
                # not a per-row Python lambda
                pdf[text_col] = pdf[text_col].str.normalize(form)
            yield pdf

    return docs.mapInPandas(run, schema=schema)


def compression_ratio(
    docs: DataFrame,
    text_col: str = "text",
    out_col: str = "compression_ratio",
    level: int = 6,
) -> DataFrame:
    """zlib-compressibility quality signal (the compression-ratio rule
    of web-corpus cleaning recipes, e.g. Dolma / RedPajama heuristics):
    ``out_col`` = deflate(text) bytes / raw utf-8 bytes. Boilerplate and
    template spam compress far below prose (~0.2-0.4); prose sits
    ~0.4-0.7; random noise approaches 1.0+. NULL for null/empty text.

    No JVM expression computes DEFLATE, so this is a declared
    Arrow-batched tier (mapInPandas) like NFC normalization — the hot
    loop is C-side zlib.compress per text, not Python string work; at
    100 TB this is a linear scan whose cost is the compressor itself,
    the same shape any engine pays for this signal. Correctness: exact
    values are pinned by a property test against zlib directly; the
    driver oracle (no deflate in DuckDB) hash-matches the strongest
    achievable derived set — raw utf-8 byte length plus an engine-side
    zlib-bound assertion the SQL twin pins to TRUE
    (__spark_entry__.q_compression_ratio).
    """
    import zlib

    from pyspark.sql.types import DoubleType, StructField, StructType

    # a FRESH StructType: StructType.add mutates in place, and
    # docs.schema is the DataFrame's cached schema object — mutating it
    # desyncs df.columns from the JVM plan
    schema = StructType(
        list(docs.schema.fields) + [StructField(out_col, DoubleType(), True)]
    )

    def run(batches):
        for pdf in batches:
            vals = []
            for t in pdf[text_col]:
                if t is None or t == "":
                    vals.append(None)
                    continue
                raw = t.encode("utf-8")
                vals.append(len(zlib.compress(raw, level)) / len(raw))
            pdf[out_col] = vals
            yield pdf

    return docs.mapInPandas(run, schema=schema)


def span_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 5,
) -> DataFrame:
    """C4-style duplicate-span removal (Raffel et al. 2020 §2.2: "we
    removed all but one of any three-sentence span occurring more than
    once"), at token-window granularity: split each document into
    non-overlapping ``span_tokens``-token spans, keep exactly ONE
    occurrence of every distinct span corpus-wide (the lexicographically
    smallest (doc, position)), and reassemble documents from their
    surviving spans.

    Token windows instead of sentence triples because the declared
    corpus contract is one unpunctuated text blob per row; the span
    boundary rule is pinned (non-overlapping, aligned to the document
    start) so both engines segment identically.

    Returns (id, text_deduped, n_spans_kept, n_spans_total) — one row
    per non-blank input document, empty string if every span was
    removed (the drop-accounting columns are what a pipeline audits).

    This is span_dedup_incremental with no state: an incremental run
    against an empty state is the batch operator.
    """
    return span_dedup_incremental(df, None, text_col, id_col, span_tokens)[
        "rewritten"
    ]


def span_dedup_incremental(
    batch_docs: DataFrame,
    span_state: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_tokens: int = 5,
) -> dict[str, DataFrame]:
    """Span dedup of ``batch_docs`` against an append-only state of
    every span ever kept — the one implementation behind span_dedup
    (``span_state=None``) and the streaming span stage.

    ``span_state`` is (span_hash, span) — hash for the join key, span
    text for collision-proof identity. Every batch occurrence of a
    state-seen span is removed; novel spans keep their first in-batch
    occurrence (lexicographically smallest (id, idx)). Under
    non-decreasing doc_id ingest the union of per-batch rewrites equals
    span_dedup over the union of batches (parity-tested).

    Returns::

        {"rewritten": (id, text_deduped, n_spans_kept, n_spans_total)
                      — one row per non-blank batch doc,
         "new_spans": (span_hash, span) DELTA to append to the state —
                      the batch's novel keeper spans only}

    Scale shape: posexplode spans (linear in the input — spans are
    NON-overlapping, so the exploded table is ~the corpus size, unlike
    a shingle explode at ~n x corpus), one shuffle to group identical
    spans on their 64-bit hash, one shuffle to reassemble per doc.
    Both keys are high-cardinality and unskewed (span hashes); this is
    the canonical distributed exact-substring-dedup plan. slice() here
    is fine — spans don't overlap, total copied work stays linear
    (contrast shingles_from_tokens, where per-position slice would be
    quadratic). The keeper is a map-side-combined groupBy + join, NOT a
    window over the span key, so boilerplate span skew is absorbed
    before the exchange. The state anti-join is keyed on the span hash
    and proportional to the batch; lay the state out bucketed on
    span_hash (plans/layout.write_bucketed) and the state-side shuffle
    disappears.
    """
    from bigdata_cookbook_spark.functions.text import (
        token_count_expr,
        tokens_expr,
    )

    # blank/whitespace docs emit NO rows: token_count_expr maps them to
    # 0, where split() alone would yield [""] and a vacuous
    # one-empty-span row
    base = batch_docs.where(token_count_expr(F.col(text_col)) >= 1).select(
        F.col(id_col), tokens_expr(F.col(text_col)).alias("__toks")
    )
    n_spans = F.ceil(F.size("__toks") / F.lit(span_tokens)).cast("int")
    # the exploded span table feeds the keeper groupBy, the join's left
    # side and the totals — materialize it once (lazy localCheckpoint,
    # ~input-sized). posexplode enumerates idx = 0..n_spans-1, so
    # n_spans_total == max(idx) + 1 exactly, with no second tokenize
    spans = base.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), n_spans - 1),
                lambda i: F.concat_ws(
                    " ",
                    F.slice(F.col("__toks"), i * span_tokens + 1, span_tokens),
                ),
            )
        ).alias("idx", "span"),
    ).localCheckpoint(eager=False)
    totals = spans.groupBy(id_col).agg(
        (F.max("idx") + 1).cast("int").alias("n_spans_total")
    )
    # one row per distinct span: its first occurrence. min over a
    # struct orders lexicographically by (id, idx) — the pinned keeper.
    # The group key and join condition carry the span TEXT alongside its
    # xxhash64: hash-only identity silently merges 64-bit collisions
    # (expected at 100-TB span counts — ~50% birthday odds at 5e9
    # spans), deleting one colliding span's text corpus-wide. Span
    # equality costs nothing at the shuffle (the hash still dominates
    # partitioning) and makes span identity exact.
    keeper = spans.groupBy(
        F.xxhash64("span").alias("__k"), F.col("span").alias("__s")
    ).agg(
        F.min(
            F.struct(F.col(id_col).alias("i"), F.col("idx").alias("p"))
        ).alias("__first")
    )
    if span_state is not None:
        st = span_state.select(
            F.col("span_hash").alias("__k"), F.col("span").alias("__s")
        )
        keeper = keeper.join(st, ["__k", "__s"], "left_anti")
    # keeper feeds both the surviving-span join and the new_spans
    # delta, which the streaming sink reads as a separate action
    keeper = keeper.localCheckpoint(eager=False)
    kept = (
        spans.join(
            keeper,
            (F.xxhash64(F.col("span")) == F.col("__k"))
            & (F.col("span") == F.col("__s")),
        )
        .where(
            (F.col(id_col) == F.col("__first.i"))
            & (F.col("idx") == F.col("__first.p"))
        )
        .select(id_col, "idx", "span")
    )
    # reassembly order pinned by idx inside one collect_list aggregate
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "span"))),
                lambda s: s["span"],
            ),
            " ",
        ).alias("text_deduped"),
        F.count("*").cast("int").alias("n_spans_kept"),
    )
    rewritten = totals.join(reassembled, id_col, "left").select(
        id_col,
        F.coalesce("text_deduped", F.lit("")).alias("text_deduped"),
        F.coalesce("n_spans_kept", F.lit(0)).alias("n_spans_kept"),
        "n_spans_total",
    )
    new_spans = keeper.select(
        F.col("__k").alias("span_hash"), F.col("__s").alias("span")
    )
    return {"rewritten": rewritten, "new_spans": new_spans}


def paragraph_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_chars: int = 1,
) -> DataFrame:
    """Corpus-wide paragraph-level exact dedup (the Dolma / CCNet
    paragraph-hash pass; reference has no corpus-wide text dedup at all
    — its notebooks dedup rows by id only, e.g.
    Thematic_Screener/src/utils.py drop_duplicates — so this is part of
    the declared training-data extension tier): split each document
    into paragraphs on ``sep``, keep only the FIRST corpus-wide
    occurrence of every distinct paragraph (first = lexicographically
    smallest (id, position)), and reassemble each document from its
    surviving paragraphs in original order.

    Paragraphs shorter than ``min_chars`` are NOT dedup candidates —
    they are always kept (empty lines and one-character separators are
    formatting, not boilerplate; collapsing every blank line in the
    corpus to one would destroy document structure). Eligibility is a
    function of the paragraph text alone, so a keeper group is never
    split across eligible/ineligible rows.

    Returns one row per input document (NULL text reads as ''):
    (id, text_deduped, n_paras_total, n_paras_kept) — empty string if
    every paragraph was removed; the count columns are the audit trail.

    This is paragraph_dedup_incremental with no state: an incremental
    run against an empty state is the batch operator.
    """
    return paragraph_dedup_incremental(
        df, None, text_col, id_col, sep, min_chars
    )["rewritten"]


def paragraph_dedup_incremental(
    batch_docs: DataFrame,
    para_state: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n",
    min_chars: int = 1,
) -> dict[str, DataFrame]:
    """Paragraph dedup of ``batch_docs`` against an append-only state of
    every paragraph ever kept — the one implementation behind
    paragraph_dedup (``para_state=None``) and the streaming paragraph
    stage.

    ``para_state`` is (para_hash, para) — hash for the join key, text
    for collision-proof identity (the span-dedup rule). Every batch
    occurrence of a state-seen paragraph is removed; novel paragraphs
    keep their first in-batch occurrence. Sub-``min_chars`` paragraphs
    are formatting: always kept, never entered into the state. Under
    non-decreasing doc_id ingest the union of per-batch rewrites equals
    paragraph_dedup over the union of batches (parity-tested).

    Join rule: the state anti-join removes keeper rows (a state-seen
    paragraph has no surviving keeper), so a null keeper match cannot
    mean "ineligible, keep" — eligible rows go through an INNER join to
    the surviving keepers and ineligible rows are unioned back
    unconditionally.

    Returns::

        {"rewritten": (id, text_deduped, n_paras_total, n_paras_kept)
                      — one row per batch doc (paragraph split always
                      yields >= 1 row, so no doc vanishes),
         "new_paras": (para_hash, para) DELTA to append to the state —
                      the batch's novel keeper paragraphs only}

    Scale shape (the span_dedup keeper pattern, NOT a window):
    boilerplate paragraphs are precisely the skewed keys this operator
    exists for (a site footer can occur in millions of documents), and
    a window over the paragraph key would put every occurrence in one
    partition. groupBy gets map-side partial aggregation instead — the
    min-(id,pos) struct collapses per input partition before the
    shuffle, so a million-occurrence footer ships one candidate row per
    map task, not a million rows to one reducer. Identity is
    (xxhash64, text): the hash drives partitioning, carrying the text
    alongside makes 64-bit collisions harmless at 100-TB paragraph
    counts. The state anti-join is keyed on the hash and proportional
    to the batch; lay the state out bucketed on para_hash
    (plans/layout.write_bucketed) and the state-side shuffle disappears.
    """
    import re as _re

    pat = _re.escape(sep)  # F.split takes a regex; sep is a literal
    # coalesce NULL text to '': split(NULL) is NULL and posexplode
    # would emit no rows, silently dropping the doc from the output —
    # the totals below derive from this exploded table, so every input
    # doc must contribute at least one paragraph row. The table feeds
    # the keeper groupBy, both kept branches and the totals:
    # materialize it once (split() always emits >= 1 element, so
    # n_paras_total == max(pos) + 1 exactly)
    paras = batch_docs.select(
        F.col(id_col),
        F.posexplode(
            F.split(F.coalesce(F.col(text_col), F.lit("")), pat)
        ).alias("pos", "para"),
    ).localCheckpoint(eager=False)
    totals = paras.groupBy(id_col).agg(
        (F.max("pos") + 1).cast("int").alias("n_paras_total")
    )
    eligible = paras.where(F.length("para") >= min_chars)
    keeper = eligible.groupBy(
        F.xxhash64("para").alias("__k"), F.col("para").alias("__p")
    ).agg(
        F.min(
            F.struct(F.col(id_col).alias("i"), F.col("pos").alias("p"))
        ).alias("__first")
    )
    if para_state is not None:
        st = para_state.select(
            F.col("para_hash").alias("__k"), F.col("para").alias("__p")
        )
        keeper = keeper.join(st, ["__k", "__p"], "left_anti")
    # keeper feeds both the surviving-paragraph join and the new_paras
    # delta, which the streaming sink reads as a separate action
    keeper = keeper.localCheckpoint(eager=False)
    kept = (
        eligible.join(
            keeper,
            (F.xxhash64(F.col("para")) == F.col("__k"))
            & (F.col("para") == F.col("__p")),
        )
        .where(
            (F.col(id_col) == F.col("__first.i"))
            & (F.col("pos") == F.col("__first.p"))
        )
        .select(id_col, "pos", "para")
        .unionByName(
            paras.where(F.length("para") < min_chars).select(
                id_col, "pos", "para"
            )
        )
    )
    reassembled = kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "para"))),
                lambda s: s["para"],
            ),
            sep,
        ).alias("text_deduped"),
        F.count("*").cast("int").alias("n_paras_kept"),
    )
    rewritten = totals.join(reassembled, id_col, "left").select(
        id_col,
        F.coalesce("text_deduped", F.lit("")).alias("text_deduped"),
        "n_paras_total",
        F.coalesce("n_paras_kept", F.lit(0)).alias("n_paras_kept"),
    )
    new_paras = keeper.select(
        F.col("__k").alias("para_hash"), F.col("__p").alias("para")
    )
    return {"rewritten": rewritten, "new_paras": new_paras}


def join_rewritten_text(docs: DataFrame, rewritten: DataFrame) -> DataFrame:
    """(doc_id, text, lang, source) with ``text`` replaced by a dedup
    stage's ``text_deduped`` (span_dedup / paragraph_dedup output).

    Left join + coalesce to '': a doc the stage emptied, or emitted no
    row for (span_dedup skips blank docs), carries empty text into the
    quality stage and is dropped + booked there — an inner join would
    silently lose it and break the accounting-sums-exactly invariant.
    """
    return (
        docs.drop("text")
        .join(
            rewritten.select("doc_id", F.col("text_deduped").alias("text")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("text", F.lit("")).alias("text"),
            "lang",
            "source",
        )
    )


def line_filter_split(docs: DataFrame) -> tuple[DataFrame, DataFrame]:
    """RefinedWeb line-wise corrections as a pipeline stage: returns
    (kept, dropped) where kept is (doc_id, text, lang, source) carrying
    the line-cleaned text and dropped is the doc_ids whose kept text
    fell under half the original (functions/text.line_filter_exprs), or
    whose text is NULL.

    Both outputs read one staged (doc_id, clean, keep, lang, source)
    frame under a lazy localCheckpoint, so the line battery runs once
    for both.
    """
    from bigdata_cookbook_spark.functions.text import line_filter_exprs

    lf = line_filter_exprs(F.col("text"))
    staged = docs.select(
        "doc_id",
        lf["text_clean"].alias("__clean"),
        F.coalesce(lf["doc_keep"], F.lit(False)).alias("__keep"),
        "lang",
        "source",
    ).localCheckpoint(eager=False)
    kept = staged.filter(F.col("__keep")).select(
        "doc_id", F.col("__clean").alias("text"), "lang", "source"
    )
    return kept, staged.filter(~F.col("__keep")).select("doc_id")


def quality_prune_thresholds(
    df: DataFrame,
    score_col: str,
    group_col: str = "source",
    keep_frac: float = 0.5,
    quantize: float | None = None,
) -> DataFrame:
    """Per-group prune cut for :func:`quality_prune`: one (group_col,
    ``__thr``) row per group — the smallest score value whose cumulative
    histogram count exceeds ``(1 - keep_frac) * n``.

    Split out so the cut can be computed as a MAINTENANCE job over the
    corpus snapshot and applied to later ingest batches (streaming's
    per-batch quantiles would drift with batch composition; a pinned
    snapshot threshold is the stable contract — same pattern as the
    SRP plane count in streaming/maintenance.py). Shuffles only a
    per-(group, score) histogram; the cumulative sum runs over distinct
    score values per group, never the fact table.

    The "shuffles only a histogram" claim is BOUNDED ONLY when the
    score domain is bounded — integer scores (n_chars, n_tokens, rule
    counts) are the native contract. A continuous score (perplexity,
    classifier logit) makes (group, score) cardinality approach row
    count and the per-group cumulative window degenerate into a
    single-reducer pass over the group's full row set — so fractional
    score columns (float/double/decimal) are REJECTED unless
    ``quantize`` is given. ``quantize=w`` buckets the score to
    ``floor(score / w) * w`` before the histogram (cardinality bounded
    by score range / w); the returned cut is then a bucket lower edge,
    and since every row with ``score >= cut`` survives the prune, ties
    widen from equal-score rows to the whole cut bucket: the kept
    fraction is at least ``keep_frac`` and inflated by at most the cut
    bucket's occupancy. Deterministic for |score| < 2^52/w (exact IEEE
    floor/multiply both engines evaluate identically).
    """
    from pyspark.sql import Window
    from pyspark.sql.types import DecimalType, DoubleType, FloatType

    score_type = df.schema[score_col].dataType
    fractional = isinstance(score_type, (DoubleType, FloatType)) or (
        isinstance(score_type, DecimalType) and score_type.scale > 0
    )
    if fractional and quantize is None:
        raise TypeError(
            f"quality_prune: score column {score_col!r} is "
            f"{score_type.simpleString()} — a continuous score makes the "
            "(group, score) histogram approach row cardinality and the "
            "per-group cumulative window single-reduce each group. Pass "
            "quantize=<bucket width> to histogram on "
            "floor(score/width)*width (bounded cardinality, documented "
            "tie semantics), or cast the score to an integer scale first."
        )
    if quantize is not None:
        if quantize <= 0:
            raise ValueError(f"quantize must be positive, got {quantize}")
        score_expr = F.floor(F.col(score_col) / F.lit(float(quantize))) * F.lit(
            float(quantize)
        )
    else:
        score_expr = F.col(score_col)

    hist = df.groupBy(F.col(group_col), score_expr.alias("__s")).agg(
        F.count(F.lit(1)).alias("__c")
    )
    w = (
        Window.partitionBy(group_col)
        .orderBy(F.col("__s").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("__cum", F.sum("__c").over(w))
    tot = hist.groupBy(group_col).agg(F.sum("__c").alias("__n"))
    return (
        cum.join(tot, group_col)
        .filter(F.col("__cum") > (1.0 - keep_frac) * F.col("__n"))
        .groupBy(group_col)
        .agg(F.min("__s").alias("__thr"))
    )


def quality_prune(
    df: DataFrame,
    score_col: str,
    group_col: str = "source",
    keep_frac: float = 0.5,
    thresholds: DataFrame | None = None,
    quantize: float | None = None,
) -> DataFrame:
    """Keep the top ``keep_frac`` fraction of rows per group by a quality
    score — the per-domain pruning pass a pre-training pipeline runs
    after scoring (keep the best X% of each source rather than a global
    cut, which would empty low-scoring domains entirely).

    Scale shape: no window over the fact table. Stage 1 shuffles only a
    per-(group, score) HISTOGRAM (bounded by value cardinality, not row
    count); the cumulative count runs over distinct score values per
    group; the threshold per group joins back as a broadcast (one row
    per group — bounded-domain contract). The fact table itself is
    touched by exactly one scan + one map-side filter.

    Threshold semantics are exact-integer, not interpolated: the cut is
    the smallest score value whose cumulative count exceeds
    ``(1 - keep_frac) * n`` — every row with ``score >= cut`` survives,
    so ties at the cut inflate the kept fraction (at least ``keep_frac``
    is always kept). Deterministic, engine-portable (the only float op
    is one IEEE multiply both engines evaluate identically), and free of
    the interpolated-percentile boundary-equality hazard.

    ``thresholds`` (a quality_prune_thresholds output) applies a PINNED
    cut instead of recomputing — the continuous-ingest form: compute the
    cut from a corpus snapshot in the nightly maintenance pass, apply it
    map-side to every batch. A group absent from the threshold table is
    dropped entirely (no cut on record means the maintenance pass has
    not admitted the domain yet — fail-closed, never fail-open).

    Fractional score columns require ``quantize`` (see
    :func:`quality_prune_thresholds` — the histogram-bounded scale
    contract holds only for bounded score domains); the filter itself
    (``score >= cut``) is type-agnostic, so a pinned ``thresholds``
    table computed with quantization applies unchanged.
    """
    thr = (
        thresholds
        if thresholds is not None
        else quality_prune_thresholds(
            df, score_col, group_col, keep_frac, quantize=quantize
        )
    )
    return (
        df.join(F.broadcast(thr), group_col)
        .filter(F.col(score_col) >= F.col("__thr"))
        .drop("__thr")
    )

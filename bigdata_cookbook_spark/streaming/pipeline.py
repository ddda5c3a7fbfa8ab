"""Streaming capstone: the pretraining corpus-clean stages (quality ->
exact dedup -> near-dup removal -> decontamination) as a continuous
ingest pipeline over persisted state tables.

The batch capstone (operators/corpus.corpus_clean, workflows.
pretraining_pipeline) re-derives everything from the full corpus; at
100 TB with nightly/continuous ingest you never re-scan the corpus per
batch. This module is the incremental twin: each incoming batch checks
in against append-only state tables —

    seen_hashes   one xxhash64(text) per ever-kept exact-canonical text
                  (incremental_exact_dedup's state),
    shingles      the word-n-gram inverted index (doc_id, shingle hash,
                  per-doc shingle count) of every exact-kept doc so far
                  (the pair SOURCE set of corpus_clean, which includes
                  near-dup losers — see parity note below),
    paras         (paragraph mode) every paragraph ever kept
                  corpus-wide (corpus.paragraph_dedup_incremental),
    spans         (span mode) every span ever kept corpus-wide
                  (corpus.span_dedup_incremental), and
    embeddings    (semantic mode) the SRP-bucketed vector of every doc
                  that ever reached the semantic stage
                  (dedup.semantic_dedup_incremental)

and only the batch is ever (re)signed. Both states grow append-only:
the per-batch delta is written under its own ``ingest_batch=<id>``
directory with overwrite mode, so a foreachBatch replay after a crash
rewrites the same delta instead of duplicating it (the same
write-audit-publish discipline as plans/layout.upsert_partitions).

Parity contract (tested in tests/test_streaming_pipeline.py): when
documents are ingested in non-decreasing doc_id order — the natural
shape for append-only ingest ids — the union of per-batch kept sets
equals corpus_clean(union of batches)["kept"] exactly, drop accounting
included. corpus_clean's near-dup rule is "drop any doc that is the
larger side of a >=threshold Jaccard pair over ALL exact-kept docs";
first-arrival-wins under ordered ingest is the same rule, PROVIDED the
shingle state keeps every exact-kept doc (not just survivors) — a
near-dup loser can still be the smaller side of a later doc's pair.
Out-of-order ingest degrades gracefully to first-ingest-wins (declared
engine semantics for the streaming form, same as streaming_dedup).
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_cookbook_spark.functions.text import gopher_repetition, quality_exprs
from bigdata_cookbook_spark.operators.corpus import (
    join_rewritten_text,
    line_filter_split,
    paragraph_dedup_incremental,
    span_dedup_incremental,
)
from bigdata_cookbook_spark.operators.dedup import (
    jaccard_verify_on_index,
    ngram_jaccard_pairs,
    shingle_index,
)


def _cross_batch_neardup(
    batch_idx: DataFrame, state_idx: DataFrame, threshold: float
) -> DataFrame:
    """Batch doc_ids whose Jaccard vs ANY state doc reaches threshold.

    Inverted-index join on the shingle hash (only co-shingled pairs
    materialize), intersection by pair count, |A∪B| = n_a + n_b - common
    — identical arithmetic to ngram_jaccard_pairs, but batch-vs-state
    instead of self-join. The state side arrives straight off parquet;
    with the state laid out bucketed on the shingle key the state-side
    shuffle disappears (plans/layout.write_bucketed), and the batch side
    is one micro-batch — the join cost is proportional to the BATCH, not
    the corpus.

    Scale caveat (the sf1-rehearsal lesson applies here too): the join
    materializes sum(df_batch x df_state) rows per shingle, and on a
    vocabulary-saturating corpus df_state grows with everything ever
    ingested — per-batch cost then creeps up over the corpus lifetime.
    At the 100 TB tier, run the LSH form instead: incremental_lsh_
    candidates (operators/dedup.py) keeps band-bucket state whose
    per-bucket occupancy LSH bounds, and this exact-shingle join becomes
    the verify tier over its candidate pairs — mirroring the batch-side
    minhash_lsh_candidates -> ngram_jaccard_pairs(df_cap=...) funnel.
    The exact-state form here is the parity tier (it reproduces
    corpus_clean bit-for-bit, which LSH pruning by design does not).
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
    jac = inter.select(
        "doc_id",
        F.round(
            F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 4
        ).alias("jaccard"),
    )
    return jac.filter(F.col("jaccard") >= threshold).select("doc_id").distinct()


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
) -> dict[str, DataFrame]:
    """One ingest batch through quality -> exact dedup (vs hash state)
    -> near-dup removal (within batch + vs state) -> decontamination.
    The batch-callable core of the streaming capstone
    (streaming_corpus_clean wraps it in foreachBatch); parameters and
    stage semantics mirror operators/corpus.corpus_clean stage for
    stage.

    ``near_dup`` picks the near-dup tier:

    - ``"exact"`` (default): every co-shingled pair is scored — the
      parity tier, reproducing corpus_clean bit-for-bit, with the exact
      form's quadratic exposure on vocabulary-saturated corpora
      (BASELINE.md §D).
    - ``"lsh"``: the 100 TB funnel made executable — MinHash band
      buckets generate candidates (within batch + vs the persisted
      ``bucket_state``, operators/dedup.incremental_lsh_candidates),
      then EXACT Jaccard verifies only the candidate pairs (the
      verification joins key on candidate doc_ids, cost bounded by the
      candidate count, never sum(df^2)). Kept set is a SUPERSET of the
      exact tier's (LSH can miss pairs, never invents them — tested);
      returns an extra ``new_buckets`` state delta.

    Returns::

        {"kept":            batch survivors (doc_id, lang, source,
                            n_tokens — corpus_clean's kept schema),
         "dropped_quality": ..., "dropped_exact": ...,
         "dropped_neardup": ...,
         "dropped_contaminated": ... (only when eval_df given),
         "new_hashes":      DELTA to append to the seen_hashes state,
         "new_shingles":    DELTA to append to the shingle state,
         "new_buckets":     (lsh mode) DELTA to append to bucket_state}

    State deltas are pure appends — novel hashes only (globally distinct
    by construction via the anti-join), the batch's exact-kept shingle
    rows, and (lsh) the batch's band-bucket rows. Nothing re-reads or
    re-aggregates the accumulated state; a replay of the same batch
    yields empty kept and empty hash deltas (idempotence, tested).
    Append-only bucket deltas assume ingest-once doc ids (the streaming
    norm); for re-ingest-with-changed-text workloads use
    incremental_lsh_candidates directly — its latest-ingest-wins state
    replacement is the re-ingest-safe tier.

    Optional stages (mirroring the batch capstone's
    pretraining_pipeline; all off by default):

    - ``paragraph_sep`` (e.g. ``"\\n"``) runs corpus-wide
      paragraph dedup BEFORE every other stage
      (corpus.paragraph_dedup_incremental vs the append-only
      ``para_state`` of every paragraph ever kept) — structural
      boilerplate is the coarsest duplication, so it goes first, the
      same order as the batch capstone. Emits a ``new_paras`` delta.
    - ``span_tokens`` runs C4-style duplicate-span removal next
      (corpus.span_dedup_incremental vs the append-only ``span_state``
      of every span ever kept), rewriting batch text before quality
      scoring — C4's order, so later token counts see the deduped
      text. Emits a ``new_spans`` delta. Docs whose text empties out
      (every span seen before) drop at the quality stage, booked as
      dropped_quality — same accounting as the batch pipeline.
    - ``embeddings_df`` (vec_id == doc_id) runs SemDeDup-style
      semantic dedup LAST over post-contamination survivors
      (dedup.semantic_dedup_incremental vs ``srp_state``, the
      every-arrival embedding state). Docs without an embedding row
      pass through (the batch rule). Emits ``dropped_semantic`` and a
      ``new_embeddings`` delta. ``semantic_n_planes`` is pinned for
      the state's lifetime — bucket ids must be stable across batches.
    - ``dsir_lr`` turns on a stateless DSIR gate right after
      the line corrections: the model is fit OFFLINE on a reference
      snapshot (selection.dsir_logratio_table -> collect_logratio — a
      stream cannot see the full raw distribution) and passed in as
      the collected lr_micro-by-bucket list; rows whose (normalized,
      by default — ``dsir_normalize``) importance weight falls below
      ``dsir_threshold`` drop, booked as ``dropped_dsir_gate``. A pure
      per-row predicate: batch-split invariant, no state, no delta.
      ``dsir_salt`` must equal the salt the offline fit used — the
      gate buckets grams with the same salted hash as the model.
    """
    if near_dup not in ("exact", "lsh"):
        raise ValueError(f"near_dup must be 'exact' or 'lsh', got {near_dup!r}")

    dropped_line = None
    if line_filter:
        # Stateless RefinedWeb line-wise corrections, FIRST (the batch
        # capstone's order: right after HTML extraction, before every
        # dedup stage) — booked as dropped_line_filter. No state, no
        # delta.
        # This function returns ~15 frames that the foreachBatch sink
        # consumes as SEPARATE actions (9 parquet writes + the drop-log
        # union); with a fully lazy chain every action would re-execute
        # the WHOLE stage chain from the batch scan. Lazy
        # localCheckpoints at every fan-out node below make the chain
        # execute once per batch; each frame is batch-sized
        # (MEMORY_AND_DISK), freed when the micro-batch's DataFrames
        # are dropped. Materialization changes no rows, so parity with
        # the batch pipeline stays pinned by the streaming-parity suite.
        batch_docs, dropped_line = line_filter_split(
            batch_docs, lambda df: df.localCheckpoint(eager=False)
        )

    dropped_dsir = None
    if dsir_lr is not None:
        from bigdata_cookbook_spark.operators.selection import (
            dsir_score_expr,
            gram_array_expr,
        )

        # Stateless DSIR gate on the (line-cleaned) text: the model is
        # FIT OFFLINE on a reference snapshot (a stream cannot see the
        # full raw distribution) and passed in as the collected
        # lr_micro-by-bucket list — selection.collect_logratio's shape.
        # A pure per-row predicate: batch-split invariant, no state,
        # no delta; booked as dropped_dsir_gate. Normalized by default
        # (a stream gate must not prefer short docs per se — the
        # length bias of raw weights; selection.py docstring).
        # dsir_salt MUST match the salt the offline fit used
        # (dsir_logratio_table/collect_logratio) — a salt mismatch
        # scores against differently-bucketed grams, a meaningless
        # gate with no error to catch it.
        score = dsir_score_expr(F.col("text"), dsir_lr, salt=dsir_salt)
        if dsir_normalize:
            n = F.size(gram_array_expr(F.col("text")))
            score = F.when(n > 0, score / n).otherwise(F.lit(0.0))
        # fan-out: dropped_dsir + the surviving spine (§3.3, see the
        # line-filter note above) — and the DSIR gram scoring is the
        # expensive part worth running once
        staged = batch_docs.withColumn("__dsir", score).localCheckpoint(
            eager=False
        )
        dropped_dsir = staged.filter(
            F.col("__dsir") < dsir_threshold
        ).select("doc_id")
        batch_docs = staged.filter(
            F.col("__dsir") >= dsir_threshold
        ).drop("__dsir")

    new_paras = None
    if paragraph_sep is not None:
        pr = paragraph_dedup_incremental(
            batch_docs, para_state, sep=paragraph_sep
        )
        # fan-out: the span stage consumes this spine twice (its own
        # split + the join-back) — see the line-filter note
        batch_docs = join_rewritten_text(
            batch_docs, pr["rewritten"]
        ).localCheckpoint(eager=False)
        new_paras = pr["new_paras"]

    new_spans = None
    if span_tokens is not None:
        sp = span_dedup_incremental(
            batch_docs, span_state, span_tokens=span_tokens
        )
        batch_docs = join_rewritten_text(batch_docs, sp["rewritten"])
        new_spans = sp["new_spans"]

    feats = quality_exprs(F.col("text"))
    # fan-out: passed + dropped_quality both read the scored battery
    # (§3.3, see line-filter note)
    scored = batch_docs.select(
        "doc_id",
        "text",
        "lang",
        "source",
        feats["n_tokens"].alias("n_tokens"),
        feats["stopword_ratio"].alias("stopword_ratio"),
    ).localCheckpoint(eager=False)
    quality_ok = (
        (F.col("lang") == lang)
        & (F.col("n_tokens") >= min_tokens)
        & (F.col("stopword_ratio") <= max_stopword_ratio)
    )
    passed = scored.filter(quality_ok)
    dropped_quality = scored.filter(~quality_ok).select("doc_id")

    if repetition_filter:
        # corpus_clean's repetition stage, same precondition; the rules
        # are per-document, so the streaming form needs no state table
        if min_tokens < 10:
            raise ValueError(
                "repetition_filter requires min_tokens >= 10"
            )
        verdict = gopher_repetition(passed.select("doc_id", "text"))
        # stage the verdict column so the gram-stats kernel runs once,
        # not once per side of the keep/drop split (§3.3 + §2.3)
        rep_staged = passed.join(
            verdict.select("doc_id", F.col("keep").alias("__rep")), "doc_id"
        ).localCheckpoint(eager=False)
        dropped_quality = dropped_quality.unionByName(
            rep_staged.filter(~F.col("__rep")).select("doc_id")
        )
        passed = rep_staged.filter(F.col("__rep")).drop("__rep")

    # exact tier: within-batch canonical (min doc_id per text), then
    # anti-join against the persisted hash state — incremental_exact_dedup's
    # rule, inlined here so the drop SET is also reported
    hashed = passed.withColumn("text_hash", F.xxhash64("text"))
    canon = hashed.groupBy("text_hash").agg(F.min("doc_id").alias("doc_id"))
    exact_kept = hashed.join(
        canon.select("text_hash", "doc_id"), ["text_hash", "doc_id"], "left_semi"
    )
    if seen_hashes is not None:
        exact_kept = exact_kept.join(seen_hashes, "text_hash", "left_anti")
    # the widest fan-out on the spine: dropped_exact, new_hashes, the
    # shingle index, the LSH signing, and the kept anti-join all read
    # exact_kept (§3.3, see line-filter note)
    exact_kept = exact_kept.localCheckpoint(eager=False)
    dropped_exact = passed.join(
        exact_kept.select("doc_id"), "doc_id", "left_anti"
    ).select("doc_id")
    new_hashes = exact_kept.select("text_hash")

    # near-dup tier: within-batch pairs (drop the larger side) PLUS
    # batch-vs-state pairs (drop the batch side — first arrival wins)
    # batch_idx (the exploded shingle index) is the LARGEST frame in the
    # chain (~|tokens| rows per doc) and its two consumers recompute it
    # as a pure projection explode off the checkpointed exact_kept — so
    # it is deliberately NOT checkpointed: storing it costs more block
    # serialization than the shuffle-free recompute (§3.3's trade works
    # the other way here)
    batch_idx = shingle_index(exact_kept, n=ngram_n)
    new_buckets = None
    if near_dup == "lsh":
        from bigdata_cookbook_spark.operators.dedup import (
            incremental_lsh_candidates,
        )

        lsh = incremental_lsh_candidates(
            exact_kept.select("doc_id", "text"),
            seen_buckets=bucket_state,
            n=ngram_n,
            num_hashes=lsh_num_hashes,
            band_size=lsh_band_size,
        )
        # exact-Jaccard verification of the candidates over the batch
        # index plus the persisted state (state docs only ever appear
        # as the KEPT partner). Candidates are least-id-first
        # (doc_a < doc_b); under ingest-once ordered ids the batch side
        # of a cross pair is doc_b, and within batch doc_b is the
        # larger id — the loser in both cases (first-arrival-wins)
        idx = (
            batch_idx
            if shingle_state is None
            else batch_idx.unionByName(shingle_state)
        )
        cand = lsh["candidates"].join(
            exact_kept.select(F.col("doc_id").alias("doc_b")),
            "doc_b",
            "left_semi",
        )
        # lineage = the banding DAG + the verify joins; consumed by the
        # kept anti-join AND the drop log
        near_losers = (
            jaccard_verify_on_index(cand, idx, jaccard_threshold)
            .select(F.col("doc_b").alias("doc_id"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        # append-only delta: just this batch's band rows (see docstring
        # for the ingest-once assumption vs lsh["buckets"]'s replacement)
        new_buckets = (
            lsh["buckets"]
            if bucket_state is None
            else lsh["buckets"].join(bucket_state, ["doc_id"], "left_anti")
        )
    else:
        within = ngram_jaccard_pairs(
            exact_kept, n=ngram_n, threshold=jaccard_threshold
        ).select(F.col("doc_b").alias("doc_id"))
        if shingle_state is not None:
            cross = _cross_batch_neardup(
                batch_idx, shingle_state, jaccard_threshold
            )
            near_losers = within.unionByName(cross).distinct()
        else:
            near_losers = within.distinct()
        near_losers = near_losers.localCheckpoint(eager=False)
    # kept feeds contamination/prune/semantic AND the final output
    # select (§3.3, see line-filter note)
    kept = exact_kept.join(near_losers, "doc_id", "left_anti").localCheckpoint(
        eager=False
    )
    # state keeps EVERY exact-kept doc (incl. near-dup losers): they stay
    # valid pair sources for future batches — the parity condition with
    # corpus_clean, whose pair set is computed over all exact-kept docs
    new_shingles = batch_idx

    out: dict[str, DataFrame] = {
        "dropped_quality": dropped_quality,
        "dropped_exact": dropped_exact,
        "dropped_neardup": near_losers,
        "new_hashes": new_hashes,
        "new_shingles": new_shingles,
    }
    if dropped_line is not None:
        out["dropped_line_filter"] = dropped_line
    if dropped_dsir is not None:
        out["dropped_dsir_gate"] = dropped_dsir
    if new_paras is not None:
        out["new_paras"] = new_paras
    if new_spans is not None:
        out["new_spans"] = new_spans
    if new_buckets is not None:
        out["new_buckets"] = new_buckets
    if eval_df is not None:
        from bigdata_cookbook_spark.operators.dedup import (
            bloom_contamination,
            contamination_pairs,
        )

        # eval_bloom (a prebuilt dedup.ShingleBloom over the SAME
        # eval_df and n — caller's contract) routes each batch through
        # the map-side Bloom prefilter before the exact join:
        # bit-identical drop set, and the static benchmark set is
        # folded to a <=2 MiB literal ONCE for the stream's lifetime
        # instead of re-entering a shingle join every micro-batch.
        if eval_bloom is not None:
            raw = bloom_contamination(
                kept,
                eval_df,
                n=contamination_n,
                threshold=contamination_threshold,
                exclude_self=False,
                broadcast_eval=broadcast_eval,
                bloom=eval_bloom,
            )
        else:
            raw = contamination_pairs(
                kept,
                eval_df,
                n=contamination_n,
                threshold=contamination_threshold,
                exclude_self=False,
                broadcast_eval=broadcast_eval,
            )
        # fan-out: the kept anti-join + the drop log (§3.3)
        contaminated = (
            raw.select(F.col("train_id").alias("doc_id"))
            .distinct()
            .localCheckpoint(eager=False)
        )
        kept = kept.join(contaminated, "doc_id", "left_anti")
        out["dropped_contaminated"] = contaminated
    if prune_thresholds is not None:
        from bigdata_cookbook_spark.operators.corpus import quality_prune

        # PINNED per-domain cut (quality_prune_thresholds over a corpus
        # snapshot, refreshed by the maintenance pass) — per-batch
        # quantiles would drift with batch composition, so the batch is
        # pruned against the snapshot's thresholds, map-side. Same
        # stage position as the batch capstone: after decontamination,
        # before the semantic stage.
        # fan-out: the dropped_quality_prune anti-join + the surviving
        # spine (§3.3)
        pruned = quality_prune(
            kept, "n_tokens", "source", thresholds=prune_thresholds
        ).localCheckpoint(eager=False)
        out["dropped_quality_prune"] = kept.join(
            pruned.select("doc_id"), "doc_id", "left_anti"
        ).select("doc_id")
        kept = pruned
    if embeddings_df is not None:
        from bigdata_cookbook_spark.operators.dedup import (
            semantic_dedup_incremental,
        )

        # only post-contamination survivors with embedding coverage
        # enter the stage (the batch pipeline's rule); uncovered docs
        # pass through
        # fan-out inside semantic_dedup_incremental: the dim probe +
        # the SRP/norm projection both read this join (§3.3)
        surv_emb = embeddings_df.join(
            kept.select(F.col("doc_id").alias("vec_id")),
            "vec_id",
            "left_semi",
        ).localCheckpoint(eager=False)
        sem = semantic_dedup_incremental(
            surv_emb,
            srp_state,
            threshold=semantic_threshold,
            n_planes=semantic_n_planes,
        )
        # fan-out: the kept anti-join + the drop log — and the lineage
        # is the cogroup GEMM kernel, the priciest node in the chain
        # (§3.3)
        dropped_semantic = sem["dropped"].select(
            F.col("vec_id").alias("doc_id")
        ).localCheckpoint(eager=False)
        kept = kept.join(dropped_semantic, "doc_id", "left_anti")
        out["dropped_semantic"] = dropped_semantic
        out["new_embeddings"] = sem["new_state"]
    out["kept"] = kept.select("doc_id", "lang", "source", "n_tokens")
    return out


def _read_state(
    spark: SparkSession,
    path: str,
    cols: list[str],
    exclude_batch: int | None = None,
) -> DataFrame | None:
    """Accumulated state = every ingest_batch=<id> delta under ``path``
    (schema from the parquet footers; the ingest_batch partition column
    is projected away — state consumers key on content, not batch).

    ``exclude_batch`` must be the CURRENT micro-batch id: on a
    crash-replay, some of this batch's own delta dirs may already exist
    (the crash can land between the per-table writes), and reading them
    back would make the replay see its own hashes/spans/embeddings —
    recomputing EMPTY results and overwriting the real deltas with
    empty (data loss). Excluding the current id makes the replay see
    exactly the state the original run saw, so it recomputes and
    rewrites byte-identical deltas — true replay idempotence."""
    if not os.path.isdir(path):
        return None
    df = spark.read.parquet(path)
    if exclude_batch is not None and "ingest_batch" in df.columns:
        df = df.filter(F.col("ingest_batch") != exclude_batch)
    return df.select(*cols)


def streaming_corpus_clean(
    stream_docs: DataFrame,
    state_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    eval_df: DataFrame | None = None,
    query_name: str = "streaming_corpus_clean",
    available_now: bool = True,
    write_drop_log: bool = True,
    **clean_kwargs: Any,
):
    """Continuous-ingest form of the pretraining capstone's cleaning
    stages: quality -> incremental exact dedup -> incremental near-dup
    -> decontamination, as a foreachBatch Structured Streaming sink over
    parquet state tables.

    Layout (all append-only; per-batch deltas land under their own
    ``ingest_batch=<id>`` directory with overwrite mode, and state
    reads EXCLUDE the current batch id, so Spark's
    batch-replay-after-crash recomputes against exactly the state the
    original run saw and rewrites byte-identical deltas instead of
    double-appending or wiping them — the streaming twin of layout.py's
    write-audit-publish):

        {state_dir}/seen_hashes/ingest_batch=<id>/   novel text hashes
        {state_dir}/shingles/ingest_batch=<id>/      exact-kept shingle index
        {state_dir}/paras/ingest_batch=<id>/         (paragraph_sep) novel keeper paragraphs
        {state_dir}/spans/ingest_batch=<id>/         (span_tokens) novel keeper spans
        {state_dir}/embeddings/ingest_batch=<id>/    (embeddings_df) SRP-bucketed vectors
        {state_dir}/drops/ingest_batch=<id>/         (stage, doc_id) drop log
        {output_dir}/ingest_batch=<id>/              kept docs

    The drop log is the streaming twin of the batch capstone's
    ``accounting`` output — one (stage, doc_id) row per dropped doc per
    batch, so ``spark.read.parquet(state/drops).groupBy("stage",
    "ingest_batch").count()`` reconstructs the full audit trail at any
    point in the corpus's life (and per-doc provenance, which the batch
    counts don't even give). Disable with ``write_drop_log=False`` if
    the extra per-batch write matters more than the audit.

    Readers of the training set stream ``output_dir`` as it grows; the
    state tables are only ever read by the next micro-batch (scan cost
    per batch = one parquet read of the state, join cost proportional to
    the batch — see _cross_batch_neardup). eval_df (static benchmark
    set) decontaminates every batch.

    Returns the started StreamingQuery. ``available_now=False`` runs the
    default micro-batch trigger for true continuous ingest.
    """
    hash_root = os.path.join(state_dir, "seen_hashes")
    shingle_root = os.path.join(state_dir, "shingles")
    bucket_root = os.path.join(state_dir, "buckets")
    para_root = os.path.join(state_dir, "paras")
    span_root = os.path.join(state_dir, "spans")
    emb_root = os.path.join(state_dir, "embeddings")
    # roll forward any maintenance commit a crash left half-promoted:
    # a published-manifest consolidation whose tombstones didn't all
    # promote leaves the merged rows present TWICE (consolidated delta
    # + un-retired originals), which the next batch's _read_state would
    # double-count — corrupting every dedup decision. Same self-heal
    # layout.py's writers run on entry; a no-op when nothing is pending.
    from bigdata_cookbook_spark.plans.layout import recover_pending

    for root in (
        hash_root,
        shingle_root,
        bucket_root,
        para_root,
        span_root,
        emb_root,
    ):
        if os.path.isdir(root):
            recover_pending(root)
    lsh_mode = clean_kwargs.get("near_dup") == "lsh"
    para_mode = clean_kwargs.get("paragraph_sep") is not None
    span_mode = clean_kwargs.get("span_tokens") is not None
    sem_mode = clean_kwargs.get("embeddings_df") is not None
    band_cols = ["doc_id", "band"] + [
        f"k{j}" for j in range(clean_kwargs.get("lsh_band_size", 2))
    ]

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        seen = _read_state(spark, hash_root, ["text_hash"], batch_id)
        shingles = _read_state(
            spark, shingle_root, ["doc_id", "shingle", "n_sh"], batch_id
        )
        if lsh_mode:
            clean_kwargs["bucket_state"] = _read_state(
                spark, bucket_root, band_cols, batch_id
            )
        if para_mode:
            clean_kwargs["para_state"] = _read_state(
                spark, para_root, ["para_hash", "para"], batch_id
            )
        if span_mode:
            clean_kwargs["span_state"] = _read_state(
                spark, span_root, ["span_hash", "span"], batch_id
            )
        if sem_mode:
            clean_kwargs["srp_state"] = _read_state(
                spark, emb_root, ["vec_id", "bucket", "vec", "norm"], batch_id
            )
        res = incremental_corpus_clean(
            batch_df, seen, shingles, eval_df=eval_df, **clean_kwargs
        )
        res["kept"].write.mode("overwrite").parquet(
            os.path.join(output_dir, f"ingest_batch={batch_id}")
        )
        res["new_hashes"].write.mode("overwrite").parquet(
            os.path.join(hash_root, f"ingest_batch={batch_id}")
        )
        res["new_shingles"].write.mode("overwrite").parquet(
            os.path.join(shingle_root, f"ingest_batch={batch_id}")
        )
        if para_mode:
            res["new_paras"].write.mode("overwrite").parquet(
                os.path.join(para_root, f"ingest_batch={batch_id}")
            )
        if span_mode:
            res["new_spans"].write.mode("overwrite").parquet(
                os.path.join(span_root, f"ingest_batch={batch_id}")
            )
        if sem_mode:
            res["new_embeddings"].write.mode("overwrite").parquet(
                os.path.join(emb_root, f"ingest_batch={batch_id}")
            )
        if lsh_mode:
            res["new_buckets"].select(band_cols).write.mode("overwrite").parquet(
                os.path.join(bucket_root, f"ingest_batch={batch_id}")
            )
        if write_drop_log:
            # audit trail: one (stage, doc_id) row per dropped doc —
            # a single labeled union, one write, overwrite-per-batch
            # replay-safe like every other delta
            log = None
            for stage in (
                "dropped_line_filter",
                "dropped_dsir_gate",
                "dropped_quality",
                "dropped_exact",
                "dropped_neardup",
                "dropped_contaminated",
                "dropped_quality_prune",
                "dropped_semantic",
            ):
                if stage not in res:
                    continue
                part = res[stage].select(
                    F.lit(stage).alias("stage"), F.col("doc_id")
                )
                log = part if log is None else log.unionByName(part)
            log.write.mode("overwrite").parquet(
                os.path.join(state_dir, "drops", f"ingest_batch={batch_id}")
            )

    writer = (
        stream_docs.writeStream.foreachBatch(_process)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()

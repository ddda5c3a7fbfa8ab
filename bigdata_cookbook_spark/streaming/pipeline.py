"""Streaming capstone: the corpus-clean spine (operators/corpus.
incremental_corpus_clean — quality -> exact dedup -> near-dup removal ->
decontamination) as a continuous ingest pipeline over persisted state
tables.

At 100 TB with continuous ingest you never re-scan the corpus per
batch: each micro-batch runs the spine against append-only state
tables —

    seen_hashes   one xxhash64(text) per ever-kept exact-canonical text,
    shingles      the word-n-gram inverted index (doc_id, shingle hash,
                  per-doc shingle count) of every exact-kept doc so far
                  (near-dup losers included — the parity condition),
    buckets       (lsh mode) the MinHash band rows of every exact-kept doc,
    paras         (paragraph mode) every paragraph ever kept,
    spans         (span mode) every span ever kept, and
    embeddings    (semantic mode) the SRP-bucketed vector of every doc
                  that ever reached the semantic stage

and only the batch is ever (re)signed. The per-batch delta is written
under its own ``ingest_batch=<id>`` directory with overwrite mode, so a
foreachBatch replay after a crash rewrites the same delta instead of
duplicating it (the same write-audit-publish discipline as
plans/layout.upsert_partitions). The batch/stream parity contract is
stated once, in operators/corpus.py.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_cookbook_spark.operators.corpus import incremental_corpus_clean


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
    """Continuous-ingest form of the corpus-clean spine: one
    incremental_corpus_clean call per micro-batch (``clean_kwargs`` pass
    through), as a foreachBatch Structured Streaming sink over parquet
    state tables.

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
    the batch). eval_df (static benchmark set) decontaminates every
    batch.

    Returns the started StreamingQuery. ``available_now=False`` runs the
    default micro-batch trigger for true continuous ingest.
    """
    if clean_kwargs.get("jaccard_df_cap") is not None:
        # every batch after the first carries shingle state, which the
        # spine rejects next to a cap: fail before the stream starts
        raise ValueError(
            "jaccard_df_cap cannot be used by the streaming tier: batches "
            "after the first are scored against the uncapped shingle state"
        )
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

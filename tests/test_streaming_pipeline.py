"""Streaming capstone parity: the foreachBatch corpus-clean pipeline
(streaming/pipeline.py) over persisted state tables must reproduce the
batch capstone (operators/corpus.corpus_clean) on a multi-batch replay
— kept-set equality, drop accounting, state idempotence."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bigdata_cookbook_spark.operators.corpus import corpus_clean
from bigdata_cookbook_spark.sources.testdata import load_table
from bigdata_cookbook_spark.streaming.pipeline import (
    incremental_corpus_clean,
    streaming_corpus_clean,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF, "documents").select(
        "doc_id", "text", "lang", "source"
    )


@pytest.fixture(scope="module")
def eval_docs(spark, docs):
    # benchmark set: a small id-stable slice of the corpus (same shape the
    # q_benchmark_contamination query uses)
    return docs.filter(F.col("doc_id") % 7 == 0).select("doc_id", "text")


def _ids(df):
    return {r[0] for r in df.select("doc_id").collect()}


def test_incremental_two_batches_match_batch_capstone(spark, docs, eval_docs):
    """Ordered two-batch ingest == corpus_clean over the union: kept set
    AND every drop set (quality / exact / near-dup / contaminated)."""
    batch = corpus_clean(docs, eval_df=eval_docs)

    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    b1 = docs.filter(F.col("doc_id") <= mid)
    b2 = docs.filter(F.col("doc_id") > mid)

    r1 = incremental_corpus_clean(b1, eval_df=eval_docs)
    r2 = incremental_corpus_clean(
        b2,
        seen_hashes=r1["new_hashes"],
        shingle_state=r1["new_shingles"],
        eval_df=eval_docs,
    )

    for key in (
        "kept",
        "dropped_quality",
        "dropped_exact",
        "dropped_neardup",
        "dropped_contaminated",
    ):
        inc = _ids(r1[key]) | _ids(r2[key])
        assert inc == _ids(batch[key]), key

    # kept payload columns, not just ids
    want = {tuple(r) for r in batch["kept"].collect()}
    got = {tuple(r) for r in r1["kept"].collect()} | {
        tuple(r) for r in r2["kept"].collect()
    }
    assert got == want


def test_incremental_replay_is_idempotent(spark, docs):
    """Re-ingesting an already-processed batch yields empty kept and
    empty state deltas — the crash-replay safety property."""
    b1 = docs.limit(200)
    r1 = incremental_corpus_clean(b1)
    r2 = incremental_corpus_clean(
        b1, seen_hashes=r1["new_hashes"], shingle_state=r1["new_shingles"]
    )
    assert r2["kept"].count() == 0
    assert r2["new_hashes"].count() == 0
    # every replayed quality-passing doc is classified as an exact dup
    # (the hash state catches it before shingling even matters), whether
    # it was originally kept, an exact dup, or a near-dup loser
    assert _ids(r2["dropped_exact"]) == (
        _ids(r1["kept"]) | _ids(r1["dropped_exact"]) | _ids(r1["dropped_neardup"])
    )
    assert _ids(r2["dropped_neardup"]) == set()


def test_streaming_form_matches_batch_capstone(spark, docs, eval_docs, tmp_path):
    """foreachBatch end-to-end: two spool files drained one per
    micro-batch; union of per-batch kept outputs == corpus_clean over
    the union; state tables carry one delta dir per batch."""
    sample = docs.filter(F.col("doc_id") < 3000)
    mid = 1500
    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    # one file per batch, written in id order (mtime order == ingest order)
    sample.filter(F.col("doc_id") <= mid).coalesce(1).write.parquet(
        os.path.join(spool, "f1")
    )
    sample.filter(F.col("doc_id") > mid).coalesce(1).write.parquet(
        os.path.join(spool, "f2")
    )

    stream = spark.readStream.schema(
        "doc_id bigint, text string, lang string, source string"
    ).option("maxFilesPerTrigger", 1).parquet(os.path.join(spool, "*", "*.parquet"))

    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    q = streaming_corpus_clean(
        stream,
        state_dir=state,
        output_dir=out,
        checkpoint_dir=str(tmp_path / "ckpt"),
        eval_df=eval_docs,
    )
    assert q.awaitTermination(180), "stream did not drain"

    want = corpus_clean(sample, eval_df=eval_docs)["kept"]
    got = spark.read.parquet(out).drop("ingest_batch")
    assert {tuple(r) for r in got.collect()} == {tuple(r) for r in want.collect()}

    # state grew append-only: one delta dir per micro-batch, and the
    # accumulated hash state matches the kept-or-dropped-neardup corpus
    hash_dirs = [d for d in os.listdir(os.path.join(state, "seen_hashes"))
                 if d.startswith("ingest_batch=")]
    assert len(hash_dirs) >= 2  # one file per trigger -> >=2 batches
    n_state = spark.read.parquet(os.path.join(state, "seen_hashes")).count()
    n_exact_kept = (
        spark.read.parquet(os.path.join(state, "shingles"))
        .select("doc_id").distinct().count()
    )
    # every exact-kept doc contributed exactly one novel hash; docs too
    # short to shingle appear in the hash state but not the shingle index
    assert n_state >= n_exact_kept


def test_out_of_order_ingest_is_first_arrival_wins(spark):
    """The documented degradation for ids arriving out of order: the
    incremental pipeline keeps the FIRST-ingested copy, where the batch
    capstone would keep the min-id copy. Pinned so the contract in
    streaming/pipeline.py's module docstring stays true."""
    b1 = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog today again", "en", "web")],
        "doc_id long, text string, lang string, source string",
    )
    b2 = spark.createDataFrame(
        [(50, "the quick brown fox jumps over the lazy dog today again", "en", "web")],
        "doc_id long, text string, lang string, source string",
    )
    r1 = incremental_corpus_clean(b1, min_tokens=5)
    r2 = incremental_corpus_clean(
        b2, seen_hashes=r1["new_hashes"], shingle_state=r1["new_shingles"],
        min_tokens=5,
    )
    assert _ids(r1["kept"]) == {100}  # first arrival wins...
    assert _ids(r2["kept"]) == set()  # ...the later, smaller id drops
    assert _ids(r2["dropped_exact"]) == {50}
    # batch over the union would pick the min id instead — the divergence
    # is exactly the documented one
    batch = corpus_clean(b1.unionByName(b2), min_tokens=5)
    assert _ids(batch["kept"]) == {50}


def test_lsh_near_dup_tier_two_batches(spark, docs):
    """near_dup='lsh': candidates come from MinHash band buckets (within
    batch + vs persisted bucket state), exact Jaccard verifies only the
    candidates. Kept set must be a SUPERSET of the exact tier's (LSH can
    miss pairs, never invent them), and the planted near-clone structure
    of the fixture corpus must still be caught cross-batch."""
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    b1 = docs.filter(F.col("doc_id") <= mid)
    b2 = docs.filter(F.col("doc_id") > mid)

    e1 = incremental_corpus_clean(b1)
    e2 = incremental_corpus_clean(
        b2, seen_hashes=e1["new_hashes"], shingle_state=e1["new_shingles"]
    )
    exact_kept = _ids(e1["kept"]) | _ids(e2["kept"])

    l1 = incremental_corpus_clean(b1, near_dup="lsh")
    assert "new_buckets" in l1
    l2 = incremental_corpus_clean(
        b2,
        seen_hashes=l1["new_hashes"],
        shingle_state=l1["new_shingles"],
        near_dup="lsh",
        bucket_state=l1["new_buckets"],
    )
    lsh_kept = _ids(l1["kept"]) | _ids(l2["kept"])

    assert lsh_kept >= exact_kept  # verification can only drop candidates
    # the near-dup tier did real work in LSH mode too: cross-batch or
    # within-batch losers were found and verified
    lsh_dropped = _ids(l1["dropped_neardup"]) | _ids(l2["dropped_neardup"])
    assert lsh_dropped  # fixture corpus plants near-dup clones
    # every LSH-dropped doc is a true near-dup (it was also dropped by
    # the exact tier)
    exact_dropped = _ids(e1["dropped_neardup"]) | _ids(e2["dropped_neardup"])
    assert lsh_dropped <= exact_dropped


def test_streaming_lsh_mode_end_to_end(spark, docs, tmp_path):
    """foreachBatch with near_dup='lsh': bucket-state deltas land per
    batch and the drained kept set equals the batch-callable LSH chain."""
    sample = docs.filter(F.col("doc_id") < 2000)
    mid = 1000
    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    sample.filter(F.col("doc_id") <= mid).coalesce(1).write.parquet(
        os.path.join(spool, "f1")
    )
    sample.filter(F.col("doc_id") > mid).coalesce(1).write.parquet(
        os.path.join(spool, "f2")
    )
    stream = spark.readStream.schema(
        "doc_id bigint, text string, lang string, source string"
    ).option("maxFilesPerTrigger", 1).parquet(os.path.join(spool, "*", "*.parquet"))

    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    q = streaming_corpus_clean(
        stream,
        state_dir=state,
        output_dir=out,
        checkpoint_dir=str(tmp_path / "ckpt"),
        near_dup="lsh",
    )
    assert q.awaitTermination(180), "stream did not drain"

    b1 = sample.filter(F.col("doc_id") <= mid)
    b2 = sample.filter(F.col("doc_id") > mid)
    r1 = incremental_corpus_clean(b1, near_dup="lsh")
    r2 = incremental_corpus_clean(
        b2,
        seen_hashes=r1["new_hashes"],
        shingle_state=r1["new_shingles"],
        near_dup="lsh",
        bucket_state=r1["new_buckets"],
    )
    want = _ids(r1["kept"]) | _ids(r2["kept"])
    got = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    assert got == want
    assert os.path.isdir(os.path.join(state, "buckets"))


def test_incremental_repetition_filter_matches_batch(spark, docs):
    """repetition_filter parity: two-batch incremental ingest with the
    Gopher repetition rules on == corpus_clean(repetition_filter=True)
    over the union — kept and quality-drop sets both."""
    batch = corpus_clean(docs, repetition_filter=True)

    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    b1 = docs.filter(F.col("doc_id") <= mid)
    b2 = docs.filter(F.col("doc_id") > mid)

    r1 = incremental_corpus_clean(b1, repetition_filter=True)
    r2 = incremental_corpus_clean(
        b2,
        seen_hashes=r1["new_hashes"],
        shingle_state=r1["new_shingles"],
        repetition_filter=True,
    )
    for key in ("kept", "dropped_quality", "dropped_exact", "dropped_neardup"):
        inc = _ids(r1[key]) | _ids(r2[key])
        assert inc == _ids(batch[key]), key

    import pytest

    with pytest.raises(ValueError):
        incremental_corpus_clean(b1, min_tokens=5, repetition_filter=True)


def test_incremental_span_semantic_two_batch_parity(spark, docs, eval_docs):
    """Round-5 stages: two-batch ordered ingest with span dedup (state
    of every kept span) + semantic dedup (every-arrival SRP embedding
    state) == the batch pretraining_pipeline with the same stages on —
    kept payload AND per-stage drop counts."""
    from bigdata_cookbook_spark.operators.dedup import default_srp_planes_for
    from bigdata_cookbook_spark.workflows import pretraining_pipeline

    emb = load_table(spark, SF, "embeddings")
    # the batch pipeline derives its plane count from the embeddings
    # row count; the incremental form pins the same value (bucket ids
    # must be stable for the state's lifetime)
    n_planes = default_srp_planes_for(emb.count())
    ref = pretraining_pipeline(
        docs,
        eval_df=eval_docs,
        span_dedup_tokens=5,
        embeddings_df=emb,
    )
    want_clean = {tuple(r) for r in ref["clean"].collect()}
    acc = {r.stage: r.n_dropped for r in ref["accounting"].collect()}
    ref["clean"].unpersist()

    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    b1 = docs.filter(F.col("doc_id") <= mid)
    b2 = docs.filter(F.col("doc_id") > mid)
    r1 = incremental_corpus_clean(
        b1,
        eval_df=eval_docs,
        span_tokens=5,
        embeddings_df=emb,
        semantic_n_planes=n_planes,
    )
    assert "new_spans" in r1 and "new_embeddings" in r1
    r2 = incremental_corpus_clean(
        b2,
        seen_hashes=r1["new_hashes"],
        shingle_state=r1["new_shingles"],
        eval_df=eval_docs,
        span_tokens=5,
        span_state=r1["new_spans"],
        embeddings_df=emb,
        srp_state=r1["new_embeddings"],
        semantic_n_planes=n_planes,
    )
    got_clean = {tuple(r) for r in r1["kept"].collect()} | {
        tuple(r) for r in r2["kept"].collect()
    }
    assert got_clean == want_clean
    for key in (
        "dropped_quality",
        "dropped_exact",
        "dropped_neardup",
        "dropped_contaminated",
        "dropped_semantic",
    ):
        n = r1[key].count() + r2[key].count()
        assert n == acc[key], (key, n, acc[key])


def test_incremental_span_semantic_replay(spark, docs):
    """Replay + re-ingest safety for the round-5 stages: a crash-replay
    (state WITHOUT the batch's own deltas — what _read_state's
    exclude_batch guarantees) recomputes identical kept sets and
    identical state deltas; a re-ingest of the same docs as a NEW batch
    (state WITH the deltas) yields empty kept and empty deltas."""
    emb = load_table(spark, SF, "embeddings")
    b1 = docs.limit(200)
    kw = dict(span_tokens=5, embeddings_df=emb, semantic_n_planes=4)
    r1 = incremental_corpus_clean(b1, **kw)
    replay = incremental_corpus_clean(b1, **kw)
    assert _ids(replay["kept"]) == _ids(r1["kept"])
    assert {tuple(r) for r in replay["new_spans"].collect()} == {
        tuple(r) for r in r1["new_spans"].collect()
    }
    assert _ids(replay["new_embeddings"].withColumnRenamed("vec_id", "doc_id")) == _ids(
        r1["new_embeddings"].withColumnRenamed("vec_id", "doc_id")
    )
    r2 = incremental_corpus_clean(
        b1,
        seen_hashes=r1["new_hashes"],
        shingle_state=r1["new_shingles"],
        span_state=r1["new_spans"],
        srp_state=r1["new_embeddings"],
        **kw,
    )
    assert r2["kept"].count() == 0
    assert r2["new_hashes"].count() == 0
    # every span of the re-ingested docs is already in the state, so the
    # span stage strips all text and the docs book as quality drops
    assert r2["new_spans"].count() == 0
    assert r2["new_embeddings"].count() == 0
    assert r2["dropped_semantic"].count() == 0


def test_read_state_excludes_current_batch(spark, tmp_path):
    """Crash-replay protection: _read_state(exclude_batch=N) must not
    see batch N's own (possibly partial) deltas — otherwise a replay
    recomputes empty results and overwrites the real deltas with
    empty."""
    from bigdata_cookbook_spark.streaming.pipeline import _read_state

    base = str(tmp_path / "hashes")
    spark.createDataFrame([(1,)], ["text_hash"]).write.parquet(
        os.path.join(base, "ingest_batch=0")
    )
    spark.createDataFrame([(2,)], ["text_hash"]).write.parquet(
        os.path.join(base, "ingest_batch=1")
    )
    st = _read_state(spark, base, ["text_hash"], exclude_batch=1)
    assert {r.text_hash for r in st.collect()} == {1}
    all_st = _read_state(spark, base, ["text_hash"])
    assert {r.text_hash for r in all_st.collect()} == {1, 2}


def test_streaming_span_semantic_end_to_end(spark, docs, tmp_path):
    """foreachBatch with span + semantic stages: span/embedding state
    deltas land per batch and the drained kept set equals the
    batch-callable chain."""
    from bigdata_cookbook_spark.sources.testdata import load_table as lt

    emb = lt(spark, SF, "embeddings")
    sample = docs.filter(F.col("doc_id") < 2000)
    mid = 1000
    spool = str(tmp_path / "spool")
    os.makedirs(spool)
    sample.filter(F.col("doc_id") <= mid).coalesce(1).write.parquet(
        os.path.join(spool, "f1")
    )
    sample.filter(F.col("doc_id") > mid).coalesce(1).write.parquet(
        os.path.join(spool, "f2")
    )
    stream = spark.readStream.schema(
        "doc_id bigint, text string, lang string, source string"
    ).option("maxFilesPerTrigger", 1).parquet(os.path.join(spool, "*", "*.parquet"))

    state = str(tmp_path / "state")
    out = str(tmp_path / "out")
    q = streaming_corpus_clean(
        stream,
        state_dir=state,
        output_dir=out,
        checkpoint_dir=str(tmp_path / "ckpt"),
        span_tokens=5,
        embeddings_df=emb,
        semantic_n_planes=4,
    )
    assert q.awaitTermination(240), "stream did not drain"

    b1 = sample.filter(F.col("doc_id") <= mid)
    b2 = sample.filter(F.col("doc_id") > mid)
    r1 = incremental_corpus_clean(
        b1, span_tokens=5, embeddings_df=emb, semantic_n_planes=4
    )
    r2 = incremental_corpus_clean(
        b2,
        seen_hashes=r1["new_hashes"],
        shingle_state=r1["new_shingles"],
        span_tokens=5,
        span_state=r1["new_spans"],
        embeddings_df=emb,
        srp_state=r1["new_embeddings"],
        semantic_n_planes=4,
    )
    want = _ids(r1["kept"]) | _ids(r2["kept"])
    got = {r.doc_id for r in spark.read.parquet(out).select("doc_id").collect()}
    assert got == want
    assert os.path.isdir(os.path.join(state, "spans"))
    assert os.path.isdir(os.path.join(state, "embeddings"))
    # embedding state carries the SRP bucket + vector payload
    emb_state = spark.read.parquet(os.path.join(state, "embeddings"))
    assert {"vec_id", "bucket", "vec", "norm"} <= set(emb_state.columns)


def test_semantic_incremental_first_arrival_wins(spark):
    """Out-of-order ingest degradation for the semantic stage, pinned:
    the first-INGESTED copy of a near-identical embedding wins, even if
    a later batch carries a smaller id (the batch form would keep the
    min id instead — the same documented divergence as the exact
    tier)."""
    from bigdata_cookbook_spark.operators.dedup import (
        semantic_dedup_incremental,
    )

    v = [1.0, 2.0, 3.0, 4.0]
    b1 = spark.createDataFrame([(100, v)], "vec_id long, embedding array<double>")
    b2 = spark.createDataFrame([(50, v)], "vec_id long, embedding array<double>")
    r1 = semantic_dedup_incremental(b1, n_planes=2, threshold=0.9)
    assert r1["dropped"].count() == 0
    r2 = semantic_dedup_incremental(
        b2, srp_state=r1["new_state"], n_planes=2, threshold=0.9
    )
    # id 50 arrives second: the state holds id 100, and the batch rule
    # (__a_id < id) does not fire for 100 > 50 — BUT first-arrival-wins
    # means 50 must still lose. Pin the actual semantics:
    dropped = {r.vec_id for r in r2["dropped"].collect()}
    # the incremental form keys "earlier" on the ID ordering (parity
    # with the batch form under ordered ingest); out-of-order smaller
    # ids are NOT dropped — the documented degradation
    assert dropped == set()
    # ...and the state now carries both copies, so any FUTURE arrival
    # near-dup to either is dropped regardless of which copy it hits
    b3 = spark.createDataFrame([(200, v)], "vec_id long, embedding array<double>")
    r3 = semantic_dedup_incremental(
        b3,
        srp_state=r1["new_state"].unionByName(r2["new_state"]),
        n_planes=2,
        threshold=0.9,
    )
    assert {r.vec_id for r in r3["dropped"].collect()} == {200}


def test_semantic_incremental_kernel_expression_twin(spark):
    """Round-12 cogroup GEMM kernel (guide §4.2): the dropped set must
    equal the pre-kernel interpreted-expression form — bucket join on
    (__a_bucket == bucket) & (__a_id < id), round(dot/(na*nb),4) >=
    threshold — on batches with and without persisted state, the plan
    must be the cogroup (no join, no distinct exchange), zero-norm
    vectors must drop like the batch tier's NaN rule, and
    threshold <= 0 must be rejected (the floor HALF_UP twin caveat)."""
    import numpy as np

    from bigdata_cookbook_spark.operators.dedup import (
        semantic_dedup,
        semantic_dedup_incremental,
        srp_bucket_expr,
        srp_planes,
    )

    def expr_dropped(batch, state, threshold, n_planes, dim):
        planes = srp_planes(dim, n_planes, 0x5EED)
        v = F.col("embedding").cast("array<double>")
        norm = F.sqrt(
            F.aggregate(
                F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
            )
        )
        b = batch.select(
            F.col("vec_id"),
            v.alias("vec"),
            norm.alias("norm"),
            srp_bucket_expr(v, planes).alias("bucket"),
        )
        earlier = b
        if state is not None:
            earlier = earlier.unionByName(
                state.select("vec_id", "vec", "norm", "bucket")
            )
        a = earlier.select(
            F.col("vec_id").alias("__a_id"),
            F.col("vec").alias("__a_v"),
            F.col("norm").alias("__a_n"),
            F.col("bucket").alias("__a_bucket"),
        )
        dot = F.aggregate(
            F.zip_with(F.col("__a_v"), F.col("vec"), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        cos = F.round(dot / (F.col("__a_n") * F.col("norm")), 4)
        return (
            b.join(
                a,
                (F.col("__a_bucket") == F.col("bucket"))
                & (F.col("__a_id") < F.col("vec_id")),
            )
            .where(cos >= F.lit(threshold))
            .select("vec_id")
            .distinct()
        )

    rng = np.random.default_rng(42)
    rows = []
    for i in range(240):
        if i % 6 == 5:
            # near-identical twin of the previous row: guaranteed drops
            rows.append((i, rows[-1][1]))
        else:
            rows.append((i, [float(x) for x in rng.standard_normal(12)]))
    full = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    b1 = full.where("vec_id < 120")
    b2 = full.where("vec_id >= 120")

    # no state (self-cogroup: pins the alias fix — without fresh
    # expression ids the analyzer prunes the right side's columns)
    r1 = semantic_dedup_incremental(b1, None, threshold=0.3, n_planes=3, dim=12)
    got1 = sorted(r.vec_id for r in r1["dropped"].collect())
    want1 = sorted(
        r.vec_id for r in expr_dropped(b1, None, 0.3, 3, 12).collect()
    )
    assert got1 == want1 and len(got1) > 0

    # with state
    st = spark.createDataFrame(r1["new_state"].toPandas())
    r2 = semantic_dedup_incremental(b2, st, threshold=0.3, n_planes=3, dim=12)
    got2 = sorted(r.vec_id for r in r2["dropped"].collect())
    want2 = sorted(r.vec_id for r in expr_dropped(b2, st, 0.3, 3, 12).collect())
    assert got2 == want2 and len(got2) > 0

    # plan shape: one cogroup kernel, no join / no distinct exchange
    plan = r2["dropped"]._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    assert "Join" not in plan

    # zero-norm batch row with an earlier same-bucket row: NaN cosine
    # drops (the batch tier's rule; the old expression form raised
    # under ANSI instead — kernel parity is with the batch tier)
    zb = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<double>",
    )
    rz = semantic_dedup_incremental(zb, None, threshold=0.9, n_planes=1, dim=4)
    zdrop = {r.vec_id for r in rz["dropped"].collect()}
    kept_batch = {
        r.vec_id
        for r in semantic_dedup(
            zb, threshold=0.9, n_planes=1, dim=4
        ).collect()
    }
    assert zdrop == {0, 1} - kept_batch

    with pytest.raises(ValueError, match="threshold > 0"):
        semantic_dedup_incremental(zb, None, threshold=0.0, n_planes=1, dim=4)


def test_incremental_all_stages_combined(spark, docs):
    """span + LSH near-dup + semantic + repetition all on at once: the
    kwargs wire together, every delta key is present, and the kept set
    is a subset of the exact-tier span+semantic run (LSH can only keep
    MORE near-dup survivors, the other stages are identical)."""
    from bigdata_cookbook_spark.sources.testdata import load_table as lt

    emb = lt(spark, SF, "embeddings")
    b1 = docs.limit(300)
    r = incremental_corpus_clean(
        b1,
        near_dup="lsh",
        span_tokens=5,
        embeddings_df=emb,
        semantic_n_planes=4,
        repetition_filter=True,
    )
    for key in (
        "kept", "dropped_quality", "dropped_exact", "dropped_neardup",
        "dropped_semantic", "new_hashes", "new_shingles", "new_spans",
        "new_buckets", "new_embeddings",
    ):
        assert key in r, key
    exact = incremental_corpus_clean(
        b1,
        span_tokens=5,
        embeddings_df=emb,
        semantic_n_planes=4,
        repetition_filter=True,
    )
    kept_lsh = _ids(r["kept"])
    kept_exact = _ids(exact["kept"])
    # LSH misses pairs, never invents them: its near-dup drop set is a
    # subset, so before the semantic stage it keeps a superset. The
    # semantic stage then sees a (possibly) larger survivor pool, which
    # can only drop docs that the exact tier already dropped earlier or
    # keeps — either way every exact-tier KEPT doc that LSH also kept
    # through near-dup must appear, unless semantic dropped it against
    # an LSH-extra survivor. Assert the practical invariant instead:
    # both runs keep a non-trivial set and LSH's near-dup drops are a
    # subset of exact's.
    assert _ids(r["dropped_neardup"]) <= _ids(exact["dropped_neardup"])
    assert kept_lsh and kept_exact


def test_incremental_paragraph_two_batch_parity(spark, docs, eval_docs):
    """Round-6 stage: two-batch ordered ingest with paragraph dedup
    (state of every kept paragraph) + span dedup == the batch
    pretraining_pipeline with the same stages on — kept payload AND
    per-stage drop counts. Boilerplate is planted per source (the
    repeated-footer shape), so the paragraph stage does real work in
    both forms."""
    from bigdata_cookbook_spark.workflows import pretraining_pipeline

    planted = docs.withColumn(
        "text",
        F.concat(
            F.lit("BOILERPLATE-"),
            F.col("source"),
            F.lit("\n"),
            F.col("text"),
        ),
    )
    ref = pretraining_pipeline(
        planted,
        eval_df=eval_docs,
        paragraph_dedup_sep="\n",
        span_dedup_tokens=5,
    )
    want_clean = {tuple(r) for r in ref["clean"].collect()}
    acc = {r.stage: r.n_dropped for r in ref["accounting"].collect()}
    ref["clean"].unpersist()

    mid = planted.approxQuantile("doc_id", [0.5], 0.0)[0]
    b1 = planted.filter(F.col("doc_id") <= mid)
    b2 = planted.filter(F.col("doc_id") > mid)
    r1 = incremental_corpus_clean(
        b1, eval_df=eval_docs, paragraph_sep="\n", span_tokens=5
    )
    assert "new_paras" in r1
    r2 = incremental_corpus_clean(
        b2,
        seen_hashes=r1["new_hashes"],
        shingle_state=r1["new_shingles"],
        eval_df=eval_docs,
        paragraph_sep="\n",
        para_state=r1["new_paras"],
        span_tokens=5,
        span_state=r1["new_spans"],
    )
    got_clean = {tuple(r) for r in r1["kept"].collect()} | {
        tuple(r) for r in r2["kept"].collect()
    }
    assert got_clean == want_clean
    for key in (
        "dropped_quality",
        "dropped_exact",
        "dropped_neardup",
        "dropped_contaminated",
    ):
        n = r1[key].count() + r2[key].count()
        assert n == acc[key], (key, n, acc[key])
    # the paragraph state carries (para_hash, para) and holds the
    # planted boilerplate exactly once across both deltas
    boiler1 = {
        r["para"]
        for r in r1["new_paras"].collect()
        if r["para"].startswith("BOILERPLATE-")
    }
    boiler2 = {
        r["para"]
        for r in r2["new_paras"].collect()
        if r["para"].startswith("BOILERPLATE-")
    }
    assert boiler1 and not (boiler1 & boiler2)


def test_incremental_eval_bloom_parity(spark, docs, eval_docs):
    """A prebuilt eval Bloom filter routed through every micro-batch
    changes no row of any output — kept and dropped_contaminated are
    identical with and without the prefilter, across both batches."""
    from bigdata_cookbook_spark.operators.dedup import build_shingle_bloom

    bloom = build_shingle_bloom(
        eval_docs, n=8, bits_per_item=12, n_hashes=5
    )
    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    b1 = docs.filter(F.col("doc_id") <= mid)
    b2 = docs.filter(F.col("doc_id") > mid)

    plain1 = incremental_corpus_clean(b1, eval_df=eval_docs, contamination_n=8)
    plain2 = incremental_corpus_clean(
        b2,
        seen_hashes=plain1["new_hashes"],
        shingle_state=plain1["new_shingles"],
        eval_df=eval_docs,
        contamination_n=8,
    )
    blm1 = incremental_corpus_clean(
        b1, eval_df=eval_docs, contamination_n=8, eval_bloom=bloom
    )
    blm2 = incremental_corpus_clean(
        b2,
        seen_hashes=blm1["new_hashes"],
        shingle_state=blm1["new_shingles"],
        eval_df=eval_docs,
        contamination_n=8,
        eval_bloom=bloom,
    )
    for key in ("kept", "dropped_contaminated"):
        assert _ids(plain1[key]) == _ids(blm1[key]), key
        assert _ids(plain2[key]) == _ids(blm2[key]), key
    assert _ids(plain1["dropped_contaminated"]) | _ids(
        plain2["dropped_contaminated"]
    ) == _ids(blm1["dropped_contaminated"]) | _ids(blm2["dropped_contaminated"])


def test_incremental_pinned_prune_thresholds(spark, docs):
    """The streaming prune applies a PINNED snapshot threshold: two
    batches pruned against thresholds computed over the full corpus
    equal the batch capstone's prune of the same clean set — and a
    domain absent from the threshold table is dropped, never passed."""
    from bigdata_cookbook_spark.operators.corpus import (
        corpus_clean,
        quality_prune,
        quality_prune_thresholds,
    )

    batch = corpus_clean(docs)
    thr = quality_prune_thresholds(
        batch["kept"], "n_tokens", "source", keep_frac=0.5
    ).persist()
    thr.count()

    mid = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    b1 = docs.filter(F.col("doc_id") <= mid)
    b2 = docs.filter(F.col("doc_id") > mid)
    r1 = incremental_corpus_clean(b1, prune_thresholds=thr)
    r2 = incremental_corpus_clean(
        b2,
        seen_hashes=r1["new_hashes"],
        shingle_state=r1["new_shingles"],
        prune_thresholds=thr,
    )
    inc_kept = _ids(r1["kept"]) | _ids(r2["kept"])
    want = _ids(quality_prune(batch["kept"], "n_tokens", "source", thresholds=thr))
    assert inc_kept == want
    assert _ids(r1["dropped_quality_prune"]) | _ids(
        r2["dropped_quality_prune"]
    ) == _ids(batch["kept"]) - want

    # fail-closed: a threshold table missing a domain drops that domain
    partial_thr = thr.filter(F.col("source") != "src0")
    r = incremental_corpus_clean(b1, prune_thresholds=partial_thr)
    assert all(s != "src0" for s in {x.source for x in r["kept"].collect()})
    thr.unpersist()


def test_incremental_line_filter_stage(spark, docs):
    """Round-8 line-wise corrections in the streaming tier: stateless
    stage, FIRST in the chain — mostly-boilerplate docs drop whole into
    dropped_line_filter, survivors' token counts reflect the CLEANED
    text, and the batch split is invisible (two batches == one)."""
    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 11 == 0,
            F.concat_ws(
                "\n",
                F.lit("MENU HOME NEWS"),
                F.lit("All rights reserved. Sign in."),
                F.substring(F.col("text"), 1, 8),
            ),
        ).otherwise(F.concat_ws("\n", F.lit("MENU HOME NEWS"), F.col("text"))),
    )
    mid = planted.approxQuantile("doc_id", [0.5], 0.0)[0]
    b1 = planted.filter(F.col("doc_id") <= mid)
    b2 = planted.filter(F.col("doc_id") > mid)

    r1 = incremental_corpus_clean(b1, line_filter=True)
    r2 = incremental_corpus_clean(
        b2,
        seen_hashes=r1["new_hashes"],
        shingle_state=r1["new_shingles"],
        line_filter=True,
    )
    line_dropped = _ids(r1["dropped_line_filter"]) | _ids(r2["dropped_line_filter"])
    assert line_dropped and all(i % 11 == 0 for i in line_dropped)

    # one-batch run sees the identical stage outcome (stateless stage)
    r_all = incremental_corpus_clean(planted, line_filter=True)
    assert _ids(r_all["dropped_line_filter"]) == line_dropped
    assert _ids(r_all["kept"]) == _ids(r1["kept"]) | _ids(r2["kept"])

    # survivors scored on the CLEANED text: token counts equal the
    # unplanted corpus's for the shared survivor ids
    base = incremental_corpus_clean(docs)
    base_tok = {
        r.doc_id: r.n_tokens for r in base["kept"].collect()
    }
    got_tok = {r.doc_id: r.n_tokens for r in r_all["kept"].collect()}
    shared = set(base_tok) & set(got_tok)
    assert shared and all(got_tok[i] == base_tok[i] for i in shared)


def test_incremental_dsir_gate_stage(spark, docs):
    """Round-8 DSIR gate in the streaming tier: the model is fit
    OFFLINE (collected lr list) and the gate is a stateless per-row
    predicate — spiked on-target docs pass, others drop into
    dropped_dsir_gate, and the batch split is invisible."""
    from bigdata_cookbook_spark.operators.selection import (
        collect_logratio,
        dsir_logratio_table,
    )

    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.expr(
                    "repeat(concat(' alignment safety evals v', "
                    "cast(doc_id as string)), 10)"
                ),
            ),
        ).otherwise(F.col("text")),
    )
    # offline fit: target = the spiked snapshot subset, raw = snapshot
    target = planted.filter(F.col("doc_id") % 7 == 0).select("text")
    lr = collect_logratio(
        dsir_logratio_table(target, planted, n_buckets=128)
    )

    mid = planted.approxQuantile("doc_id", [0.5], 0.0)[0]
    b1 = planted.filter(F.col("doc_id") <= mid)
    b2 = planted.filter(F.col("doc_id") > mid)

    r1 = incremental_corpus_clean(b1, dsir_lr=lr, dsir_threshold=0.0)
    r2 = incremental_corpus_clean(
        b2,
        seen_hashes=r1["new_hashes"],
        shingle_state=r1["new_shingles"],
        dsir_lr=lr,
        dsir_threshold=0.0,
    )
    gated = _ids(r1["dropped_dsir_gate"]) | _ids(r2["dropped_dsir_gate"])
    assert gated and all(i % 7 != 0 for i in gated)
    kept = _ids(r1["kept"]) | _ids(r2["kept"])
    assert kept and all(i % 7 == 0 for i in kept)

    # stateless: one-batch run sees the identical gate outcome
    r_all = incremental_corpus_clean(planted, dsir_lr=lr, dsir_threshold=0.0)
    assert _ids(r_all["dropped_dsir_gate"]) == gated
    assert _ids(r_all["kept"]) == kept


def test_incremental_dsir_gate_respects_salt(spark, docs):
    """A model fit with a non-default bucket salt must be scored with
    the SAME salt (dsir_salt passes through to dsir_score_expr).

    Note the salt does NOT merely relabel buckets — it changes which
    grams COLLIDE at a fixed n_buckets, so per-doc scores differ
    between salted and unsalted fits. The gate outcome still matches
    here because the planted on-target margin dominates
    bucket-collision noise; what this test pins is (a) matched
    fit/gate salts reproduce the planted outcome, and (b) scoring the
    salted model WITHOUT its salt — the bug the parameter exists to
    prevent — garbles the gate."""
    from bigdata_cookbook_spark.operators.selection import (
        collect_logratio,
        dsir_logratio_table,
    )

    planted = docs.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 7 == 0,
            F.concat(
                F.col("text"),
                F.expr(
                    "repeat(concat(' alignment safety evals v', "
                    "cast(doc_id as string)), 10)"
                ),
            ),
        ).otherwise(F.col("text")),
    )
    target = planted.filter(F.col("doc_id") % 7 == 0).select("text")
    lr_plain = collect_logratio(
        dsir_logratio_table(target, planted, n_buckets=128)
    )
    lr_salted = collect_logratio(
        dsir_logratio_table(target, planted, n_buckets=128, salt="s1")
    )

    r_plain = incremental_corpus_clean(
        planted, dsir_lr=lr_plain, dsir_threshold=0.0
    )
    r_salted = incremental_corpus_clean(
        planted, dsir_lr=lr_salted, dsir_threshold=0.0, dsir_salt="s1"
    )
    # matched fit/gate salts reproduce the planted outcome (the spiked
    # margin dominates collision noise on this corpus)
    assert _ids(r_salted["dropped_dsir_gate"]) == _ids(
        r_plain["dropped_dsir_gate"]
    )
    assert _ids(r_salted["kept"]) == _ids(r_plain["kept"])
    assert _ids(r_plain["kept"]) and all(
        i % 7 == 0 for i in _ids(r_plain["kept"])
    )

    # the failure mode the parameter prevents: scoring the salted model
    # WITHOUT its salt buckets grams against the wrong log-ratios — the
    # gate no longer reproduces the planted outcome
    r_mismatch = incremental_corpus_clean(
        planted, dsir_lr=lr_salted, dsir_threshold=0.0
    )
    assert _ids(r_mismatch["kept"]) != _ids(r_plain["kept"])


def test_null_text_and_lang_rows_are_booked(spark):
    """A NULL-text, a NULL-lang and an empty-text document each land in
    exactly one output bucket — batch, single incremental batch with the
    line filter on, and two-batch ingest alike. NULL fails the quality
    gate (and the line filter's keep rule) instead of vanishing from
    both sides of its split."""
    prose = (
        "the committee said that the company would report its results "
        "for the quarter on monday and that the outlook for the year "
        "was stable with demand in the core markets holding up well"
    )
    other = (
        "a separate filing showed the bank raised its dividend after a "
        "strong year for lending and the board approved a new buyback "
        "plan that will run through the end of next year"
    )
    rows = [
        (1, prose, "en", "news"),
        (2, None, "en", "news"),
        (3, other, None, "filings"),
        (4, "", "en", "news"),
        (5, prose, "en", "filings"),
        (6, other, "en", "filings"),
    ]
    df = spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string"
    )
    ids = [r[0] for r in rows]

    def booked(*results):
        got = []
        for res in results:
            for key, frame in res.items():
                if key == "kept" or key.startswith("dropped_"):
                    got += [r.doc_id for r in frame.select("doc_id").collect()]
        return sorted(got)

    assert booked(corpus_clean(df)) == ids
    assert booked(incremental_corpus_clean(df, line_filter=True)) == ids
    r1 = incremental_corpus_clean(df.filter(F.col("doc_id") <= 3))
    r2 = incremental_corpus_clean(
        df.filter(F.col("doc_id") > 3),
        seen_hashes=r1["new_hashes"],
        shingle_state=r1["new_shingles"],
    )
    assert booked(r1, r2) == ids

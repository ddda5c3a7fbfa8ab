"""End-to-end corpus cleaning (training-data pipeline capstone).

The canonical pre-training data flow over a raw document corpus:

    quality filter  ->  exact dedup  ->  near-dup removal

composed from the engine's own tiers (functions/text.py quality exprs,
hash-group exact dedup, inverted-index n-gram Jaccard — swap in
minhash_lsh_candidates as the candidate generator at 100 TB). Every
stage keeps its drop set, so the pipeline reports WHAT it removed and
why — the property a production data pipeline is audited on.

Determinism: survivors of an exact-dup group = min doc_id; of a near-dup
pair = the smaller doc_id (greedy on the pair list; pairs are symmetric
and the relation is applied as "drop any doc that is the larger side of
any pair", which over-drops chains slightly but is order-independent —
declared engine semantics, same in the SQL oracle).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_cookbook_spark.functions.text import gopher_repetition, quality_exprs
from bigdata_cookbook_spark.operators.dedup import ngram_jaccard_pairs
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
    """Returns {kept, dropped_quality, dropped_exact, dropped_neardup}
    (+ dropped_contaminated AND pre_contamination_kept when ``eval_df``
    is given — the latter is NOT a drop bucket: it is the
    pre-decontamination survivor set, exposed so accounting callers can
    persist the shared prefix; see workflows.pretraining_pipeline).

    ``repetition_filter=True`` additionally applies the Gopher n-gram
    repetition rules (functions/text.gopher_repetition) to the
    quality-passing documents — failures land in dropped_quality
    alongside the basic-quality drops. Requires ``min_tokens >= 10``
    (every rule needs a 10-gram; the prior length filter is what
    guarantees one), enforced with a ValueError.

    kept = quality-passing, exact-canonical, near-dup-free documents —
    and, with an eval benchmark set supplied, decontaminated: any
    surviving doc whose n-gram containment of an eval doc reaches
    ``contamination_threshold`` (operators/dedup.contamination_pairs) is
    dropped last, so dedup never masks a contamination hit.

    ``broadcast_eval`` passes through to contamination_pairs: leave True
    only when eval_df is benchmark-sized (the broadcast contract there);
    set False for an eval side that scales with the corpus.

    ``jaccard_df_cap`` passes through to ngram_jaccard_pairs: REQUIRED
    at corpus scale (the exact form's self-join is quadratic on
    vocabulary-saturated corpora — sf1-rehearsal finding, measured in
    BASELINE.md §D); None keeps the exact oracle-tier semantics.

    ``bloom_decontaminate=True`` swaps the decontamination join for the
    Bloom-prefiltered tier (dedup.bloom_contamination) — bit-identical
    drop set (false positives verified away, false negatives
    impossible), but the corpus side streams through a map-side probe
    of a <=2 MiB filter instead of entering the full shingle join; the
    100 TB default when eval_df is benchmark-sized.

    ``near_dup`` picks the near-dup tier (the batch twin of
    streaming/pipeline's option, closing the one asymmetry between the
    two pipelines):

    - ``"exact"`` (default, the oracle tier): the full inverted-index
      Jaccard self-join (dedup.ngram_jaccard_pairs), optionally
      df-capped — every qualifying pair is found.
    - ``"lsh"``: the 100 TB funnel — MinHash band buckets generate
      candidate pairs (dedup.minhash_lsh_candidates at
      ``lsh_num_hashes``/``lsh_band_size``), exact Jaccard verifies
      ONLY the candidates (dedup.jaccard_verify_pairs: cost bounded by
      |candidates| x shingles/doc, never the self-join's sum(df^2)).
      The drop set is a SUBSET of the exact tier's (banding recall
      < 1 is the documented trade; verification guarantees no false
      drops), so accounting comparisons across tiers are one-sided by
      construction. Measured recall on the real corpus at sf1
      (tools/lsh_recall.py, BASELINE.md §K): drop recall 0.980 at
      jaccard >= 0.5 and 1.0 at >= 0.7/0.8 with the defaults;
      ``lsh_num_hashes=24`` is the recall knob (1.0 at every
      threshold, 2x signature cost, verify stage unchanged).
    """
    # spread the scan for the quality battery (token split + stopword
    # fold per document; a no-op at cluster scale, where file splits
    # provide the parallelism)
    docs = spread_for_cpu_bound(docs)
    feats = quality_exprs(F.col("text"))
    scored = docs.select(
        "doc_id",
        "text",
        "lang",
        "source",
        feats["n_tokens"].alias("n_tokens"),
        feats["stopword_ratio"].alias("stopword_ratio"),
    )
    quality_ok = (
        (F.col("lang") == lang)
        & (F.col("n_tokens") >= min_tokens)
        & (F.col("stopword_ratio") <= max_stopword_ratio)
    )
    passed = scored.filter(quality_ok)
    dropped_quality = scored.filter(~quality_ok).select("doc_id")

    if repetition_filter:
        if min_tokens < 10:
            raise ValueError(
                "repetition_filter requires min_tokens >= 10 (every "
                "repetition rule needs a 10-gram, and the length filter "
                "is what guarantees one)"
            )
        verdict = gopher_repetition(passed.select("doc_id", "text"))
        dropped_quality = dropped_quality.unionByName(
            verdict.filter(~F.col("keep")).select("doc_id")
        )
        passed = passed.join(
            verdict.filter(F.col("keep")).select("doc_id"), "doc_id", "left_semi"
        )

    # `passed` feeds the canon groupBy AND the keeper semi-join, and
    # `exact_kept` feeds the near-dup tier's shingle index (twice, via
    # the self-join) AND the final anti-join — without materialization
    # the scan + quality battery + exact dedup re-execute once per
    # consumer. Two lazy localCheckpoints truncate the lineage at both
    # fan-out points. Storage trade at 100 TB: two materializations of the survivor
    # corpus (MEMORY_AND_DISK); a production run that wants durability
    # instead should stage the survivors through
    # plans/checkpoint.stage_checkpoint — same pattern, parquet-backed.
    passed = passed.localCheckpoint(eager=False)
    canon = passed.groupBy("text").agg(F.min("doc_id").alias("doc_id"))
    exact_kept = passed.join(canon.select("doc_id"), "doc_id", "left_semi")
    exact_kept = exact_kept.localCheckpoint(eager=False)
    dropped_exact = passed.join(canon.select("doc_id"), "doc_id", "left_anti").select(
        "doc_id"
    )

    if near_dup not in ("exact", "lsh"):
        raise ValueError(f"near_dup must be 'exact' or 'lsh', got {near_dup!r}")
    if near_dup == "lsh" and jaccard_df_cap is not None:
        # fail loud instead of silently scoring with uncapped shingle
        # sets: the cap changes WHICH pairs qualify (capped Jaccard
        # deliberately ignores boilerplate-only overlap), so accepting
        # both would break the lsh-is-a-subset-of-what-you-ran contract;
        # the lsh verify is already bounded by |candidates| and needs no
        # cap
        raise ValueError(
            "jaccard_df_cap applies to the exact tier's inverted-index "
            "self-join only; the lsh tier's candidate verify is already "
            "bounded. Drop the cap or use near_dup='exact'."
        )
    if near_dup == "lsh":
        from bigdata_cookbook_spark.operators.dedup import (
            jaccard_verify_pairs,
            minhash_lsh_candidates,
        )

        cand = minhash_lsh_candidates(
            exact_kept, num_hashes=lsh_num_hashes, band_size=lsh_band_size
        )
        # Materialize the candidate list once (lazy localCheckpoint —
        # same precedent as graph.connected_components): the pair list
        # itself is SMALL (bounded by banding collisions) but its
        # lineage is the full MinHash banding DAG over the corpus, and
        # the verify stage references it from three places (the
        # candidate-doc corpus prune + both join sides) while the
        # accounting pass and the kept/dropped splits each re-trigger
        # it per action. Without this, the banding DAG re-executes
        # once per reference.
        cand = cand.localCheckpoint(eager=False)
        pairs = jaccard_verify_pairs(
            exact_kept, cand, threshold=jaccard_threshold
        )
    else:
        pairs = ngram_jaccard_pairs(
            exact_kept, threshold=jaccard_threshold, df_cap=jaccard_df_cap
        )
    near_losers = pairs.select(F.col("doc_b").alias("doc_id")).distinct()
    kept = exact_kept.join(near_losers, "doc_id", "left_anti")
    out = {
        "dropped_quality": dropped_quality,
        "dropped_exact": dropped_exact,
        "dropped_neardup": near_losers,
    }
    if eval_df is not None:
        from bigdata_cookbook_spark.operators.dedup import (
            bloom_contamination,
            contamination_pairs,
        )

        # the pre-decontamination survivor set, exposed so accounting
        # callers (workflows.pretraining_pipeline) can persist it: the
        # contamination drop count otherwise re-executes the whole
        # quality -> exact -> near-dup lineage
        out["pre_contamination_kept"] = kept
        _contam = bloom_contamination if bloom_decontaminate else contamination_pairs
        contaminated = (
            _contam(
                kept,
                eval_df,
                n=contamination_n,
                threshold=contamination_threshold,
                # decontamination must flag the training COPY of an eval
                # doc too — never exempt a pair on id equality here
                exclude_self=False,
                broadcast_eval=broadcast_eval,
            )
            .select(F.col("train_id").alias("doc_id"))
            .distinct()
        )
        kept = kept.join(contaminated, "doc_id", "left_anti")
        out["dropped_contaminated"] = contaminated
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


def line_filter_split(
    docs: DataFrame, stage: Callable[[DataFrame], DataFrame] | None = None
) -> tuple[DataFrame, DataFrame]:
    """RefinedWeb line-wise corrections as a pipeline stage: returns
    (kept, dropped) where kept is (doc_id, text, lang, source) carrying
    the line-cleaned text and dropped is the doc_ids whose kept text
    fell under half the original (functions/text.line_filter_exprs).

    Both outputs read one staged (doc_id, clean, keep, lang, source)
    frame; ``stage`` (e.g. a persist or localCheckpoint) is applied to
    it so the line battery runs once for both.
    """
    from bigdata_cookbook_spark.functions.text import line_filter_exprs

    lf = line_filter_exprs(F.col("text"))
    staged = docs.select(
        "doc_id",
        lf["text_clean"].alias("__clean"),
        lf["doc_keep"].alias("__keep"),
        "lang",
        "source",
    )
    if stage is not None:
        staged = stage(staged)
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

"""Near-duplicate detection operators (training-data pipeline tier).

Four tiers, all shuffle-planned for 100 TB:

- exact: hash-groupBy on normalized text (one shuffle on text hash).
- n-gram Jaccard: exact pairwise Jaccard restricted to candidate pairs that
  share >= 1 shingle (inverted-index self-join). Correct but O(pairs) —
  the verification stage after LSH at scale.
- MinHash + LSH: md5-string min-hashing -> banded signatures -> bucket
  join. Only docs sharing a band bucket are paired; cost is bounded by
  bucket sizes, not n^2. md5-as-string keeps the hash family identical in
  Spark and the DuckDB oracle; a production deployment would swap
  xxhash64 ints (same semantics, cheaper) — the band/bucket algebra is
  unchanged.
- SimHash: per-bit majority vote over token md5 bits -> 16-bit signature;
  exact-signature buckets are near-dup candidates.

Embedding-cosine near-dup lives in operators/similarity.py.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_cookbook_spark.functions.text import shingles_from_tokens, tokens_expr
from bigdata_cookbook_spark.sources.testdata import spread_for_cpu_bound


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Canonical (min id) per distinct text + dup count."""
    return df.groupBy(text_col).agg(
        F.min(id_col).alias("canonical_doc_id"),
        F.count(F.lit(1)).alias("n_dups"),
    ).select("canonical_doc_id", "n_dups")


def doc_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    repartition: bool = True,
) -> DataFrame:
    """(id, shingle) exploded inverted-index rows; empty-shingle docs drop.

    Repartitions by doc_id BEFORE shingling: (a) shingling cost spreads
    over all cores even when the source is one parquet row group, and
    (b) the output inherits hashpartitioning(doc_id), so the per-doc
    aggregations downstream (minhash_signature's groupBy) reuse it —
    the shuffle moves compact documents, never the ~50x larger exploded
    shingle rows. Pass ``repartition=False`` for a side that is tiny and
    about to be broadcast (e.g. contamination_pairs' eval index) — the
    spread buys nothing there and the Exchange disappears.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    src = df.repartition(par, id_col) if repartition else df
    return (
        src
        # stage the token array as a bound column BEFORE the higher-order
        # shingle transform, and guard short docs with a FILTER, not a
        # when() around the transform (see shingles_from_tokens contract)
        .select(F.col(id_col).alias("doc_id"), tokens_expr(F.col(text_col)).alias("__toks"))
        .filter(F.size("__toks") >= n)
        # explode FUSED over the transform: an intermediate aliased array
        # projection re-routes the HOF through the interpreted path
        # (measured 8 s vs 0.3 s at 5 k docs)
        .select("doc_id", F.explode(shingles_from_tokens(F.col("__toks"), n)).alias("shingle"))
    )


def _jaccard_from_counts():
    """``jaccard`` = round(n_common / (n_a + n_b - n_common), 4): the
    Jaccard of two shingle sets from their sizes and intersection count
    (|A∪B| = |A| + |B| - |A∩B|), the one scoring rule of every
    near-dup tier."""
    return F.round(
        F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common")), 4
    ).alias("jaccard")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    df_cap: int | None = None,
) -> DataFrame:
    """Doc pairs with word-n-gram Jaccard >= threshold.

    Inverted-index self-join on shingle (only co-shingled pairs are ever
    materialized), then |A∩B| via pair count and |A∪B| = |A|+|B|-|A∩B|.
    At 100 TB, run after LSH banding (minhash_lsh_candidates) to bound the
    join — and set ``df_cap``.

    ``df_cap``: the self-join materializes sum(df^2) rows over the
    shingle document frequencies, so on corpora whose shingle vocabulary
    saturates (templated/boilerplate text — the norm for web-scale
    dedup), df grows linearly with corpus size and the join
    QUADRATICALLY (2.8M join rows at 5k docs -> 249M at 50k docs). With
    ``df_cap=k``, shingles occurring in more than k documents are
    dropped on BOTH sides before the join — Jaccard is then computed
    over the capped shingle sets (|A|,|B| too, so the score stays
    internally consistent): pairs whose only overlap is ultra-common
    boilerplate count as non-duplicates, which is the behavior
    production dedup wants from its stopword-shingle guard, and the join
    bound becomes sum(min(df,k)^2) <= k * corpus instances — linear in
    the corpus. The hot-shingle set (df > k) is the Zipf head, at most
    instances/k entries, broadcast as a left-anti so the doc_id
    partitioning of the shingle rows survives untouched. The exact
    (df_cap=None) form stays the default and the oracle tier;
    ``ngram_jaccard_capped`` oracles the capped form end-to-end. A
    cooccurrence-style group-expand (repartition to shingle, window df
    count, collect doc lists <= cap, in-array pair explode) computes
    shingles once but loses to this form: the per-shingle window sort
    over the exploded rows costs more than the parallel anti-join.
    """
    from pyspark.sql import Window

    # join on xxhash64(shingle), not the shingle string: the equi-join
    # key drops from a ~25-byte UTF8 string to a fixed 8-byte long, which
    # shrinks the self-join shuffle and speeds the hash probe. A 64-bit
    # collision between two DISTINCT shingles of co-bucketed docs would
    # inflate n_common by 1; P < (distinct shingles)^2 / 2^64 ~ 1e-8 at sf0.1 and
    # still negligible at the 100 TB tier per join partition. The DuckDB
    # oracle intersects the strings themselves — the hash is invisible in
    # results.
    sh = doc_shingles(df, text_col, id_col, n).select(
        "doc_id", F.xxhash64("shingle").alias("shingle")
    )
    if df_cap is not None:
        # the raw shingle-hash table feeds the hot-shingle build AND the
        # anti-join's left side; it is NARROW (16 bytes/shingle), so
        # one lazy localCheckpoint keeps the tokenize+shingle+hash
        # battery from running twice at any scale. The exact
        # (df_cap=None) oracle tier is untouched.
        sh = sh.localCheckpoint(eager=False)
        hot = (
            sh.groupBy("shingle")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") > df_cap)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    # carry |shingles(doc)| on every row via a window (input is already
    # hash-partitioned by doc_id, so this is sort-only, no shuffle) — the
    # two size lookups then ride along the join instead of needing two
    # extra joins, and both self-join sides share ONE identical exchange
    # on shingle, which Spark's exchange reuse computes once.
    wsz = sh.withColumn("n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    a = wsz.alias("a")
    b = wsz.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = inter.select("doc_a", "doc_b", _jaccard_from_counts())
    return jac.filter(F.col("jaccard") >= threshold)


def contamination_pairs(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    threshold: float = 0.5,
    exclude_self: bool = True,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Benchmark-contamination check: training docs whose n-gram overlap
    CONTAINS a large fraction of an eval doc.

    For each (train, eval) pair that shares at least one word n-gram,
    containment = |ngrams(train) ∩ ngrams(eval)| / |ngrams(eval)| — the
    asymmetric score used for decontamination (a long train doc fully
    embedding a short eval doc scores 1.0 where Jaccard would dilute it).
    Pairs with containment >= threshold are flagged for removal from the
    training side.

    ``exclude_self`` drops train_id == eval_id pairs — right when the
    eval set is a SUBSET of the corpus and you are only surveying
    cross-document leakage (the q_benchmark_contamination query). For
    actual decontamination set it False: the training copy of an eval
    doc is the worst contaminator of all and must be flagged, id
    collision or not (corpus_clean does this).

    Same inverted-index shape as ngram_jaccard_pairs: only co-shingled
    pairs materialize; the join runs on xxhash64(shingle) longs (oracle
    intersects the strings — hashes never reach the result).

    ``broadcast_eval`` (default True) hints the eval shingle index for
    broadcast — the force-hint bypasses Spark's size threshold, so the
    default is a CONTRACT that eval_df is benchmark-sized (at most a few
    GB of shingles: every executor holds a full copy). For an eval side
    that scales with the corpus — or whenever the contract is in doubt —
    pass False: same plan shape with a shuffle hash join on the shingle
    key, no driver/executor memory cliff. The corpus side streams
    through in one pass either way. At 100 TB add the
    document-frequency cap on shingles before the join (stopword-like
    n-grams would otherwise fan out).
    """
    tr = doc_shingles(corpus, text_col, id_col, n).select(
        F.col("doc_id").alias("train_id"), F.xxhash64("shingle").alias("sh")
    )
    # eval side: skip the pre-shingle spread only when it is about to be
    # broadcast (doc_shingles' contract); on the shuffle tier the eval
    # set scales with the corpus and its shingling needs the same
    # scan-parallelism guard as the training side
    ev = doc_shingles(
        eval_df, text_col, id_col, n, repartition=not broadcast_eval
    ).select(F.col("doc_id").alias("eval_id"), F.xxhash64("shingle").alias("sh"))
    ev_sz = ev.groupBy("eval_id").agg(F.count(F.lit(1)).alias("n_eval"))
    ev_side = F.broadcast(ev) if broadcast_eval else ev.hint("shuffle_hash")
    inter = (
        tr.join(ev_side, "sh")
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sz_side = F.broadcast(ev_sz) if broadcast_eval else ev_sz
    out = inter.join(sz_side, "eval_id").select(
        "train_id",
        "eval_id",
        F.round(F.col("n_common") / F.col("n_eval"), 4).alias("containment"),
    )
    out = out.filter(F.col("containment") >= threshold)
    if exclude_self:
        out = out.filter(F.col("train_id") != F.col("eval_id"))
    return out


def contamination_report(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    threshold: float = 0.5,
    broadcast_eval: bool = True,
) -> DataFrame:
    """Per-EVAL-doc contamination audit — the report a benchmark owner
    reads before trusting scores, complementing contamination_pairs'
    training-side drop list (the reference has no analogue; public
    practice: the per-benchmark overlap tables in LLM data-contamination
    appendices).

    For every eval doc with at least one n-gram (the auditable
    universe):

        (eval_id,
         n_flagged         — distinct corpus docs at containment >=
                             threshold (self pairs excluded),
         max_containment   — the WORST leak, over ALL co-shingled
                             corpus docs, not just flagged ones: a 0.45
                             under a 0.5 threshold is exactly what this
                             report exists to surface,
         top_train_id      — the argmax corpus doc, ties broken by
                             smallest id; NULL when nothing co-shingles)

    Eval docs sharing no n-gram with the corpus appear with
    (0, 0.0, NULL) — absence of evidence is part of the audit.

    Same inverted-index join shape and ``broadcast_eval`` contract as
    contamination_pairs (one corpus-shingle pass, join keyed on
    xxhash64 longs); the extra cost over the pairs form is one
    map-side-combined aggregate keyed by eval_id (benchmark-sized) that
    also takes in the eval universe. At 100 TB the same df-cap guidance
    applies to the shingle join.
    """
    tr = doc_shingles(corpus, text_col, id_col, n).select(
        F.col("doc_id").alias("train_id"), F.xxhash64("shingle").alias("sh")
    )
    ev = doc_shingles(
        eval_df, text_col, id_col, n, repartition=not broadcast_eval
    ).select(F.col("doc_id").alias("eval_id"), F.xxhash64("shingle").alias("sh"))
    ev_sz = ev.groupBy("eval_id").agg(F.count(F.lit(1)).alias("__n_eval"))
    ev_side = F.broadcast(ev) if broadcast_eval else ev.hint("shuffle_hash")
    inter = (
        tr.join(ev_side, "sh")
        .filter(F.col("train_id") != F.col("eval_id"))
        .groupBy("train_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("__n_common"))
    )
    sz_side = F.broadcast(ev_sz) if broadcast_eval else ev_sz
    scored = inter.join(sz_side, "eval_id").select(
        "eval_id",
        "train_id",
        F.round(F.col("__n_common") / F.col("__n_eval"), 4).alias("__c"),
    )
    # the eval universe enters the per-eval aggregate as one NULL-score
    # row per eval doc instead of through a left join back: the union
    # rides the aggregate's own exchange, where a join would need both
    # sides co-partitioned (an extra exchange whenever the shingle
    # spread width differs from the shuffle width). A NULL row counts
    # toward nothing: no flag, no max, and its struct loses to any
    # scored struct — an eval doc with no co-shingled corpus doc gets
    # (0, NULL -> 0.0, NULL).
    universe = ev_sz.select(
        "eval_id",
        F.lit(None).cast(scored.schema["train_id"].dataType).alias("train_id"),
        F.lit(None).cast("double").alias("__c"),
    )
    # argmax by (containment desc, train_id asc): max of a struct whose
    # second field is the NEGATED id — larger neg == smaller id
    return (
        scored.unionByName(universe)
        .groupBy("eval_id")
        .agg(
            F.count(F.when(F.col("__c") >= threshold, True))
            .cast("int")
            .alias("n_flagged"),
            F.coalesce(F.max("__c"), F.lit(0.0)).alias("max_containment"),
            F.max(
                F.struct(
                    F.col("__c").alias("c"),
                    (-F.col("train_id")).alias("neg"),
                    F.col("train_id").alias("tid"),
                )
            )["tid"].alias("top_train_id"),
        )
    )


@dataclass(frozen=True)
class ShingleBloom:
    """A Bloom filter over xxhash64(shingle) longs, held as a dense array
    of ``m // 64`` bit-words. Driver-resident by contract: at the default
    ``max_bits`` cap (2^24) the filter is at most 2 MiB — the same
    bounded-collect contract as the SRP plane list (srp_planes)."""

    words: tuple
    m: int  # power-of-two bit count
    k: int  # hash functions
    n_items: int  # distinct shingles inserted


def build_shingle_bloom(
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    bits_per_item: int = 12,
    n_hashes: int = 5,
    max_bits: int = 1 << 24,
) -> ShingleBloom:
    """Build a Bloom filter of the eval set's word n-grams.

    One pass over the (benchmark-sized, by the same contract as
    contamination_pairs' broadcast default) eval side: distinct shingle
    hashes -> k = ``n_hashes`` bit positions each (xxhash64 re-keyed by
    the hash index, masked to the power-of-two ``m``) -> per-word bit
    sets aggregated and OR-folded on the driver. ``m`` is sized at
    ``bits_per_item`` bits per distinct shingle (capped at ``max_bits``;
    12 bits/item at k=5 gives ~0.5% false positives, and saturating the
    cap only degrades prefilter selectivity, never correctness)."""
    # round 11: the shingle battery (tokenize + gram build + hash) is
    # CPU-bound and this builder runs TWO jobs over it (the count that
    # sizes m, then the bit positions) — spread the eval scan
    # (conditional; a no-op at cluster scale) and materialize the
    # distinct hash set once with a localCheckpoint so the second job
    # reads ~8 bytes/shingle instead of re-shingling. n_items, m and
    # every bloom bit are unchanged. Measured 4.14 -> 2.66 s at sf1
    # (min-of-3, 350k distinct shingles).
    sh = (
        doc_shingles(
            spread_for_cpu_bound(eval_df), text_col, id_col, n,
            repartition=False,
        )
        .select(F.xxhash64("shingle").alias("sh"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    n_items = sh.count()
    m = 2048
    while m < min(max_bits, bits_per_item * max(n_items, 1)):
        m <<= 1
    pos = F.explode(
        F.array(
            *[
                F.xxhash64(F.col("sh"), F.lit(i)).bitwiseAND(F.lit(m - 1))
                for i in range(n_hashes)
            ]
        )
    ).alias("p")
    rows = (
        sh.select(pos)
        .select(
            F.shiftright(F.col("p"), 6).cast("int").alias("w"),
            F.col("p").bitwiseAND(F.lit(63)).cast("int").alias("b"),
        )
        .groupBy("w")
        .agg(F.collect_set("b").alias("bs"))
        .collect()
    )
    words = [0] * (m // 64)
    for r in rows:
        acc = 0
        for b in r["bs"]:
            acc |= 1 << b
        # fold to SIGNED 64-bit (bit 63 set -> negative long) so the word
        # boxes as a JVM long in the array literal
        words[r["w"]] = acc - (1 << 64) if acc >= 1 << 63 else acc
    return ShingleBloom(tuple(words), m, n_hashes, n_items)


def bloom_might_contain(bloom: ShingleBloom, col) -> "F.Column":
    """Expression-form membership test for a long-hash column: k getbit
    probes into one array literal. False positives possible (callers
    must verify exactly), false negatives impossible.

    SMALL FILTERS ONLY (unit-test / config-sized, <= a few thousand
    words): pyspark compiles the list literal to a CreateArray of one
    Literal node per word, which evaluates INTERPRETED per row — on a
    65k-word filter this measured 38 s for a 2M-row probe where the
    join form (bloom_probe_filter, what bloom_contamination uses) took
    1.3 s for identical results. The expression form survives as the
    joinless variant for filter-pushdown contexts where the bloom is
    genuinely tiny."""
    arr = F.lit(list(bloom.words))
    cond = F.lit(True)
    for i in range(bloom.k):
        p = F.xxhash64(col, F.lit(i)).bitwiseAND(F.lit(bloom.m - 1))
        word = F.element_at(arr, F.shiftright(p, 6).cast("int") + F.lit(1))
        cond = cond & (F.getbit(word, p.bitwiseAND(F.lit(63)).cast("int")) == F.lit(1))
    return cond


def bloom_probe_filter(df: DataFrame, bloom: ShingleBloom, hash_col) -> DataFrame:
    """Keep the rows whose ``hash_col`` long MIGHT be in the filter — the
    scale form of the probe: the bit-words live in a dense (index, word)
    table broadcast to every executor, and each of the k probes is one
    broadcast hash-join + getbit filter. Zero shuffles, stays on the
    codegen path, and survivors shrink after every probe so later joins
    touch fewer rows. Same result set as bloom_might_contain (parity
    tested); ~30x faster at realistic filter sizes (see its docstring)."""
    import pandas as pd

    wdf = df.sparkSession.createDataFrame(
        pd.DataFrame(
            {"__bw": range(len(bloom.words)), "__bmask": list(bloom.words)}
        )
    )
    cur = df
    for i in range(bloom.k):
        p = F.xxhash64(hash_col, F.lit(i)).bitwiseAND(F.lit(bloom.m - 1))
        cur = (
            cur.withColumn("__w", F.shiftright(p, 6).cast("int"))
            .withColumn("__b", p.bitwiseAND(F.lit(63)).cast("int"))
            .join(F.broadcast(wdf), F.col("__w") == F.col("__bw"))
            .filter(F.getbit("__bmask", F.col("__b")) == F.lit(1))
            .drop("__w", "__b", "__bw", "__bmask")
        )
    return cur


def bloom_contamination(
    corpus: DataFrame,
    eval_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    threshold: float = 0.5,
    exclude_self: bool = True,
    broadcast_eval: bool = True,
    bits_per_item: int = 12,
    n_hashes: int = 5,
    bloom: ShingleBloom | None = None,
) -> DataFrame:
    """Bloom-prefiltered benchmark decontamination — bit-identical output
    to contamination_pairs, built for the 100 TB asymmetry where the
    corpus is enormous and the eval suite is benchmark-sized.

    contamination_pairs ships EVERY corpus shingle into the shingle join
    (broadcast of the full eval index, or a full shuffle on the shuffle
    tier). Here the corpus side instead streams once through a map-side
    Bloom probe of the eval shingle set (a <=2 MiB literal on every
    executor, vs gigabytes for a broadcast shingle index); only documents
    with at least one might-match shingle re-enter the exact
    contamination join. Bloom false positives cost only wasted verify
    work and are removed by the exact join; false negatives are
    impossible (same xxhash64(shingle) key on both sides), so the result
    set equals the exact tier's — the registry entry shares
    benchmark_contamination's value oracle verbatim.

    The verify pass re-shingles the surviving documents (a second scan of
    the flagged subset) — at the design point that subset is tiny, and
    trading a re-scan for never materializing the full corpus shingle
    join is the right side of the bargain.

    ``bloom`` accepts a prebuilt filter (build_shingle_bloom over the
    SAME eval_df and n — the caller's contract): a static benchmark set
    probed repeatedly (e.g. once per ingest micro-batch) should build
    once and reuse, skipping the per-call eval scan."""
    if bloom is None:
        bloom = build_shingle_bloom(
            eval_df, text_col, id_col, n, bits_per_item, n_hashes
        )
    tr = doc_shingles(corpus, text_col, id_col, n)
    flagged = (
        bloom_probe_filter(tr, bloom, F.xxhash64("shingle"))
        .select(F.col("doc_id").alias("__flag_id"))
        .distinct()
    )
    survivors = corpus.join(
        flagged, F.col(id_col) == F.col("__flag_id"), "left_semi"
    )
    return contamination_pairs(
        survivors,
        eval_df,
        text_col,
        id_col,
        n,
        threshold,
        exclude_self,
        broadcast_eval,
    )


MINHASH_MOD = 1 << 32


def minhash_signature(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
) -> DataFrame:
    """Per-doc MinHash signature via Kirsch-Mitzenmacher double hashing:
    ONE md5 per shingle yields two 32-bit values (a, b) from its hex
    halves; component i = min over shingles of (a + i*b) mod 2^32.

    The double-hashing family (h_i = h1 + i*h2) preserves MinHash's
    guarantees (Kirsch & Mitzenmacher, "Less Hashing, Same Performance")
    while cutting the per-shingle hash work num_hashes-fold — measured
    ~2x end-to-end on the candidates query vs md5(shingle||'#'||i) per
    component. All arithmetic stays in signed-64 range (a,b < 2^32,
    i <= num_hashes), so Spark and the DuckDB oracle compute bit-equal
    signatures. One aggregation per doc — single shuffle on doc_id;
    signature width is a column count, not rows.
    """
    sh = doc_shingles(df, text_col, id_col, n)
    h = F.md5(F.encode(F.col("shingle"), "UTF-8"))
    staged = sh.select(
        "doc_id",
        F.conv(F.substring(h, 1, 8), 16, 10).cast("long").alias("__a"),
        F.conv(F.substring(h, 9, 8), 16, 10).cast("long").alias("__b"),
    )
    aggs = [
        F.min((F.col("__a") + i * F.col("__b")) % F.lit(MINHASH_MOD)).alias(f"mh{i}")
        for i in range(num_hashes)
    ]
    return staged.groupBy("doc_id").agg(*aggs)


def minhash_band_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
    band_size: int = 2,
) -> DataFrame:
    """(doc_id, band, k0..k{band_size-1}) LSH band-bucket rows — the
    persistable dedup STATE: store this table per corpus and new batches
    join against it (incremental_lsh_candidates) instead of re-signing
    the whole corpus."""
    sig = minhash_signature(df, text_col, id_col, n, num_hashes)
    # one explode instead of a union of per-band branches: the signature
    # aggregation is computed once, not num_bands times; and join sides
    # derived from this frame share one exchange via exchange reuse.
    band_structs = [
        F.struct(
            F.lit(b).alias("band"),
            *[
                F.col(f"mh{b * band_size + j}").alias(f"k{j}")
                for j in range(band_size)
            ],
        )
        for b in range(num_hashes // band_size)
    ]
    key_cols = [f"k{j}" for j in range(band_size)]
    return sig.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select("doc_id", F.col("bb.band").alias("band"), *[F.col(f"bb.{k}").alias(k) for k in key_cols])


def minhash_lsh_candidates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
    band_size: int = 2,
) -> DataFrame:
    """Candidate near-dup pairs: docs sharing any LSH band bucket.

    A band's bucket identity is its ``band_size`` signature components
    verbatim — grouped on (band, k0..k{band_size-1}) directly, no
    re-hash of the band needed. Pairs come from _bucket_pairs (one
    signature pass, one bucket exchange, in-array pair expansion, pair
    distinct). No checkpoint here: this is a headline bench query and a
    materialized subtree would let warm reps skip the signature battery
    the timer must see.
    """
    key_cols = [f"k{j}" for j in range(band_size)]
    banded = minhash_band_buckets(df, text_col, id_col, n, num_hashes, band_size)
    return _bucket_pairs(banded, key_cols)


def _bucket_pairs(banded: DataFrame, key_cols: list[str]) -> DataFrame:
    """(doc_a, doc_b) pairs, doc_a < doc_b, distinct, of docs sharing a
    (band, key_cols) bucket of a minhash_band_buckets table — the
    within-set pair rule of minhash_lsh_candidates and
    incremental_lsh_candidates.

    groupBy(bucket) + positional pair expansion over the sorted id list
    (posexplode + slice: codegen'd Generates, no interpreted lambdas).
    Unlike a bucket self-join, the signature lineage is evaluated once.
    doc_b slices strictly after doc_a in the sorted list, so a < b
    without a filter (a doc has one row per band, so ids in a bucket
    are distinct).

    Hot-bucket cost: collect_list holds each bucket's whole id array in
    a single aggregation buffer that cannot spill, and one task expands
    the bucket's quadratic pair count. A bucket self-join emits the same
    pair count as spillable join output, so a degenerate hot bucket
    (e.g. mass near-identical docs signed before exact dedup) now
    concentrates its memory on one task instead of degrading gracefully.
    Both the batch query and the streaming tier carry this profile;
    exact dedup ahead of banding is what keeps such buckets small.
    """
    grouped = (
        banded.groupBy("band", *key_cols)
        .agg(F.sort_array(F.collect_list(F.col("doc_id"))).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    e1 = grouped.select(F.col("ids"), F.posexplode("ids").alias("i", "doc_a"))
    return (
        e1.select(
            "doc_a",
            F.explode(
                F.slice(F.col("ids"), F.col("i") + F.lit(2), F.size("ids"))
            ).alias("doc_b"),
        )
        .distinct()
    )


def shingle_index(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """(doc_id, shingle, n_sh) inverted-index rows: shingle = xxhash64
    of each word n-gram (doc_shingles), n_sh = the doc's shingle count
    denormalized onto every row so a Jaccard needs no size-table join.
    The streaming tier persists exactly this schema as its shingle
    state. The n_sh window reuses doc_shingles' doc_id partitioning
    (sort-only, no shuffle); its group size is one document's shingles.
    """
    from pyspark.sql import Window

    sh = doc_shingles(df, text_col, id_col, n).select(
        "doc_id", F.xxhash64("shingle").alias("shingle")
    )
    return sh.withColumn(
        "n_sh", F.count(F.lit(1)).over(Window.partitionBy("doc_id"))
    )


def jaccard_verify_on_index(
    candidates: DataFrame, index: DataFrame, threshold: float
) -> DataFrame:
    """(doc_a, doc_b, jaccard) for the ``candidates`` pairs whose exact
    Jaccard over the shingle_index rows ``index`` reaches ``threshold``
    (4-dp rounded, the ngram_jaccard_pairs arithmetic). ``candidates``
    must be distinct: a duplicated pair doubles its intersection rows.

    Each pair expands to doc_a's shingle rows, then equi-joins the b
    side on BOTH (doc_b, sh) — intersection rows materialize directly,
    never the per-pair |sh_a| x |sh_b| cross product, and every join
    keys on candidate doc_ids, so cost is bounded by |candidates| x
    per-doc shingle count, never the inverted-index sum(df^2).
    """
    a = index.select(
        F.col("doc_id").alias("doc_a"),
        F.col("shingle").alias("sh"),
        F.col("n_sh").alias("n_a"),
    )
    b = index.select(
        F.col("doc_id").alias("doc_b"),
        F.col("shingle").alias("sh"),
        F.col("n_sh").alias("n_b"),
    )
    inter = (
        candidates.join(a, "doc_a")
        .join(b, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    jac = inter.select("doc_a", "doc_b", _jaccard_from_counts())
    return jac.filter(F.col("jaccard") >= threshold)


def jaccard_verify_pairs(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact word-n-gram Jaccard over a CANDIDATE pair list — the verify
    stage of the 100 TB near-dup funnel (LSH banding generates
    candidates, this confirms them). The streaming tier runs the same
    shingle_index + jaccard_verify_on_index pair.

    ``candidates``: (doc_a, doc_b) pairs, doc_a < doc_b. Returns the
    pairs whose exact Jaccard reaches ``threshold``, with the score —
    same orientation and columns as ngram_jaccard_pairs, so the two are
    drop-in sources for a keep-first rule.

    Scale shape: the shingle index is built only for documents that
    appear in ``candidates`` (left-semi prune before the explode), so
    the WHOLE stage — index build, n_sh window, and the joins — is
    bounded by |candidate docs| x per-doc shingle count, never the
    corpus-wide explode and never the inverted-index sum(df^2) the full
    self-join pays.
    """
    # defensively dedup the pair list: a duplicated (doc_a, doc_b) row
    # would double its intersection rows through the expand join and
    # inflate n_common multiplicatively (jaccard could exceed 1 and
    # false-drop) — minhash_lsh_candidates happens to emit distinct
    # pairs, but this function's no-false-drops contract must not
    # depend on the caller's discipline
    candidates = candidates.select("doc_a", "doc_b").distinct()
    # prune the corpus to candidate docs BEFORE shingling: when the
    # banding stage emits few candidates (the normal case), the explode
    # + n_sh window must not pay a corpus-wide pass
    cand_ids = (
        candidates.select(F.col("doc_a").alias(id_col))
        .union(candidates.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    idx = shingle_index(
        df.join(cand_ids, id_col, "left_semi"), text_col, id_col, n
    )
    return jaccard_verify_on_index(candidates, idx, threshold)


def simhash16(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """16-bit SimHash over whitespace tokens as a '0'/'1' string.

    Bit j = majority vote of (high bit of hex digit j of md5(token)),
    weighting every token occurrence. Pure expressions (explode + groupBy)
    so Spark and the SQL oracle share the bit definition exactly; a scale
    deployment would pack the same votes into a long with bit ops.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    toks = (
        df.repartition(par, id_col)  # parallelize + pre-align with groupBy(doc_id)
        .select(
            F.col(id_col).alias("doc_id"),
            F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
        )
        .filter(F.length("tok") > 0)
        .withColumn("h", F.md5(F.encode(F.col("tok"), "UTF-8")))
    )
    votes = [
        F.sum(
            F.when(
                F.substring("h", j + 1, 1).isin("8", "9", "a", "b", "c", "d", "e", "f"),
                F.lit(1),
            ).otherwise(F.lit(-1))
        ).alias(f"v{j}")
        for j in range(16)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    bits = F.concat(*[F.when(F.col(f"v{j}") > 0, F.lit("1")).otherwise(F.lit("0")) for j in range(16)])
    return agg.select("doc_id", bits.alias("simhash"))


def incremental_exact_dedup(
    new_docs: DataFrame,
    seen_hashes: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> dict[str, DataFrame]:
    """Exact dedup of an incoming batch against the ALREADY-INGESTED
    corpus — the nightly-ingest shape: at 100 TB you never re-dedup the
    whole corpus per batch; you keep a (text_hash) state table and each
    batch checks in.

    ``seen_hashes``: one ``text_hash`` (xxhash64) column, the persisted
    state from prior batches (None = first batch). Declared semantics:
    equality is 64-BIT-HASH equality, not byte equality — a collision
    between two distinct texts false-drops the later doc. P(any
    collision) ~ n^2/2^65: negligible through ~10^8 docs, a handful
    expected at 10^10 — at that scale widen the state key to 128 bits
    (md5 hex, or a second independent xxhash64 column) with the same
    plan shape. The batch-mode exact_dedup groups on the full text and
    has no such tradeoff. Returns

        {"kept":        batch survivors (within-batch canonical = min id,
                        AND not previously seen),
         "seen_hashes": state to persist for the next batch (old ∪ new
                        batch's hashes, distinct)}

    Plan: one within-batch groupBy(text_hash) + one left_anti against
    the state — both shuffle on the hash key, so they co-partition with
    the state table when it is bucketed on text_hash (plans/layout.py).
    """
    h = F.xxhash64(F.col(text_col)).alias("text_hash")
    hashed = new_docs.withColumn("text_hash", h)
    canon = hashed.groupBy("text_hash").agg(F.min(id_col).alias(id_col))
    batch_kept = hashed.join(
        canon.select("text_hash", id_col), ["text_hash", id_col], "left_semi"
    )
    if seen_hashes is not None:
        batch_kept = batch_kept.join(seen_hashes, "text_hash", "left_anti")
        # batch_kept carries exactly one row per NOVEL hash (within-batch
        # canonical + anti-joined against state), so appending it keeps the
        # state globally distinct by construction — no re-aggregation of
        # the full accumulated state per batch.
        new_state = seen_hashes.unionByName(batch_kept.select("text_hash"))
    else:
        new_state = hashed.select("text_hash").distinct()
    return {"kept": batch_kept.drop("text_hash"), "seen_hashes": new_state}


def incremental_lsh_candidates(
    new_docs: DataFrame,
    seen_buckets: DataFrame | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_hashes: int = 12,
    band_size: int = 2,
) -> dict[str, DataFrame]:
    """Near-dup candidates of an incoming batch: within-batch pairs PLUS
    pairs against the persisted corpus state — without re-signing the
    corpus.

    ``seen_buckets``: a minhash_band_buckets table from prior batches.
    Returns {"candidates": (doc_a, doc_b) least-id-first — the same
    orientation and column names as minhash_lsh_candidates, so
    accumulating candidates across batches set-unions cleanly;
    "buckets": state to persist next}. A doc present in both the batch
    and the state (replay, re-ingest) never pairs with itself, and the
    state update is LATEST-INGEST-WINS: rows for re-ingested doc ids are
    replaced, so a doc whose text changed never leaves stale signatures
    behind (and a byte-identical replay leaves the state unchanged).
    Cost: the candidate cross join keys on the (band, k*) bucket
    columns, the state replacement anti-joins on doc_id — with the state
    table bucketed on those keys (plans/layout.py) both are shuffle-free
    on the state side; nothing re-aggregates the accumulated state.
    """
    key_cols = [f"k{j}" for j in range(band_size)]
    # the banded signatures feed the within-batch pairs, the cross
    # join, the state replacement anti-probe and the new-state union —
    # one lazy localCheckpoint of the batch-sized signature table keeps
    # the shingle + MinHash battery from re-executing per consumer
    banded = minhash_band_buckets(
        new_docs, text_col, id_col, n, num_hashes, band_size
    ).localCheckpoint(eager=False)
    within = _bucket_pairs(banded, key_cols)
    if seen_buckets is not None:
        a = banded.alias("a")
        s = seen_buckets.alias("s")
        key_eq_s = F.lit(True)
        for k in key_cols:
            key_eq_s = key_eq_s & (F.col(f"a.{k}") == F.col(f"s.{k}"))
        cross = (
            a.join(
                s,
                key_eq_s
                & (F.col("a.band") == F.col("s.band"))
                # replayed/re-ingested docs exist on both sides — a doc
                # must never become a near-dup candidate of itself
                & (F.col("a.doc_id") != F.col("s.doc_id")),
            )
            .select(
                F.least(F.col("a.doc_id"), F.col("s.doc_id")).alias("doc_a"),
                F.greatest(F.col("a.doc_id"), F.col("s.doc_id")).alias("doc_b"),
            )
            .distinct()
        )
        candidates = within.unionByName(cross).distinct()
        # latest-ingest-wins: drop the state's rows for every doc id in
        # this batch, then append the batch's rows — replays leave the
        # state unchanged, re-ingests with NEW text replace their stale
        # signatures (an append-only union would keep both and future
        # batches would pair against text the doc no longer contains).
        # banded is already row-unique (one row per doc x band).
        new_state = seen_buckets.join(
            banded.select("doc_id").distinct(), "doc_id", "left_anti"
        ).unionByName(banded)
    else:
        candidates = within
        new_state = banded
    return {"candidates": candidates, "buckets": new_state}


# ---------------------------------------------------------------------------
# Semantic dedup (SemDeDup-style: Abbas et al. 2023, arXiv:2303.09540)
# ---------------------------------------------------------------------------

def srp_planes(
    dim: int, n_planes: int = 4, seed: int = 0x5EED
) -> list[list[float]]:
    """Deterministic signed-random-projection hyperplanes (+-1 entries
    from a 64-bit LCG). The SAME constants drive the Spark expression
    and the DuckDB oracle SQL, so bucket assignment is engine-portable
    by construction — no RNG at query time (scripts and oracles must be
    replay-stable)."""
    planes: list[list[float]] = []
    state = seed & 0xFFFFFFFFFFFFFFFF
    for _ in range(n_planes):
        row: list[float] = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (
                1 << 64
            )
            row.append(1.0 if state >> 63 else -1.0)
        planes.append(row)
    return planes


def srp_bucket_expr(vec, planes: list[list[float]]):
    """LSH bucket id from hyperplane sign bits: bit j = sign of
    dot(vec, planes[j]). Pure column expression — one pass over the
    embedding array per plane, JVM-side, no UDF. 2^n_planes buckets."""
    bucket = F.lit(0)
    for j, p in enumerate(planes):
        dot = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(x) for x in p]),
                lambda a, b: a * b,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(dot > 0, F.lit(1 << j)).otherwise(F.lit(0))
    return bucket


def default_srp_planes_for(
    n_rows: int, target_bucket_rows: int = 64, floor: int = 4
) -> int:
    """Plane count that bounds EXPECTED bucket size at
    ``target_bucket_rows``: each plane halves expected bucket
    occupancy, so planes = ceil(log2(n / target)) keeps the
    within-bucket verify at ~target comparisons PER VECTOR — total
    cosine work ~ n x target, i.e. linear in the corpus for a fixed
    target (measured sf0.1->sf1: 2.8x per 4x data at target 64;
    BASELINE.md §E). The target trades recall for work: smaller
    buckets let more cross-bucket near-dup pairs escape (the LSH
    contract in semantic_dedup's docstring) — 64 keeps the kept-set
    within ~15% of the dense-bucket (256-row) behavior at a quarter of
    its cost. Floor of 4 preserves recall on small corpora (too many
    planes over few rows over-splits true near-dup pairs)."""
    import math

    if n_rows <= target_bucket_rows:
        return floor
    return max(floor, math.ceil(math.log2(n_rows / target_bucket_rows)))


def semantic_dedup(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.4,
    n_planes: int | None = None,
    dim: int | None = None,
    seed: int = 0x5EED,
    estimated_row_count: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication: drop any document whose
    embedding is >= ``threshold`` cosine-similar to an EARLIER (lower
    id) document in the same SRP bucket; return the kept rows with
    their bucket ids.

    SemDeDup proper partitions the space with k-means and prunes
    within clusters; signed random projections give the same
    partition-then-prune shape with a deterministic, engine-portable
    cluster function (the k-means form IS implemented —
    semantic_dedup_kmeans below — when a model-driven partition is
    wanted; this operator is the zero-training, oracle-portable tier).

    Scale: the bucket join is an equi-join on the bucket id — one
    shuffle of (id, bucket, vec) — and the quadratic cosine work is
    confined within buckets. ``n_planes=None`` (the default) DERIVES
    the plane count from the corpus row count via
    default_srp_planes_for, bounding expected bucket size at its
    target (64 rows by default — see default_srp_planes_for)
    so the within-bucket verify stays linear-per-bucket as the corpus
    grows (a fixed plane count is measured super-linear: 12.2x per 10x
    at 4 planes, BASELINE.md §D — buckets grow with the corpus and the
    quadratic verify dominates). Pass an explicit ``n_planes`` for
    engine-portable/oracle runs where the bucket grid must be pinned,
    or ``estimated_row_count`` to skip the count job when the caller
    already knows the cardinality. The keep-rule anti-join is on the
    id alone. No driver-side state, no UDF: bucket bits and cosine are
    both codegen'd expressions.

    Reference parity: the cookbook dedups retrieved chunks by exact
    text only (e.g. Narrative_Miners sentence dedup); semantic near-dup
    pruning is a beyond-parity training-data-tier operator.
    """
    if dim is None:
        # embeddings are fixed-width by contract; sample one row only to
        # bind plane width (bounded collect: one row, scalar)
        first = df.select(F.size(vec_col)).first()
        if first is None:
            return df.select(
                F.col(id_col), F.lit(0).alias("bucket")
            ).limit(0)
        dim = first[0]
    if n_planes is None:
        # bounded collect: one scalar count (distributed agg), same
        # contract class as the dim probe above
        n_rows = (
            estimated_row_count
            if estimated_row_count is not None
            else df.count()
        )
        n_planes = default_srp_planes_for(n_rows)
    planes = srp_planes(dim, n_planes, seed)
    v, norm = _vec_norm(vec_col)
    b = df.select(
        F.col(id_col),
        v.alias("__v"),
        norm.alias("__n"),
        srp_bucket_expr(v, planes).alias("bucket"),
    )
    return _bucket_cosine_prune(b, id_col, threshold)


def _vec_norm(vec_col: str):
    """(vec, norm) columns of the semantic dedup tiers: the embedding as
    array<double> and its L2 norm (a JVM-side fold)."""
    v = F.col(vec_col).cast("array<double>")
    norm = F.sqrt(
        F.aggregate(
            F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
        )
    )
    return v, norm


def _cosine_drop_rule(threshold: float, row_block: int = 1024, col_block: int = 8192):
    """The semantic dedup keep rule, for both tiers' kernels. Returns
    ``drops(q_id, q_mat, q_norm, e_id, e_mat, e_norm) -> bool mask``
    over the q rows: row i drops iff some e row with a SMALLER id has
    a cosine that reaches ``threshold`` after 4-dp rounding, or a NaN
    cosine (a zero-norm vector). ``e_id`` must be ascending.

    The test floor(cos * 1e4 + 0.5) * 1e-4 >= threshold replicates
    F.round(cos, 4) >= threshold: floor(x*1e4 + 0.5) is ROUND_HALF_UP
    at the only decision boundary when threshold > 0 (it rounds
    negative halves toward +inf where F.round rounds away from zero,
    hence the assertion), and NaN dropping matches Spark's
    NaN-greatest comparison. BLAS summation order can differ from an
    interpreted fold in the last ulp, so parity with the expression
    form holds empirically at every 4-dp boundary the oracle corpus
    exercises. The cosine runs as a blocked GEMM: memory is bounded
    by row_block x col_block tiles plus the inputs, and e columns at
    or above a row block's largest id are never computed.
    """
    if not threshold > 0:
        raise ValueError(
            f"semantic dedup requires threshold > 0 (got {threshold}): "
            "the floor(x*1e4+0.5) HALF_UP rule diverges from F.round "
            "for negative halves"
        )

    def drops(q_id, q_mat, q_norm, e_id, e_mat, e_norm):
        import numpy as np

        m = len(q_id)
        drop = np.zeros(m, dtype=bool)
        with np.errstate(divide="ignore", invalid="ignore"):
            for s in range(0, m, row_block):
                e = min(s + row_block, m)
                c_end = int(np.searchsorted(e_id, q_id[s:e].max()))
                for cs in range(0, c_end, col_block):
                    ce = min(cs + col_block, c_end)
                    sims = (q_mat[s:e] @ e_mat[cs:ce].T) / (
                        q_norm[s:e, None] * e_norm[None, cs:ce]
                    )
                    r4 = np.floor(sims * 10.0**4 + 0.5) * 1e-4
                    hit = (r4 >= threshold) | np.isnan(sims)
                    lower = e_id[None, cs:ce] < q_id[s:e, None]
                    drop[s:e] |= (hit & lower).any(axis=1)
        return drop

    return drops


def _bucket_cosine_prune(
    b: DataFrame,
    id_col: str,
    threshold: float,
    row_block: int = 1024,
    col_block: int = 8192,
) -> DataFrame:
    """Within-bucket prune of the batch semantic dedup tiers: ``b`` is
    (id_col, __v array<double>, __n norm, bucket); drop any row whose
    cosine to a LOWER-id row of the same bucket reaches ``threshold``
    (ALL lower-id rows count, kept or dropped) under _cosine_drop_rule.

    One groupBy(bucket) + applyInPandas kernel runs the rule over each
    bucket against itself and emits the kept (id, bucket) rows
    directly: each vector is shuffled ONCE (the bucket exchange), the
    quadratic work runs in BLAS, and no join is needed. Parallelism
    and skew are those of a bucket equi-join: one task per bucket."""
    drops = _cosine_drop_rule(threshold, row_block, col_block)
    from pyspark.sql.types import StructType

    out_schema = StructType([b.schema[id_col], b.schema["bucket"]])

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        if len(pdf) > 1:
            ids = pdf[id_col].to_numpy()
            mat = np.stack(pdf["__v"].to_numpy())
            nrm = pdf["__n"].to_numpy(dtype=np.float64)
            pdf = pdf.loc[~drops(ids, mat, nrm, ids, mat, nrm)]
        return pdf[[id_col, "bucket"]]

    return b.groupBy("bucket").applyInPandas(prune, schema=out_schema)


def semantic_dedup_kmeans(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.4,
    n_clusters: int | None = None,
    target_cluster_rows: int = 64,
    seed: int = 123,
) -> DataFrame:
    """SemDeDup in its original form (Abbas et al. 2023,
    arXiv:2303.09540): partition the embedding space with K-MEANS, then
    prune within clusters — drop any document >= ``threshold``
    cosine-similar to a lower-id document in its cluster. Returns
    (id_col, bucket) with bucket = the k-means cell, the same output
    shape and keep rule as the SRP tier (semantic_dedup).

    Trade-off vs the SRP tier: k-means cells follow the DATA's density
    (tight semantic neighborhoods land in one cell even when no
    hyperplane grid would isolate them — better recall on clustered
    corpora) at the cost of a training pass (MLlib Lloyd's, JVM-side,
    one pass per iteration over cached vectors) and an
    engine-UNPORTABLE partition: cluster ids depend on MLlib's
    initialization, so there is no DuckDB twin — semantics are pinned
    by the numpy replication test instead (the IVF funnel's contract
    pattern, ml/ivf.py). ``n_clusters`` defaults to
    ceil(n / target_cluster_rows) — expected cell size tracks the SRP
    tier's 64-row bucket target, keeping the within-cell quadratic
    verify linear overall as the corpus grows.
    """
    import math

    n_rows = df.count()
    if n_rows == 0:
        return df.select(F.col(id_col), F.lit(0).alias("bucket")).limit(0)
    if n_clusters is None:
        n_clusters = max(2, math.ceil(n_rows / target_cluster_rows))
    from bigdata_cookbook_spark.ml.ivf import build_ivf

    assignments, _ = build_ivf(
        df, nlist=n_clusters, id_col=id_col, emb_col=vec_col, seed=seed
    )
    v, norm = _vec_norm(vec_col)
    b = assignments.select(
        F.col(id_col),
        v.alias("__v"),
        norm.alias("__n"),
        F.col("cell").cast("long").alias("bucket"),
    )
    return _bucket_cosine_prune(b, id_col, threshold)


def semantic_dedup_incremental(
    batch_emb: DataFrame,
    srp_state: DataFrame | None = None,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    threshold: float = 0.4,
    n_planes: int = 8,
    dim: int | None = None,
    seed: int = 0x5EED,
) -> dict[str, DataFrame]:
    """Incremental twin of semantic_dedup for continuous ingest: drop
    any BATCH doc whose embedding is >= ``threshold`` cosine-similar to
    an earlier doc in the same SRP bucket — where "earlier" means a
    LOWER-id doc, whether that doc sits in the persisted ``srp_state``
    (every doc that ever reached the semantic stage, kept or dropped —
    the same every-arrival state rule as the shingle index: a
    semantically-dropped doc still disqualifies future look-alikes,
    exactly as in the batch form's any-earlier-id join) or in the
    current batch. An out-of-order arrival whose id is SMALLER than a
    similar state doc's id therefore survives — the documented
    degradation under non-ordered ingest, pinned by
    test_semantic_incremental_first_arrival_wins.

    ``srp_state`` schema: (vec_id, bucket, vec array<double>, norm).
    ``n_planes`` is FIXED for the state's lifetime (bucket ids must be
    stable across batches — pick it from the expected corpus size via
    default_srp_planes_for at pipeline creation; re-bucketing the state
    is a one-off batch job, not a per-batch concern).

    Under non-decreasing doc_id ingest, union of per-batch kept sets ==
    semantic_dedup over the union (parity-tested). Returns::

        {"dropped":   batch ids dropped by the rule,
         "new_state": (vec_id, bucket, vec, norm) DELTA — every batch
                      doc that entered the stage, kept or not}

    Scale: the batch side meets the state on the bucket id only —
    per-batch cost is |batch| x state bucket occupancy, which n_planes
    bounds; the state is append-only and never re-aggregated.

    The dropped-id rule runs as ONE groupBy(bucket) cogroup +
    applyInPandas kernel: batch rows against the earlier rows of the
    same bucket under _cosine_drop_rule (the batch tier's rule). Each
    side is shuffled once; no join or distinct. Parity with batch
    semantic_dedup is pinned by tests/test_streaming_maintenance.py and
    tests/test_streaming_pipeline.py (union-of-batches == batch
    semantic_dedup, first-arrival-wins, the expression-twin test).
    """
    drops = _cosine_drop_rule(threshold)
    if dim is None:
        first = batch_emb.select(F.size(vec_col)).first()
        if first is None:
            empty_ids = batch_emb.select(F.col(id_col)).limit(0)
            empty_state = batch_emb.select(
                F.col(id_col),
                F.lit(0).alias("bucket"),
                F.col(vec_col).cast("array<double>").alias("vec"),
                F.lit(0.0).alias("norm"),
            ).limit(0)
            return {"dropped": empty_ids, "new_state": empty_state}
        dim = first[0]
    planes = srp_planes(dim, n_planes, seed)
    v, norm = _vec_norm(vec_col)
    # b feeds THREE consumers — the cogroup's batch side, the
    # earlier-side union, and the new_state delta — and its lineage
    # (the SRP plane battery + norm fold over the batch) would
    # otherwise re-execute per consumer. One lazy localCheckpoint of
    # the batch-sized projection.
    b = batch_emb.select(
        F.col(id_col),
        v.alias("vec"),
        norm.alias("norm"),
        srp_bucket_expr(v, planes).alias("bucket"),
    ).localCheckpoint(eager=False)
    earlier = b
    if srp_state is not None:
        earlier = earlier.unionByName(
            srp_state.select(id_col, "vec", "norm", "bucket")
        )
    from pyspark.sql.types import StructType

    out_schema = StructType([b.schema[id_col]])

    # Every earlier-side column is ALIASED (fresh expression ids): with
    # srp_state=None the two cogroup sides are the same plan, and
    # shared attribute ids make the analyzer's self-join dedup remap
    # the right side so its non-grouping columns are pruned away (the
    # kernel would receive only the bucket key). Aliasing is the same
    # fix a self-join needs.
    e_side = earlier.select(
        F.col(id_col).alias("__e_id"),
        F.col("vec").alias("__e_v"),
        F.col("norm").alias("__e_n"),
        F.col("bucket").alias("__e_bucket"),
    )

    def find_dropped(bdf: pd.DataFrame, edf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        if len(bdf) == 0 or len(edf) == 0:
            return bdf.iloc[0:0][[id_col]]
        edf = edf.sort_values("__e_id", kind="mergesort")
        drop = drops(
            bdf[id_col].to_numpy(),
            np.stack(bdf["vec"].to_numpy()),
            bdf["norm"].to_numpy(dtype=np.float64),
            edf["__e_id"].to_numpy(),
            np.stack(edf["__e_v"].to_numpy()),
            edf["__e_n"].to_numpy(dtype=np.float64),
        )
        return bdf.loc[drop, [id_col]]

    dropped = (
        b.groupBy("bucket")
        .cogroup(e_side.groupBy("__e_bucket"))
        .applyInPandas(find_dropped, schema=out_schema)
    )
    return {"dropped": dropped, "new_state": b.select(id_col, "bucket", "vec", "norm")}


def srp_bucket_sql(vec_sql: str, planes: list[list[float]]) -> str:
    """The DuckDB-SQL twin of srp_bucket_expr over the same plane
    constants (oracle construction helper)."""
    terms = []
    for j, p in enumerate(planes):
        lit = "[" + ", ".join(str(x) for x in p) + "]"
        terms.append(
            f"(CASE WHEN LIST_DOT_PRODUCT({vec_sql}, {lit}) > 0"
            f" THEN {1 << j} ELSE 0 END)"
        )
    return " + ".join(terms)


def default_srp_planes_sql(
    count_sql: str, target_bucket_rows: int = 64, floor: int = 4
) -> str:
    """DuckDB-SQL twin of default_srp_planes_for over a SQL count
    expression — lets an oracle derive the AUTO plane count from the
    same table the engine counts, so the default (n_planes=None) path
    gets a full value oracle instead of a rows-only check."""
    return (
        f"CASE WHEN ({count_sql}) <= {target_bucket_rows} THEN {floor} "
        f"ELSE GREATEST({floor}, CAST(CEIL(LOG2(({count_sql}) / "
        f"{float(target_bucket_rows)})) AS BIGINT)) END"
    )


def srp_bucket_sql_dynamic(
    vec_sql: str,
    dim: int,
    np_sql: str = "np",
    max_planes: int = 24,
    seed: int = 0x5EED,
) -> str:
    """DuckDB twin of the AUTO-plane bucket id: ``max_planes`` bit
    terms over srp_planes(dim, max_planes), each gated on
    ``j < np_sql`` (the SQL-derived plane count). The plane LCG is
    sequential, so srp_planes(dim, k) is a PREFIX of
    srp_planes(dim, max_planes) — the gated sum equals
    srp_bucket_sql(vec, srp_planes(dim, k)) for every k <= max_planes
    (property-tested in tests/test_misc_operators.py). 24 planes cover
    corpora up to 64 * 2^24 ~ 1e9 rows at the default 64-row target."""
    planes = srp_planes(dim, max_planes, seed)
    terms = []
    for j, p in enumerate(planes):
        lit = "[" + ", ".join(str(x) for x in p) + "]"
        terms.append(
            f"(CASE WHEN {j} < {np_sql}"
            f" AND LIST_DOT_PRODUCT({vec_sql}, {lit}) > 0"
            f" THEN {1 << j} ELSE 0 END)"
        )
    return " + ".join(terms)


def url_dedup_keep_best(
    df: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Canonical-URL exact dedup, keeping the best capture per URL —
    RefinedWeb's first pipeline stage (Penedo et al. 2023 §3.1: a crawl
    revisits the same page across snapshots; keep one record per URL
    before any text work). "Best" = longest extracted text, tie-broken
    by lowest id — deterministic on any engine.

    URLs are canonicalized first (functions/url.py: case, fragments,
    tracking params, default ports), so utm-decorated revisits collapse
    onto their clean form.

    Output: the keeper's full row per distinct canonical URL, plus
    ``n_url_dups`` (captures seen for that URL — the audit column).

    Scale shape: ONE aggregate keyed by canonical URL, the keeper row
    carried in a min-struct — map-side combine keeps one candidate per
    (mapper, URL), so a hot URL recrawled millions of times collapses
    to one row per mapper before the exchange; shuffle volume is
    ~distinct URLs. No join, no window, no second pass over the fact
    table.
    """
    from bigdata_cookbook_spark.functions.url import canonicalize_url_expr

    cols = df.columns
    # NULL text must LOSE to any non-empty capture, but NULL sorts
    # first in Spark struct ordering — coalesce the sort key so a
    # text-less crawl record (len -> -1, key -> +1) ranks below even
    # an empty-string capture (len 0, key 0).
    best = F.struct(
        (-F.coalesce(F.length(F.col(text_col)), F.lit(-1))).alias("__neg_len"),
        F.col(id_col).alias("__id"),
        *[F.col(c).alias(c) for c in cols],
    )
    agg = (
        df.select(
            canonicalize_url_expr(F.col(url_col)).alias("__canon"),
            best.alias("__b"),
        )
        .groupBy("__canon")
        .agg(
            F.min("__b").alias("__best"),
            F.count(F.lit(1)).alias("n_url_dups"),
        )
    )
    return agg.select(
        *[F.col(f"__best.{c}").alias(c) for c in cols], "n_url_dups"
    )

"""Generate PLANS.md: a per-headline-query physical-plan property report.

Usage: python tools/plan_report.py [sf_dir]

For every bench headline query, summarizes the properties that matter at
the 100 TB tier straight from .explain("formatted"): join strategies,
shuffle (Exchange) count, parquet pushdown (PushedFilters/ReadSchema
width), whole-stage-codegen coverage, and flags any plan shape that must
never appear (CartesianProduct / BroadcastNestedLoopJoin on fact-fact
paths). The committed PLANS.md is the reviewable artifact; re-run this
tool after plan-affecting changes.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry
from bigdata_cookbook_spark.plans.explain import explain_str

JOIN_KINDS = [
    "BroadcastHashJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastNestedLoopJoin",
    "CartesianProduct",
]

# Frozen per-query shuffle budgets — the Exchange counts of the accepted
# plans (round-3 PLANS.md). A future change that adds a shuffle to any of
# these queries fails this tool loudly instead of silently landing a
# regression; raising a ceiling requires editing this table in the same
# commit, which is exactly the review surface we want. New queries not
# yet listed are reported so they get frozen here.
# Round-11: ten CPU-bound document batteries gained the
# spread_for_cpu_bound round-robin exchange (a no-op at cluster scale
# where the scan is already wide; +1 exchange at the gate's 1-2
# partition fixture scale). Measured at sf1: winnow 11.3->1.6 s,
# dsir_select_topk 12.9->~1.5 s, script_profile 8.7->~1.1 s,
# sentence_budget_chunks 9.5->~1.2 s, minhash_lsh 6.7->2.5 s.
EXCHANGE_CEILINGS = {
    "pricing_summary": 1,
    "hit_count_monthly_topk": 2,
    "topk_parts_per_brand": 2,
    "argmax_day_per_priority": 2,
    "calendar_densify_daily": 3,
    "weekly_zscore": 2,
    "dedup_keep_first": 1,
    "mode_event_type": 2,
    "net_exposure": 1,
    "exact_dedup_docs": 1,
    "doc_fingerprint": 1,
    "token_quality": 1,
    "ann_cosine_topk": 0,
    "sessionize": 1,
    "comention_parts": 2,
    "simhash": 1,
    "minhash_lsh_candidates": 3,  # round 11: +1 spread (see note above ceilings)
    "ngram_jaccard_pairs": 2,
    "embedding_neardup_pairs": 3,
    "similarity_multiquery_rerank": 1,
    "lang_id": 1,
    "gopher_quality": 1,
    "pii_redaction": 1,
    "token_window_chunks": 1,
    "sequence_pack": 2,
    "bm25_topk": 2,
    "hybrid_search_rrf": 2,
    # global_rank (round 4): the FACT table moves through exactly one
    # range exchange; the other three are partition-count-scale (tiny
    # offsets aggregate + its running-sum/total windows). Traded up from
    # the round-3 single-exchange plan whose one exchange was an
    # Exchange SinglePartition over the whole fact table — the shape
    # the GlobalWindowOverScan red flag now forbids.
    "training_shuffle": 4,
    "domain_mix_sample": 1,
    # round 6: temperature mixing shares domain_mix_sample's
    # rank-filter plan (one domain-key exchange; quotas broadcast)
    "domain_mix_temperature": 1,
    # round 6: CC label-propagation subtree is cut at localCheckpoint,
    # so the visible plan is the LSH candidate join (bucket exchange)
    # + the canonical->split broadcast assignment
    "cluster_safe_split_docs": 2,
    # round 6: byte prefix-sum sharding — the SLIM (id, bytes)
    # projection pays the range exchange and the pid-window exchange
    # (both balanced, wholesale-partition moves); the offsets branch
    # re-scans the slim source (groupBy partial-agg exchange + its
    # partition-count running-sum window). 5 exchanges, none carrying
    # more than id+bytes per row — see pack_shards' scale contract.
    "shard_pack_documents": 5,
    # round 6: pure narrow map (HOF fold over a pruned 2-column scan)
    "sentence_budget_chunks": 1,  # round 11: +1 spread
    # round 6: keeper groupBy exchange + reassembly groupBy exchange;
    # the keeper join and the totals join broadcast at gate scale (AQE
    # picks SMJ at corpus scale — the keys are the exchanges already
    # counted). The keeper groupBy's map-side combine is the operator's
    # anti-skew contract.
    # round 11: 2 -> 3 — totals now derive from the checkpointed
    # paragraph table via a (id, pos)-int groupBy (one tiny exchange)
    # instead of a third full corpus split scan
    # (plans/r11/paragraph_dedup_{before,after}.txt)
    "paragraph_dedup": 3,
    # round 6: tf groupBy, df groupBy, the term join's two sides, and
    # the per-doc top-k window; the corpus-N crossJoin is the one-row
    # broadcast stats pattern (BM25's shape) — a BroadcastNestedLoopJoin
    # over a single-row side, never fact-fact.
    # round 11: 5 -> 3 — the collapsed (doc, term, tf) table is
    # localCheckpointed once, so the df-aggregate branch no longer
    # carries its own scan+explode+distinct exchange pair
    # (plans/r11/tfidf_top_terms_{before,after}.txt; 2.26 -> 1.26 s sf1)
    "tfidf_top_terms": 3,
    # round-6 second wave. contamination_bloom = the exact tier's
    # shuffle plan (its verify join) + the prefilter's flagged-id
    # distinct and semi-join; the k bloom PROBES themselves are
    # broadcast joins and add no exchange.
    "contamination_bloom": 7,
    # histogram aggregate + distinct-value window + total aggregate;
    # the FACT side re-enters via broadcast only
    "quality_prune_per_source": 4,
    # round 7: the final distinct is the operator's only exchange
    # round 11: +1 spread; continuation: 2 -> 1 — the Arrow kernel
    # guarantees per-doc uniqueness structurally, so the distinct
    # exchange is gone (plans/r11/winnow_fingerprints_{before,after}.txt)
    "winnow_fingerprints": 1,
    # round 7: the pairs tier's shuffle plan (registry form runs
    # broadcast_eval=False: both shingle sides + the n_eval join
    # shuffle) + the per-eval aggregate and the left join back to the
    # benchmark-sized eval universe
    "contamination_report": 8,
    # pure scan -> regexp_replace chain projection
    "html_to_text": 1,  # round 11: +1 spread
    "script_profile": 1,  # round 11: +1 spread
    # round 8: URL canonicalization is a scan-fused regexp projection
    "url_canonicalize": 1,  # round 11: +1 spread
    # round 8: line-wise corrections — scan-fused higher-order filter
    "line_filter_clean": 1,  # round 11: +1 spread
    # round 8: two-phase per-domain cap — bucketed prefilter window
    # exchange + per-domain window exchange (the prefilter bounds the
    # second to <=16*CAP rows per domain); the kept-flag join-back
    # broadcasts the pruned ranked side, no third fact exchange
    "domain_blocklist_cap": 2,
    # round 8: DSIR — the RETURNED plan scores via the collected-model
    # fold (scan -> project -> TakeOrdered, zero exchanges); the model
    # fit runs as a separate bounded job (two bucket-key map-side-
    # combined aggregates over the gram explode, key cardinality
    # capped at n_buckets) — the same cut-subtree pattern as the CC
    # localCheckpoint, documented in the operator contract
    "dsir_select_topk": 1,  # round 11: +1 spread
    "dsir_gumbel_sample": 1,  # round 11: +1 spread
    # round 8: BPE pair statistics — word-histogram aggregate (map-side
    # combine absorbs Zipf skew) + pair aggregate; top-k is TakeOrdered.
    # round 11: +1 spread exchange (local-only, see note above ceilings;
    # plans/r11/bpe_pair_counts_{before,after}.txt) — 1.42 -> 0.64 s sf1
    "bpe_pair_counts": 3,
    # 2 -> 6 in round 4: the registry query's eval set scales with the
    # corpus (doc_id % 7), so it now runs contamination_pairs'
    # broadcast_eval=False tier (round-3 ADVICE honesty item): both
    # shingle sides spread + exchange on the shingle key, pair aggregate,
    # eval-size aggregate — no force-broadcast memory cliff. The 2-
    # exchange broadcast plan remains the default for benchmark-sized
    # eval sets (corpus_clean's decontamination path).
    "benchmark_contamination": 6,
    "length_curriculum": 4,
    # two corpus passes by design (train bigram counts, then score);
    # 3 of the 4 exchanges move only vocab-scale data
    # 4 -> 6 in round 4: one repartition(doc_id) per corpus pass (train +
    # score), spreading the bigram explode over all cores instead of the
    # 1-2 single-file scan tasks — measured 8.6s -> 1.3s per pass at sf1.
    # Still the by-design two-pass train/score shape.
    "char_bigram_perplexity": 6,
    "bpe_token_count": 1,  # round 11: +1 spread
    "source_quality_profile": 1,
    # round 4: the scale form of ngram_jaccard_pairs. The capped shingle
    # subtree (repartition + hot-shingle aggregate) is planned once per
    # self-join side — exchange reuse does not collapse it across the
    # anti-join boundary — so the exchange count doubles vs the uncapped
    # form's shared lineage. Work stays linear (measured 28.4s -> 2.0s at
    # sf1); at corpus scale persist the capped index first (docstring).
    # round 11: 6 -> 4 — the raw shingle-hash table (16 B/row) is
    # localCheckpointed once; the hot-shingle build and the anti-join
    # read it instead of re-running the shingle battery
    # (plans/r11/ngram_jaccard_capped_{before,after}.txt)
    "ngram_jaccard_capped": 4,
    # round 4 additions: gopher_repetition is the scan-shaped repetition
    # filter (its one exchange is the repartition spread); semantic_dedup
    # 2 -> 1 in round 11: the within-bucket prune moved from the
    # bucket-join + keep-rule anti-join expression tier to one
    # groupBy(bucket) applyInPandas GEMM kernel (guide §4.2) — the only
    # exchange left is the bucket shuffle, each vector moves once
    "gopher_repetition": 1,
    "semantic_dedup": 1,
    # span_dedup: repartition spread, span-hash aggregate + keeper
    # join-back (one exchange per side of the span self-reference —
    # exchange reuse does not collapse across the join), reassemble
    # groupBy; the totals join broadcasts. All keys high-cardinality
    # span hashes / doc ids — the canonical exact-substring-dedup plan.
    # round 11: 5 -> 3 — the exploded span table is checkpointed once
    # (keeper + join + totals all read it; totals = max(idx)+1 instead
    # of a third tokenize scan), see
    # plans/r11/span_dedup_{before,after}.txt
    "span_dedup": 3,
    # round 5 additions: line_dedup's one exchange is the repartition
    # spread (split/array_distinct/join are all narrow);
    # compression_ratio likewise — the zlib work is the declared Arrow
    # tier inside the scan stage
    "line_dedup": 1,
    "compression_ratio": 1,
}


# Queries allowed to run a partitionless Window directly over a scan —
# each entry must carry the reason the global frame is safe at scale.
# Everything else that does so fails the gate: a global window over a
# fact table funnels the whole input through ONE task (Exchange
# SinglePartition), the canonical silent 100x-scale killer.
GLOBAL_WINDOW_ALLOWLIST: dict[str, str] = {}


def _top_level_groups(s: str) -> list[str]:
    """Split 'Window [a], [b], [c]...' argument text into its top-level
    [...] groups (brackets inside expressions nest correctly)."""
    groups: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in s:
        if ch == "[":
            depth += 1
            if depth == 1:
                cur = []
                continue
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append("".join(cur))
                continue
        if depth >= 1:
            cur.append(ch)
    return groups


def global_windows_over_scans(plan: str) -> list[str]:
    """Return the Window lines that have NO partition spec and NO
    aggregate anywhere beneath them in ``plan`` (a physical-plan tree
    string, e.g. ``executedPlan().toString()``).

    A Window node prints [functions], [partitionSpec], [orderSpec] with
    EMPTY specs omitted: three groups = partitioned; two groups is
    ambiguous (partitioned-unordered OR partitionless-ordered) and is
    told apart by the order-direction tokens (ASC/DESC) every sort
    order carries — a second group WITH them is an order spec, i.e. no
    partition. A partitionless Window's required child distribution is
    a single partition, so unless an upstream Aggregate has already
    collapsed the frame to group-level rows, the entire input
    serializes through one task. Post-aggregation global windows (the
    W8/W9/A10 family — peak detection, cross-source alignment, score
    normalization over weekly/per-entity frames) are legitimate and
    pass: their subtree contains the Aggregate.
    """
    lines = plan.splitlines()
    offending = []
    for i, line in enumerate(lines):
        m = re.match(r"^([\s:+|*()\d-]*?)Window (\[.*)$", line)
        if m is None:
            continue
        indent = len(m.group(1))
        groups = _top_level_groups(m.group(2))
        if len(groups) >= 3:
            continue  # partitioned (and ordered)
        if len(groups) == 2 and not re.search(r"\b(ASC|DESC)\b", groups[1]):
            continue  # partitioned, no order spec (e.g. count over partition)
        bounded = False
        for below in lines[i + 1 :]:
            m2 = re.match(r"^([\s:+|-]*)", below)
            if len(m2.group(1)) <= indent or not below.strip():
                break
            # nodes that bound the frame the window sees: an aggregate
            # collapses to group-level rows; a limit (TakeOrdered /
            # Global/CollectLimit) caps it at k rows — both make the
            # single-partition requirement a constant-size frame
            if re.search(r"Aggregate\(|TakeOrderedAndProject|GlobalLimit|CollectLimit", below):
                bounded = True
                break
        if not bounded:
            offending.append(line.strip())
    return offending


def summarize(plan: str) -> dict[str, object]:
    nodes = re.findall(r"^\(\d+\) (\S+)", plan, re.M)
    joins = [k for k in JOIN_KINDS for n in nodes if n.startswith(k)]
    n_exchange = sum(1 for n in nodes if n == "Exchange")
    pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", plan)
    pushed_any = any(p.strip() for p in pushed)
    schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
    widths = [len(s.split(",")) if s else 0 for s in schemas]
    python_eval = any(
        "ArrowEvalPython" in n
        or "MapInPandas" in n
        or "FlatMapGroupsInPandas" in n
        or "BatchEvalPython" in n
        for n in nodes
    )
    # a BroadcastNestedLoopJoin is the deliberate tiny-broadcast cross
    # product (calendar spine x entity dim, corpus x query vectors) —
    # legitimate by construction. The unscalable shape is a NON-broadcast
    # CartesianProduct: both sides materialized pairwise.
    return {
        "joins": ", ".join(sorted(set(joins))) or "—",
        "exchanges": n_exchange,
        "pushed_filters": "yes" if pushed_any else ("n/a" if not pushed else "no"),
        "scan_widths": "/".join(map(str, widths)) or "—",
        # codegen_spans is filled by the caller from the EXECUTED plan —
        # the pre-execution adaptive plan never carries codegen ids
        "codegen_spans": 0,
        "python_stage": "yes" if python_eval else "no",
        "red_flags": "CartesianProduct" if "CartesianProduct" in joins else "—",
    }


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "benchmod", os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "bench.py")
    )
    benchmod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(benchmod)
    spark = benchmod.bench_session()
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry.queries()

    # headline set + the round-2 training-data tier (scan-shaped by
    # design; their plan properties are part of the 100 TB contract)
    extra = [
        "gopher_quality",
        "pii_redaction",
        "token_window_chunks",
        "sequence_pack",
        "bm25_topk",
        "hybrid_search_rrf",
        "training_shuffle",
        "domain_mix_sample",
        "benchmark_contamination",
        "length_curriculum",
        "char_bigram_perplexity",
        "bpe_token_count",
        "source_quality_profile",
        "ngram_jaccard_capped",
        "gopher_repetition",
        "semantic_dedup",
        "span_dedup",
        "line_dedup",
        # declared Arrow tier: a MapInPandas python stage is EXPECTED
        # here (zlib deflate has no JVM expression) — the gate verifies
        # it stays the ONLY stage, over a pruned 2-column scan
        "compression_ratio",
        # round-6 additions: cluster-atomic split (CC + hash split),
        # distributed byte prefix-sum sharding (must stay free of a
        # fact-table Exchange SinglePartition), temperature mixing
        "cluster_safe_split_docs",
        "shard_pack_documents",
        "domain_mix_temperature",
        # scan-only aggregate fold (sentence chunking): zero exchanges
        "sentence_budget_chunks",
        # round-6 additions: corpus-wide paragraph dedup (keeper
        # groupBy must keep its map-side combine — the anti-skew
        # property the operator exists for) and TF-IDF top-terms
        "paragraph_dedup",
        "tfidf_top_terms",
        # round-6 second wave: bloom prefilter (broadcast-join probes,
        # never a corpus-side shuffle for the prefilter), histogram-
        # threshold prune (fact table: one scan + broadcast join-back),
        # scan-only regex extraction chain
        "contamination_bloom",
        "quality_prune_per_source",
        "html_to_text",
        "script_profile",
        # round 7: per-eval-doc audit — same inverted-index join as the
        # pairs form plus one benchmark-sized aggregate; the left
        # join-back to the eval universe must not shuffle the fact side
        "contamination_report",
        # winnowing selection is one Arrow kernel over the token
        # split — only the CPU-spread repartition may exchange
        "winnow_fingerprints",
        # round 8: URL canonicalization is a zero-exchange regexp
        # projection; the domain cap's two-phase rank must show the
        # bucketed prefilter window BEFORE the per-domain window (the
        # skew bound the operator exists for)
        "url_canonicalize",
        "domain_blocklist_cap",
        # round 8: line-wise corrections are a zero-exchange
        # higher-order-filter projection
        "line_filter_clean",
        # round 8: DSIR selection — the returned plan must stay a
        # zero-exchange scan-fused fold + TakeOrdered (the fit is a
        # separate bounded job, not part of the declared scoring plan)
        "dsir_select_topk",
        "dsir_gumbel_sample",
        # round 8: BPE first-iteration pair statistics — two bounded-key
        # aggregates, no join anywhere
        "bpe_pair_counts",
    ]
    rows = []
    for name in benchmod.HEADLINE + [e for e in extra if e in qs]:
        df = qs[name](spark, sf_dir)
        plan = explain_str(df, mode="formatted")
        s = summarize(plan)
        # codegen spans only appear in the EXECUTED plan under AQE (the
        # pre-execution formatted plan is the un-finalized adaptive plan,
        # which is why this column used to read 0 for every query).
        # Drain via toLocalIterator — it finalizes df's OWN
        # QueryExecution (a noop write executes a cloned one) with
        # bounded driver memory at any sf_dir — then count the *(n)
        # span markers of the final plan.
        for _ in df.toLocalIterator():
            pass
        executed = df._jdf.queryExecution().executedPlan().toString()
        s["codegen_spans"] = len(set(re.findall(r"\*\((\d+)\)", executed)))
        # AQE can replan a broadcast join into a CartesianProduct at
        # runtime — the shape the red-flag gate exists to forbid — so
        # check the executed plan too, not just the static one
        if "CartesianProduct" in executed and s["red_flags"] == "—":
            s["red_flags"] = "CartesianProduct(runtime)"
        if name not in GLOBAL_WINDOW_ALLOWLIST and global_windows_over_scans(executed):
            flag = "GlobalWindowOverScan"
            s["red_flags"] = flag if s["red_flags"] == "—" else f"{s['red_flags']}, {flag}"
        rows.append((name, s))

    out = [
        "# PLANS — headline-query physical-plan properties",
        "",
        f"Generated by `python tools/plan_report.py` at {sf_dir} — regenerate after",
        "plan-affecting changes. Columns: join strategies in the plan; shuffle",
        "Exchange count; whether parquet PushedFilters are present (n/a = full-scan",
        "query with nothing to push); ReadSchema column count per scan (column",
        "pruning evidence); WholeStageCodegen span count (from the EXECUTED",
        "plan — AQE finalizes codegen only at runtime); whether an Arrow/Python",
        "stage exists (expected only for the NumPy GEMM tiers); and red-flag plan",
        "shapes. BroadcastNestedLoopJoin in the joins column is the deliberate",
        "tiny-broadcast cross product (calendar spine, query vectors); the red",
        "flag is a NON-broadcast CartesianProduct, which must stay absent.",
        "",
        "| query | joins | exchanges | pushed | scan cols | codegen | python | red flags |",
        "|---|---|---|---|---|---|---|---|",
    ]
    for name, s in rows:
        out.append(
            f"| {name} | {s['joins']} | {s['exchanges']} | {s['pushed_filters']} "
            f"| {s['scan_widths']} | {s['codegen_spans']} | {s['python_stage']} | {s['red_flags']} |"
        )
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote {path} ({len(rows)} queries)")
    failed = False
    flagged = [n for n, s in rows if s["red_flags"] != "—"]
    if flagged:
        print("RED FLAGS:", flagged)
        failed = True
    over = [
        (n, s["exchanges"], EXCHANGE_CEILINGS[n])
        for n, s in rows
        if n in EXCHANGE_CEILINGS and s["exchanges"] > EXCHANGE_CEILINGS[n]
    ]
    if over:
        print(
            "EXCHANGE REGRESSIONS (query, got, ceiling):", over,
            "- raise the ceiling in EXCHANGE_CEILINGS only with the plan diff",
        )
        failed = True
    unlisted = [n for n, _ in rows if n not in EXCHANGE_CEILINGS]
    if unlisted:
        print("note: no frozen exchange ceiling yet for:", unlisted)
    # codegen floor: every query must keep >= 1 whole-stage span — a drop
    # to 0 means the whole plan fell out of codegen into the interpreted
    # path (an expression change that breaks codegen does this silently;
    # fewer spans than before is fine, fusion REDUCES the count)
    no_codegen = [n for n, s in rows if s["codegen_spans"] == 0]
    if no_codegen:
        print("CODEGEN DROPOUT (0 whole-stage spans):", no_codegen)
        failed = True
    # bench_session mkdtemp'd a scratch warehouse this tool never writes to
    benchmod.cleanup_scratch(spark)
    if failed:
        sys.exit(1)


if __name__ == "__main__":
    main()

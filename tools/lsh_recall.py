"""Measure the LSH near-dup tier's recall against the exact tier.

The corpus_clean(near_dup="lsh") funnel (MinHash band candidates ->
exact Jaccard verify) is pytest-pinned to produce a SUBSET of the exact
tier's drops (no false drops), but the RECALL — the fraction of the
exact tier's qualifying pairs / dropped docs the banding finds — is the
one number a user choosing the production tier needs. This tool
measures it on the real corpus at a given SF.

Method: both tiers score the input the near-dup stage actually sees —
the docs in corpus_clean(docs)'s kept ∪ dropped_neardup (quality gate
and exact dedup at the defaults already applied) — then

  exact:  ngram_jaccard_pairs(threshold=min(thresholds))  [scored pairs]
  lsh:    minhash_lsh_candidates(num_hashes, band_size)
          -> jaccard_verify_pairs(threshold=min(thresholds))

Each higher threshold is a filter over the SAME scored pair sets, so
the exact quadratic tier runs ONCE per invocation regardless of how
many thresholds are scored. Because verify guarantees lsh_pairs a
subset of exact_pairs at equal threshold, recall is a count ratio — no
pair-set join needed:

  pair_recall = |lsh_pairs >= t| / |exact_pairs >= t|
  drop_recall = |distinct doc_b in lsh_pairs >= t|
              / |distinct doc_b in exact_pairs >= t|

drop_recall is the number that prices the trade: it is the fraction of
the exact tier's dropped_neardup set the production funnel still drops
(corpus_clean's keep-first rule drops doc_b per qualifying pair).

Run:  python tools/lsh_recall.py [sf_dir] [num_hashes] [band_size]
      (defaults: .scale/sf1, the corpus_clean defaults 12 and 2)
Emits one JSON line; paste the rows into BASELINE.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

THRESHOLDS = [0.5, 0.7, 0.8]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else ".scale/sf1"
    num_hashes = int(sys.argv[2]) if len(sys.argv) > 2 else 12
    band_size = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    from bigdata_cookbook_spark.operators.corpus import corpus_clean
    from bigdata_cookbook_spark.operators.dedup import (
        jaccard_verify_pairs,
        minhash_lsh_candidates,
        ngram_jaccard_pairs,
    )
    from bigdata_cookbook_spark.session import get_spark
    from bigdata_cookbook_spark.sources.testdata import load_table

    spark = get_spark("lsh-recall")
    docs = load_table(spark, sf_dir, "documents")

    # the near-dup stage's input: every doc that survived quality and
    # exact dedup, whether or not it was later dropped as a near-dup
    spine = corpus_clean(docs)
    ids = spine["kept"].select("doc_id").unionByName(spine["dropped_neardup"])
    exact_kept = docs.join(ids, "doc_id", "left_semi").cache()
    n_docs = exact_kept.count()

    t_min = min(THRESHOLDS)
    t0 = time.time()
    exact_pairs = ngram_jaccard_pairs(exact_kept, threshold=t_min).cache()
    n_exact = exact_pairs.count()
    exact_sec = time.time() - t0

    t0 = time.time()
    cand = minhash_lsh_candidates(
        exact_kept, num_hashes=num_hashes, band_size=band_size
    )
    # materialize the pair list once — without this the banding DAG
    # re-executes through the verify stage's three references and
    # lsh_tier_sec overstates the tier's cost (recall values are
    # unaffected either way)
    cand = cand.localCheckpoint(eager=False)
    lsh_pairs = jaccard_verify_pairs(exact_kept, cand, threshold=t_min).cache()
    n_lsh = lsh_pairs.count()
    lsh_sec = time.time() - t0

    rows = []
    for t in THRESHOLDS:
        e = exact_pairs.filter(F.col("jaccard") >= t)
        l = lsh_pairs.filter(F.col("jaccard") >= t)
        ep, lp = e.count(), l.count()
        ed = e.select("doc_b").distinct().count()
        ld = l.select("doc_b").distinct().count()
        rows.append(
            {
                "threshold": t,
                "exact_pairs": ep,
                "lsh_pairs": lp,
                "pair_recall": round(lp / ep, 4) if ep else None,
                "exact_drops": ed,
                "lsh_drops": ld,
                "drop_recall": round(ld / ed, 4) if ed else None,
            }
        )

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "num_hashes": num_hashes,
                "band_size": band_size,
                "n_bands": num_hashes // band_size,
                "input_docs": n_docs,
                "exact_tier_sec": round(exact_sec, 2),
                "lsh_tier_sec": round(lsh_sec, 2),
                "rows": rows,
            }
        )
    )


if __name__ == "__main__":
    main()

"""Runnable example: the full pretraining-data pipeline with every
optional stage on — the training-data tier's capstone
(workflows.pretraining_pipeline) driven end to end over the driver's
sf0.001 testdata, writing the artifacts a data-engineering run hands
off:

    domain blocklist -> canonical-URL dedup (keep-best)
    -> RefinedWeb line-wise corrections
    -> paragraph dedup -> span dedup
    -> quality (+ Gopher repetition rules) -> exact dedup
    -> near-dup removal
    -> decontamination vs a held-out eval set (Bloom-prefiltered)
    -> per-domain quality prune (keep top 90% of each source)
    -> semantic dedup over embeddings
    -> DSIR importance-resampling targeting (keep-k)
    -> domain-mix resample
    -> deterministic shuffle key + length-curriculum bucket

Outputs under <out_dir>:

    training_set/      parquet (doc_id, source, n_tokens, shuffle_key,
                       bucket) — range-partition by shuffle_key to
                       stream a reproducible global permutation
    accounting.json    one row per stage with its drop count (the audit
                       trail a production data pipeline is judged on)

Everything is deterministic: same corpus + parameters -> byte-identical
accounting and the same training_set rows on any run
(tests/test_examples.py runs it twice and compares).

Run:  python examples/pretraining_data_pipeline.py [out_dir]
"""

from __future__ import annotations

import json
import os
import sys

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def main(spark: SparkSession, out_dir: str, sf_dir: str = "/root/testdata/sf0.001") -> dict:
    from bigdata_cookbook_spark.sources.testdata import load_table
    from bigdata_cookbook_spark.workflows import pretraining_pipeline

    os.makedirs(out_dir, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents")
    # plant one boilerplate paragraph per source (the synthetic corpus
    # has no newlines) so the paragraph-dedup stage does real work
    docs = docs.withColumn(
        "text",
        F.concat(
            F.lit("BOILERPLATE-"),
            F.col("source"),
            F.lit("\n"),
            F.col("text"),
        ),
    )
    # web-ingest shaping: a crawl URL per doc — ~1% on a
    # blocklisted domain, doc_id % 19 == 3 collapsing onto shared dup
    # URLs, the rest unique (the synthetic corpus has no URL column)
    docs = docs.withColumn(
        "url",
        F.when(
            F.col("doc_id") % 101 == 7,
            F.concat(F.lit("http://spam.example/p/"), F.col("doc_id")),
        )
        .when(
            F.col("doc_id") % 19 == 3,
            F.concat(F.lit("https://dup.example.org/d/"), F.col("doc_id") % 5),
        )
        .otherwise(
            F.concat(F.lit("https://ok.example.org/p/"), F.col("doc_id"))
        ),
    )
    emb = load_table(spark, sf_dir, "embeddings")

    # held-out eval benchmark: a deterministic corpus slice stands in
    # for the eval sets a real run decontaminates against
    eval_df = docs.filter(F.col("doc_id") % 13 == 0)

    # DSIR reference sample: a deterministic English slice — the
    # distribution the selection stage targets
    dsir_target = docs.filter(
        (F.col("lang") == "en") & (F.col("doc_id") % 5 == 1)
    ).select("text")

    out = pretraining_pipeline(
        docs,
        eval_df=eval_df,
        url_col="url",
        domain_blocklist=["spam.example"],
        line_filter=True,
        paragraph_dedup_sep="\n",
        span_dedup_tokens=5,
        repetition_filter=True,
        embeddings_df=emb,
        semantic_threshold=0.4,
        # decontaminate through the map-side Bloom
        # prefilter (bit-identical drop set, benchmark-shaped plan) and
        # keep the top 90% of each source by n_tokens after cleaning
        bloom_decontaminate=True,
        quality_prune_frac=0.9,
        # DSIR targeting as the last drop before mixing
        dsir_target=dsir_target,
        dsir_keep_k=60,
        dsir_n_buckets=256,
    )

    ts_path = os.path.join(out_dir, "training_set")
    out["training_set"].orderBy("shuffle_key").write.mode("overwrite").parquet(ts_path)

    acc = sorted(
        ((r["stage"], int(r["n_dropped"])) for r in out["accounting"].collect())
    )
    acc_path = os.path.join(out_dir, "accounting.json")
    with open(acc_path, "w", encoding="utf-8") as f:
        json.dump({"stages": acc, "kept": out["training_set"].count()}, f, indent=1, sort_keys=True)

    # one-page dashboard of the run: drop accounting, curriculum
    # shape, and the post-mix domain composition (static HTML over the
    # renderer-agnostic viz specs — sinks.dashboard_html)
    from bigdata_cookbook_spark.sinks import dashboard_html
    from bigdata_cookbook_spark.viz import bar_chart_spec

    acc_df = spark.createDataFrame(acc, "stage string, n_dropped long")
    buckets = (
        out["training_set"].groupBy("bucket").count().orderBy("bucket")
    )
    mix = out["training_set"].groupBy("source").count().orderBy("source")
    # corpus-health panels: average token length per source (the
    # quality-profile signal) and the Latin-script ratio per source
    # (script-detection routing signal) — both over the KEPT corpus
    from bigdata_cookbook_spark.functions.text import script_profile

    kept_src = out["clean"].groupBy("source").agg(
        F.round(F.avg("n_tokens"), 2).alias("avg_tokens")
    ).orderBy("source")
    kept_docs = docs.join(out["clean"].select("doc_id"), "doc_id", "left_semi")
    script_src = (
        script_profile(kept_docs.select("doc_id", "text"))
        .join(kept_docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(F.round(F.avg("r_latin"), 4).alias("avg_latin_ratio"))
        .orderBy("source")
    )
    dash_path = os.path.join(out_dir, "dashboard.html")
    with open(dash_path, "w", encoding="utf-8") as f:
        f.write(
            dashboard_html(
                {
                    "Drops per stage": bar_chart_spec(
                        acc_df, "stage", "n_dropped"
                    ),
                    "Curriculum buckets": bar_chart_spec(
                        buckets, "bucket", "count"
                    ),
                    "Domain mix (kept)": bar_chart_spec(
                        mix, "source", "count"
                    ),
                    "Avg tokens per source (kept)": bar_chart_spec(
                        kept_src, "source", "avg_tokens"
                    ),
                    "Latin-script ratio per source (kept)": bar_chart_spec(
                        script_src, "source", "avg_latin_ratio"
                    ),
                },
                title="Pretraining data pipeline run",
            )
        )

    out["clean"].unpersist()
    return {
        "training_set": ts_path,
        "accounting": acc_path,
        "dashboard": dash_path,
    }


if __name__ == "__main__":
    from bigdata_cookbook_spark.session import get_spark

    spark = get_spark("pretraining_data_pipeline_example")
    paths = main(spark, sys.argv[1] if len(sys.argv) > 1 else "out_pretraining")
    print(json.dumps(paths))

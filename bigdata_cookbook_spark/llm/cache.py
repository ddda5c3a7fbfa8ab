"""LLM response cache as a relational pattern (SURVEY.md §2.1 S4).

Reference: AI_Cost_Cutting_Market_Analysis/src/labeling.py:79-96 — every
LLM call md5-hashes (prompt + params) and round-trips a pickle file, so
re-runs only pay for new prompts.

Spark-native shape: the cache is a DataFrame/parquet table keyed by
``cache_key = md5(prompt_version <US> key cols...)``. The keyed input is
materialized once (lazy localCheckpoint) and every consumer reads it. An
inner join and a left-anti join split its unique keys into hits and
misses; only misses reach the backend. The union of hits + fresh results
is materialized once more, and both the answer's join-back and the next
cache state read it, so each miss key reaches the backend exactly once
per run. At 100 TB the joins shuffle on an md5 key — uniformly
distributed by construction, no skew — and the cache table is readable as
a plain parquet snapshot (no external KV store needed).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_cookbook_spark.llm.stage import Backend, llm_label_stage

US = "\x1f"  # unit separator: unambiguous key-part delimiter

CACHE_SCHEMA = (
    "cache_key string, entity_id string, text string, label string, motivation string"
)


def cache_key_col(prompt_version: str, cols: Sequence[str]) -> F.Column:
    """md5(prompt_version <US> col1 <US> col2 ...) — the S4 content hash."""
    parts = [F.lit(prompt_version)] + [
        F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols
    ]
    return F.md5(F.encode(F.concat_ws(US, *parts), "UTF-8"))


def empty_cache(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], CACHE_SCHEMA)


def load_cache(spark: SparkSession, path: str) -> DataFrame:
    """Read a cache snapshot; a missing path (first run: no snapshot yet)
    gives an empty cache. Any other failure — an unknown filesystem
    scheme, denied access — raises: silently starting empty would
    re-label every key."""
    try:
        return spark.read.schema(CACHE_SCHEMA).parquet(path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return empty_cache(spark)


def cached_label_stage(
    df: DataFrame,
    backend: Backend,
    cache: DataFrame,
    key_cols: Sequence[str] = ("entity_id", "text"),
    text_col: str = "masked_text",
    prompt_version: str = "v1",
    batch_size: int = 10,
    guardrail: bool = True,
) -> tuple[DataFrame, DataFrame]:
    """llm_label_stage with an S4 content-hash cache in front.

    Returns ``(labeled_df, new_cache)`` where ``new_cache`` holds cache
    rows for every key seen this run (hits + fresh misses) — write it back
    with ``new_cache.write.mode("overwrite").parquet(path)`` to warm the
    next run. Backend is invoked for cache-miss keys only.
    """
    keys = list(key_cols)
    # the join-back and the unique-key set both read the keyed input:
    # materialize it once instead of re-running its lineage per consumer
    keyed = df.withColumn(
        "cache_key", cache_key_col(prompt_version, keys)
    ).localCheckpoint(eager=False)
    unique = keyed.select("cache_key", *keys, text_col).dropDuplicates(["cache_key"])

    hits = unique.join(
        cache.select("cache_key", "label", "motivation"), "cache_key", "inner"
    ).select("cache_key", *keys, "label", "motivation")
    misses = unique.join(cache.select("cache_key"), "cache_key", "left_anti")

    fresh = llm_label_stage(
        misses,
        backend,
        key_cols=[*keys, "cache_key"],
        text_col=text_col,
        batch_size=batch_size,
        guardrail=False,  # guardrail applied once, below, on the full result
    ).select("cache_key", *keys, "label", "motivation")
    # both outputs (the labeled result AND the new cache snapshot) read
    # all_labels: one materialization, so a second consumer re-runs
    # neither the backend calls — real LLM money, the exact failure S4
    # exists to prevent — nor the hits join
    all_labels = hits.unionByName(fresh).localCheckpoint(eager=False)
    new_cache = all_labels.select(
        "cache_key",
        F.col(keys[0]).cast("string").alias("entity_id"),
        F.col(keys[-1]).cast("string").alias("text"),
        "label",
        "motivation",
    )

    joined = keyed.join(
        all_labels.select("cache_key", "label", "motivation"), "cache_key", "left"
    ).drop("cache_key")
    if guardrail:
        joined = joined.withColumn(
            "label",
            F.when(
                F.col("motivation").contains("Target Company"), F.col("label")
            ).otherwise(F.lit("U")),
        )
    return joined, new_cache

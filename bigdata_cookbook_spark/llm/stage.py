"""LLM stage combinators (SURVEY.md §2.9 L1-L3, §4 "custom Spark work").

Reference orchestration: AI_Cost_Cutting_Market_Analysis/src/labeling.py —
dedup unique (entity_id, text) pairs (:263-264), micro-batch ≤chunk_size
sentences per prompt (:141-196), asyncio semaphore concurrency (:107-138),
join labels back (:312-322), guardrail forcing label 'U' when the
motivation never cites the target (:379).

Spark-native shape:
    dropDuplicates(keys) -> repartition(n_partitions) -> mapInPandas
    (micro-batch per prompt inside each partition) -> left join back.
- Concurrency knob = partition count (each partition is an independent
  worker; an async client inside the partition multiplies it).
- The dedup->join-back rewrite is the UDF common-subexpression
  elimination Catalyst can't do (SURVEY §4) — provided here as the
  reusable combinator.
- Backends are plain callables  rows->rows  so the deterministic stub and
  a real async OpenAI client are interchangeable; the engine's correctness
  claims never depend on a live model.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

Backend = Callable[[list[dict]], list[dict]]


def llm_label_stage(
    df: DataFrame,
    backend: Backend,
    key_cols: Sequence[str] = ("entity_id", "text"),
    text_col: str = "masked_text",
    batch_size: int | None = 10,
    n_partitions: int | None = None,
    guardrail: bool = True,
) -> DataFrame:
    """Attach (label, motivation) to every row, calling ``backend`` once
    per unique key combination only.

    ``batch_size`` is the number of rows per backend CALL: the stub and
    other synchronous backends take one prompt's worth (default 10); for
    the async backend pass ``None`` to hand over whole Arrow batches —
    the backend micro-batches internally and fans the prompts out through
    one asyncio.gather, so its concurrency knob actually multiplies the
    partition count (openai_backend.make_async_backend)."""
    keys = list(key_cols)
    unique = df.select(*keys, text_col).dropDuplicates(keys)
    if n_partitions:
        unique = unique.repartition(n_partitions)

    entity_col = keys[0]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if pdf.empty:
                continue
            results = []
            records = pdf.to_dict("records")
            step = batch_size if batch_size is not None else len(records)
            for i in range(0, len(records), step):
                chunk = records[i : i + step]
                rows = [
                    {
                        "id": j,
                        "entity_id": str(r[entity_col]),
                        "text": r[text_col] or "",
                    }
                    for j, r in enumerate(chunk)
                ]
                labeled = {r["id"]: r for r in backend(rows)}
                for j, r in enumerate(chunk):
                    lab = labeled.get(j, {})
                    results.append(
                        {
                            **{k: r[k] for k in keys},
                            "label": lab.get("label", "U"),
                            "motivation": lab.get("motivation", ""),
                        }
                    )
            yield pd.DataFrame(results)

    # Key columns keep their INPUT types in the mapInPandas output so the
    # join-back is a same-type equi-join: string-coerced keys would make
    # Spark compare long-vs-string through an implicit cast, which blocks
    # co-partitioned/bucketed join reuse at scale.
    from pyspark.sql.types import StringType, StructField, StructType

    out_schema = StructType(
        [unique.schema[k] for k in keys]
        + [
            StructField("label", StringType()),
            StructField("motivation", StringType()),
        ]
    )
    labels = unique.mapInPandas(run, schema=out_schema)
    joined = df.join(labels, on=keys, how="left")
    if guardrail:
        joined = joined.withColumn(
            "label",
            F.when(
                F.col("motivation").contains("Target Company"), F.col("label")
            ).otherwise(F.lit("U")),
        )
    return joined


def pack_token_budget(
    df: DataFrame,
    group_cols: Sequence[str],
    text_col: str,
    max_tokens: int,
    order_cols: Sequence[str] | None = None,
    estimator: str = "chars4",
) -> DataFrame:
    """F8: assign each row a pack_id by token budget: a pack's STARTING
    offset (cumulative estimate before the row) is always under
    ``max_tokens``, so a pack can exceed the budget by at most one row's
    estimate — size ``max_tokens`` with one-row headroom when the budget
    is a hard prompt limit. (The reference's greedy driver loop,
    token_manager.py, closes a pack before it overshoots; the relational
    start-offset rule trades that guarantee for a single window pass with
    no driver loop — documented deviation.)

    ``estimator`` picks the token-count tier (all pure codegen'd
    expressions, see functions/text.py): 'chars4' = chars/4 (reference
    labeling.py:161-162 — the oracle-pinned default), 'ws' = exact
    whitespace count, 'bpe' = the BPE-ish pretokenizer count (closest to
    real model budgets). A running sum window + integer division plans
    the packing relationally — one shuffle on the group key.
    """
    from bigdata_cookbook_spark.functions.text import (
        bpe_token_count_expr,
        token_count_expr,
    )

    if estimator == "chars4":
        raw = (F.length(F.col(text_col)) / 4).cast("long")
    elif estimator == "ws":
        raw = token_count_expr(F.col(text_col)).cast("long")
    elif estimator == "bpe":
        raw = bpe_token_count_expr(F.col(text_col)).cast("long")
    else:
        raise ValueError("estimator must be 'chars4', 'ws', or 'bpe'")
    est = F.greatest(raw, F.lit(1))
    order = [F.col(c) for c in (order_cols or group_cols)]
    w = (
        Window.partitionBy(*group_cols)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn("est_tokens", est).withColumn(
        "pack_id",
        ((F.sum("est_tokens").over(w) - F.col("est_tokens")) / max_tokens).cast("int"),
    )

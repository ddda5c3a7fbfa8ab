"""Hierarchical map-reduce summarizer (SURVEY.md §2.9 L5; family covers
L6 risk assessor, L7 response extractor, L9 intro reducer — same shape
with different prompts/backends).

Reference: Tracking_Inflation_Drivers/src/summarize.py:62-126 and
Report_Generator_Regulatory_Issues_in_Tech/src/summary/summary.py:60-173 —
per (theme, topic): drop-duplicate texts, pack into <=max_tokens chunks,
summarize each chunk, wrap the chunk summaries as reports, summarize the
summaries; n_documents = nunique(document_id).

Spark-native shape: one ``repartition(*keys).mapInPandas`` pass. The
shuffle brings every row of a key into one task; there the whole tree
for that key runs: dedup, pack by ``pack_token_budget``'s chars4
start-offset rule (``_pack_ids``), one backend call per pack, repeat on
the summaries until the key has one row or ``max_levels`` is reached.
Keys are independent, so each stops at its own depth, and keys spread
over the shuffle's tasks. Building the frame runs no Spark job; the
consumer's action runs the tree once. The backend is a plain
``list[str] -> str`` callable so the deterministic stub and a real LLM
client are interchangeable.
"""

from __future__ import annotations

import hashlib
from collections.abc import Callable, Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

SummarizeBackend = Callable[[list[str]], str]


def stub_summarizer(texts: list[str]) -> str:
    """Deterministic stand-in: stable digest of the sorted inputs, tagged
    with the input count so tree shape is observable in tests."""
    h = hashlib.md5("\x1f".join(sorted(texts)).encode()).hexdigest()[:12]
    return f"[summary n={len(texts)} {h}]"


def _pack_ids(texts: Sequence[str | None], max_tokens: int) -> list[int]:
    """Pack id of each text, in order: ``pack_token_budget``'s chars4 rule
    (estimate = max(chars // 4, 1), NULL counts 1; pack id = starting
    offset / max_tokens, truncated) — the same double division Spark
    plans, so ids match the relational form bit for bit."""
    ids, start = [], 0
    for t in texts:
        ids.append(int(start / max_tokens))
        start += max(len(t) // 4, 1) if t is not None else 1
    return ids


def _null_first(t: str | None) -> tuple[bool, str]:
    """Sort key of Spark's ascending NULLS FIRST string order (code-point
    order is UTF-8 byte order)."""
    return (t is not None, t or "")


def _tree_reduce(
    texts: list[str | None],
    backend: SummarizeBackend,
    max_tokens: int,
    max_levels: int,
) -> list[str | None]:
    """One key's tree: distinct texts (NULL kept once) in ascending order,
    NULLs first; each level calls ``backend`` once per pack (NULLs left
    out, an all-NULL pack gives "") until one row is left."""
    level = sorted(set(texts), key=_null_first)
    for _ in range(max_levels):
        packs: dict[int, list[str]] = {}
        for pid, t in zip(_pack_ids(level, max_tokens), level):
            packs.setdefault(pid, [])
            if t is not None:
                packs[pid].append(t)
        level = sorted(backend(p) if p else "" for p in packs.values())
        if len(level) <= 1:
            break
    return level


def hierarchical_summarize(
    df: DataFrame,
    keys: Sequence[str],
    text_col: str,
    doc_col: str | None = None,
    backend: SummarizeBackend = stub_summarizer,
    max_tokens: int = 100_000,
    max_levels: int = 10,
) -> DataFrame:
    """L5: reduce all texts per key to one summary row per key.

    Returns ``keys... , summary, n_documents`` (n_documents only when
    ``doc_col`` given = distinct non-null values of it, reference
    summarize.py:117). Duplicate texts are dropped before the first level
    (the reference's dedup-before-LLM rule, SURVEY §4). A key that still
    has several rows after ``max_levels`` levels keeps them all. Rows
    whose key holds a NULL are dropped, as the reference's pandas groupby
    drops them.
    """
    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    keys = list(keys)
    casted = df.select(
        *[F.col(k).cast("string").alias(k) for k in keys],
        F.col(text_col).cast("string").alias(text_col),
        *([F.col(doc_col).alias("__doc")] if doc_col else []),
    )
    out_cols = [*keys, "summary", *(["n_documents"] if doc_col else [])]

    def run(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts = [p for p in pdfs if not p.empty]
        if not parts:
            return
        pdf = pd.concat(parts, ignore_index=True)
        rows = []
        for kv, grp in pdf.groupby(keys, sort=True):
            key = dict(zip(keys, kv))
            n_docs = {"n_documents": grp["__doc"].nunique()} if doc_col else {}
            texts = grp[text_col].tolist()
            for summary in _tree_reduce(texts, backend, max_tokens, max_levels):
                rows.append({**key, "summary": summary, **n_docs})
        yield pd.DataFrame(rows, columns=out_cols)

    out_schema = ", ".join(
        [f"`{k}` string" for k in keys]
        + ["summary string"]
        + (["n_documents bigint"] if doc_col else [])
    )
    # hash-partition on the key so all of a key's rows meet in one task
    return casted.repartition(*keys).mapInPandas(run, schema=out_schema)


def reduce_summaries(
    texts: list[str],
    backend: SummarizeBackend = stub_summarizer,
) -> str:
    """L9 — intro-section reducer (reference summarize.py:129-219):
    condense the per-topic summaries into one overview. Driver-side by
    design: the input is one row per topic (tiny); each summary is fenced
    as a numbered report block before the single reduce call."""
    from bigdata_cookbook_spark.functions.text import format_report_block

    blocks = [format_report_block(t, i + 1) for i, t in enumerate(texts)]
    return backend(blocks)

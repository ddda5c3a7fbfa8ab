"""Benchmark-side LLM backends: the package's deterministic stub answers,
a fixed simulated service time per call, and a log line per call.

They run inside Spark's Python workers, so this module must be importable
there (``run.py`` puts the repository root on ``PYTHONPATH``). Each call
appends ``tag, kind, rows, busy seconds`` to a per-process log file under
``log_dir``; ``read_calls`` sums the lines per tag in the benchmark process.
"""

from __future__ import annotations

import os
import time
from collections import defaultdict

from bigdata_cookbook_spark.llm.stub import stub_backend
from bigdata_cookbook_spark.llm.summarize import stub_summarizer


class _Logged:
    kind = ""

    def __init__(self, log_dir: str, tag: str, service_s: float):
        self.log_dir = log_dir
        self.tag = tag
        self.service_s = service_s

    def _log(self, n_rows: int, busy_s: float) -> None:
        path = os.path.join(self.log_dir, f"{os.getpid()}.log")
        with open(path, "a", encoding="utf-8") as f:
            f.write(f"{self.tag}\t{self.kind}\t{n_rows}\t{busy_s:.6f}\n")


class CountingBackend(_Logged):
    """Label backend: rows -> stub_backend(rows) after ``service_s``."""

    kind = "label"

    def __call__(self, rows: list[dict]) -> list[dict]:
        t0 = time.perf_counter()
        time.sleep(self.service_s)
        out = stub_backend(rows)
        self._log(len(rows), time.perf_counter() - t0)
        return out


class CountingSummarizer(_Logged):
    """Summarize backend: texts -> stub_summarizer(texts) after ``service_s``."""

    kind = "summarize"

    def __call__(self, texts: list[str]) -> str:
        t0 = time.perf_counter()
        time.sleep(self.service_s)
        out = stub_summarizer(texts)
        self._log(len(texts), time.perf_counter() - t0)
        return out


def read_calls(log_dir: str) -> dict[tuple[str, str], dict[str, float]]:
    """{(tag, kind): {"calls", "rows", "busy_s"}} over every worker's log."""
    acc: dict[tuple[str, str], dict[str, float]] = defaultdict(
        lambda: {"calls": 0, "rows": 0, "busy_s": 0.0}
    )
    for name in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, name), encoding="utf-8") as f:
            for line in f:
                tag, kind, rows, busy = line.rstrip("\n").split("\t")
                a = acc[(tag, kind)]
                a["calls"] += 1
                a["rows"] += int(rows)
                a["busy_s"] += float(busy)
    return dict(acc)

"""Self-test of the benchmark's own checks.

    python3 perfbench/selftest.py

Proves that the timer-integrity guard fires on a re-collected DataFrame
and stays quiet on a fresh one, and that equal seeds give equal input
digests and different seeds different ones. Exits 1 on any failure.
"""

from __future__ import annotations

import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.run import ROOT, prepare_environment, stop_spark  # noqa: E402


def check(failures: list[str], ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        failures.append(what)


def guard_cases(failures: list[str]) -> None:
    from pyspark.sql import functions as F

    from bigdata_cookbook_spark.session import get_spark
    from perfbench.probe import SparkStatus, foreign_skips

    spark = get_spark("perfbench-selftest")
    spark.sparkContext.setLogLevel("ERROR")
    status = SparkStatus(spark)
    sc = spark.sparkContext
    table = spark.range(20000).withColumn("k", F.col("id") % 13).cache()
    table.count()

    def build():
        return table.groupBy("k").agg(F.sum("id").alias("s"))

    def skips(group: str, df) -> list[int]:
        sc.setJobGroup(group, group)
        df.toPandas()
        status.drain()
        return foreign_skips(status.group_stages(group)[1])

    reused = build()
    check(failures, not skips("first", reused), "guard quiet on a fresh DataFrame")
    check(failures, bool(skips("again", reused)), "guard fires on a re-collected DataFrame")
    check(failures, not skips("fresh", build()),
          "guard quiet on a rebuilt DataFrame over the same cached table")


def digest_cases(failures: list[str], work: str) -> None:
    from bigdata_cookbook_spark.sources.fixtures import generate_corpus
    from perfbench.inputs import dir_digest, gen_scale_tables, rows_digest

    def tables(seed: int, tag: str) -> str:
        out = os.path.join(work, tag)
        gen_scale_tables(ROOT, out, 0.001, seed)
        return dir_digest(out)

    a, b, c = tables(1, "a"), tables(1, "b"), tables(2, "c")
    check(failures, a == b, "equal seeds give equal table digests")
    check(failures, a != c, "different seeds give different table digests")
    f1 = rows_digest(*generate_corpus(n_docs=50, seed=1))
    check(failures, f1 == rows_digest(*generate_corpus(n_docs=50, seed=1)),
          "equal seeds give equal fixture digests")
    check(failures, f1 != rows_digest(*generate_corpus(n_docs=50, seed=2)),
          "different seeds give different fixture digests")


def main() -> int:
    work = os.path.join(ROOT, ".perfbench", f"selftest-{os.getpid()}")
    prepare_environment(work)
    failures: list[str] = []
    try:
        digest_cases(failures, work)
        guard_cases(failures)
    finally:
        stop_spark()
        shutil.rmtree(work, ignore_errors=True)
    print(f"{len(failures)} failures")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

"""Tests for S3 checkpoints, S4 LLM cache, S6/S7 sinks, L5 summarizer."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bigdata_cookbook_spark.llm.cache import (
    cached_label_stage,
    empty_cache,
    load_cache,
)
from bigdata_cookbook_spark.llm.stub import stub_backend
from bigdata_cookbook_spark.llm.summarize import (
    hierarchical_summarize,
    stub_summarizer,
)
from bigdata_cookbook_spark.plans.checkpoint import stage_checkpoint
from bigdata_cookbook_spark.sinks import html_report, workbook_sink

def make_counting_backend(marker_dir: str):
    """Backend that records each call via a marker file — Python workers
    are separate processes, so in-memory counters never reach the driver;
    the shared filesystem does."""

    def backend(rows: list[dict]) -> list[dict]:
        import uuid

        with open(os.path.join(marker_dir, uuid.uuid4().hex), "w") as f:
            f.write(str(len(rows)))
        return stub_backend(rows)

    return backend


def rows_labeled(marker_dir: str) -> int:
    total = 0
    for name in os.listdir(marker_dir):
        with open(os.path.join(marker_dir, name)) as f:
            total += int(f.read())
    return total


@pytest.fixture()
def labeled_input(spark):
    # 5 entities x 20 texts = 100 unique (entity, text) keys, each row twice
    rows = [
        (f"E{e}", f"text body number {t}", f"masked body {t} of E{e}")
        for e in range(5)
        for t in range(20)
    ] * 2
    return spark.createDataFrame(rows, "entity_id string, text string, masked_text string")


def test_cache_miss_then_hit(spark, labeled_input, tmp_path):
    cache_path = str(tmp_path / "llm_cache")
    markers1 = str(tmp_path / "m1")
    os.makedirs(markers1)

    out1, cache1 = cached_label_stage(
        labeled_input, make_counting_backend(markers1), load_cache(spark, cache_path)
    )
    r1 = {(r.entity_id, r.text): (r.label, r.motivation) for r in out1.collect()}
    assert len(r1) == 100  # 5 entities x 20 texts unique keys
    cache1.write.mode("overwrite").parquet(cache_path)
    assert rows_labeled(markers1) == 100  # backend saw each unique key once

    markers2 = str(tmp_path / "m2")
    os.makedirs(markers2)
    out2, cache2 = cached_label_stage(
        labeled_input, make_counting_backend(markers2), load_cache(spark, cache_path)
    )
    r2 = {(r.entity_id, r.text): (r.label, r.motivation) for r in out2.collect()}
    assert rows_labeled(markers2) == 0  # warm cache: zero backend calls
    assert r1 == r2  # and identical results
    assert cache2.count() == 100


def test_cached_label_stage_evaluates_input_once(spark, labeled_input, tmp_path):
    """Writing both outputs evaluates each input row once (the keyed
    input and the hits + fresh union are each materialized once) and
    hands each miss key to the backend once."""
    seen = str(tmp_path / "seen")
    calls = str(tmp_path / "calls")
    os.makedirs(seen)
    os.makedirs(calls)

    def mark(batches):
        import uuid

        for pdf in batches:
            with open(os.path.join(seen, uuid.uuid4().hex), "w") as f:
                f.write(str(len(pdf)))
            yield pdf

    counted = labeled_input.mapInPandas(mark, schema=labeled_input.schema)
    out, new_cache = cached_label_stage(
        counted, make_counting_backend(calls), empty_cache(spark)
    )
    out.write.parquet(str(tmp_path / "labeled"))
    new_cache.write.parquet(str(tmp_path / "cache"))
    assert rows_labeled(seen) == 200  # 100 keys x 2 rows, each read once
    assert rows_labeled(calls) == 100
    assert spark.read.parquet(str(tmp_path / "labeled")).count() == 200
    assert spark.read.parquet(str(tmp_path / "cache")).count() == 100


def test_load_cache_missing_path_only(spark, tmp_path):
    """Only a missing path means "no snapshot yet"; any other read
    failure (here an unknown filesystem scheme) raises."""
    cache = load_cache(spark, str(tmp_path / "no_snapshot_yet"))
    assert cache.count() == 0
    assert cache.schema == empty_cache(spark).schema
    with pytest.raises(Exception, match="nosuchfs"):
        load_cache(spark, "nosuchfs://bucket/cache")


def test_cache_prompt_version_invalidates(spark, labeled_input, tmp_path):
    _out, cache1 = cached_label_stage(
        labeled_input,
        make_counting_backend(str(tmp_path)),
        empty_cache(spark),
        prompt_version="v1",
    )
    cache1 = cache1.cache()
    cache1.count()
    markers = str(tmp_path / "mv2")
    os.makedirs(markers)
    out2, _ = cached_label_stage(
        labeled_input, make_counting_backend(markers), cache1, prompt_version="v2"
    )
    out2.collect()
    assert rows_labeled(markers) == 100  # new prompt version = full re-label


def test_stage_checkpoint_idempotent(spark, tmp_path):
    path = str(tmp_path / "stage1")
    builds: list[int] = []

    def build():
        builds.append(1)
        return spark.range(10).withColumn("x", F.col("id") * 2)

    df1 = stage_checkpoint(spark, path, build)
    assert df1.count() == 10
    df2 = stage_checkpoint(spark, path, build)
    assert df2.count() == 10
    assert sum(builds) == 1  # second call read the parquet, didn't rebuild
    assert os.path.exists(os.path.join(path, "_SUCCESS"))


def test_stage_checkpoint_ignores_uncommitted(spark, tmp_path):
    path = str(tmp_path / "stage2")
    os.makedirs(path)  # simulates a crashed partial write: no _SUCCESS
    df = stage_checkpoint(spark, path, lambda: spark.range(3))
    assert df.count() == 3


def test_html_report_structure(spark):
    df = spark.createDataFrame(
        [("P", "Acme", "good quote"), ("P", "Bcme", "b quote"), ("N", "Ccme", "<bad>")],
        "label string, company string, quote string",
    )
    out = html_report(
        df, group_col="label", title="T&T", body_cols=["company", "quote"]
    )
    assert out.index("<h2>N</h2>") < out.index("<h2>P</h2>")  # sorted groups
    assert "&lt;bad&gt;" in out  # escaped
    assert out.count("<div class='item'>") == 3
    assert "T&amp;T" in out
    # byte-stable: second render identical
    assert out == html_report(
        df, group_col="label", title="T&T", body_cols=["company", "quote"]
    )


def test_workbook_sink(spark, tmp_path):
    sheets = {
        "By Sector!": spark.createDataFrame([(1, "a")], "id int, v string"),
        "raw": spark.range(5),
    }
    paths = workbook_sink(sheets, str(tmp_path / "wb"))
    assert sorted(paths) == ["By Sector!", "raw"]
    with open(paths["By Sector!"]) as f:
        assert f.read().splitlines()[0] == "id,v"


def test_hierarchical_summarize_single_level(spark):
    df = spark.createDataFrame(
        [("t1", f"doc{i}", f"text {i}") for i in range(4)],
        "theme string, doc_id string, text string",
    )
    out = hierarchical_summarize(
        df, keys=["theme"], text_col="text", doc_col="doc_id", max_tokens=1000
    ).collect()
    assert len(out) == 1
    assert out[0].theme == "t1"
    assert out[0].n_documents == 4
    assert out[0].summary == stub_summarizer([f"text {i}" for i in range(4)])


def test_hierarchical_summarize_multi_level_and_dedup(spark):
    # 60 rows, 30 unique texts per theme, tiny budget -> forces >1 level
    rows = []
    for theme in ("a", "b"):
        for i in range(30):
            t = f"{theme} body {i} " + "x" * 50
            rows.append((theme, f"d{i}", t))
            rows.append((theme, f"dup{i}", t))  # duplicate text, distinct doc
    df = spark.createDataFrame(rows, "theme string, doc_id string, text string")
    out = hierarchical_summarize(
        df, keys=["theme"], text_col="text", doc_col="doc_id", max_tokens=40
    )
    got = {r.theme: r for r in out.collect()}
    assert set(got) == {"a", "b"}
    for r in got.values():
        assert r.n_documents == 60
        assert r.summary.startswith("[summary n=")
    # deterministic across runs
    out2 = hierarchical_summarize(
        df, keys=["theme"], text_col="text", doc_col="doc_id", max_tokens=40
    )
    assert {r.theme: r.summary for r in out2.collect()} == {
        k: v.summary for k, v in got.items()
    }


def test_hierarchical_summarize_stops_each_key_at_one_row(spark, tmp_path):
    """A key that reaches one row stops, while a deeper key keeps
    reducing: ``b`` is one summary of its two texts, not a summary of
    its own summary. Calls are attributed to keys through their inputs."""
    import json

    markers = str(tmp_path / "calls")
    os.makedirs(markers)

    def backend(texts: list[str]) -> str:
        import uuid

        out = stub_summarizer(texts)
        with open(os.path.join(markers, uuid.uuid4().hex), "w") as f:
            json.dump({"in": texts, "out": out}, f)
        return out

    a_texts = [f"a body {i} " + "x" * 50 for i in range(30)]
    df = spark.createDataFrame(
        [("a", t) for t in a_texts] + [("b", "b one"), ("b", "b two")],
        "theme string, text string",
    )
    got = {
        r.theme: r.summary
        for r in hierarchical_summarize(
            df, keys=["theme"], text_col="text", backend=backend, max_tokens=40
        ).collect()
    }
    assert got["b"] == stub_summarizer(["b one", "b two"])
    assert got["b"] == "[summary n=2 de1535048cd8]"

    calls = []
    for name in os.listdir(markers):
        with open(os.path.join(markers, name)) as f:
            calls.append(json.load(f))
    owner = {t: "a" for t in a_texts} | {"b one": "b", "b two": "b"}
    per_key = {"a": 0, "b": 0}
    while calls:  # a call's key is its inputs' key; its output inherits it
        ready = [c for c in calls if c["in"][0] in owner]
        assert ready, "call inputs that no key produced"
        for c in ready:
            owner[c["out"]] = owner[c["in"][0]]
            per_key[owner[c["out"]]] += 1
        calls = [c for c in calls if c not in ready]
    # a: 30 texts of 14-15 tokens -> 11 packs -> 2 packs -> 1 summary
    assert per_key == {"a": 14, "b": 1}


def test_hierarchical_summarize_builds_without_jobs(spark):
    """Building the summary frame (or rejecting a non-positive budget)
    submits no Spark job; its consumer's action is the one pass."""
    df = spark.createDataFrame(
        [("t1", f"doc{i}", f"text {i}") for i in range(40)],
        "theme string, doc_id string, text string",
    )
    sc = spark.sparkContext
    sc.setJobGroup("summarize-build", "summarize build probe")
    try:
        # 40 one-token texts at budget 10: 4 packs -> 2 -> 1, three levels
        out = hierarchical_summarize(
            df, keys=["theme"], text_col="text", doc_col="doc_id", max_tokens=10
        )
        with pytest.raises(ValueError, match="max_tokens"):
            hierarchical_summarize(df, keys=["theme"], text_col="text", max_tokens=0)
        assert sc.statusTracker().getJobIdsForGroup("summarize-build") == []
        rows = out.collect()
        assert [(r.summary[:13], r.n_documents) for r in rows] == [("[summary n=2 ", 40)]
        assert sc.statusTracker().getJobIdsForGroup("summarize-build")
    finally:
        sc.setJobGroup("", "")


def test_graph_dot_export(spark):
    """Co-mention-style edge frame -> deterministic Graphviz DOT with
    escaped ids and weight labels."""
    from bigdata_cookbook_spark.sinks import graph_dot

    edges = spark.createDataFrame(
        [("a \"co\"", "b", 3), ("b", "c\\d", 1)],
        "src string, dst string, w int",
    )
    dot = graph_dot(edges, "src", "dst", weight_col="w")
    assert dot.splitlines()[0] == "graph g {"
    assert '"a \\"co\\"" -- "b" [label="3"];' in dot
    assert '"b" -- "c\\\\d" [label="1"];' in dot
    assert dot.strip().endswith("}")
    # directed flavor
    d2 = graph_dot(edges, "src", "dst", directed=True)
    assert d2.splitlines()[0] == "digraph g {"
    assert '"b" -> "c\\\\d";' in d2


def test_bench_cleanup_scratch_never_touches_foreign_warehouse(spark, tmp_path):
    """cleanup_scratch removes only the mkdtemp dir bench created; when
    getOrCreate attached to a pre-existing session (warehouse != ours),
    the session's warehouse is untouched and our stale dir still goes."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location("benchmod", "/root/repo/bench.py")
    benchmod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(benchmod)

    scratch = tmp_path / "bcs_test_scratch"
    scratch.mkdir()
    (scratch / "leftover.parquet").write_text("x")
    benchmod.SCRATCH_WH = str(scratch)
    # the running test session's warehouse is NOT the scratch dir
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    assert wh.rstrip("/") != str(scratch)
    os.makedirs(wh, exist_ok=True)
    sentinel = os.path.join(wh, "bcs_foreign_sentinel")
    with open(sentinel, "w") as f:
        f.write("x")
    try:
        benchmod.cleanup_scratch(spark)
        assert not scratch.exists()      # our dir removed
        # foreign warehouse survived — dir AND its contents
        assert os.path.exists(wh)
        assert os.path.exists(sentinel)
        # the bench-created table is gone from the catalog either way
        assert not spark.catalog.tableExists("bench_li_bucketed")
    finally:
        if os.path.exists(sentinel):
            os.remove(sentinel)
    # None-state is a no-op
    benchmod.SCRATCH_WH = None
    benchmod.cleanup_scratch(spark)

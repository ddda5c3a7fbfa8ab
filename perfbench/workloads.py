"""The two workloads. Each one sets up its seeded inputs three times,
warms up, then runs its ops in a closed loop with one client in whole
rotations over its op kinds until ``seconds`` have passed (and at least a
workload-set number of rotations have run), checks every op's output and
returns its end-to-end and per-layer metrics.

An op always builds a fresh DataFrame inside its timer, then executes
it; nothing timed re-collects a DataFrame built earlier. An op's span
covers exactly its timed part; the output check and the DuckDB control
run after the span has closed.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

from perfbench.inputs import dir_digest, gen_scale_tables, rows_digest
from perfbench.llm_backend import CountingBackend, CountingSummarizer, read_calls
from perfbench.probe import (
    SparkStatus,
    Tracer,
    covered_seconds,
    foreign_skips,
    host_cpu_times,
    peak_rss_mb,
)

QUERY_SF = 0.01
QUERY_ROTATIONS = 2
CC_QUERIES = ["cluster_safe_split_docs", "neardup_canonical_clusters"]
SCREEN_DOCS = 500
SERVICE_S = 0.002
SETUPS = 3


class Run:
    """State of one benchmark run."""

    def __init__(self, root: str, work: str, seed: int, seconds: int, trace: bool):
        self.root = root
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.spark = None
        self.failures: list[str] = []
        self.info: dict = {}

    def fail(self, what: str) -> None:
        self.failures.append(what)
        print(f"perfbench: FAILED {what}", flush=True)

    # -- session -------------------------------------------------------

    def start_session(self):
        from bigdata_cookbook_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def jvm_pid(self) -> int:
        return self.spark.sparkContext._gateway.proc.pid

    def setups(self, setup_one) -> dict:
        """Run ``setup_one(k)`` SETUPS times, each after a fresh session.
        Only the first one launches the JVM (and runs the load cold), so the
        median is a set-up on a warm JVM; every sample is kept in ``info``.
        Returns the last set-up's state."""
        totals, gens, loads, digests = [], [], [], []
        state = None
        for k in range(SETUPS):
            t0 = time.perf_counter()
            self.start_session()
            state = setup_one(k)
            totals.append(time.perf_counter() - t0)
            gens.append(state["gen_s"])
            loads.append(state["load_s"])
            digests.append(state["digest"])
        if len(set(digests)) != 1:
            self.fail(f"input digests differ between set-ups: {digests}")
        self.info["input_digest"] = digests[0]
        self.setup = {
            "setup_s": statistics.median(totals),
            "sources.gen_s": statistics.median(gens),
            "sources.load_s": statistics.median(loads),
        }
        self.info["setup_s_samples"] = totals
        self.status = SparkStatus(self.spark)
        self.tracer = Tracer(self.spark, self.status, f"r{self.seed}", self.trace)
        return state

    def environment(self) -> dict:
        import duckdb
        import pyspark

        conf = self.spark.sparkContext.getConf().getAll()
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "spark_conf": {
                k: v for k, v in sorted(conf)
                if k.startswith(("spark.sql.", "spark.driver.memory", "spark.master"))
            },
        }

    # -- ops -----------------------------------------------------------

    def run_op(self, kind: str, index: int, timed, check) -> dict:
        """One op: ``timed(op)`` inside the op span, then ``check(op)``
        after it. An op that raises counts as failed."""
        op = {"kind": kind, "index": index}
        try:
            with self.tracer.span(kind, op=True) as rec:
                timed(op)
            op["span"] = rec
            with self.tracer.span("check"):
                check(op)
        except Exception:  # noqa: BLE001
            traceback.print_exc()
            op["error"] = True
            self.fail(f"op {index} {kind} raised")
        op.pop("df", None)
        return op

    def loop(self, kinds: list[str], timed, check, min_rotations: int,
             shuffle: bool = True) -> list[dict]:
        """Closed loop: whole rotations over ``kinds`` (the first order
        seeded when ``shuffle``, each later one starting one kind further
        on) until ``seconds`` have passed and ``min_rotations`` are done."""
        order = list(kinds)
        if shuffle:
            random.Random(self.seed).shuffle(order)
        ops: list[dict] = []
        cpu0 = host_cpu_times()
        t_end = time.perf_counter() + self.seconds
        rot = 0
        while rot < min_rotations or time.perf_counter() < t_end:
            for pos in range(len(order)):
                kind = order[(pos + rot) % len(order)]
                ops.append(self.run_op(kind, len(ops), timed, check))
            rot += 1
        self.info["rotations"] = rot
        # share of the host's CPU time taken by other guests (steal) while
        # the loop ran
        total, steal = (b - a for a, b in zip(cpu0, host_cpu_times()))
        self.info["host_steal_share"] = steal / max(1, total)
        return ops

    def op_stages(self, op: dict) -> tuple[list[int], list[dict]]:
        """Jobs and stages of an op's own job group (and its child spans)."""
        rec = op["span"]
        if not self.trace:
            self.status.drain()
            return self.status.group_stages(rec["id"])
        jobs, stages = [], []
        for s in self.tracer.subtree(rec):
            jobs += s.get("jobs", [])
            stages += s.get("stages", [])
        return jobs, stages

    def finish(self, ops: list[dict], suite_kinds: list[str], layer: dict) -> dict:
        ok_ops = [o for o in ops if "latency_s" in o]
        samples: dict[str, list[float]] = {}
        for o in ok_ops:
            samples.setdefault(o["kind"], []).append(o["latency_s"])
        suite = (sum(statistics.median(samples[k]) for k in suite_kinds)
                 if all(k in samples for k in suite_kinds) else float("nan"))
        lat = sorted(v for k in suite_kinds for v in samples.get(k, []))
        rss = peak_rss_mb(self.jvm_pid())
        self.info["peak_rss_mb_by_process"] = sorted(rss.values(), reverse=True)
        e2e = {
            "setup_s": self.setup["setup_s"],
            "peak_rss_mb": sum(rss.values()),
            "suite_s": suite,
        }
        n = len(lat)
        self.info["op_p50_s"] = statistics.median(lat) if lat else None
        if n >= 11:
            self.info["op_tail"] = {
                "percentile": round(100.0 * (n - 10) / n, 1),
                "value_s": lat[n - 11],
                "samples": n,
            }
        else:
            self.info["op_tail"] = {"samples": n, "note": "fewer than 11 samples"}
        self.info["samples"] = {k: [round(v, 4) for v in vs] for k, vs in sorted(samples.items())}
        if self.trace:
            layer.update({k: v for k, v in self.setup.items() if k.startswith("sources.")})
            layer.update(self.spark_layer(ok_ops))
        return {
            "attempted": len(ops),
            "failed": sum(1 for o in ops if o.get("error") or o.get("wrong")),
            "e2e": e2e,
            "layer": layer,
            "samples": n,
        }

    def spark_layer(self, ops: list[dict]) -> dict:
        """Per-layer Spark numbers of the timed ops, from the status store
        as attributed to each op's spans."""
        agg = dict.fromkeys(
            ["jobs", "run", "skipped", "tasks", "tasks_failed", "run_s", "cpu_s",
             "gc_s", "shuffle_write_b", "shuffle_read_b", "fetch_wait_s", "spill_b",
             "gap_s", "wall_s", "construct_s", "action_s"], 0.0)
        for op in ops:
            rec = op["span"]
            jobs, stages = self.op_stages(op)
            agg["jobs"] += len(jobs)
            intervals = []
            for s in stages:
                if s["status"] == "SKIPPED":
                    agg["skipped"] += 1
                    continue
                agg["run"] += 1
                for f in ("tasks", "tasks_failed", "run_s", "cpu_s", "gc_s",
                          "shuffle_write_b", "shuffle_read_b", "fetch_wait_s", "spill_b"):
                    agg[f] += s[f]
                if s["start"] is not None and s["end"] is not None:
                    intervals.append((s["start"], s["end"]))
            wall = rec["end"] - rec["start"]
            agg["wall_s"] += wall
            agg["gap_s"] += wall - covered_seconds(
                intervals, rec["wall_start"], rec["wall_end"])
            for s in self.tracer.subtree(rec):
                if s["name"] == "construct":
                    agg["construct_s"] += s["end"] - s["start"]
                elif s["name"].startswith(("action", "sinks.", "write.")):
                    agg["action_s"] += s["end"] - s["start"]
        mb = 1.0 / 2**20
        self.info["spark_fetch_wait_s"] = agg["fetch_wait_s"]
        return {
            "api.construct_s": agg["construct_s"],
            "api.action_s": agg["action_s"],
            "api.jobs_per_op": agg["jobs"] / max(1, len(ops)),
            "spark.jobs": agg["jobs"],
            "spark.stages_run": agg["run"],
            "spark.stages_skipped": agg["skipped"],
            "spark.tasks": agg["tasks"],
            "spark.tasks_failed": agg["tasks_failed"],
            "spark.executor_run_s": agg["run_s"],
            "spark.executor_cpu_s": agg["cpu_s"],
            "spark.gc_s": agg["gc_s"],
            "spark.shuffle_write_mb": agg["shuffle_write_b"] * mb,
            "spark.shuffle_read_mb": agg["shuffle_read_b"] * mb,
            "spark.spill_mb": agg["spill_b"] * mb,
            "spark.driver_gap_s": agg["gap_s"],
            "spark.core_busy_share": agg["run_s"] / max(1e-9, agg["wall_s"] * self.status.cores),
            "trace.wall_s": agg["wall_s"],
            "trace.overhead_s": self.tracer.overhead_s,
        }

    def trace_report(self) -> dict:
        """Per span name: count, total and self seconds, and the Spark jobs
        and executor time of the span's own job group."""
        by_name: dict[str, dict] = {}
        for s in self.tracer.spans:
            if "end" not in s:
                continue
            r = by_name.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0,
                                               "spark_jobs": 0, "spark_run_s": 0.0})
            r["count"] += 1
            r["total_s"] += s["end"] - s["start"]
            r["self_s"] += self.tracer.self_time(s)
            r["spark_jobs"] += s.get("spark", {}).get("jobs", 0)
            r["spark_run_s"] += s.get("spark", {}).get("run_s", 0.0)
        return by_name


# -- query-mix ---------------------------------------------------------


def query_mix(run: Run) -> dict:
    import duckdb

    from pyspark import inheritable_thread_target

    import __spark_entry__ as entrymod
    from bench import HEADLINE
    from bigdata_cookbook_spark.sources.testdata import TABLES, load_table

    saved_path = list(sys.path)
    from tools.verify_local import canon  # the oracle gate's compare

    sys.path[:] = saved_path  # verify_local prepends its own checkout path

    def setup_one(k: int) -> dict:
        spark = run.spark
        data = os.path.join(run.work, f"sf-{k}")
        t0 = time.perf_counter()
        rows = gen_scale_tables(run.root, data, QUERY_SF, run.seed)
        digest = dir_digest(data)
        t1 = time.perf_counter()
        for t in TABLES:
            df = load_table(spark, data, t).cache()
            df.count()
        return {"gen_s": t1 - t0, "load_s": time.perf_counter() - t1,
                "digest": digest, "data": data, "rows": rows}

    state = run.setups(setup_one)
    data = state["data"]
    run.info["input_rows"] = state["rows"]
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE TABLE {t} AS SELECT * FROM '{data}/{t}.parquet'")
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()

    # untimed warm-up: each headline query once (JIT and codegen), and its
    # DuckDB oracle's answer, which every timed op is compared with. The
    # queries are independent, so the warm-up runs them on nproc threads.
    expected: dict[str, tuple] = {}

    def warm(q: str) -> None:
        expected[q] = canon(con.cursor().sql(oracles[q]).df())
        queries[q](run.spark, data).toPandas()

    t0 = time.perf_counter()
    with run.tracer.span("warmup"), ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
        # the threads inherit the span's Spark job group
        done = {q: pool.submit(inheritable_thread_target(warm), q) for q in HEADLINE}
        for q, e in [(q, f.exception()) for q, f in done.items() if f.exception()]:
            print(f"perfbench: warm-up {q} raised {e!r}; running it alone", flush=True)
            try:
                warm(q)
            except Exception:  # noqa: BLE001 — its timed ops then fail too
                traceback.print_exc()
                run.fail(f"warm-up {q} raised")
    run.info["warmup_s"] = time.perf_counter() - t0

    duck: dict[str, list[float]] = {q: [] for q in HEADLINE}
    plan_s = 0.0

    def timed(op: dict) -> None:
        q = op["kind"]
        t0 = time.perf_counter()
        with run.tracer.span("construct"):
            df = queries[q](run.spark, data)
        with run.tracer.span("action"):
            op["pdf"] = df.toPandas()
        op["latency_s"] = time.perf_counter() - t0
        op["df"] = df

    def check(op: dict) -> None:
        nonlocal plan_s
        q, pdf = op["kind"], op.pop("pdf")
        if run.trace:
            it = op["df"]._jdf.queryExecution().tracker().phases().iterator()
            while it.hasNext():
                plan_s += it.next()._2().durationMs() / 1e3
        if q in CC_QUERIES:
            if (len(pdf) != state["rows"]["documents"] or not pdf["doc_id"].is_unique
                    or not pdf["canonical_id"].isin(pdf["doc_id"]).all()):
                op["wrong"] = True
                run.fail(f"op {op['index']} {q}: not one row per document with a "
                         "canonical id among the documents")
            return
        d0 = time.perf_counter()
        con.sql(oracles[q]).df()
        duck[q].append(time.perf_counter() - d0)
        if canon(pdf) != expected[q]:
            op["wrong"] = True
            run.fail(f"op {op['index']} {q}: row count or value hash differs from "
                     "the DuckDB oracle")

    with run.tracer.span("measure"):
        ops = run.loop(list(HEADLINE), timed, check, QUERY_ROTATIONS)
    if run.trace:
        # the connected-components queries run their fixpoint while the
        # DataFrame is built; each runs once, cold, after the headline loop
        # (their oracles take seconds each, so the check is structural)
        with run.tracer.span("cc"):
            ops += [run.run_op(q, len(ops), timed, check) for q in CC_QUERIES]

    # timer-integrity guard: a skipped stage must reuse a shuffle written
    # inside the same op
    cc_jobs = 0
    for op in ops:
        if "span" not in op:
            continue
        _, stages = run.op_stages(op)
        bad = foreign_skips(stages)
        if bad:
            op["wrong"] = True
            run.fail(f"op {op['index']} {op['kind']}: stages {bad} skipped on reused "
                     "shuffle output")
        if op["kind"] in CC_QUERIES:
            cc_jobs += sum(len(s.get("jobs", [])) for s in run.tracer.children(op["span"])
                           if s["name"] == "construct")

    res = run.finish(ops, list(HEADLINE), {})
    suite = res["e2e"]["suite_s"]
    duck_suite = sum(statistics.median(v) for v in duck.values() if v)
    run.info["duckdb_headline_s"] = duck_suite
    run.info["headline_vs_duckdb"] = suite / duck_suite
    if run.trace:
        run.info["entry.plan_s"] = plan_s
        res["layer"].update({
            "operators.graph.cc_jobs": cc_jobs,
            "workflows.spark_jobs": 0,
            "llm.backend_calls": 0,
            "llm.unique_keys": 0,
            "llm.rows_per_call": 0.0,
            "llm.calls_per_unique_key": 0.0,
            "llm.summarize_calls": 0,
            "llm.cache_hit_ratio": 0.0,
            "sinks.mb_written": 0.0,
            "duckdb.ratio": suite / duck_suite,
        })
    return res


# -- screen-llm --------------------------------------------------------


def _day2_frames(spark, docs1, chunks1, seed: int):
    """Day-2 input: the day-1 documents whose id hashes even (about half of
    the day-1 keys) plus a fresh corpus under new document ids."""
    from pyspark.sql import functions as F

    from bigdata_cookbook_spark.sources.fixtures import fixture_frames

    _, docs_new, chunks_new = fixture_frames(spark, n_docs=SCREEN_DOCS // 2, seed=seed + 1)
    new_id = F.concat(F.lit("N"), F.col("document_id"))
    docs_new = docs_new.withColumn("document_id", new_id)
    chunks_new = chunks_new.withColumn("document_id", new_id).withColumn(
        "sentence_id", F.concat(F.lit("N"), F.col("sentence_id")))
    keep = F.abs(F.hash("document_id")) % 2 == 0
    return (
        docs1.filter(keep).unionByName(docs_new),
        chunks1.filter(keep).unionByName(chunks_new),
    )


def _reference_labels(scr) -> tuple[dict[tuple[str, str], str], int]:
    """Label of every (entity_id, text) key of a screening frame, computed
    on the driver from the stub backend and the guardrail rule alone, and
    the frame's row count."""
    from bigdata_cookbook_spark.llm.stub import stub_backend

    labels: dict[tuple[str, str], str] = {}
    n_rows = 0
    for r in scr.groupBy("entity_id", "text", "masked_text").count().collect():
        n_rows += r["count"]
        ans = stub_backend([{"id": 0, "entity_id": str(r["entity_id"]),
                             "text": r["masked_text"] or ""}])[0]
        label = ans["label"] if "Target Company" in ans["motivation"] else "U"
        key = (str(r["entity_id"]), r["text"])
        if labels.setdefault(key, label) != label:
            raise ValueError(f"key {key} has masked texts with different labels")
    return labels, n_rows


def screen_llm(run: Run) -> dict:
    from pyspark.sql import functions as F

    from bigdata_cookbook_spark import sinks
    from bigdata_cookbook_spark.llm.cache import cached_label_stage, empty_cache, load_cache
    from bigdata_cookbook_spark.operators.normalize import normalize_screening
    from bigdata_cookbook_spark.sources.fixtures import fixture_frames, generate_corpus
    from bigdata_cookbook_spark.workflows import (
        dual_role_analysis,
        report_generator,
        thematic_screener,
    )

    log_dir = os.path.join(run.work, "llm-calls")
    os.makedirs(log_dir, exist_ok=True)

    def setup_one(k: int) -> dict:
        spark = run.spark
        t0 = time.perf_counter()
        digest = rows_digest(
            *generate_corpus(n_docs=SCREEN_DOCS, seed=run.seed),
            *generate_corpus(n_docs=SCREEN_DOCS // 2, seed=run.seed + 1),
        )
        ents, docs1, chunks1 = fixture_frames(spark, n_docs=SCREEN_DOCS, seed=run.seed)
        docs2, chunks2 = _day2_frames(spark, docs1, chunks1, run.seed)
        t1 = time.perf_counter()
        day1 = [f.cache() for f in (ents, docs1, chunks1)]
        for f in day1:
            f.count()
        # day-2 input is first read by the untimed preparation below
        return {"gen_s": t1 - t0, "load_s": time.perf_counter() - t1,
                "digest": digest, "frames": day1 + [docs2.cache(), chunks2.cache()]}

    state = run.setups(setup_one)
    ents, docs1, chunks1, docs2, chunks2 = state["frames"]
    spark = run.spark

    # untimed: the day-1 cache snapshot, and the reference labels and key
    # counts every op is checked against
    cache_day1 = os.path.join(run.work, "cache-day1")
    t0 = time.perf_counter()
    with run.tracer.span("prepare"):
        scr1 = normalize_screening(docs1, chunks1, ents, mode="discovery")
        scr2 = normalize_screening(docs2, chunks2, ents, mode="discovery")
        _, snap = cached_label_stage(
            scr1, CountingBackend(log_dir, "prepare", 0.0), empty_cache(spark))
        snap.write.mode("overwrite").parquet(cache_day1)
        ref1, n_scr1 = _reference_labels(scr1)
        ref2, _ = _reference_labels(scr2)
    run.info["warmup_s"] = time.perf_counter() - t0
    u1, u2 = len(ref1), len(ref2)
    misses2 = len(ref2.keys() - ref1.keys())
    planted = 1.0 - misses2 / u2
    run.info["keys"] = {"day1_unique": u1, "day2_unique": u2, "day2_misses": misses2,
                        "planted_overlap": planted}
    assigned1 = {k: v for k, v in ref1.items() if v not in ("", "unassigned", "unclear", "U")}

    def out_dir(op: dict) -> str:
        return os.path.join(run.work, "out", str(op["index"]))

    def sink_file(op: dict, name: str, text: str) -> None:
        with run.tracer.span(f"sinks.{name.split('.')[-1]}"):
            with open(os.path.join(out_dir(op), name), "w", encoding="utf-8") as f:
                f.write(text)

    def write_parquet(df, path: str) -> None:
        with run.tracer.span("write.parquet"):
            df.write.mode("overwrite").parquet(path)

    def op_thematic(op: dict, backend) -> None:
        with run.tracer.span("construct"):
            out = thematic_screener(docs1, chunks1, ents, ["P", "A", "N"], backend)
        d = out_dir(op)
        with run.tracer.span("sinks.workbook_xlsx_sink"):
            sinks.workbook_xlsx_sink(
                {"By Company": out["by_company"], "By Industry": out["by_industry"]},
                os.path.join(d, "thematic.xlsx"))
        sink_file(op, "thematic.html", sinks.html_report(
            out["by_company"], group_col="entity_sector", title="Thematic exposure",
            body_cols=["entity_name", "P", "A", "N", "composite_score"],
            heading_col="entity_name"))
        write_parquet(out["labeled"], os.path.join(d, "labeled"))

    def op_dual(op: dict, backend) -> None:
        with run.tracer.span("construct"):
            out = dual_role_analysis(docs1, chunks1, ents, backend)
        d = out_dir(op)
        with run.tracer.span("sinks.workbook_sink"):
            sinks.workbook_sink(
                {"top_by_sector": out["top_by_sector"], "weekly_net": out["weekly_net"]},
                os.path.join(d, "dual_role"))
        sink_file(op, "network.dot", sinks.graph_dot(
            out["network"], "src_name", "dst_name", weight_col="weight"))
        write_parquet(out["labeled"], os.path.join(d, "labeled"))

    def op_report(op: dict, backend) -> None:
        summarizer = CountingSummarizer(log_dir, str(op["index"]), SERVICE_S)
        with run.tracer.span("construct"):
            out = report_generator(docs1, chunks1, ents, backend, summarize_backend=summarizer)
        d = out_dir(op)
        sink_file(op, "report.html", sinks.html_report(
            out["report"], group_col="label", title="Risk report",
            body_cols=["entity_name", "risk_level", "summary", "n_docs", "score"],
            heading_col="entity_name"))
        with run.tracer.span("sinks.workbook_sink"):
            sinks.workbook_sink({"summaries": out["summaries"]}, os.path.join(d, "report"))
        write_parquet(out["labeled"], os.path.join(d, "labeled"))

    def op_relabel(op: dict, backend) -> None:
        with run.tracer.span("construct"):
            scr = normalize_screening(docs2, chunks2, ents, mode="discovery")
            labeled, new_cache = cached_label_stage(scr, backend, load_cache(spark, cache_day1))
        d = out_dir(op)
        write_parquet(labeled, os.path.join(d, "labeled"))
        write_parquet(new_cache, os.path.join(d, "cache_snapshot"))

    kinds = {"thematic": op_thematic, "dual_role": op_dual, "report": op_report,
             "relabel": op_relabel}
    # the labels each op's labeled output must carry, and the most label
    # rows it may hand the backend: one per unique key, and for the relabel
    # one per key the day-1 snapshot does not hold
    want_labels = {"thematic": ref1, "dual_role": ref1, "report": assigned1, "relabel": ref2}
    max_rows = {"thematic": u1, "dual_role": u1, "report": u1, "relabel": misses2}

    def timed(op: dict) -> None:
        os.makedirs(out_dir(op), exist_ok=True)
        backend = CountingBackend(log_dir, str(op["index"]), SERVICE_S)
        t0 = time.perf_counter()
        kinds[op["kind"]](op, backend)
        op["latency_s"] = time.perf_counter() - t0

    def check(op: dict) -> None:
        kind = op["kind"]
        labeled = spark.read.parquet(os.path.join(out_dir(op), "labeled"))
        got = {(str(r[0]), r[1]): r[2] for r in
               labeled.select("entity_id", "text", "label").distinct().collect()}
        if got != want_labels[kind]:
            op["wrong"] = True
            bad = len(got.items() ^ want_labels[kind].items())
            run.fail(f"op {op['index']} {kind}: {bad} (entity_id, text, label) rows "
                     "differ from the reference labels")
        if kind == "thematic" and labeled.count() != n_scr1:
            op["wrong"] = True
            run.fail(f"op {op['index']} thematic: labeled row count is not the "
                     f"{n_scr1} screened rows")

    with run.tracer.span("measure"):
        # the workflows first, then the relabel, as a daily screening job
        # runs them; a seeded order would move the cold first op around
        ops = run.loop(list(kinds), timed, check, 1, shuffle=False)

    calls = read_calls(log_dir)
    for op in ops:
        tag = str(op["index"])
        label = calls.get((tag, "label"), {"calls": 0, "rows": 0, "busy_s": 0.0})
        op["llm"] = label
        op["summarize_calls"] = calls.get((tag, "summarize"), {"calls": 0})["calls"]
        op["mb_written"] = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(out_dir(op)) for f in fs) / 2**20
        if "latency_s" in op and label["rows"] > max_rows[op["kind"]]:
            op["wrong"] = True
            run.fail(f"op {op['index']} {op['kind']}: backend got {label['rows']} rows, "
                     f"more than the {max_rows[op['kind']]} unique uncached keys")

    res = run.finish(ops, list(kinds), {})
    if run.trace:
        first = {}
        for o in ops:
            first.setdefault(o["kind"], o)
        pass_ops = list(first.values())
        label_calls = sum(o["llm"]["calls"] for o in pass_ops)
        label_rows = sum(o["llm"]["rows"] for o in pass_ops)
        wf_jobs = sum(len(run.op_stages(o)[0]) for o in pass_ops
                      if o["kind"] != "relabel" and "span" in o)
        run.info["llm.backend_busy_s"] = sum(o["llm"]["busy_s"] for o in pass_ops)
        run.info["sinks.write_s"] = sum(
            s["end"] - s["start"] for s in run.tracer.spans
            if s["name"].startswith(("sinks.", "write.")) and "end" in s)
        res["layer"].update({
            "operators.graph.cc_jobs": 0,
            "workflows.spark_jobs": wf_jobs,
            "llm.backend_calls": label_calls,
            "llm.unique_keys": 3 * u1 + u2,
            "llm.rows_per_call": label_rows / max(1, label_calls),
            "llm.calls_per_unique_key": label_rows / max(1, 3 * u1 + misses2),
            "llm.summarize_calls": sum(o["summarize_calls"] for o in pass_ops),
            "llm.cache_hit_ratio": 1.0 - first["relabel"]["llm"]["rows"] / u2,
            "sinks.mb_written": sum(o["mb_written"] for o in pass_ops),
            "duckdb.ratio": 0.0,
        })
    shutil.rmtree(os.path.join(run.work, "out"), ignore_errors=True)
    return res


WORKLOADS = {"query-mix": query_mix, "screen-llm": screen_llm}

#!/usr/bin/env python3
"""Repository benchmark: KG indexing and querying at local[nproc].

    python3 perfbench/run.py --workload index_hot --seed 1 --seconds 10 --trace 0

Run from the repository root.  One driver process starts one Spark session,
generates the workload's inputs from ``--seed`` (perfbench/gen.py), builds
the knowledge graph once cold (set-up), then runs a closed loop of warm
builds, single questions and batched question sets for ``--seconds``, and
checks every output (perfbench/checks.py).  The last stdout line is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` replaces the
loop with one call per layer, each under its own Spark job group, and
reports the per-layer metrics (perfbench/README.md lists both sets).
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback

import checks
import gen
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("index_hot", "index_zipf")
PROGRAM_FILES = ("lightrag_spark/plans/kg_build.py", "tests/pyoracle.py", "__spark_entry__.py")
MAX_TOTAL_TOKENS = 30000


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# --------------------------------------------------------------------------
# process-tree memory
# --------------------------------------------------------------------------


class PeakRss:
    """Peak summed RSS of this process's descendants (the Spark JVM and
    its Python workers), sampled from /proc every 100 ms."""

    def __init__(self):
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        while not self._stop.wait(0.1):
            total = 0
            for pid in descendants(os.getpid()):
                try:
                    with open(f"/proc/{pid}/statm") as f:
                        total += int(f.read().split()[1]) * self._page
                except (OSError, IndexError, ValueError):
                    pass  # exited between listing and reading
            self.peak_bytes = max(self.peak_bytes, total)


def descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


# --------------------------------------------------------------------------
# session
# --------------------------------------------------------------------------


def start_spark(work: str):
    from lightrag_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus * 2,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": work,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, the JVM and every process under this one."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        _stop_gateway(gateway)


def _stop_gateway(gateway) -> None:
    """Shut the py4j gateway down, close the JVM's stdin (it exits on EOF),
    then wait for every child process and kill what is left after 30 s."""
    if gateway is not None:
        gateway.shutdown()
        proc = gateway.proc
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)
    for pid in descendants(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def build_config():
    from lightrag_spark.plans.kg_build import KGBuildConfig

    # bench.py's full-mode configuration
    return KGBuildConfig(
        tokenizer_kind="regex",
        chunk_token_size=64,
        chunk_overlap_token_size=8,
        max_gleaning=1,
        merge_salts=16,
        with_source_spans=True,
        cache_records=True,
    )


DOCS_SCHEMA = "doc_id string, text string, file_path string, doc_order long"


# --------------------------------------------------------------------------
# operations (what a user of the system does)
# --------------------------------------------------------------------------


def op_build(spark, docs_df, cfg):
    from lightrag_spark.plans.kg_build import build_kg

    t0 = time.perf_counter()
    r = build_kg(docs_df, cfg)
    r.kg_nodes.count()
    r.kg_edges.count()
    return time.perf_counter() - t0, r


def op_query(r, question):
    from lightrag_spark.plans.query import kg_query_context

    t0 = time.perf_counter()
    ctx, _refs, debug = kg_query_context(
        r, question, mode="hybrid", max_total_tokens=MAX_TOTAL_TOKENS
    )
    return time.perf_counter() - t0, (ctx, debug)


def op_batch(spark, r, questions):
    from lightrag_spark.plans.batch_query import (
        batch_context,
        batch_entity_seeds,
        batch_one_hop,
    )

    t0 = time.perf_counter()
    qdf = spark.createDataFrame([(q,) for q in questions], "question string")
    seeds = batch_entity_seeds(r.kg_nodes, qdf, k=10)
    rels = batch_one_hop(seeds, r.kg_edges, r.kg_nodes, k=10)
    rows = batch_context(seeds, rels, r.kg_nodes, r.chunks, per_entity=5).collect()
    return time.perf_counter() - t0, rows


# --------------------------------------------------------------------------
# untraced run: end-to-end metrics
# --------------------------------------------------------------------------


class Ops:
    """Counts attempted and failed operations; a failed operation is
    logged and skipped."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, name, fn, *args):
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # noqa: BLE001 - the run keeps going and reports it
            self.failed += 1
            log(f"{name} failed:\n{traceback.format_exc()}")
            return None


def set_up(spark, inputs, cfg, ops):
    """The cold first build, then one question: the window's first question
    would otherwise pay the query path's code generation and JIT warm-up."""
    docs_df = spark.createDataFrame(inputs["docs"], DOCS_SCHEMA).cache()
    docs_df.count()
    first = ops.run("build", op_build, spark, docs_df, cfg)
    if first is None:
        raise RuntimeError("the set-up build failed")
    r = first[1]
    spark.catalog.clearCache()
    docs_df.cache().count()
    out = ops.run("query", op_query, r, inputs["questions"][0])
    return docs_df, r, [out[1]] if out else []


def end_to_end(spark, inputs, cfg, seconds, t_start, ops, problems):
    questions = inputs["questions"]
    docs_df, r, answers = set_up(spark, inputs, cfg, ops)
    setup_s = time.perf_counter() - t_start
    n_triples = r.triples.count()

    builds, query_s, batch_s = [], [], []
    batch_rows = None
    # closed loop, one client: whole cycles of build -> question -> batch
    # until the window has run for ``seconds``
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < seconds:
        out = ops.run("build", op_build, spark, docs_df, cfg)
        if out is not None:
            builds.append(out[0])
            r = out[1]
            spark.catalog.clearCache()
            docs_df.cache().count()
        q = questions[len(answers) % len(questions)]
        out = ops.run("query", op_query, r, q)
        if out is not None:
            query_s.append(out[0])
            answers.append(out[1])
        out = ops.run("batch", op_batch, spark, r, questions)
        if out is not None:
            batch_s.append(out[0])
            batch_rows = out[1]
    window_s = time.perf_counter() - t0
    if not (builds and query_s and batch_s):
        raise RuntimeError("the measured window completed no build, question or batch")
    log(
        f"window {window_s:.1f}s: {len(builds)} builds, {len(query_s)} questions, "
        f"{len(batch_s)} batches"
    )

    t_check = time.perf_counter()
    oracle = checks.oracle_graph(inputs["docs"], cfg)
    problems += checks.graph_mismatches(r.kg_nodes.collect(), r.kg_edges.collect(), oracle)
    for ctx, debug in answers:
        problems += checks.query_mismatches(ctx, debug, oracle, MAX_TOTAL_TOKENS)
    want = checks.batch_twin(questions, oracle, inputs["docs"])
    problems += checks.batch_mismatches(batch_rows, want)
    log(f"set-up {setup_s:.1f}s, checks {time.perf_counter() - t_check:.1f}s")

    build_s = statistics.median(builds)
    return {
        "setup_s": (setup_s, "s"),
        "build_s": (build_s, "s"),
        "triples_per_s": (n_triples / build_s, "1/s"),
        "query_p50_s": (statistics.median(query_s), "s"),
        "batch_query_s": (statistics.median(batch_s), "s"),
    }


# --------------------------------------------------------------------------
# traced run: per-layer metrics
# --------------------------------------------------------------------------


def traced_build(spark, tr, docs_df, cfg):
    """build_kg's stage order, one layer call per span, each boundary
    materialized before the next layer starts."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    from lightrag_spark.operators.chunking import chunk_documents
    from lightrag_spark.operators.extraction import extract_records, split_records
    from lightrag_spark.operators.merge import (
        add_unknown_endpoint_nodes,
        merge_entity_nodes,
        merge_relation_edges,
        with_degrees,
    )
    from lightrag_spark.operators.summary import finalize_descriptions
    from lightrag_spark.plans.kg_build import KGBuildResult, checkpoint_concurrently

    m = {}
    par = cfg.parallelism or spark.sparkContext.defaultParallelism * 2
    calls = spark.sparkContext.accumulator(0)
    t_build = time.perf_counter()
    with tr.span("kg_build"):
        with tr.span("chunking") as s:
            t = time.perf_counter()
            chunks = chunk_documents(
                docs_df.repartition(par, "doc_id"),
                tokenizer_kind=cfg.tokenizer_kind,
                chunk_token_size=cfg.chunk_token_size,
                chunk_overlap_token_size=cfg.chunk_overlap_token_size,
                with_source_spans=cfg.with_source_spans,
                strategy=cfg.chunking_strategy,
            ).repartition(par, "chunk_id")
            m["chunking.call_s"] = time.perf_counter() - t
            t = time.perf_counter()
            (chunks,) = checkpoint_concurrently([chunks])
            m["chunking.exec_s"] = time.perf_counter() - t
        m["chunking.chunks_out"] = chunks.count()
        m["chunking.tasks"] = s.tasks
        m["chunking.task_s_sum"] = s.task_s_sum

        with tr.span("extraction") as s:
            t = time.perf_counter()
            records = extract_records(
                chunks,
                max_gleaning=cfg.max_gleaning,
                run_ts=cfg.run_ts,
                model_min_len=cfg.model_min_len,
                model_corruption=cfg.model_corruption,
                model_call_counter=calls,
                max_extract_input_tokens=cfg.max_extract_input_tokens,
                tokenizer_kind=cfg.tokenizer_kind,
            ).persist(StorageLevel.MEMORY_AND_DISK)
            m["extraction.call_s"] = time.perf_counter() - t
            t = time.perf_counter()
            m["extraction.records_out"] = records.count()
            m["extraction.exec_s"] = time.perf_counter() - t
        m["extraction.model_calls"] = calls.value
        m["extraction.task_skew"] = s.task_skew
        with tr.span("extraction.split"):
            t = time.perf_counter()
            mentions, triples, _cache = split_records(records)
            mentions, triples = checkpoint_concurrently([mentions, triples])
            m["extraction.split_exec_s"] = time.perf_counter() - t
        m["extraction.mentions"] = mentions.count()
        m["extraction.triples"] = triples.count()

        merge_stats = []
        with tr.span("merge.nodes") as s:
            t = time.perf_counter()
            (nodes,) = checkpoint_concurrently([merge_entity_nodes(
                mentions, salts=cfg.merge_salts, max_fragments=cfg.max_description_fragments
            )])
            m["merge.nodes_exec_s"] = time.perf_counter() - t
        merge_stats.append(s)
        with tr.span("merge.edges") as s:
            t = time.perf_counter()
            (edges,) = checkpoint_concurrently([merge_relation_edges(
                triples, salts=cfg.merge_salts, max_fragments=cfg.max_description_fragments
            )])
            m["merge.edges_exec_s"] = time.perf_counter() - t
        merge_stats.append(s)
        rows_in = m["extraction.mentions"] + m["extraction.triples"]
        keys_out = nodes.count() + edges.count()
        m["merge.rows_in"] = rows_in
        m["merge.keys_out"] = keys_out
        m["merge.keys_per_row"] = keys_out / max(rows_in, 1)
        for key in ("shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "tasks"):
            m[f"merge.{key}"] = sum(getattr(x, key) for x in merge_stats)
        m["merge.task_skew"] = max(x.task_skew for x in merge_stats)

        with tr.span("summary"):
            t = time.perf_counter()
            nodes = finalize_descriptions(nodes, "entity_name", "Entity", cfg.tokenizer_kind)
            edges = edges.withColumn(
                "_pair", F.concat(F.lit("("), "src", F.lit(", "), "tgt", F.lit(")"))
            )
            edges = finalize_descriptions(
                edges, "_pair", "Relation", cfg.tokenizer_kind
            ).drop("_pair")
            nodes, edges = checkpoint_concurrently([nodes, edges])
            m["summary.exec_s"] = time.perf_counter() - t
        n_summarized = nodes.count()
        with tr.span("finals") as s:
            t = time.perf_counter()
            nodes = add_unknown_endpoint_nodes(nodes, edges)
            nodes, edges = checkpoint_concurrently(list(with_degrees(nodes, edges)))
            m["finals.exec_s"] = time.perf_counter() - t
        m["finals.unknown_nodes_added"] = nodes.count() - n_summarized
        m["finals.shuffle_read_bytes"] = s.shuffle_read_bytes
        records.unpersist()
    m["kg_build.traced_total_s"] = time.perf_counter() - t_build
    ce = m["chunking.exec_s"] + m["extraction.exec_s"] + m["extraction.split_exec_s"]
    mf = m["merge.nodes_exec_s"] + m["merge.edges_exec_s"] + m["summary.exec_s"] + m["finals.exec_s"]
    m["kg_build.chunk_extract_share"] = ce / (ce + mf)
    m["kg_build.merge_finals_share"] = mf / (ce + mf)
    r = KGBuildResult(
        chunks=chunks, mentions=mentions, triples=triples, llm_cache=_cache,
        kg_nodes=nodes, kg_edges=edges, config=cfg,
    )
    return m, r


def traced_queries(spark, tr, r, questions, n=1):
    from lightrag_spark.operators.embedding import entity_vdb, vector_search

    m = {}
    jobs, tasks, driver_s, exec_s, vdb_s = [], [], [], [], []
    answers = []
    for q in questions[:n]:
        with tr.span("query") as s:
            _, answer = op_query(r, q)
        answers.append(answer)
        jobs.append(s.jobs)
        tasks.append(s.tasks)
        exec_s.append(s.job_busy_s)
        driver_s.append(s.wall_s - s.job_busy_s)
        with tr.span("embedding.vdb_search") as s:
            vector_search(entity_vdb(r.kg_nodes), q, k=40).collect()
        vdb_s.append(s.wall_s)
    m["query.jobs_per_question"] = statistics.mean(jobs)
    m["query.tasks_per_question"] = statistics.mean(tasks)
    m["query.driver_s"] = statistics.median(driver_s)
    m["query.exec_s"] = statistics.median(exec_s)
    m["embedding.vdb_search_s"] = statistics.median(vdb_s)
    return m, answers


def traced_batch(spark, tr, r, questions):
    """op_batch with each stage materialized under its own span."""
    from lightrag_spark.plans.batch_query import (
        batch_context,
        batch_entity_seeds,
        batch_one_hop,
    )

    qdf = spark.createDataFrame([(q,) for q in questions], "question string")
    with tr.span("batch_query.seeds") as s1:
        seeds = batch_entity_seeds(r.kg_nodes, qdf, k=10).localCheckpoint(eager=True)
    with tr.span("batch_query.one_hop") as s2:
        rels = batch_one_hop(seeds, r.kg_edges, r.kg_nodes, k=10).localCheckpoint(eager=True)
    with tr.span("batch_query.context") as s3:
        rows = batch_context(seeds, rels, r.kg_nodes, r.chunks, per_entity=5).collect()
    m = {
        "batch_query.seeds_s": s1.wall_s,
        "batch_query.one_hop_s": s2.wall_s,
        "batch_query.context_s": s3.wall_s,
        "batch_query.shuffle_bytes": sum(
            x.shuffle_read_bytes + x.shuffle_write_bytes for x in (s1, s2, s3)
        ),
    }
    return m, rows


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def traced_upsert(spark, tr, r, batch_rows, cfg, graph_dir):
    """Commit the built graph, then apply one micro-batch of pages the way
    streaming.kg_ingest.upsert_pages_batch does, one layer per span:
    enqueue, extraction of the delta, merge with the stored graph, commit."""
    from pyspark.storagelevel import StorageLevel

    from lightrag_spark.plans.incremental_merge import upsert_graph
    from lightrag_spark.plans.kg_build import build_kg, checkpoint_concurrently
    from lightrag_spark.sources.pages import PAGES_SCHEMA, enqueue_documents
    from lightrag_spark.streaming import kg_ingest

    os.makedirs(graph_dir)
    kg_ingest._commit_pair(r.kg_nodes, r.kg_edges, graph_dir)
    m = {}
    ucfg = dataclasses.replace(cfg, cache_records=False)
    pages = spark.createDataFrame(gen.pages(batch_rows), PAGES_SCHEMA)
    t_total = time.perf_counter()
    with tr.span("upsert"):
        with tr.span("enqueue") as s:
            (docs,) = checkpoint_concurrently([enqueue_documents(pages)])
        m["enqueue.exec_s"] = s.wall_s
        with tr.span("upsert.extract") as s:
            kg = build_kg(docs, ucfg)
            mentions = kg.mentions.persist(StorageLevel.MEMORY_AND_DISK)
            triples = kg.triples.persist(StorageLevel.MEMORY_AND_DISK)
            rows_in = mentions.count() + triples.count()
        m["upsert.extract_exec_s"] = s.wall_s
        with tr.span("upsert.merge") as s:
            stored_n = spark.read.parquet(os.path.join(graph_dir, kg_ingest.NODES))
            stored_e = spark.read.parquet(os.path.join(graph_dir, kg_ingest.EDGES))
            nodes, edges = checkpoint_concurrently(
                list(upsert_graph(stored_n, stored_e, mentions, triples, ucfg))
            )
        m["upsert.merge_exec_s"] = s.wall_s
        m["upsert.rows_in"] = rows_in
        m["upsert.shuffle_bytes"] = s.shuffle_read_bytes + s.shuffle_write_bytes
        with tr.span("commit") as s:
            kg.llm_cache.write.mode("append").parquet(os.path.join(graph_dir, kg_ingest.CACHE))
            kg_ingest._commit_pair(nodes, edges, graph_dir)
        m["commit.write_s"] = s.wall_s
        mentions.unpersist()
        triples.unpersist()
    m["upsert.total_s"] = time.perf_counter() - t_total
    m["commit.bytes_written"] = sum(
        dir_bytes(os.path.join(graph_dir, t)) for t in (kg_ingest.NODES, kg_ingest.EDGES)
    )
    stored_n = spark.read.parquet(os.path.join(graph_dir, kg_ingest.NODES))
    stored_e = spark.read.parquet(os.path.join(graph_dir, kg_ingest.EDGES))
    return m, stored_n.select("entity_name").collect(), stored_e.select(
        "src", "tgt", "weight"
    ).collect()


def per_layer(spark, inputs, cfg, ops, problems, work, spans_path):
    docs_df, _, answers = set_up(spark, inputs, cfg, ops)
    out = ops.run("build", op_build, spark, docs_df, cfg)
    if out is None:
        raise RuntimeError("the untraced reference build failed")
    build_s = out[0]
    spark.catalog.clearCache()
    docs_df.cache().count()

    tr = Tracer(spark)
    m, r = traced_build(spark, tr, docs_df, cfg)
    ops.attempted += 1
    m["trace.overhead_s"] = m["kg_build.traced_total_s"] - build_s
    qm, traced_answers = traced_queries(spark, tr, r, inputs["questions"])
    ops.attempted += len(traced_answers)
    answers += traced_answers
    m.update(qm)
    bm, batch_rows = traced_batch(spark, tr, r, inputs["questions"])
    ops.attempted += 1
    m.update(bm)
    um, up_nodes, up_edges = traced_upsert(
        spark, tr, r, inputs["batch"], cfg, os.path.join(work, "graph")
    )
    ops.attempted += 1
    m.update(um)
    tr.write(spans_path)

    oracle = checks.oracle_graph(inputs["docs"], cfg)
    problems += checks.graph_mismatches(r.kg_nodes.collect(), r.kg_edges.collect(), oracle)
    for ctx, debug in answers:
        problems += checks.query_mismatches(ctx, debug, oracle, MAX_TOTAL_TOKENS)
    want = checks.batch_twin(inputs["questions"], oracle, inputs["docs"])
    problems += checks.batch_mismatches(batch_rows, want)
    oracle_all = checks.oracle_graph(inputs["docs"] + inputs["batch"], cfg)
    problems += checks.upsert_mismatches(up_nodes, up_edges, oracle_all)
    return {k: (v, unit_of(k)) for k, v in m.items()}


# --------------------------------------------------------------------------
# entry point
# --------------------------------------------------------------------------


def unit_of(name: str) -> str:
    if name.endswith("_s") or name.endswith("_s_sum"):
        return "s"
    if name.endswith("_bytes") or name.endswith(".bytes_written"):
        return "bytes"
    if name.endswith("_share") or name.endswith("_skew") or name.endswith("keys_per_row"):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # SIGTERM unwinds like an exception so the session and the work
    # directory are cleaned up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    missing = [p for p in PROGRAM_FILES if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        log(f"program sources not found next to the benchmark: {missing}")
        return 2

    inputs = gen.workload_inputs(args.workload, args.seed)
    gen.self_check(args.workload, args.seed, inputs)
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = work
    # keep every JVM (spark-submit's launcher too) from writing /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work}"
    tempfile.tempdir = work
    ops, problems = Ops(), []
    spark = None
    try:
        with PeakRss() as rss:
            # set-up time starts here: input generation is excluded
            t_start = time.perf_counter()
            spark = start_spark(work)
            cfg = build_config()
            if args.trace:
                spans_path = os.path.join(
                    ROOT, ".perfbench_work", f"spans-{args.workload}-{args.seed}.json"
                )
                metrics = per_layer(spark, inputs, cfg, ops, problems, work, spans_path)
            else:
                metrics = end_to_end(spark, inputs, cfg, args.seconds, t_start, ops, problems)
        if not args.trace:
            metrics["peak_rss_mb"] = (rss.peak_bytes / 2**20, "MB")
    finally:
        try:
            if spark is not None:
                t_stop = time.perf_counter()
                stop_spark(spark)
                log(f"stop {time.perf_counter() - t_stop:.1f}s")
        finally:
            shutil.rmtree(work, ignore_errors=True)
    for p in problems:
        log(f"CHECK FAILED: {p}")
    result = {
        "correct": not problems,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())

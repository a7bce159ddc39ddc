"""The traced pass: per-layer metrics, taken from outside the program.

Each layer runs on its own through the module's public function, its
output staged as parquet, under a Spark job group named after it.
Spark's event log, switched on for this pass only, then gives each
group's executor CPU, GC, shuffle, spill and input bytes, and the
final (adaptive) plan of each SQL execution, from which the plan
fingerprint is counted. The parse kernel/flatten split is timed in
this process over a fixed sample of the workload's documents.

Imported only for ``--trace 1``, after ``run.py`` has put the checkout
on ``sys.path``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from collections import defaultdict

import duckdb
import pyarrow.parquet as pq
from rdf_spark.operators.canonical import canonicalize, cluster_for_write
from rdf_spark.operators.link import link_entities
from rdf_spark.operators.parse import (doc_to_rows, good_triples,
                                       parse_pages, parse_text)
from rdf_spark.operators.skolemize import skolemize
from rdf_spark.operators.sparql import sparql_select
from rdf_spark.sources.extract import extract_pages

import check

SAMPLE_EVERY = 4          # parse split: every 4th document


def _count_nodes(plan: dict, names: tuple[str, ...]) -> int:
    n = 1 if plan.get("nodeName") in names else 0
    return n + sum(_count_nodes(c, names) for c in plan.get("children", ()))


def reduce_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, executor run/CPU/GC seconds, shuffle,
    spill and input bytes, and Exchange / SortAggregate counts of the
    final plans of the group's SQL executions."""
    stage_group, exec_group, plans = {}, {}, {}
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    paths = glob.glob(os.path.join(log_dir, "*"))
    with open(paths[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                g = props.get("spark.jobGroup.id")
                if g is None:
                    continue
                groups[g]["jobs"] += 1
                for sid in ev["Stage IDs"]:
                    stage_group.setdefault(sid, g)
                eid = props.get("spark.sql.execution.id")
                if eid is not None:
                    exec_group.setdefault(int(eid), g)
            elif kind == "SparkListenerTaskEnd":
                g = stage_group.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if g is None or not m:
                    continue
                acc = groups[g]
                acc["run_s"] += m["Executor Run Time"] / 1e3
                acc["cpu_s"] += m["Executor CPU Time"] / 1e9
                acc["gc_s"] += m["JVM GC Time"] / 1e3
                acc["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                acc["shuffle_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                acc["input_bytes"] += m["Input Metrics"]["Bytes Read"]
            elif kind.endswith(("SparkListenerSQLExecutionStart",
                                "SparkListenerSQLAdaptiveExecutionUpdate")):
                plans[ev["executionId"]] = ev["sparkPlanInfo"]  # last one wins
    for eid, g in exec_group.items():
        plan = plans.get(eid)
        if plan is not None:
            groups[g]["exchanges"] += _count_nodes(plan, ("Exchange",))
            groups[g]["sort_aggregates"] += _count_nodes(plan, ("SortAggregate",))
    return groups


def _parse_split(blocks: list[tuple[str, str, str]]) -> tuple[float, float]:
    """(kernel_s, flatten_s) over every SAMPLE_EVERY-th document, scaled
    by bytes to the whole workload: ``parse_text`` time, and
    ``doc_to_rows`` time minus it. A first untimed pass imports the
    grammar modules."""
    sample = blocks[::SAMPLE_EVERY]
    for url, fmt, text in sample:
        doc_to_rows(url, fmt, text)
    kernel = whole = 0.0
    for url, fmt, text in sample:
        t0 = time.perf_counter()
        doc_to_rows(url, fmt, text)
        t1 = time.perf_counter()
        try:
            parse_text(fmt, text, base=url)
        except Exception:  # noqa: BLE001 — malformed documents are data
            pass
        whole += t1 - t0
        kernel += time.perf_counter() - t1
    scale = sum(len(b[2]) for b in blocks) / max(1, sum(len(b[2]) for b in sample))
    return kernel * scale, (whole - kernel) * scale


def traced(bench, untraced_run_s: float) -> dict[str, tuple[float, str]]:
    """Restart the session with the event log on and measure the layers."""
    wl = bench.wl
    log_dir = os.path.join(bench.tmp, "eventlog")
    bench.spark.stop()
    bench.open_session(event_log_dir=log_dir)
    bench.warm_up()
    spark, sc = bench.spark, bench.spark.sparkContext

    sc.setJobGroup("pipeline", "PipelineRun.run")
    traced_run_s, out = bench.pipeline_run()
    lineage = check.read_lineage(out)

    stage_dir = os.path.join(bench.tmp, "stages")
    busy = {}

    def stage(name: str, build):
        sc.setJobGroup(name, name)
        t0 = time.perf_counter()
        build().write.mode("overwrite").parquet(os.path.join(stage_dir, name))
        busy[name] = time.perf_counter() - t0
        return os.path.join(stage_dir, name)

    read = spark.read.parquet
    if wl.from_html:
        ext = stage("extract", lambda: extract_pages(bench.pages))
        par = stage("parse", lambda: parse_pages(read(ext)))
    else:
        busy["extract"] = 0.0
        par = stage("parse", lambda: parse_pages(
            bench.pages.select("url", "format", "text")))
    sko = stage("skolemize", lambda: skolemize(good_triples(read(par))))
    lnk = stage("link", lambda: link_entities(read(sko), bench.dictionary))
    can = stage("canonical", lambda: canonicalize(read(lnk)))
    wri = stage("write", lambda: cluster_for_write(read(can), buckets=4))

    # the query mix once over the traced run's output
    table = read(os.path.join(out, "triples"))
    compile_s, exec_s, rows_out = [], [], 0
    for i, q in enumerate(bench.mix.round(bench.rng)):
        sc.setJobGroup(f"sparql.{i}", q["name"])
        t0 = time.perf_counter()
        df = sparql_select(table, q["sparql"])
        df._jdf.queryExecution().executedPlan()
        t1 = time.perf_counter()
        rows_out += len(df.collect())
        compile_s.append(t1 - t0)
        exec_s.append(time.perf_counter() - t1)
    sc.setLocalProperty("spark.jobGroup.id", None)
    spark.stop()  # flushes the event log
    ev = reduce_event_log(log_dir)

    con = duckdb.connect()

    def count(path: str, where: str = "true") -> int:
        return con.execute(
            f"SELECT count(*) FROM '{path}/*.parquet' WHERE {where}").fetchone()[0]

    if wl.from_html:
        t = pq.read_table(ext, columns=["url", "format", "text"]).to_pylist()
        blocks = sorted((r["url"], r["format"], r["text"]) for r in t)
    else:
        blocks = [(u, f, x) for u, f, x in wl.pages]
    kernel_s, flatten_s = _parse_split(blocks)

    canon = f"(SELECT canonical_iri FROM '{bench.dict_path}')"
    iri_terms = con.execute(
        f"SELECT sum((subj_kind = 0)::INT + (obj_kind = 0)::INT) FROM '{sko}/*.parquet'"
    ).fetchone()[0]
    rewritten = con.execute(
        f"SELECT sum((subj_kind = 0 AND subj IN {canon})::INT"
        f" + (obj_kind = 0 AND obj_lex IN {canon})::INT) FROM '{lnk}/*.parquet'"
    ).fetchone()[0]
    write_bytes, write_files = check.parquet_bytes(wri)
    sparql_groups = [g for g in ev if g.startswith("sparql.")]

    def group(g: str, k: str) -> float:
        return ev.get(g, {}).get(k, 0.0)

    return {
        "extract.busy_s": (busy["extract"], "s"),
        "extract.bytes_in": (float(sum(len(p[1]) for p in wl.pages))
                             if wl.from_html else 0.0, "B"),
        "extract.blocks_out": (float(len(blocks)) if wl.from_html else 0.0, "count"),
        "parse.busy_s": (busy["parse"], "s"),
        "parse.rows_out": (float(count(par)), "count"),
        "parse.error_rows": (float(count(par, "error IS NOT NULL")), "count"),
        "parse.kernel_s": (kernel_s, "s"),
        "parse.flatten_s": (flatten_s, "s"),
        "parse.glue_s": (group("parse", "run_s") - kernel_s - flatten_s, "s"),
        "skolemize.busy_s": (busy["skolemize"], "s"),
        "link.busy_s": (busy["link"], "s"),
        "link.hit_ratio": (rewritten / iri_terms if iri_terms else 0.0, "frac"),
        "canonical.busy_s": (busy["canonical"], "s"),
        "canonical.dedupe_ratio": (count(can) / max(1, count(lnk)), "frac"),
        "canonical.shuffle_bytes": (group("canonical", "shuffle_bytes"), "B"),
        "canonical.spill_bytes": (group("canonical", "spill_bytes"), "B"),
        "canonical.exchanges": (group("canonical", "exchanges"), "count"),
        "canonical.sort_aggregates": (group("canonical", "sort_aggregates"), "count"),
        "write.busy_s": (busy["write"], "s"),
        "write.bytes_out": (float(write_bytes), "B"),
        "write.files_out": (float(write_files), "count"),
        "write.exchanges": (group("write", "exchanges"), "count"),
        "pipeline.overhead_s": (untraced_run_s - sum(busy.values()), "s"),
        "pipeline.jobs": (group("pipeline", "jobs"), "count"),
        "pipeline.input_scan_bytes": (group("pipeline", "input_bytes"), "B"),
        "pipeline.bucket_wall_max_s": (max(b["wall_ms"] for b in lineage) / 1e3, "s"),
        "pipeline.cross_bucket_dups": (float(check.cross_bucket_dups(con, out)), "count"),
        "sparql.compile_s": (statistics.median(compile_s), "s"),
        "sparql.exec_s": (statistics.median(exec_s), "s"),
        "sparql.rows_out": (float(rows_out), "count"),
        "sparql.exchanges": (sum(group(g, "exchanges") for g in sparql_groups), "count"),
        "spark.cpu_s": (sum(a["cpu_s"] for a in ev.values()), "s"),
        "spark.gc_s": (sum(a["gc_s"] for a in ev.values()), "s"),
        "trace.overhead_s": (traced_run_s - untraced_run_s, "s"),
    }

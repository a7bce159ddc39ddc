#!/usr/bin/env python3
"""Product-path benchmark for rdf_spark.

    python3 perfbench/run.py --workload html_crawl --seed 1 --seconds 12 --trace 0

Runs one workload (see README.md) on ``local[<cores>]`` from this
process: generates the inputs from the seed, sets up a Spark session
several times (median reported as ``setup_s``), then measures complete
``PipelineRun.run`` calls and a closed loop of SPARQL queries for the
given number of seconds, checks every output against the generator's
expectations and DuckDB, and prints one JSON object as the last line.
``--trace 1`` adds a traced pass and reports the per-layer metrics
instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import tempfile
import time

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

import check
import gen
import spark_env

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUPS = 3               # set-ups per run; setup_s is their median
MIN_PIPELINE_RUNS = 3
MIN_QUERY_ROUNDS = 5
# share of the measured window spent on pipeline runs (the rest runs
# the query loop over the last output)
PIPELINE_SHARE = 0.5


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("html_crawl", "nt_bulk"))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=12)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def tail_percentile(n: int) -> int:
    """Highest whole percentile with at least ten samples beyond it."""
    return max(50, int(100 * (1 - 10 / n))) if n >= 20 else 50


def percentile(values: list[float], pct: int) -> float:
    s = sorted(values)
    return s[min(len(s) - 1, int(round(pct / 100 * (len(s) - 1))))]


def write_pages(pages: list[tuple], from_html: bool, path: str) -> str:
    """Pages as a crawl table of 8 parquet files (Spark reads them as
    several partitions)."""
    os.makedirs(path)
    for k in range(8):
        rows = pages[k::8]
        if from_html:
            cols = {"url": [r[0] for r in rows],
                    "html": pa.array([r[1] for r in rows], pa.binary())}
        else:
            cols = {"url": [r[0] for r in rows], "format": [r[1] for r in rows],
                    "text": [r[2] for r in rows]}
        pq.write_table(pa.table(cols), os.path.join(path, f"part-{k}.parquet"))
    return path


def write_dictionary(wl, tmp: str) -> str:
    path = os.path.join(tmp, "dictionary.parquet")
    pq.write_table(pa.table({"surface": [s for s, _c in wl.dictionary],
                             "canonical_iri": [c for _s, c in wl.dictionary]}),
                   path)
    return path


class Bench:
    def __init__(self, args, tmp: str):
        t0 = time.perf_counter()
        self.args = args
        self.tmp = tmp
        self.wl = gen.WORKLOADS[args.workload](args.seed)
        self.input_dir = write_pages(self.wl.pages, self.wl.from_html,
                                     os.path.join(tmp, "input"))
        self.dict_path = write_dictionary(self.wl, tmp)
        self.expected = check.Expected(self.wl, tmp)
        self.mix = check.QueryMix(self.wl)
        self.rng = random.Random(args.seed)
        self.con = duckdb.connect()
        self.spark = None
        self.n_out = 0
        self.generate_s = time.perf_counter() - t0

    # -- program calls ----------------------------------------------------

    def open_session(self, event_log_dir=None):
        from rdf_spark.submit import ship_package

        self.spark = spark_env.start_session(self.tmp, event_log_dir)
        ship_package(self.spark)
        self.dictionary = self.spark.read.parquet(self.dict_path)
        self.pages = self.spark.read.parquet(self.input_dir)

    def pipeline_run(self, n_buckets=None) -> tuple[float, str]:
        """One complete PipelineRun.run into a fresh output directory."""
        from rdf_spark.plans.pipeline import PipelineRun

        out = os.path.join(self.tmp, "out", f"run{self.n_out}")
        self.n_out += 1
        t0 = time.perf_counter()
        PipelineRun(self.spark, out, n_buckets=n_buckets or self.wl.n_buckets).run(
            self.pages, self.dictionary, from_html=self.wl.from_html)
        return time.perf_counter() - t0, out

    def query(self, table, q: dict) -> tuple[float, list]:
        from rdf_spark.operators.sparql import sparql_select

        t0 = time.perf_counter()
        rows = sparql_select(table, q["sparql"]).collect()
        return time.perf_counter() - t0, rows

    def warm_up(self) -> str:
        """One pipeline run in a single bucket and one round of the query
        mix: the work that makes the first timed run match the later
        ones (``first_run_ratio`` in the context line shows it does)."""
        _t, out = self.pipeline_run(n_buckets=1)
        table = self.spark.read.parquet(os.path.join(out, "triples"))
        for q in self.mix.round(self.rng):
            self.query(table, q)
        return out

    # -- phases -------------------------------------------------------------

    def setup(self) -> tuple[list[float], str]:
        """SETUPS set-ups: session start, ship_package, dictionary load
        and warm-up. The first also launches the JVM; each later one
        starts a new SparkContext on it. The last session stays up for
        the measured window."""
        times, out = [], None
        for k in range(SETUPS):
            if k:
                self.spark.stop()
            t0 = time.perf_counter()
            self.open_session()
            out = self.warm_up()
            times.append(time.perf_counter() - t0)
        return times, out

    def measure(self, table_dir: str) -> dict:
        """The measured window: pipeline runs, then the query loop over
        the last output (the warm-up's if every run raised)."""
        seconds = self.args.seconds
        start = time.perf_counter()
        runs, queries = [], []
        share = PIPELINE_SHARE
        while (len(runs) < MIN_PIPELINE_RUNS
               or time.perf_counter() - start < share * seconds):
            try:
                wall, out = self.pipeline_run()
                runs.append({"wall": wall, "out": out, "error": None})
                table_dir = out
            except Exception as e:  # noqa: BLE001 — a raising run is data
                runs.append({"wall": None, "out": None, "error": repr(e)})
        table = self.spark.read.parquet(os.path.join(table_dir, "triples"))
        rounds = 0
        while rounds < MIN_QUERY_ROUNDS or time.perf_counter() - start < seconds:
            for q in self.mix.round(self.rng):
                try:
                    lat, rows = self.query(table, q)
                    queries.append({"q": q, "lat": lat, "rows": rows})
                except Exception as e:  # noqa: BLE001
                    queries.append({"q": q, "lat": None, "error": repr(e)})
            rounds += 1
        return {"runs": runs, "queries": queries, "table_dir": table_dir,
                "window_s": time.perf_counter() - start}

    def verify(self, m: dict) -> dict:
        """Check every measured output; count wrong operations."""
        from rdf_spark.plans.pipeline import parse_errors

        wl = self.wl
        errors = [tuple(r) for r in parse_errors(
            self.pages, from_html=wl.from_html).collect()]
        bad_error_rows = check.check_error_rows(wl, errors)
        failed, summaries = 0, []
        for r in m["runs"]:
            if r["error"] is not None:
                failed += len(wl.pages)
                continue
            wrong, summary = check.check_pipeline_output(
                self.con, self.expected, r["out"], check.read_lineage(r["out"]))
            failed += len(wrong | bad_error_rows)
            summaries.append(summary)
        check.use_table(self.con, m["table_dir"])
        for q in m["queries"]:
            if q["lat"] is None or not check.check_query(self.con, q["q"], q["rows"]):
                failed += 1
        attempted = len(m["runs"]) * len(wl.pages) + len(m["queries"])
        return {"attempted": attempted, "failed": failed,
                "error_rows": len(errors), "summaries": summaries}

    def end_to_end(self, setups, m, v, peak_kb) -> tuple[dict, dict]:
        walls = [r["wall"] for r in m["runs"] if r["wall"] is not None]
        lats = [q["lat"] for q in m["queries"] if q["lat"] is not None]
        run_s = statistics.median(walls) if walls else 0.0
        rows = v["summaries"][-1]["rows"] if v["summaries"] else 0
        nbytes, _files = check.parquet_bytes(os.path.join(m["table_dir"], "triples"))
        tail = tail_percentile(len(lats))
        metrics = {
            "setup_s": (statistics.median(setups), "s"),
            "run_s": (run_s, "s"),
            "canonical_triples_per_s": (rows / run_s if walls else 0.0, "1/s"),
            "bytes_per_triple": (nbytes / rows if rows else 0.0, "B"),
            "query_p50_s": (statistics.median(lats) if lats else 0.0, "s"),
            "query_tail_s": (percentile(lats, tail) if lats else 0.0, "s"),
            "peak_rss_mb": (peak_kb / 1024, "MB"),
            "ops_ok_frac": (1 - v["failed"] / v["attempted"], "frac"),
        }
        context = {
            "ops_failed_frac": v["failed"] / v["attempted"],
            "setup_runs_s": setups,
            "pipeline_runs_s": walls,
            "first_run_ratio": walls[0] / statistics.median(walls[1:])
            if len(walls) > 1 else None,
            "query_samples": len(lats),
            "query_p50_by_name": {
                name: statistics.median(q["lat"] for q in m["queries"]
                                        if q["q"]["name"] == name and q["lat"] is not None)
                for name in sorted({q["q"]["name"] for q in m["queries"]
                                    if q["lat"] is not None})},
            "query_tail_percentile": tail,
            "rows_written": rows,
            "window_s": m["window_s"],
            "error_rows": v["error_rows"],
            "checks": v["summaries"][-1] if v["summaries"] else None,
        }
        return metrics, context

    def run(self) -> dict:
        steal0 = spark_env.cpu_times()
        phases, t = {}, time.perf_counter()

        def phase(name):
            nonlocal t
            now = time.perf_counter()
            phases[name] = now - t
            t = now

        try:
            setups, warm_out = self.setup()
            phase("setup")
            with spark_env.RssSampler() as rss:
                m = self.measure(warm_out)
            phase("window")
            v = self.verify(m)
            phase("verify")
            metrics, context = self.end_to_end(setups, m, v, rss.peak_kb)
            if self.args.trace:
                import layers

                metrics = layers.traced(self, metrics["run_s"][0])
                phase("trace")
        finally:
            spark_env.stop_session(self.spark)
        phase("stop")
        context["phases_s"] = {"generate": self.generate_s, **phases}
        context["steal_frac"] = spark_env.steal_frac(steal0, spark_env.cpu_times())
        context["cores"] = spark_env.cores()
        for name, (value, unit) in metrics.items():
            print(f"{name} = {value:.6g} {unit}")
        print(f"ops_failed_frac = {context['ops_failed_frac']:.6g} frac")
        print(json.dumps({"context": context}, default=str))
        return {
            "correct": v["failed"] == 0,
            "attempted": v["attempted"],
            "failed": v["failed"],
            "metrics": {k: {"value": val, "unit": u}
                        for k, (val, u) in metrics.items()},
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "rdf_spark")):
        print("perfbench: rdf_spark is not next to perfbench/; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    # keep every temp file (py4j, ship_package's zip, Python workers,
    # every JVM including the spark-submit launcher) inside the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "")
        + f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}").strip()
    tempfile.tempdir = tmp
    try:
        result = Bench(args, tmp).run()
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass  # another run still uses it
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""End-to-end KG-construction pipeline (north_rule):

  pages -> extract embedded RDF blocks -> vectorized parse ->
  skolemize blank nodes -> entity-link (broadcast dict) ->
  canonical dedupe -> partitioned triple-table materialization,
  with per-partition lineage manifests and checkpoint-resume via
  processed-partition watermarks.

Storage: partitioned parquet laid out Iceberg-style (a `_progress`
watermark table and a `_lineage` metrics table beside the data). On a
production cluster the writes target Iceberg tables (append +
snapshot); the sandbox has no Iceberg runtime jar, so the layout and
the resume protocol are implemented over directories — the logic
(skip-completed-partitions, idempotent re-run) is identical.

Resume protocol:
  input is bucketed into `n_buckets` by hash(url). Each bucket is an
  independent unit of work: parse -> ... -> append `part=<bucket>` to
  the output + write `_progress/<bucket>.json` LAST (write-ahead on
  data, commit on watermark; lineage and watermark files appear whole,
  via temp file + rename). A re-run skips buckets whose watermark
  exists; a killed run re-processes its in-flight bucket, overwriting
  the same partition directory (idempotent: the bucket's output is a
  pure function of its input). A watermark records `n_buckets`, and a
  run over watermarks of another bucket count raises instead of
  mixing the two partitionings.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.canonical import canonicalize, cluster_for_write
from ..operators.link import link_entities
from ..operators.parse import good_triples, parse_pages
from ..operators.skolemize import skolemize


# Files per bucket partition: the write hash-partitions by subj into
# this many tasks, each writing one sorted parquet file.
WRITE_FILES = 4


def parse_stage(pages: DataFrame, from_html: bool = True,
                text_format: str = "turtle") -> DataFrame:
    """pages -> parsed rows (good triples AND errors-as-rows; lazy).
    The single expensive stage: extract + grammar parse, fused into
    one Python operator per page when ``from_html``. Everything
    downstream (triple build, error accounting) derives from this one
    DataFrame so the parse runs once per bucket. ``text_format`` names
    the syntax of the ``text`` column when not extracting from HTML; a
    ``format`` column on the input overrides it per row."""
    if from_html:
        return parse_pages(pages, from_html=True)
    if "format" in pages.columns:
        blocks = pages.select("url", "format", "text")
    else:
        blocks = pages.select("url", F.lit(text_format).alias("format"), "text")
    return parse_pages(blocks)


def linked_triples(parsed: DataFrame,
                   dictionary: DataFrame | None = None) -> DataFrame:
    """parsed rows -> skolemized, entity-linked triples (not deduped)."""
    triples = skolemize(good_triples(parsed))
    if dictionary is not None:
        triples = link_entities(triples, dictionary)
    return triples


def build_triples(
    pages: DataFrame,
    dictionary: DataFrame | None = None,
    from_html: bool = True,
    text_format: str = "turtle",
) -> DataFrame:
    """The logical plan pages -> canonical triples (lazy; no actions)."""
    return canonicalize(linked_triples(
        parse_stage(pages, from_html, text_format), dictionary))


def parse_errors(pages: DataFrame, from_html: bool = True,
                 text_format: str = "turtle") -> DataFrame:
    parsed = parse_stage(pages, from_html, text_format)
    return parsed.where(F.col("error").isNotNull()).select("url", "error")


def _counter(df: DataFrame, expr) -> tuple[DataFrame, Observation]:
    obs = Observation()
    return df.observe(obs, expr.alias("n")), obs


def bucket_query(
    pages: DataFrame,
    dictionary: DataFrame | None = None,
    from_html: bool = True,
    text_format: str = "turtle",
) -> tuple[DataFrame, dict[str, Observation]]:
    """One bucket's write query: pages -> clustered canonical triples,
    plus the lineage counters observed while the write runs.

    Plan: one Python operator per page (parse_stage), then ONE shuffle:
    the linked triples are hash-partitioned by subj into WRITE_FILES
    partitions, which already satisfies canonicalize's grouping on the
    full triple key and cluster_for_write's subj partitioning, so
    neither adds an exchange; each partition is sorted and written as
    one file. The counters ride on that same job (``df.observe``):
      docs_in     - pages in the bucket (rows entering the parse);
      docs_failed - error rows of the parse (one per failed block);
      triples_out - canonical triples written.
    Read them with ``Observation.get`` after the write. When no triple
    is written, adaptive execution prunes the two observers below the
    shuffle, and only ``triples_out`` (0) is reported."""
    pages, docs_in = _counter(pages, F.count(F.lit(1)))
    parsed, docs_failed = _counter(
        parse_stage(pages, from_html=from_html, text_format=text_format),
        F.count("error"))
    linked = linked_triples(parsed, dictionary).repartition(WRITE_FILES, "subj")
    clustered, triples_out = _counter(
        cluster_for_write(canonicalize(linked), buckets=WRITE_FILES),
        F.count(F.lit(1)))
    return clustered, {"docs_in": docs_in, "docs_failed": docs_failed,
                       "triples_out": triples_out}


def _write_json_atomic(path: str, obj: dict) -> None:
    """Write ``obj`` to ``path`` via a temp file and ``os.replace``, so
    a crash never leaves a partial watermark or lineage record. The
    temp name does not end in ``.json``, so readers skip leftovers."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


class PipelineRun:
    """Checkpointed, lineage-recording pipeline execution.

    Lineage: ``_lineage/<bucket>.json`` per completed bucket, with
      input_partition - the bucket number;
      job_run_id      - the ``run_id`` of the run that processed it;
      docs_in, docs_failed, triples_out - observed by the bucket's
                        write job (see :func:`bucket_query`), so no
                        extra Spark job computes them, except in a
                        bucket that writes no triple;
      wall_ms         - wall-clock time of the bucket, write included.
    """

    def __init__(self, spark: SparkSession, out_dir: str, n_buckets: int = 8,
                 run_id: str = "run"):
        from ..submit import ship_package

        ship_package(spark)  # executors import rdf_spark from any cwd
        self.spark = spark
        self.out_dir = out_dir
        self.n_buckets = n_buckets
        self.run_id = run_id
        self.progress_dir = os.path.join(out_dir, "_progress")
        self.lineage_dir = os.path.join(out_dir, "_lineage")
        self.data_dir = os.path.join(out_dir, "triples")
        os.makedirs(self.progress_dir, exist_ok=True)
        os.makedirs(self.lineage_dir, exist_ok=True)

    def completed_buckets(self) -> set[int]:
        return {
            int(f[:-5]) for f in os.listdir(self.progress_dir) if f.endswith(".json")
        }

    def _check_bucket_count(self) -> None:
        """Refuse to resume over watermarks written with another
        ``n_buckets``: hash buckets of two counts hold different pages,
        so skipping or overwriting by bucket number would mix them.
        Watermarks without the field predate it and are trusted."""
        for b in sorted(self.completed_buckets()):
            with open(os.path.join(self.progress_dir, f"{b}.json")) as fh:
                n = json.load(fh).get("n_buckets", self.n_buckets)
            if n != self.n_buckets:
                raise ValueError(
                    f"{self.out_dir} holds watermarks of a run with "
                    f"n_buckets={n}, but this run has "
                    f"n_buckets={self.n_buckets}; resume with n_buckets={n} "
                    "or write to a fresh directory")

    def run(self, pages: DataFrame, dictionary: DataFrame | None = None,
            from_html: bool = True, fail_after_bucket: int | None = None,
            text_format: str = "turtle",
            bucketed_table: str | None = None,
            table_buckets: int = 16) -> dict:
        """Process all buckets not yet in the watermark table.
        `fail_after_bucket` injects a crash for the resume test.

        ``bucketed_table`` (opt-in): once EVERY checkpoint bucket is
        complete, additionally materialize the full output as a
        subj-bucketed+sorted catalog table (plans/bucketed.py) so
        downstream subj-keyed consumers — BGP star joins, PO maps,
        property-graph export — read a zero-Exchange layout. One
        extra shuffle by subj at the end of the run; skipped (like
        the data buckets) when the run resumed with nothing to do
        AND the table already exists."""
        self._check_bucket_count()
        done = self.completed_buckets()
        stats = {"processed": [], "skipped": sorted(done), "triples_out": 0}
        bucketed = pages.withColumn(
            "__bucket", F.pmod(F.xxhash64("url"), F.lit(self.n_buckets)).cast("int")
        )
        # Per bucket: one write query (bucket_query); the lineage counts
        # come from its observations.
        # At real scale each bucket is an Iceberg partition-filtered
        # scan instead of the hash filter.
        for b in range(self.n_buckets):
            if b in done:
                continue
            t0 = time.monotonic()
            part = bucketed.where(F.col("__bucket") == b).drop("__bucket")
            clustered, counters = bucket_query(
                part, dictionary, from_html=from_html, text_format=text_format)
            clustered.write.mode("overwrite").parquet(
                os.path.join(self.data_dir, f"part={b}"))
            triples_out = counters["triples_out"].get["n"]
            if triples_out:
                docs_in = counters["docs_in"].get["n"]
                failed = counters["docs_failed"].get["n"]
            else:
                # Nothing written: AQE swaps the plan below the empty
                # shuffle for an empty relation, observers included, so
                # this bucket (no good triple, cheap) is counted directly.
                docs_in = part.count()
                failed = parse_errors(part, from_html, text_format).count()
            lineage = {
                "input_partition": b,
                "job_run_id": self.run_id,
                "docs_in": docs_in,
                "docs_failed": failed,
                "triples_out": triples_out,
                "wall_ms": int((time.monotonic() - t0) * 1000),
            }
            _write_json_atomic(os.path.join(self.lineage_dir, f"{b}.json"), lineage)
            # watermark LAST: commit point for this bucket
            _write_json_atomic(os.path.join(self.progress_dir, f"{b}.json"),
                               {"bucket": b, "run_id": self.run_id,
                                "n_buckets": self.n_buckets})
            stats["processed"].append(b)
            stats["triples_out"] += triples_out
            if fail_after_bucket is not None and b >= fail_after_bucket:
                raise RuntimeError(f"injected failure after bucket {b}")
        if bucketed_table is not None and \
                self.completed_buckets() >= set(range(self.n_buckets)):
            if stats["processed"] or not self.spark.catalog.tableExists(
                    bucketed_table):
                self.finalize_bucketed(bucketed_table,
                                       n_buckets=table_buckets)
        return stats

    def finalize_bucketed(self, table: str, n_buckets: int = 16,
                          path: str | None = None) -> DataFrame:
        """Rewrite the completed triple output as a subj-bucketed
        catalog table (same schema as :meth:`read_output`, incl. the
        ``part`` checkpoint-provenance column) and return the
        bucketing-aware reader. Idempotent: overwrites the table."""
        from .bucketed import read_bucketed_triples, write_bucketed_triples

        if path is None:
            path = os.path.join(self.out_dir, "triples_bucketed")
        write_bucketed_triples(self.read_output(), table,
                               n_buckets=n_buckets, path=path)
        return read_bucketed_triples(self.spark, table)

    def read_output(self) -> DataFrame:
        return self.spark.read.parquet(self.data_dir)

    def lineage(self) -> list[dict]:
        out = []
        for f in sorted(os.listdir(self.lineage_dir)):
            if f.endswith(".json"):
                with open(os.path.join(self.lineage_dir, f)) as fh:
                    out.append(json.load(fh))
        return out

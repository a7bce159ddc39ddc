"""End-to-end pipeline tests: extraction -> triples, checkpoint-resume
(kill between partitions, re-run, byte-equal output), idempotence,
lineage (SURVEY.md §5.2)."""

import os

import pytest

from rdf_spark.plans.pipeline import PipelineRun, build_triples, parse_errors
from rdf_spark.sources.pages import (PAGES_SCHEMA, entity_dictionary,
                                     generate_pages)


@pytest.fixture(scope="module")
def pages(spark):
    return generate_pages(spark, 60, seed=42, partitions=4).cache()


def _normalized(df):
    return sorted(tuple(r) for r in df.collect())


def test_end_to_end_html_extraction(spark, pages):
    out = build_triples(pages, from_html=True)
    rows = out.collect()
    assert len(rows) > 100
    assert all(r.support >= 1 for r in rows)


def test_resume_skips_completed_and_output_identical(spark, pages, tmp_path):
    d = entity_dictionary(spark, 50)
    full = PipelineRun(spark, str(tmp_path / "full"), n_buckets=4, run_id="full")
    full.run(pages, d)
    assert sorted(full.completed_buckets()) == [0, 1, 2, 3]

    crash = PipelineRun(spark, str(tmp_path / "crash"), n_buckets=4, run_id="r1")
    with pytest.raises(RuntimeError, match="injected failure"):
        crash.run(pages, d, fail_after_bucket=1)
    done_after_crash = crash.completed_buckets()
    assert done_after_crash == {0, 1}

    resumed = PipelineRun(spark, str(tmp_path / "crash"), n_buckets=4, run_id="r2")
    stats = resumed.run(pages, d)
    assert stats["skipped"] == [0, 1]        # watermark hit-rate 100%
    assert stats["processed"] == [2, 3]

    # byte-equal final output vs the uninterrupted run
    assert _normalized(resumed.read_output()) == _normalized(full.read_output())


def test_rerun_is_idempotent_noop(spark, pages, tmp_path):
    p = PipelineRun(spark, str(tmp_path / "o"), n_buckets=2, run_id="a")
    p.run(pages)
    first = _normalized(p.read_output())
    stats = p.run(pages)  # everything watermarked -> no work
    assert stats["processed"] == [] and stats["skipped"] == [0, 1]
    assert _normalized(p.read_output()) == first


def test_bucket_loop_parses_once_per_bucket(spark, pages, tmp_path, monkeypatch):
    """Plan regression: the bucket loop must build exactly one parse
    plan per bucket (triples, error count and lineage all derive from
    the one persisted parsed DataFrame — a second parse_pages call per
    bucket doubles the dominant cost at scale)."""
    import rdf_spark.plans.pipeline as pl

    calls = []
    real = pl.parse_pages

    def counting(df, *a, **k):
        calls.append(1)
        return real(df, *a, **k)

    monkeypatch.setattr(pl, "parse_pages", counting)
    p = PipelineRun(spark, str(tmp_path / "once"), n_buckets=2, run_id="a")
    p.run(pages)
    assert len(calls) == 2


def test_lineage_recorded(spark, tmp_path):
    noisy = generate_pages(spark, 40, seed=7, partitions=4, bad_fraction=0.3)
    p = PipelineRun(spark, str(tmp_path / "l"), n_buckets=2, run_id="a")
    p.run(noisy)
    lineage = p.lineage()
    assert len(lineage) == 2
    assert sum(x["docs_in"] for x in lineage) == 40
    assert all(x["triples_out"] > 0 for x in lineage)
    assert sum(x["docs_failed"] for x in lineage) >= 1  # malformed fixtures


def test_bucketed_table_finalize_star_join(spark, pages, tmp_path):
    """bucketed_table= opt-in: after all checkpoint buckets complete,
    the pipeline materializes a subj-bucketed catalog table; a BGP
    star self-join over the pipeline's OWN output must then plan with
    zero Exchange (the co-located-join lever on the flagship output)."""
    from pyspark.sql import functions as F

    table = "t_pipeline_bucketed_test"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    p = PipelineRun(spark, str(tmp_path / "b"), n_buckets=2, run_id="b")
    try:
        stats = p.run(pages, bucketed_table=table, table_buckets=4)
        assert stats["processed"] == [0, 1]
        t = spark.table(table)
        # same rows as the plain checkpoint output
        assert _normalized(t) == _normalized(p.read_output())
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            a = t.alias("a")
            b = t.alias("b")
            j = a.join(b, F.col("a.subj") == F.col("b.subj")).select(
                F.col("a.pred"), F.col("b.pred"))
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert j.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        # a resumed run with nothing to do leaves the table alone
        # (no re-shuffle) but a fresh-processed run refreshes it
        stats2 = PipelineRun(spark, str(tmp_path / "b"), n_buckets=2,
                             run_id="b2").run(pages, bucketed_table=table)
        assert stats2["processed"] == []
        assert _normalized(spark.table(table)) == _normalized(p.read_output())
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


# Suite-free pages: template Turtle plus hand-built malformed blocks, so
# the tests below need no vendored W3C corpus. Cached and materialized
# here, so a job-count test sees only the pipeline's own jobs.
_BAD_BLOCKS = ["@prefix broken <", "<http://e/s> <http://e/p> ."]


@pytest.fixture(scope="module")
def crawl_pages(spark):
    gen = generate_pages(spark, 60, seed=42, partitions=4,
                         suite_fraction=0, bad_fraction=0)
    bad = spark.createDataFrame(
        [(f"http://crawl.example/bad/{i}", None,
          f'<script type="text/turtle">{t}</script>'.encode(), t, "en")
         for i, t in enumerate(_BAD_BLOCKS)], PAGES_SCHEMA)
    df = gen.unionByName(bad).cache()
    df.count()
    yield df
    df.unpersist()


def _shuffle_exchanges(df) -> int:
    """Shuffle Exchange nodes in df's physical plan, not counting those
    below a broadcast (the linking dictionary's side)."""
    def walk(node) -> int:
        name = node.getClass().getSimpleName()
        if name == "BroadcastExchangeExec":
            return 0
        kids = node.children()
        return (name == "ShuffleExchangeExec") + sum(
            walk(kids.apply(i)) for i in range(kids.size()))

    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return walk(plan)


def test_write_query_plans_one_shuffle(spark, crawl_pages):
    """Plan regression: canonical dedupe and the subj-clustered write
    share one hash exchange on subj (two on the old plan)."""
    from rdf_spark.plans.pipeline import bucket_query

    clustered, _ = bucket_query(crawl_pages, entity_dictionary(spark, 50))
    assert _shuffle_exchanges(clustered) == 1


# Measured for a 2-bucket run with a linking dictionary: per bucket only
# the write query's own jobs (dictionary broadcast, the subj shuffle, the
# write). The loop with count actions and two exchanges ran 28.
MAX_JOBS_TWO_BUCKETS = 10


def test_two_bucket_run_job_count_and_observed_lineage(spark, crawl_pages,
                                                       tmp_path):
    """Job-count regression: lineage is observed on the write job, so a
    bucket runs no Spark job beyond its write query; and the observed
    counts equal the real ones."""
    d = entity_dictionary(spark, 50)
    sc = spark.sparkContext
    p = PipelineRun(spark, str(tmp_path / "jobs"), n_buckets=2, run_id="j")
    sc.setJobGroup("pipeline-job-count", "2-bucket PipelineRun.run")
    try:
        stats = p.run(crawl_pages, d)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup("pipeline-job-count")
    assert len(jobs) <= MAX_JOBS_TWO_BUCKETS, sorted(jobs)

    lineage = p.lineage()
    assert [x["input_partition"] for x in lineage] == [0, 1]
    assert sum(x["docs_in"] for x in lineage) == crawl_pages.count()
    assert sum(x["docs_failed"] for x in lineage) == \
        parse_errors(crawl_pages).count() == len(_BAD_BLOCKS)
    assert sum(x["triples_out"] for x in lineage) == stats["triples_out"] \
        == p.read_output().count() > 0


def test_leftover_temp_file_is_not_a_completed_bucket(spark, crawl_pages,
                                                      tmp_path):
    """A crash while writing a watermark leaves only its temp file: the
    bucket stays pending, and the next run commits it whole."""
    p = PipelineRun(spark, str(tmp_path / "tmp"), n_buckets=1, run_id="t")
    with open(os.path.join(p.progress_dir, "0.json.tmp"), "w") as f:
        f.write('{"bucket": 0')
    assert p.completed_buckets() == set()
    assert p.run(crawl_pages)["processed"] == [0]
    assert os.listdir(p.progress_dir) == ["0.json"]
    assert os.listdir(p.lineage_dir) == ["0.json"]
    assert p.completed_buckets() == {0}


def test_lineage_of_bucket_without_triples(spark, tmp_path):
    """A bucket whose pages all fail or carry no RDF writes no triple;
    its lineage still counts its pages and error rows."""
    pages = spark.createDataFrame(
        [("http://crawl.example/bad", b'<script type="text/turtle">@@</script>'),
         ("http://crawl.example/none", b"<p>no blocks</p>")],
        "url string, html binary")
    p = PipelineRun(spark, str(tmp_path / "empty"), n_buckets=1, run_id="e")
    assert p.run(pages)["triples_out"] == 0
    [lineage] = p.lineage()
    assert (lineage["docs_in"], lineage["docs_failed"],
            lineage["triples_out"]) == (2, 1, 0)


def test_resume_with_another_bucket_count_is_refused(spark, crawl_pages,
                                                     tmp_path):
    """Watermarks of a 4-bucket run are not resumed with 2 buckets,
    whose bucket numbers name other pages; the same count resumes."""
    out = str(tmp_path / "nb")
    with pytest.raises(RuntimeError, match="injected failure"):
        PipelineRun(spark, out, n_buckets=4, run_id="a").run(
            crawl_pages, fail_after_bucket=0)
    two = PipelineRun(spark, out, n_buckets=2, run_id="b")
    with pytest.raises(ValueError, match="n_buckets=4, .* n_buckets=2"):
        two.run(crawl_pages)
    assert two.completed_buckets() == {0}
    assert os.listdir(two.data_dir) == ["part=0"]
    four = PipelineRun(spark, out, n_buckets=4, run_id="c")
    assert four.run(crawl_pages)["processed"] == [1, 2, 3]

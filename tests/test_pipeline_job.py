"""Orchestrated pipeline job: stage commits, metrics rows, kill/resume.

The mid-ITERATION PageRank resume is proven cross-process in
test_pregel_resume; here the pipeline-level contract: a kill between
stages resumes at the first uncommitted stage without recomputing the
finished ones."""

import json
import os

import pytest

from jobs.pipeline_job import DEPS, STAGES, run_pipeline
from linkgraph.datagen import write_pages_parquet


@pytest.fixture(scope="module")
def pages_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("pages")
    write_pages_parquet(str(d), n=120, seed=11)
    return str(d)


def test_kill_resume_skips_committed_stages(spark, pages_dir, tmp_path):
    out = str(tmp_path / "run")
    with pytest.raises(RuntimeError, match="fail_after"):
        run_pipeline(spark, pages_dir, out, fail_after="normalize",
                     pagerank_iters=4)
    with open(os.path.join(out, "_manifest.json")) as f:
        m1 = json.load(f)
    assert set(m1["completed"]) == {"extract", "normalize"}
    # one metrics row per committed stage
    rows = {r["stage"] for r in spark.read.parquet(f"{out}/metrics").collect()}
    assert rows == {"extract", "normalize"}

    # resume: completed stages must NOT rerun (finished_at unchanged)
    manifest = run_pipeline(spark, pages_dir, out, pagerank_iters=4)
    assert set(manifest["completed"]) == set(STAGES)
    assert (
        manifest["completed"]["extract"]["finished_at"]
        == m1["completed"]["extract"]["finished_at"]
    )
    mrows = spark.read.parquet(f"{out}/metrics").collect()
    assert {r["stage"] for r in mrows} == set(STAGES)
    assert len(mrows) == len(STAGES)  # no duplicate rows from the rerun

    # outputs are real
    pr = spark.read.parquet(f"{out}/pagerank")
    assert abs(pr.groupBy().sum("score").collect()[0][0] - 1.0) < 1e-6
    # the synthetic corpus is single-host (canonicalization fixtures), so
    # the host rollup is legitimately empty — but committed and readable
    assert (
        spark.read.parquet(f"{out}/host_graph").count()
        == manifest["completed"]["host_graph"]["rows"]
    )
    assert os.path.isdir(f"{out}/dedup_pairs")
    # resolution: one row per doc, canonical ids are real doc urls, and
    # the committed row count equals the surviving (deduped) corpus size
    canon = spark.read.parquet(f"{out}/canonical_docs")
    n_docs = spark.read.parquet(f"{out}/text").count()
    assert canon.count() == n_docs
    survivors = canon.where("url = canonical_id").count()
    assert 0 < survivors <= n_docs
    assert manifest["completed"]["resolve"]["rows"] == survivors


METRICS_SCHEMA = "struct<stage:string,rows:bigint,wall_s:double,finished_at:double>"


def test_full_run_single_pass(spark, pages_dir, tmp_path):
    out = str(tmp_path / "run2")
    manifest = run_pipeline(spark, pages_dir, out, pagerank_iters=3)
    assert set(manifest["completed"]) == set(STAGES)
    v = spark.read.parquet(f"{out}/vertices").count()
    e = spark.read.parquet(f"{out}/edges").count()
    assert v > 0 and e > 0
    assert spark.read.parquet(f"{out}/pagerank").count() == v

    # every manifest row count is what a Spark re-read of the output counts
    def read(name):
        return spark.read.parquet(f"{out}/{name}")

    recount = {
        "extract": read("text").count(),
        "normalize": read("edges").count(),
        "host_graph": read("host_graph").count(),
        "pagerank": read("pagerank").count(),
        "dedup": read("dedup_pairs").count(),
        "resolve": read("canonical_docs").where("url = canonical_id").count(),
    }
    assert {s: m["rows"] for s, m in manifest["completed"].items()} == recount

    # the driver-written metrics tables keep their Spark schemas
    metrics = read("metrics")
    assert metrics.schema.simpleString() == METRICS_SCHEMA
    assert {r["stage"]: r["rows"] for r in metrics.collect()} == recount
    step = os.path.join(out, "_checkpoints", "pipeline_pr", "superstep=2")
    mrows = spark.read.parquet(os.path.join(step, "metrics_rows"))
    assert mrows.schema.simpleString() == (
        "struct<job_id:string,superstep:int,parent_superstep:int,"
        "wall_s:double,delta:double>"
    )
    assert [r["superstep"] for r in mrows.orderBy("superstep").collect()] == [1, 2]
    prows = spark.read.parquet(os.path.join(step, "partition_rows"))
    assert prows.schema.simpleString() == (
        "struct<superstep:int,partition:int,rows:bigint>"
    )
    state = spark.read.parquet(os.path.join(step, "state"))
    assert sum(r["rows"] for r in prows.collect()) == state.count() == v


def test_resume_with_different_args_rejected(spark, pages_dir, tmp_path):
    out = str(tmp_path / "run3")
    with pytest.raises(RuntimeError, match="fail_after"):
        run_pipeline(spark, pages_dir, out, fail_after="extract",
                     pagerank_iters=4)
    with pytest.raises(ValueError, match="different arguments"):
        run_pipeline(spark, pages_dir, out, pagerank_iters=7)


def test_metrics_row_backfilled_from_manifest(spark, pages_dir, tmp_path):
    import shutil

    out = str(tmp_path / "run4")
    with pytest.raises(RuntimeError, match="fail_after"):
        run_pipeline(spark, pages_dir, out, fail_after="extract",
                     pagerank_iters=3)
    # simulate a kill between manifest commit and the metrics append
    shutil.rmtree(os.path.join(out, "metrics"))
    run_pipeline(spark, pages_dir, out, pagerank_iters=3)
    rows = spark.read.parquet(f"{out}/metrics").collect()
    assert {r["stage"] for r in rows} == set(STAGES)
    assert len(rows) == len(STAGES)


def test_resume_over_spark_written_metrics(spark, pages_dir, tmp_path):
    """A run directory whose metrics table holds a Spark-written part
    file (the earlier format) resumes and backfills to one row per stage."""
    import shutil

    out = str(tmp_path / "run5")
    with pytest.raises(RuntimeError, match="fail_after"):
        run_pipeline(spark, pages_dir, out, fail_after="normalize",
                     pagerank_iters=3)
    with open(os.path.join(out, "_manifest.json")) as f:
        m = json.load(f)["completed"]["extract"]
    shutil.rmtree(os.path.join(out, "metrics"))
    spark.createDataFrame(
        [("extract", m["rows"], m["wall_s"], m["finished_at"])],
        "stage string, rows bigint, wall_s double, finished_at double",
    ).write.mode("append").parquet(f"{out}/metrics")
    run_pipeline(spark, pages_dir, out, pagerank_iters=3)
    metrics = spark.read.parquet(f"{out}/metrics")
    assert metrics.schema.simpleString() == METRICS_SCHEMA
    rows = metrics.collect()
    assert sorted(r["stage"] for r in rows) == sorted(STAGES)


def _window(m: dict) -> tuple[float, float]:
    return m["finished_at"] - m["wall_s"], m["finished_at"]


def test_independent_stages_overlap(spark, pages_dir, tmp_path):
    """dedup reads only extract's output, so it runs beside normalize
    instead of after the normalize -> PageRank chain."""
    done = run_pipeline(spark, pages_dir, str(tmp_path / "run6"), pagerank_iters=3)[
        "completed"
    ]
    dedup, normalize = _window(done["dedup"]), _window(done["normalize"])
    assert dedup[0] < normalize[1] and normalize[0] < dedup[1], done
    # no stage starts before the stages it reads have committed
    for stage, deps in DEPS.items():
        for dep in deps:
            assert done[dep]["finished_at"] <= _window(done[stage])[0] + 1e-3, done


def _caches(spark) -> int:
    """DataFrame caches alive in the session: persistent RDDs that are
    not local checkpoints (those go only when JVM GC runs)."""
    rdds = [r.rdd() for r in spark.sparkContext._jsc.getPersistentRDDs().values()]
    return sum(1 for r in rdds if not r.isCheckpointed())


def test_failed_stage_stops_only_its_dependents(spark, pages_dir, tmp_path, monkeypatch):
    """normalize raising leaves host_graph and PageRank unstarted, while
    dedup and resolve run to their end and commit; the rerun resumes
    without recomputing them. Neither pass leaves a cache behind."""
    import linkgraph.normalize

    def broken(*args, **kwargs):
        raise ArithmeticError("normalize broke")

    out = str(tmp_path / "run7")
    before = _caches(spark)
    monkeypatch.setattr(linkgraph.normalize, "build_edges", broken)
    with pytest.raises(ArithmeticError, match="normalize broke"):
        run_pipeline(spark, pages_dir, out, pagerank_iters=3)
    assert _caches(spark) == before
    with open(os.path.join(out, "_manifest.json")) as f:
        m1 = json.load(f)["completed"]
    assert set(m1) == {"extract", "dedup", "resolve"}

    monkeypatch.undo()
    manifest = run_pipeline(spark, pages_dir, out, pagerank_iters=3)
    assert _caches(spark) == before
    assert set(manifest["completed"]) == set(STAGES)
    for stage in m1:
        assert manifest["completed"][stage]["finished_at"] == m1[stage]["finished_at"]
    rows = spark.read.parquet(f"{out}/metrics").collect()
    assert sorted(r["stage"] for r in rows) == sorted(STAGES)


def test_failed_extract_releases_its_cache(spark, pages_dir, tmp_path, monkeypatch):
    """extract's raw-edge write failing after its text write filled the
    parsed-pages cache still releases that cache."""
    from pyspark.sql import DataFrameWriter

    write = DataFrameWriter.parquet

    def broken(self, path, *args, **kwargs):
        if path.endswith("/raw_edges"):
            raise ArithmeticError("raw_edges write broke")
        return write(self, path, *args, **kwargs)

    before = _caches(spark)
    monkeypatch.setattr(DataFrameWriter, "parquet", broken)
    with pytest.raises(ArithmeticError, match="raw_edges write broke"):
        run_pipeline(spark, pages_dir, str(tmp_path / "run8"), pagerank_iters=3)
    assert _caches(spark) == before

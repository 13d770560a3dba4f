import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from node_feedparser_spark.datagen import generate_transcripts, write_transcripts  # noqa: E402
from node_feedparser_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app="tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def corpus_pdf():
    return generate_transcripts(seed=42, scale=1.0)


@pytest.fixture(scope="session")
def corpus_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("corpus") / "transcripts.parquet"
    write_transcripts(str(p), seed=42, scale=1.0)
    return str(p)


@pytest.fixture()
def crash_after_commit_point(monkeypatch):
    """crash(output_dir, hashes, drop_snapshots): run
    pipeline._commit_graph up to its commit point — the staged state file
    lands — and stop before any table is installed, as a process killed
    right there would."""
    import node_feedparser_spark.plans.pipeline as pl

    def crash(output_dir, hashes, drop_snapshots=()):
        def killed(_):
            raise RuntimeError("simulated crash after the commit point")

        with monkeypatch.context() as m:
            m.setattr(pl, "_recover_graph_commit", killed)
            with pytest.raises(RuntimeError):
                pl._commit_graph(output_dir, hashes, drop_snapshots)

    return crash


@pytest.fixture(scope="session")
def count_jobs(spark):
    """count_jobs(fn): run fn(); return its result, the number of Spark
    jobs started meanwhile from any thread, and the tasks those jobs ran.
    Job ids are global and sequential, so the jobs are the id gap between
    two marker jobs of one job group; tasks are summed over their distinct
    stages (a reused shuffle stage is listed by every job that reads it,
    and runs its tasks once)."""
    sc = spark.sparkContext
    group = "test-job-budget"

    def marker() -> int:
        sc.parallelize([0], 1).count()
        return max(sc.statusTracker().getJobIdsForGroup(group))

    def run(fn):
        sc.setJobGroup(group, "job budget")
        try:
            start = marker()
            out = fn()
            end = marker()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        tracker = sc.statusTracker()
        stages = {
            sid
            for job in range(start + 1, end)
            for sid in tracker.getJobInfo(job).stageIds
        }
        # past spark.ui.retainedStages the status store evicts the stages
        # with no completion time first — the skipped ones, which ran no
        # tasks — so in a long session a skipped stage's info may be gone
        infos = [tracker.getStageInfo(sid) for sid in stages]
        n_tasks = sum(i.numCompletedTasks for i in infos if i is not None)
        return out, end - start - 1, n_tasks

    return run

"""End-to-end build_kg: outputs, schemas, lineage, resume-without-recompute."""

import os

from pyspark.sql import functions as F

from node_feedparser_spark.plans.pipeline import build_kg, committed_buckets
from node_feedparser_spark.reference_extract import extract_corpus
from node_feedparser_spark.sources.transcripts import snapshot_id


# Spark jobs one fixture build runs (77 when canonicalization ran as a
# dozen distributed stages; 25 since the surface set is canonicalized on the
# driver): a reintroduced per-stage path fails here, not only in perfbench
BUILD_JOB_BUDGET = 25


def _count_jobs(spark, fn):
    """Run fn(); return its result and the number of Spark jobs started
    meanwhile, from any thread — job ids are global and sequential, so the
    count is the id gap between two marker jobs of one job group."""
    sc = spark.sparkContext
    group = "test-job-budget"

    def marker() -> int:
        sc.parallelize([0], 1).count()
        return max(sc.statusTracker().getJobIdsForGroup(group))

    sc.setJobGroup(group, "job budget")
    try:
        start = marker()
        out = fn()
        return out, marker() - start - 1
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def test_build_kg_end_to_end(spark, corpus_path, corpus_pdf, tmp_path):
    out = str(tmp_path / "kg")
    summary, n_jobs = _count_jobs(
        spark, lambda: build_kg(spark, corpus_path, out, n_buckets=8)
    )
    assert summary["decisions"] == {
        "canonicalize": "driver",
        "surfaces": 238,
        "clustered_write": True,
    }
    assert n_jobs <= BUILD_JOB_BUDGET, n_jobs
    assert summary["n_triples"] > 0
    assert summary["n_vertices"] > 0
    assert summary["n_edges"] > 0

    triples = spark.read.parquet(os.path.join(out, "triples"))
    ref = extract_corpus(corpus_pdf.to_dict("records"))
    want = {
        (t["conv_id"], t["turn_idx"], t["subj"], t["pred"], t["obj"])
        for t in ref.triples
    }
    got = {
        (r.conv_id, r.turn_idx, r.subj, r.pred, r.obj)
        for r in triples.select("conv_id", "turn_idx", "subj", "pred", "obj").collect()
    }
    assert got == want  # P/R = 1.0 end-to-end

    # every triple carries lineage tied to the input snapshot
    snap = snapshot_id(corpus_path)
    assert (
        triples.filter(F.col("lineage.snapshot_id") != snap).count() == 0
    )

    # metrics: one row per bucket, turn counts add up to deduped turn total
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    m = metrics.agg(
        F.sum("n_turns").alias("turns"), F.sum("n_triples").alias("trip")
    ).collect()[0]
    assert m["turns"] == ref.n_turns
    assert m["trip"] == len(ref.triples)

    # vertices/edges consistent with triples
    vertices = spark.read.parquet(os.path.join(out, "vertices"))
    edges = spark.read.parquet(os.path.join(out, "edges"))
    assert vertices.count() == summary["n_vertices"]
    w = edges.agg(F.sum("weight").alias("w")).collect()[0]["w"]
    assert abs(w - sum(t["score"] for t in ref.triples)) < 1e-3


def test_resume_skips_committed(spark, corpus_path, tmp_path):
    out = str(tmp_path / "kg_resume")
    first = build_kg(spark, corpus_path, out, n_buckets=4)
    assert first["skipped_buckets"] == []
    snap = snapshot_id(corpus_path)
    assert committed_buckets(spark, os.path.join(out, "metrics"), snap, 4) == [0, 1, 2, 3]

    second = build_kg(spark, corpus_path, out, n_buckets=4)
    assert second["skipped_buckets"] == [0, 1, 2, 3]
    assert second["n_triples"] == 0  # nothing recomputed

    # triples were not duplicated by the resumed run
    triples = spark.read.parquet(os.path.join(out, "triples"))
    dup = (
        triples.groupBy("conv_id", "turn_idx", "subj", "pred", "obj")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dup == 0

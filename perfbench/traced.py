"""Traced run: per-layer metrics for one workload.

One traced pass is a ``build_kg`` call (``trace.build_s``, wall time, the
same cold first build the untraced run times; the difference between the
two is the tracing overhead), its audit (``validate.audit_s``) and gate,
``merge_vertices`` + ``merge_edges`` over its tables, and then spans around
calls into each module's public functions, each forced with a noop write or
a count.  Layers a later stage depends on are cached first (untimed) so each
span holds one layer's own work; ``extract.dedupe_s`` is the dedupe span
minus the scan span it contains.  The spans run after the build, in a warm
JVM.  ``trace.coverage`` = (scan + dedupe + extract + canonicalize + the
three pipeline write phases) / trace.build_s, so gaps show; most of the gap
is the first build's planning, codegen and JIT.  Spark counters come from
the event log, which only the traced run enables.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import statistics
import time

PHASES = (
    "extract_canonicalize",
    "mapping_stats",
    "write_triples",
    "write_aggregates",
    "write_metrics",
)
PER_LAYER = {
    "sources.scan_s": "s",
    "sources.rows": "count",
    "extract.dedupe_s": "s",
    "extract.dup_ratio": "ratio",
    "extract.extract_s": "s",
    "extract.turns_per_s": "turns/s",
    "extract.triples_out": "count",
    "extract.error_rows": "count",
    "canonicalize.keys_s": "s",
    "canonicalize.lsh_s": "s",
    "canonicalize.candidate_pairs": "count",
    "canonicalize.verified_ratio": "ratio",
    "canonicalize.total_s": "s",
    "canonicalize.entities_out": "count",
    "components.cc_s": "s",
    "components.edges_in": "count",
    **{f"pipeline.phase.{p}_s": "s" for p in PHASES},
    "pipeline.merge_s": "s",
    "validate.audit_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.max_task_skew": "ratio",
    "trace.build_s": "s",
    "trace.coverage": "ratio",
}


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


def _force(df, *aggs):
    """Execute df completely (noop sink); return the observed aggregates."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n"), *aggs).write.format(
        "noop"
    ).mode("overwrite").save()
    return obs.get


def _layers(spark, w) -> dict:
    from pyspark.sql import functions as F

    from node_feedparser_spark.operators.canonicalize import (
        canonicalize,
        entity_hash_col,
        jaccard_col,
        lsh_candidate_pairs,
        surface_keys,
    )
    from node_feedparser_spark.operators.components import connected_components
    from node_feedparser_spark.operators.extract import (
        ERROR_PRED,
        dedupe_first_wins,
        extract_triples,
    )
    from node_feedparser_spark.reference_extract import FUZZY_JACCARD
    from node_feedparser_spark.sources.transcripts import read_transcripts

    m: dict[str, float] = {}
    raw = read_transcripts(spark, w.input)
    t, o = _timed(lambda: _force(raw))
    m["sources.scan_s"], m["sources.rows"] = t, o["n"]

    deduped = dedupe_first_wins(raw).cache()
    t, n_turns = _timed(deduped.count)
    m["extract.dedupe_s"] = max(0.0, t - m["sources.scan_s"])
    m["extract.dup_ratio"] = 1 - n_turns / max(1, o["n"])

    extracted = extract_triples(deduped).cache()
    is_err = F.col("pred") == ERROR_PRED
    t, o = _timed(
        lambda: _force(extracted, F.sum(is_err.cast("long")).alias("err"))
    )
    m["extract.extract_s"] = t
    m["extract.turns_per_s"] = n_turns / t
    m["extract.error_rows"] = o["err"] or 0
    m["extract.triples_out"] = o["n"] - m["extract.error_rows"]

    surfaces = (
        extracted.filter(~is_err)
        .select(F.explode(F.array("subj", "obj")).alias("surface"))
        .groupBy("surface")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
        .cache()
    )
    surfaces.count()
    m["canonicalize.keys_s"], _ = _timed(lambda: _force(surface_keys(spark, surfaces)))

    keys = (
        surface_keys(spark, surfaces)
        .filter(~F.col("is_pseudo"))
        .select("key")
        .distinct()
        .cache()
    )
    keys.count()
    pairs = lsh_candidate_pairs(keys).cache()
    m["canonicalize.lsh_s"], n_pairs = _timed(pairs.count)
    verified = pairs.filter(jaccard_col("key_a", "key_b") >= F.lit(FUZZY_JACCARD))
    edges = verified.select(
        entity_hash_col("key_a").alias("src"), entity_hash_col("key_b").alias("dst")
    ).cache()
    n_edges = edges.count()
    m["canonicalize.candidate_pairs"] = n_pairs
    m["canonicalize.verified_ratio"] = n_edges / n_pairs if n_pairs else 0.0
    m["components.edges_in"] = n_edges
    m["components.cc_s"], _ = _timed(lambda: _force(connected_components(edges)))

    def _canon():
        mapping, vertices = canonicalize(spark, surfaces)
        _force(mapping)
        return _force(vertices)["n"]

    m["canonicalize.total_s"], m["canonicalize.entities_out"] = _timed(_canon)
    spark.catalog.clearCache()
    return m


def _merge_s(spark, kg_dir: str) -> float:
    """merge_vertices + merge_edges, forced, with the vertex and edge tables
    of the traced build on both sides (the work of merging two ingests of
    that size)."""
    from node_feedparser_spark.plans.pipeline import merge_edges, merge_vertices

    total = 0.0
    for table, merge in (("vertices", merge_vertices), ("edges", merge_edges)):
        df = spark.read.parquet(os.path.join(kg_dir, table))
        t, _ = _timed(lambda: _force(merge(df, df)))
        total += t
    return total


def _pass(spark, w, run_dir: str) -> dict:
    from node_feedparser_spark.plans.pipeline import build_kg
    from node_feedparser_spark.plans.validate import validate_kg
    from perfbench.run import BUCKETS

    out_dir = os.path.join(run_dir, "kg")
    shutil.rmtree(out_dir, ignore_errors=True)
    spark.catalog.clearCache()
    t0 = time.time()
    t, summary = _timed(lambda: build_kg(spark, w.input, out_dir, n_buckets=BUCKETS))
    window = (t0 * 1000, time.time() * 1000)
    t_audit, audit = _timed(lambda: validate_kg(spark, out_dir))
    m = {"trace.build_s": t, "validate.audit_s": t_audit}
    for p in PHASES:
        m[f"pipeline.phase.{p}_s"] = float(summary["phases"].get(p, 0.0))
    errors = w.check(spark, out_dir, audit)
    m["pipeline.merge_s"] = _merge_s(spark, out_dir)
    shutil.rmtree(out_dir, ignore_errors=True)

    m.update(_layers(spark, w))
    covered = (
        m["sources.scan_s"]
        + m["extract.dedupe_s"]
        + m["extract.extract_s"]
        + m["canonicalize.total_s"]
        + sum(m[f"pipeline.phase.{p}_s"] for p in PHASES[2:])
    )
    m["trace.coverage"] = covered / t
    m["_window"] = window
    m["errors"] = errors
    return m


def run(spark, w, run_dir: str, seconds: float, counts: dict, attempt) -> dict:
    """Traced passes until ``seconds`` have passed (at least one); returns
    the median of each metric plus the build windows for spark_counters."""
    passes = []
    t0 = time.perf_counter()
    while not passes or time.perf_counter() - t0 < seconds:
        res = attempt(lambda: _pass(spark, w, run_dir), counts)
        if res is None:
            break
        passes.append(res)
    out = {
        k: {"value": statistics.median(p[k] for p in passes), "unit": u}
        for k, u in PER_LAYER.items()
        if passes and not k.startswith("spark.")
    }
    out["_windows"] = [p["_window"] for p in passes]
    return out


def spark_counters(run_dir: str, windows: list[tuple[float, float]]) -> dict:
    """Shuffle bytes written, bytes spilled to disk and the worst task skew
    (max / median task time, over stages holding >= 10% of the window's task
    time) of the jobs inside each traced build window, from the event log;
    medians over windows.  Call after the session stopped, so the log is
    complete."""
    tasks = []  # (launch ms, stage key, duration ms, shuffle bytes, spill bytes)
    for path in glob.glob(os.path.join(run_dir, "events", "**"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                info, tm = ev["Task Info"], ev.get("Task Metrics") or {}
                tasks.append(
                    (
                        info["Launch Time"],
                        (ev["Stage ID"], ev["Stage Attempt ID"]),
                        info["Finish Time"] - info["Launch Time"],
                        tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
                        tm.get("Disk Bytes Spilled", 0),
                    )
                )
    per_window = []
    for lo, hi in windows:
        inside = [t for t in tasks if lo <= t[0] <= hi]
        stages: dict = {}
        for t in inside:
            stages.setdefault(t[1], []).append(t[2])
        busy = sum(t[2] for t in inside) or 1
        skew = [
            max(d) / max(1.0, statistics.median(d))
            for d in stages.values()
            if len(d) > 1 and sum(d) >= 0.1 * busy
        ]
        per_window.append(
            (
                sum(t[3] for t in inside),
                sum(t[4] for t in inside),
                max(skew, default=1.0),
            )
        )
    names = ("spark.shuffle_write_bytes", "spark.spill_bytes", "spark.max_task_skew")
    return {
        n: {
            "value": statistics.median(v[i] for v in per_window) if per_window else 0,
            "unit": PER_LAYER[n],
        }
        for i, n in enumerate(names)
    }

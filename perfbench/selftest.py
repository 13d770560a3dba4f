#!/usr/bin/env python3
"""Self-test of the benchmark at the tiny size, on a seed no tuning used.

    python3 perfbench/selftest.py

Run from the repository root (about five minutes on 4 cores).  Checks that
1. every workload runs end to end through perfbench/run.py, untraced and
   traced, and reports correct=true with every metric its mode promises;
2. the gate passes an intact KG of each workload and reports failure for
   hand-corrupted output: a deleted metrics row, a deleted replica-0 triple,
   a merged pair of planted alias groups and a changed fingerprint.
Exits 0 when every check holds, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SEED = 90001


def run_cli(workload: str, trace: int) -> list[str]:
    from perfbench import traced
    from perfbench.run import END_TO_END

    cmd = [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(SEED), "--seconds", "1",
           "--trace", str(trace), "--size", "tiny"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        return [f"{workload} trace={trace}: exit {p.returncode}\n{p.stderr[-2000:]}"]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    want = set(traced.PER_LAYER) if trace else {*END_TO_END, "setup_s"}
    errs = []
    if not res["correct"] or res["failed"]:
        errs.append(f"{workload} trace={trace}: {res['failed']}/{res['attempted']} failed")
    if set(res["metrics"]) != want:
        errs.append(f"{workload} trace={trace}: metrics {sorted(set(res['metrics']) ^ want)} differ")
    return errs


def _rewrite(path: str, df, partition_by=()) -> None:
    """Materialize df (read from path) elsewhere, then swap it into path."""
    tmp = path + ".selftest"
    df.write.partitionBy(*partition_by).parquet(tmp)
    shutil.rmtree(path)
    os.rename(tmp, path)


def corruption_checks(spark, run_dir: str) -> list[str]:
    from pyspark.sql import functions as F

    from perfbench import gate
    from perfbench.run import ProcTree, Workload, build_and_audit
    from node_feedparser_spark.plans.validate import validate_kg

    errs = []
    procs = ProcTree()
    kgs = {}
    for name in ("fresh_build", "entity_dense"):
        w = Workload(name, SEED, "tiny")
        out = os.path.join(run_dir, name)
        res = build_and_audit(spark, w, out, procs)
        got = w.check(spark, out, res["audit"])
        if got:
            errs.append(f"{name}: intact KG fails the gate: {got}")
        kgs[name] = (w, out)

    # a deleted metrics row: the audit (and so the gate) must fail
    w, out = kgs["fresh_build"]
    metrics = os.path.join(out, "metrics")
    first = spark.read.parquet(metrics).agg(F.min("bucket")).collect()[0][0]
    _rewrite(metrics, spark.read.parquet(metrics).filter(F.col("bucket") != first))
    if not any(e.startswith("audit:") for e in w.check(spark, out, validate_kg(spark, out))):
        errs.append("deleted metrics row passed the gate")

    # a deleted replica-0 triple: the reference comparison must fail
    triples = os.path.join(out, "triples")
    t = spark.read.parquet(triples)
    victim = t.filter(~F.col("conv_id").contains("#r")).limit(1).collect()[0]
    keep = ~((F.col("conv_id") == victim["conv_id"]) & (F.col("turn_idx") == victim["turn_idx"])
             & (F.col("subj") == victim["subj"]) & (F.col("pred") == victim["pred"])
             & (F.col("obj") == victim["obj"]))
    _rewrite(triples, t.filter(keep), ("snap", "bucket"))
    if not gate.check_reference(spark, out, w.reference):
        errs.append("deleted replica-0 triple passed the reference check")

    # a changed fingerprint must be reported
    fp = gate.fingerprint(spark, out, validate_kg(spark, out))
    fp_path = os.path.join(run_dir, "fingerprint.json")
    gate.check_fingerprint(fp_path, fp)
    if not gate.check_fingerprint(fp_path, {**fp, "n_triples": fp["n_triples"] + 1}):
        errs.append("changed fingerprint passed")

    # two planted alias groups merged into one entity: the group check fails
    w, out = kgs["entity_dense"]
    triples = os.path.join(out, "triples")
    t = spark.read.parquet(triples)
    ids = {
        r["s"]: r["id"]
        for r in t.select(F.col("subj").alias("s"), F.col("subj_id").alias("id"))
        .union(t.select(F.col("obj").alias("s"), F.col("obj_id").alias("id")))
        .filter(F.col("s").isin(w.groups[0][0], w.groups[1][0]))
        .distinct().collect()
    }
    a, b = ids[w.groups[0][0]], ids[w.groups[1][0]]
    remap = {c: F.when(F.col(c) == b, F.lit(a)).otherwise(F.col(c)).alias(c)
             for c in ("subj_id", "obj_id")}
    _rewrite(triples, t.select(*[remap.get(c, F.col(c)) for c in t.columns]),
             ("snap", "bucket"))
    if not gate.check_groups(spark, out, w.groups):
        errs.append("merged planted groups passed the group check")
    return errs


def main() -> int:
    sys.path.insert(0, ROOT)
    from perfbench.run import WORK, WORKLOADS, start_spark, stop_spark

    errs = []
    for workload in WORKLOADS:
        for trace in (0, 1):
            errs += run_cli(workload, trace)
    run_dir = os.path.join(WORK, "selftest", str(os.getpid()))
    os.makedirs(run_dir, exist_ok=True)
    spark = start_spark(run_dir, trace=False)
    try:
        errs += corruption_checks(spark, run_dir)
    finally:
        stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    for e in errs:
        print("FAIL", e)
    print("selftest:", "FAIL" if errs else "OK")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main())

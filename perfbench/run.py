#!/usr/bin/env python3
"""KG-build benchmark: one workload per process, closed loop, one client.

    python3 perfbench/run.py --workload fresh_build --seed 1 --seconds 1 --trace 0

Run from the repository root.  The process starts one ``local[<cpus>]``
Spark session and generates (or reuses from ``.perfbench/cache``) the
seeded input.  It then repeats build -> audit -> correctness gate, each
time into a fresh output dir after ``spark.catalog.clearCache()``, until
``--seconds`` have passed (at least once).  There is no warm-up: the first
build in a fresh JVM is what every ``spark-submit jobs/build_kg.py`` run
pays, and one such build already fills a run's time budget, so a run with
``--seconds`` shorter than one iteration measures exactly that cold build.

``--trace 0`` reports medians over the timed iterations.  The host this
runs on shares its CPUs with other VMs and loses 3-30 % of their time to
them, which moves wall times by up to 40 % between runs, so the metrics in
the JSON result are CPU seconds (user + system of this process, the JVM and
its Python workers; stolen time is not counted):
  build_cpu_s        of the timed ``build_kg`` call;
  triples_per_cpu_s  triples it committed / build_cpu_s;
  setup_s            of set-up: session start + input generation or cache hit.
The wall-time figures a user waits for are printed by name before the JSON:
build_s, triples_per_s, audit_s (``validate_kg`` on the build's output),
setup_wall_s, plus audit_cpu_s, peak_rss_mb (this process tree, sampled
every 100 ms) and failed_ratio.  audit_cpu_s is not in the JSON: the JIT
still compiles the build's hot methods while the audit runs, which spreads
it by 20 % between runs.  Every operation that
raises, audits non-ok or misses the gate counts in ``failed``.

``--trace 1`` instead runs the traced passes of perfbench/traced.py and
reports the per-layer metrics.  The last stdout line is the JSON result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
WORKLOADS = ("fresh_build", "entity_dense")
# per iteration: in the JSON result / printed by name only
END_TO_END = {
    "build_cpu_s": "s",
    "triples_per_cpu_s": "triples/cpu_s",
}
PRINTED = {
    "build_s": "s",
    "triples_per_s": "triples/s",
    "audit_s": "s",
    "audit_cpu_s": "s",
    "peak_rss_mb": "MB",
}
# the inputs hold ~10^4 turns: 8 buckets keep every bucket filled and the
# partitioned writes few-filed (build_kg's default is 32)
BUCKETS = 8
# a run must end within 180 s; start no timed iteration after this
DEADLINE_S = 120.0


class ProcTree(threading.Thread):
    """This process and all its descendants (the Spark JVM and its Python
    workers): peak resident memory, sampled from /proc every 100 ms, and
    CPU seconds used."""

    PAGE = os.sysconf("SC_PAGE_SIZE")
    HZ = os.sysconf("SC_CLK_TCK")

    def __init__(self) -> None:
        super().__init__(daemon=True)
        self._lock = threading.Lock()
        self._halt = threading.Event()
        self._peak = 0
        self._pids: list[int] = [os.getpid()]

    @staticmethod
    def tree(root: int) -> list[int]:
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
            kids.setdefault(ppid, []).append(int(d))
        out, todo = [], [root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo.extend(kids.get(p, ()))
        return out

    def _rss(self) -> int:
        total = 0
        for p in self._pids:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self.PAGE
            except OSError:
                pass
        return total

    def run(self) -> None:
        n = 0
        while not self._halt.wait(0.1):
            if n % 10 == 0:  # the process tree changes rarely
                self._pids = self.tree(os.getpid())
            n += 1
            procs = self._rss()
            with self._lock:
                self._peak = max(self._peak, procs)

    def reset(self) -> None:
        self._pids = self.tree(os.getpid())
        with self._lock:
            self._peak = self._rss()

    def cpu_s(self) -> float:
        """CPU seconds (user + system, reaped children included) used so far
        by the process tree; excludes time the host stole from the VM."""
        ticks = 0
        for p in self.tree(os.getpid()):
            try:
                with open(f"/proc/{p}/stat") as f:
                    stat = f.read()
            except OSError:
                continue
            ticks += sum(int(x) for x in stat[stat.rindex(")") + 2 :].split()[11:15])
        return ticks / self.HZ

    def peak_mb(self) -> float:
        with self._lock:
            return self._peak / 2**20

    def stop(self) -> None:
        self._halt.set()
        self.join()


def start_spark(run_dir: str, trace: bool):
    """One local[<cpus>] session whose scratch files stay inside run_dir.
    Must run before pyspark starts its JVM."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local  # overrides any inherited value
    os.environ["PYSPARK_PYTHON"] = sys.executable
    conf = {
        "spark.driver.memory": "3g",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(run_dir, "events")
        os.makedirs(events, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + events,
                "spark.eventLog.compress": "false",
            }
        )
    from node_feedparser_spark.session import get_spark

    cpus = len(os.sched_getaffinity(0))
    return get_spark(app="perfbench", master=f"local[{cpus}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait for
    each process to end."""
    from pyspark import SparkContext

    pids = [p for p in ProcTree.tree(os.getpid()) if p != os.getpid()]
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 15
    for p in pids:
        while os.path.exists(f"/proc/{p}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{p}"):
            try:
                os.kill(p, 9)
            except OSError:
                pass


class Workload:
    """Prepared input of one workload plus the gate that judges its KGs."""

    def __init__(self, name: str, seed: int, size: str) -> None:
        from perfbench import gate, workloads as wl

        p = wl.SIZES[size]
        self.reference = self.groups = None
        if name == "entity_dense":
            d, _ = wl.dense_corpus(WORK, seed, **p["dense"])
            self.input = os.path.join(d, "corpus.parquet")
            with open(os.path.join(d, "groups.json")) as f:
                self.groups = json.load(f)
        else:
            d, _ = wl.fresh_corpus(WORK, seed, **p["fresh"])
            self.input = os.path.join(d, "corpus")
            self.reference = gate.reference_triples(os.path.join(d, "base.parquet"))
        self.fp_path = os.path.join(d, f"fingerprint-{gate.code_digest(ROOT)}.json")

    def check(self, spark, out_dir: str, audit: dict) -> list[str]:
        from perfbench import gate

        errs = [] if audit["ok"] else [
            "audit: " + ", ".join(c["name"] for c in audit["checks"] if c["status"] != "pass")
        ]
        errs += gate.check_fingerprint(self.fp_path, gate.fingerprint(spark, out_dir, audit))
        if self.reference is not None:
            errs += gate.check_reference(spark, out_dir, self.reference)
        if self.groups is not None:
            errs += gate.check_groups(spark, out_dir, self.groups)
        return errs


def build_and_audit(spark, w: Workload, out_dir: str, procs: ProcTree) -> dict:
    """build_kg into a fresh output dir, then validate_kg on it; only these
    two calls are timed."""
    from node_feedparser_spark.plans.pipeline import build_kg
    from node_feedparser_spark.plans.validate import validate_kg

    shutil.rmtree(out_dir, ignore_errors=True)
    spark.catalog.clearCache()
    procs.reset()
    c0, t0 = procs.cpu_s(), time.perf_counter()
    summary = build_kg(spark, w.input, out_dir, n_buckets=BUCKETS)
    c1, t1 = procs.cpu_s(), time.perf_counter()
    audit = validate_kg(spark, out_dir)
    c2, t2 = procs.cpu_s(), time.perf_counter()
    return {
        "build_cpu_s": c1 - c0,
        "triples_per_cpu_s": summary["n_triples"] / (c1 - c0),
        "audit_cpu_s": c2 - c1,
        "build_s": t1 - t0,
        "triples_per_s": summary["n_triples"] / (t1 - t0),
        "audit_s": t2 - t1,
        "peak_rss_mb": procs.peak_mb(),
        "summary": summary,
        "audit": audit,
    }


def iteration(spark, w: Workload, out_dir: str, procs: ProcTree) -> dict:
    """One closed-loop operation: build, audit, gate."""
    res = build_and_audit(spark, w, out_dir, procs)
    res["errors"] = w.check(spark, out_dir, res["audit"])
    shutil.rmtree(out_dir, ignore_errors=True)
    return res


def attempt(fn, counts: dict):
    """Run one operation; an exception or a gate miss counts as a failure.
    Returns the operation's result, or None if it raised."""
    counts["attempted"] += 1
    try:
        res = fn()
    except Exception:
        traceback.print_exc()
        counts["failed"] += 1
        return None
    if res["errors"]:
        print(f"gate failure: {res['errors']}", file=sys.stderr)
        counts["failed"] += 1
    return res


def measure(spark, w: Workload, out_dir: str, procs: ProcTree, seconds: float,
            t_start: float, counts: dict) -> dict:
    """Timed iterations until ``seconds`` have passed; medians of each."""
    samples = []
    t_loop = time.perf_counter()
    while not samples or (
        time.perf_counter() - t_loop < seconds
        and time.perf_counter() - t_start < DEADLINE_S
    ):
        res = attempt(lambda: iteration(spark, w, out_dir, procs), counts)
        if res is None:
            break  # the program raises: no sample to wait for
        samples.append(res)
        print(
            "iteration: " + ", ".join(f"{k} {res[k]:.3f}" for k in {**END_TO_END, **PRINTED})
            + f", phases {res['summary']['phases']}",
            file=sys.stderr,
        )
    return {
        k: {"value": statistics.median(s[k] for s in samples), "unit": u}
        for k, u in ({**END_TO_END, **PRINTED} if samples else {}).items()
    }


def main() -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "node_feedparser_spark", "plans", "pipeline.py")):
        print(f"no node_feedparser_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    run_dir = os.path.join(WORK, "runs", str(os.getpid()))
    os.makedirs(run_dir, exist_ok=True)
    out_dir = os.path.join(run_dir, "kg")
    counts = {"attempted": 0, "failed": 0}
    procs = ProcTree()
    procs.start()
    cpu_start = procs.cpu_s()
    spark = None
    printed = {}
    try:
        spark = start_spark(run_dir, bool(args.trace))
        t_session = time.perf_counter()
        w = Workload(args.workload, args.seed, args.size)
        setup_s = procs.cpu_s() - cpu_start
        setup_wall_s = time.perf_counter() - t_start
        print(
            f"setup: session {t_session - t_start:.2f} s, inputs "
            f"{t_start + setup_wall_s - t_session:.2f} s",
            file=sys.stderr,
        )

        if args.trace:
            from perfbench import traced

            metrics = traced.run(spark, w, run_dir, args.seconds, counts, attempt)
            stop_spark(spark)
            spark = None
            metrics.update(traced.spark_counters(run_dir, metrics.pop("_windows")))
        else:
            metrics = measure(spark, w, out_dir, procs, args.seconds, t_start, counts)
            printed = {k: metrics.pop(k) for k in PRINTED if k in metrics}
            printed["setup_wall_s"] = {"value": setup_wall_s, "unit": "s"}
            metrics["setup_s"] = {"value": setup_s, "unit": "s"}
    finally:
        if spark is not None:
            stop_spark(spark)
        procs.stop()
        shutil.rmtree(run_dir, ignore_errors=True)

    for k, m in {**printed, **metrics}.items():
        print(f"{args.workload} {k} {m['value']:.6g} {m['unit']}")
    failed_ratio = counts["failed"] / counts["attempted"]
    print(f"{args.workload} failed_ratio {failed_ratio:.6g} ({counts['failed']}/{counts['attempted']})")
    print(
        json.dumps(
            {
                "correct": counts["failed"] == 0,
                "attempted": counts["attempted"],
                "failed": counts["failed"],
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

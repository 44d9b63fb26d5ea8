#!/usr/bin/env python3
"""Benchmark of the GBIF filter pipeline and the query registry.

    python3 perfbench/run.py --workload gbif_filter --seed 1 --seconds 5 --trace 0

Run from the repository root. One client process drives a SparkSession
on ``local[<nproc>]``: it generates the workload's inputs from
``--seed``, warms up, runs whole passes of requests for at least
``--seconds``, checks every output, and prints, as its last stdout
line, ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones of BENCHMARK.json;
with ``--trace 1`` they are the per-layer ones, from spans around each
public call and Spark's event log. A line before it carries the host
facts and sample counts. Scratch files live in ``.bench_work/`` and
are removed at exit, except a traced run's spans.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

from layers import SpanIndex, per_layer, with_units
from tracing import Tracer, clear_job_group, event_log_files, parse_event_log

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Set-up repetitions per run; ``setup_s`` uses their median.
SETUP_REPS = 3
WORKLOADS = ("gbif_filter", "registry")


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Session:
    """A SparkSession on ``local[n]`` whose scratch space stays in
    ``work``; optionally writing an uncompressed event log."""

    def __init__(self, work: str, n: int, event_log: str | None = None) -> None:
        from gbif_filter_python_spark.session import get_spark

        conf = {
            "spark.driver.memory": "1200m",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": f"{work}/spark-local",
            "spark.sql.warehouse.dir": f"{work}/warehouse",
            # A fixed young generation keeps the peak RSS a function of
            # what the driver retains, not of adaptive eden sizing.
            "spark.driver.extraJavaOptions": f"-Xmn256m -Djava.io.tmpdir={work}/tmp",
        }
        if event_log:
            os.makedirs(event_log, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"file://{event_log}",
                "spark.eventLog.compress": "false",
            })
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{n}]",
            shuffle_partitions=n, extra_conf=conf,
        )
        self.start_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.sc.setLogLevel("ERROR")

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def host_facts(self) -> dict:
        return {
            "nproc": nproc(),
            "default_parallelism": self.sc.defaultParallelism,
            "spark": self.spark.version,
            "java": self.spark._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
        }

    def stop(self) -> None:
        self.spark.stop()


def shutdown_jvm() -> None:
    """Stop the py4j gateway and wait for the JVM (and with it the
    Python worker daemon) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class Runner:
    """Runs passes of one workload, timing each request and counting
    its Spark jobs (job group + status tracker)."""

    def __init__(self, wl, sess: Session, tracer) -> None:
        self.wl = wl
        self.sess = sess
        self.tracer = tracer
        self.idx = 0
        self.attempted = 0
        self.failed = 0

    def request(self, req, label: str) -> tuple[float, int]:
        i = self.idx
        self.idx += 1
        self.attempted += 1
        group = f"req-{i}"
        tr = self.tracer
        tr.req = f"{label}-{i}"
        if tr.sc is None:  # no span owns the job group: the request does
            self.sess.sc.setJobGroup(group, req.kind)
        t0 = time.perf_counter()
        try:
            with tr.span(f"request/{req.kind}"):
                self.wl.run(req, i, tr)
        except Exception:  # a failed request is counted, the run goes on
            traceback.print_exc()
            self.failed += 1
        dt = time.perf_counter() - t0
        jobs = 0
        if tr.sc is None:
            jobs = len(self.sess.sc.statusTracker().getJobIdsForGroup(group))
            clear_job_group(self.sess.sc)
        return dt, jobs

    def passes(self, seconds: float, label: str) -> dict:
        """Whole passes until ``seconds`` have elapsed, and at least one."""
        lat: list[float] = []
        kinds: list[str] = []
        jobs = 0
        n_pass = 0
        t0 = time.perf_counter()
        while True:
            for req in self.wl.passes(n_pass):
                dt, j = self.request(req, label)
                lat.append(dt)
                kinds.append(req.kind)
                jobs += j
            n_pass += 1
            if time.perf_counter() - t0 >= seconds:
                break
        return {
            "elapsed": time.perf_counter() - t0, "latencies": lat,
            "kinds": kinds, "jobs": jobs, "passes": n_pass,
        }

    def warmup(self) -> list[float]:
        """Untimed requests, so the timed ones find the JVM warm; returns
        their latencies."""
        return [self.request(req, "warm")[0] for req in self.wl.warmup_requests()]

    def finish(self) -> None:
        """Count the requests whose output does not match its twin."""
        self.failed += self.wl.verify()


def setup(wl, tracer) -> list[float]:
    """Times of SETUP_REPS input generations and writes."""
    reps = []
    for _ in range(SETUP_REPS):
        t0 = time.perf_counter()
        wl.setup(tracer)
        reps.append(time.perf_counter() - t0)
    return reps


def e2e_metrics(timed: dict, setup_s: float, peak_rss_mb: float) -> dict[str, float]:
    lat = timed["latencies"]
    return {
        "setup_s": setup_s,
        "req_per_s": len(lat) / timed["elapsed"],
        "req_p50_s": statistics.median(lat),
        "req_tail_s": max(lat),
        "spark_jobs": timed["jobs"] / timed["passes"],
        "peak_rss_mb": peak_rss_mb,
    }


def paired_requests(runner: Runner, traced: Tracer, reqs: list,
                label: str) -> tuple[dict, dict]:
    """Every request of ``reqs`` run twice, without spans (the baseline)
    and with them (labelled ``label``), the order alternating from
    request to request, so both sides find the JVM equally warm.
    Returns the baseline and the traced side as ``Runner.passes``
    does."""
    plain = Tracer(enabled=False)
    sides = {
        t: {"elapsed": 0.0, "latencies": [], "kinds": [], "jobs": 0, "passes": 1}
        for t in (plain, traced)
    }
    for i, req in enumerate(reqs):
        for tr in (plain, traced) if i % 2 == 0 else (traced, plain):
            runner.tracer = tr
            dt, _ = runner.request(req, label if tr is traced else "base")
            side = sides[tr]
            side["elapsed"] += dt
            side["latencies"].append(dt)
            side["kinds"].append(req.kind)
    return sides[plain], sides[traced]


def traced_phase(args, wl, sess: Session, runner: Runner, tracer,
                 log_dir: str) -> tuple[dict, dict]:
    """The timed part of a traced run, the gbif probes (layer by layer)
    and the session's event log parsed. The layers come from the
    requests labelled ``traced``; the tracing overhead is the traced
    minus the baseline median latency of the paired requests. Stops the
    session; returns the per-layer metrics and the traced requests."""
    from workloads import QUERY_MODULE

    setup_spans = [s for s in tracer.spans if s.name.startswith("io.")]
    traced = Tracer(sc=sess.sc)
    if wl.first_pass_cold:
        # The layers of what the untraced run times, each query's first
        # execution; the overhead from warm executions of a few queries.
        runner.tracer = traced
        timed = runner.passes(0, "traced")
        baseline, paired = paired_requests(runner, traced, wl.overhead_requests(), "pair")
    else:
        baseline, timed = paired_requests(runner, traced, wl.overhead_requests(), "traced")
        paired = timed
    runner.finish()
    probes = []
    for req in wl.probe_requests():
        traced.req = f"probe-{req.key}"
        probes.append((req.kind, req.params["taxa"], wl.probe(req, traced)))
    slots = sess.sc.defaultParallelism
    sess.stop()  # flushes the event log
    groups = parse_event_log(event_log_files(log_dir))
    spans_dir = os.path.join(ROOT, ".bench_work", "spans")
    os.makedirs(spans_dir, exist_ok=True)
    traced.dump(os.path.join(spans_dir, f"{args.workload}-seed{args.seed}.jsonl"))
    idx = SpanIndex(traced.spans, groups)
    metrics = per_layer(
        args.workload, setup_spans, sess.start_s, idx, probes,
        timed, baseline, paired, slots, QUERY_MODULE,
    )
    return metrics, timed


def run(args) -> dict:
    from workloads import make_workload

    work = os.path.join(ROOT, ".bench_work", args.workload)
    log_dir = os.path.join(work, "eventlog")
    n = nproc()
    sess = Session(work, n, event_log=log_dir if args.trace else None)
    tracer = Tracer(sc=None, enabled=bool(args.trace))
    wl = make_workload(args.workload, sess.spark, work, args.seed)
    runner = Runner(wl, sess, tracer)
    phases = {}
    try:
        phases["session_start"] = sess.start_s
        phases["setup_reps"] = setup(wl, tracer)
        setup_s = sess.start_s + statistics.median(phases["setup_reps"])
        host = sess.host_facts()
        phases["warmup"] = [round(t, 3) for t in runner.warmup()]
        if args.trace:
            metrics, timed = traced_phase(args, wl, sess, runner, tracer, log_dir)
        else:
            timed = runner.passes(args.seconds, "req")
            runner.finish()
            metrics = e2e_metrics(timed, setup_s, sess.jvm_peak_rss_mb())
        phases["timed"] = timed["elapsed"]
        info = {
            "phases_s": phases,
            "workload": args.workload, "seed": args.seed,
            "host": host, "samples": len(timed["latencies"]),
            "passes": timed["passes"],
            "latency_s": [
                [k, round(t, 3)] for k, t in zip(timed["kinds"], timed["latencies"])
            ],
        }
    finally:
        wl.close()
        sess.stop()
    print(json.dumps({"info": info}), flush=True)
    return {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": with_units(metrics, "per_layer" if args.trace else "end_to_end"),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (
        os.path.isfile(os.path.join(ROOT, "gbif_filter_python_spark", "__init__.py"))
        and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))
    ):
        print(f"{ROOT} is not a checkout of the package", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".bench_work")
    work = os.path.join(work_root, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Temp files of this process, the JVM and the Python workers stay in
    # the checkout; the workers import the package from it.
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # No hsperfdata files in the system temp directory from either JVM.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path[:0] = [ROOT, HERE]
    try:
        result = run(args)
    finally:
        shutdown_jvm()
        shutil.rmtree(work, ignore_errors=True)
        if not os.listdir(work_root):
            os.rmdir(work_root)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""clusterforge_spark benchmark.

    python3 perfbench/run.py --workload segment_driver --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from ``--seed``, starts one local Spark
session on every core the process may use, runs the workload's batch call
once, prepares what its interactive requests serve from, and then serves
requests in a closed loop for ``--seconds``. Every output is checked
against an independent recomputation. setup_s is the session start plus
the request preparation (artifact builds and warm-up requests).

Stdout ends with one JSON line ``{"correct", "attempted", "failed",
"metrics"}``: with ``--trace 0`` the end-to-end metrics, with
``--trace 1`` the per-layer metrics of a traced run (see README.md).
The exit code is 0 only when every check passed; 2 when the program
cannot be imported.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shlex
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = (
    ("setup_s", "s"),
    ("batch_s", "s"),
    ("request_p50_ms", "ms"),
)

LAYERS = ("bench", "sources", "features", "pipeline", "clustering", "model_store",
          "similarity", "text", "dedup", "curation")

PER_LAYER = (
    ("session.start_s", "s"),
    ("sources.input_bytes", "bytes"),
    ("sources.load_table.plan_s", "s"),
    ("sources.bytes_written", "bytes"),
    ("features.compute_rfm.plan_s", "s"),
    ("pipeline.rfm_scale_s", "s"),
    ("pipeline.kmeans_fit_s", "s"),
    ("pipeline.silhouette_s", "s"),
    ("pipeline.jobs", "count"),
    ("pipeline.tasks", "count"),
    ("pipeline.probe_useful_frac", "ratio"),
    ("clustering.predict_point.s", "s"),
    ("model_store.save_model.s", "s"),
    ("model_store.save_model.bytes", "bytes"),
    ("model_store.model_exists.s", "s"),
    ("model_store.load_model.s", "s"),
    ("model_store.jobs_per_predict", "count"),
    ("similarity.ivf_kcell_topk.plan_s", "s"),
    ("similarity.query_exec_s", "s"),
    ("similarity.jobs_per_query", "count"),
    ("similarity.fanout_frac", "ratio"),
    ("similarity.index_build_s", "s"),
    ("similarity.recall_at_10", "ratio"),
    ("curation.gates_s", "s"),
    ("curation.dedup_s", "s"),
    ("curation.write_s", "s"),
    ("curation.jobs", "count"),
    ("text.funnel_gate_labels.plan_s", "s"),
    ("dedup.dedup_minhash_banded.s", "s"),
    ("dedup.dedup_canonical.s", "s"),
    ("dedup.candidate_pairs", "count"),
    ("dedup.near_dup_recall", "ratio"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"),
    ("jvm.gc_s.batch", "s"),
    ("jvm.gc_s.request", "s"),
    ("py.cpu_s.batch", "s"),
    ("py.cpu_s.request", "s"),
    ("jvm.cpu_s.batch", "s"),
    ("jvm.cpu_s.request", "s"),
    *((f"self_s.{layer}", "s") for layer in LAYERS),
    ("trace.overhead_batch_frac", "ratio"),
    ("trace.overhead_request_frac", "ratio"),
)

#: engine counts and per-layer self times are summed over the batch call
#: and this many requests, which every run serves
WINDOW_REQUESTS = 8

def parse_args(argv):
    from workloads import WORKLOADS

    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def configure_env(work: str) -> None:
    """Session settings the benchmark pins, and scratch space kept inside
    the run's work directory (Python temp files, Spark local dirs, JVM
    temp dir, artifact registry)."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_SHUFFLE": str(2 * cpus),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "SPARK_GRAFT_MODEL_DIR": os.path.join(work, "registry"),
        "SPARK_LOCAL_DIRS": tmp,
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--driver-java-options", shlex.quote(f"-Djava.io.tmpdir={tmp}"),
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]),
    })
    tempfile.tempdir = None  # re-read TMPDIR


def _proc_status_kb(pid, key: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    return 0


def _jvm_cpu_s(pid) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _py_cpu_s() -> float:
    ru = resource.getrusage(resource.RUSAGE_SELF)
    return ru.ru_utime + ru.ru_stime


class Runner:
    """Runs, times and checks operations; collects samples per kind."""

    def __init__(self, wl, tracer, spark):
        self.wl, self.tracer = wl, tracer
        self.jvm = spark._jvm
        self.jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        self.attempted = self.failed = 0
        self.samples: dict[str, list[float]] = {"batch": [], "request": []}
        #: workload-specific per-layer values of the checked batch call
        self.batch_values: dict[str, float] = {}
        self.costs: dict[str, list[tuple[float, float, float]]] = {"batch": [], "request": []}
        self._next_request = 0
        #: tracer bookkeeping time inside the timed operations, by kind
        self.trace_s = {"batch": 0.0, "request": 0.0}

    def _gc_s(self) -> float:
        beans = self.jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(b.getCollectionTime(), 0) for b in beans) / 1000.0

    def _costs(self) -> tuple[float, float, float]:
        return _py_cpu_s(), _jvm_cpu_s(self.jvm_pid), self._gc_s()

    def run_op(self, kind: str, warm: bool = False) -> None:
        """Run, time and check one operation. A ``warm`` operation is
        checked but not sampled (its time counts toward setup_s)."""
        wl, tracer = self.wl, self.tracer
        i = self._next_request
        if kind == "request":
            self._next_request += 1
        self.attempted += 1
        before = self._costs() if tracer.enabled and not warm else None
        try:
            with tracer.span("bench.warmup" if warm else f"bench.{kind}"):
                t0, bk0 = time.perf_counter(), tracer.bookkeeping_s
                out = wl.batch() if kind == "batch" else wl.request(i)
                dt = time.perf_counter() - t0
                if not warm:
                    self.trace_s[kind] += tracer.bookkeeping_s - bk0
        except Exception:  # an operation that raises is a failed operation
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            tracer.resolve()
            return
        if before is not None:
            after = self._costs()
            self.costs[kind].append(tuple(a - b for a, b in zip(after, before)))
        tracer.resolve()
        try:
            errs = wl.check_batch(out) if kind == "batch" else wl.check_request(i, out)
        except Exception as e:  # a check that cannot read the output fails it
            errs = [f"check raised {type(e).__name__}: {e}"]
        if not warm:
            self.samples[kind].append(dt)
        if errs:
            self.fail(f"{kind} #{i}", errs)
        elif kind == "batch":
            self.batch_values = wl.batch_values(out)

    def fail(self, what: str, errs: list[str]) -> None:
        self.failed += 1
        print(f"FAILED {self.wl.name} {what}: " + "; ".join(errs), file=sys.stderr)

    def serve(self, seconds: float) -> None:
        """Requests back to back until ``seconds`` have passed."""
        deadline = time.perf_counter() + seconds
        while time.perf_counter() < deadline:
            self.run_op("request")


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end_metrics(runner, setup_s: float) -> dict:
    from stats import median

    return {
        "setup_s": setup_s,
        "batch_s": median(runner.samples["batch"]),
        "request_p50_ms": 1000.0 * median(runner.samples["request"]),
    }


def report_lines(wl, runner, e2e: dict, items: int, session_s: float,
                 peak_rss_mb: float, steal_s: float) -> list[str]:
    """The workload's metrics under its own names (pipeline_s, ann_p50_ms,
    ...), with the report-only values that carry no bound."""
    from stats import tail

    batch_name, rate_name, req = wl.report_names
    reqs = runner.samples["request"]
    t = tail(reqs)
    return [
        f"{batch_name} {e2e['batch_s']:.4f} s (first call of the session)",
        f"{rate_name} {items / max(e2e['batch_s'], 1e-9):.1f} 1/s",
        f"{req}_p50_ms {e2e['request_p50_ms']:.2f} ms (median of {len(reqs)})",
        f"{req}_tail_ms {1000 * t[1]:.2f} ms (p{t[0]} of {len(reqs)})" if t
        else f"{req}_tail_ms n/a (no percentile has 10 samples beyond it in {len(reqs)})",
        f"requests_per_s {len(reqs) / max(sum(reqs), 1e-9):.3f} 1/s",
        *(f"{k} {v:.4f} ratio" for k, v in wl.report_values().items()),
        f"setup_s {e2e['setup_s']:.3f} s (session start {session_s:.3f} s)",
        f"peak_rss_mb {peak_rss_mb:.1f} MB",
        f"failed_frac {runner.failed / runner.attempted:.4f} ratio",
        f"host_steal_s {steal_s:.2f} s (CPU time taken by other guests during the run;"
        " timings of a run with a large value are not comparable)",
    ]


def per_layer_metrics(wl, runner, tracer, gen_info, session_s) -> dict:
    """Every PER_LAYER metric: span-derived values here, the rest from the
    workload's checked outputs (0 where the workload never calls a layer)."""
    from stats import median
    from spans import inclusive, self_time

    spans = tracer.spans
    selft = self_time(spans)
    inc_jobs, inc_tasks = inclusive(spans, "jobs"), inclusive(spans, "tasks")
    # engine counts and self times sum over a fixed window of operations
    roots = [s for s in spans if s.parent is None]
    window = {s.req for s in roots if s.name == "bench.batch"} | {
        s.req for s in [s for s in roots if s.name == "bench.request"][:WINDOW_REQUESTS]}
    win = [s for s in spans if s.req in window]

    def med(values) -> float:
        values = list(values)
        return median(values) if values else 0.0

    def dur(name):
        return med(s.dur for s in spans if s.name == name)

    def jobs(name, table=inc_jobs):
        return med(table[s.id] for s in spans if s.name == name)

    costs = {k: list(zip(*v)) if v else ([], [], []) for k, v in runner.costs.items()}
    m = dict.fromkeys(dict(PER_LAYER), 0.0)
    m.update(runner.batch_values)
    m.update(wl.layer_values())
    m.update({
        "session.start_s": session_s,
        "sources.input_bytes": gen_info["input_bytes"],
        "sources.load_table.plan_s": dur("sources.load_table.plan"),
        "features.compute_rfm.plan_s": dur("features.compute_rfm.plan"),
        "pipeline.jobs": jobs("pipeline.run_full_pipeline"),
        "pipeline.tasks": jobs("pipeline.run_full_pipeline", inc_tasks),
        "clustering.predict_point.s": dur("clustering.predict_point"),
        "model_store.save_model.s": dur("model_store.save_model"),
        "model_store.model_exists.s": dur("model_store.model_exists"),
        "model_store.load_model.s": dur("model_store.load_model"),
        "model_store.jobs_per_predict": jobs("pipeline.run_prediction"),
        "similarity.ivf_kcell_topk.plan_s": dur("similarity.ivf_kcell_topk.plan"),
        "similarity.query_exec_s": dur("similarity.query_exec"),
        "similarity.jobs_per_query": jobs("similarity.query_exec"),
        "curation.jobs": jobs("curation.run_curation_pipeline"),
        "text.funnel_gate_labels.plan_s": dur("text.funnel_gate_labels.plan"),
        "dedup.dedup_minhash_banded.s": dur("dedup.dedup_minhash_banded"),
        "dedup.dedup_canonical.s": dur("dedup.dedup_canonical"),
        "spark.jobs": sum(s.jobs for s in win),
        "spark.stages": sum(s.stages for s in win),
        "spark.tasks": sum(s.tasks for s in win),
        "spark.failed_tasks": sum(s.failed_tasks for s in win),
        "py.cpu_s.batch": med(costs["batch"][0]),
        "py.cpu_s.request": med(costs["request"][0]),
        "jvm.cpu_s.batch": med(costs["batch"][1]),
        "jvm.cpu_s.request": med(costs["request"][1]),
        "jvm.gc_s.batch": med(costs["batch"][2]),
        "jvm.gc_s.request": med(costs["request"][2]),
    })
    for layer in LAYERS:
        m[f"self_s.{layer}"] = sum(selft[s.id] for s in win if s.layer == layer)
    for kind in ("batch", "request"):
        spent = sum(runner.samples[kind])
        m[f"trace.overhead_{kind}_frac"] = runner.trace_s[kind] / spent if spent else 0.0
    return m


def run(args, work: str) -> int:
    configure_env(work)
    sys.path.insert(0, ROOT)
    try:
        from clusterforge_spark import session
    except ImportError as e:
        print(f"cannot import clusterforge_spark from {ROOT}: {e}", file=sys.stderr)
        return 2
    from spans import Tracer, patched
    from workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, work)
    gen_info = wl.generate()

    steal0 = _steal_s()
    t0 = time.perf_counter()
    spark = session.get_spark(app_name=f"perfbench-{wl.name}")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    try:
        tracer = Tracer(spark.sparkContext, enabled=bool(args.trace))
        wl.tracer = tracer
        runner = Runner(wl, tracer, spark)
        wl.setup(spark)
        setup_s = time.perf_counter() - t0
        with patched(tracer) if args.trace else contextlib.nullcontext():
            runner.run_op("batch")
            t1 = time.perf_counter()
            errs = wl.prepare_requests(runner.run_op)
            if errs:
                runner.fail("request preparation", errs)
            setup_s += time.perf_counter() - t1
            runner.serve(args.seconds)
        tracer.enabled = False
        if args.trace:
            wl.after_trace(tracer)
        peak_rss_mb = (_proc_status_kb("self", "VmHWM")
                       + _proc_status_kb(runner.jvm_pid, "VmHWM")) / 1024.0
        steal_s = _steal_s() - steal0
    finally:
        stop_spark(spark)

    e2e = end_to_end_metrics(runner, setup_s)
    for line in report_lines(wl, runner, e2e, gen_info["items"], session_s, peak_rss_mb,
                             steal_s):
        print(line)
    if args.trace:
        spans_dir = os.path.join(HERE, ".work", "spans")
        os.makedirs(spans_dir, exist_ok=True)
        span_file = os.path.join(spans_dir, f"{wl.name}-seed{args.seed}.jsonl")
        tracer.write(span_file)
        metrics = per_layer_metrics(wl, runner, tracer, gen_info, session_s)
        units = dict(PER_LAYER)
        print(f"spans: {len(tracer.spans)} written to {os.path.relpath(span_file, ROOT)}")
        for k, v in metrics.items():
            print(f"{k} {v:.6g} {units[k]}")
    else:
        metrics, units = e2e, dict(END_TO_END)
    correct = runner.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    work = os.path.join(HERE, ".work", f"{args.workload}-s{args.seed}-p{os.getpid()}")
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())

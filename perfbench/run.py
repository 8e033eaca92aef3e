"""spark-extract benchmark: one workload per invocation.

    python3 perfbench/run.py --workload pages_extract --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py``): ``pages_extract`` and ``curate_docs``.
The run builds its own ``local[N]`` session (N = cpus in this process's
affinity, heap from MemTotal), synthesizes its inputs from ``--seed``,
computes oracle expectations, and checks every timed job against them.

``--trace 0`` times warm jobs for ``--seconds`` and reports the
end-to-end metrics over the jobs run on a quiet host (below).

    setup_s      median of SETUP_REPS input syntheses + session start
                 (the oracle's expectations are computed meanwhile) +
                 the workload's warm-up jobs
    job_s        median wall of one job
    docs_per_s   input pages (documents on curate_docs) / job_s
    cpu_s        median CPU seconds of the JVM and its Python workers
                 per job, from /proc
    py_rss_mb    median per-job peak of the Python workers' summed RSS

On a shared virtual machine the hypervisor hands our cpus to other guests
now and then; /proc/stat counts that as steal.  A job during which more
than STEAL_MAX of the machine's cpu time was stolen runs 60-100% slower
(stragglers hold up every stage), so such jobs are timed and checked but
not reported: the run times at least ``min_jobs`` jobs, and more until
``--seconds`` have passed (at most ``max_jobs``), and reports the median
over the quiet jobs, or if fewer than ``report_jobs`` were quiet, over
the ``report_jobs`` jobs with the least steal.  Timing more jobs while
the host is stolen from would not help: steal comes in spells of minutes.
Each job's steal share is printed with it.

``peak_rss_mb``, the peak summed RSS of the JVM and its Python workers,
is printed but not reported: the library pins ``-Xms`` to the heap and G1
touches all of it within a run, so the JVM's part is the heap size the
benchmark chose, not memory the program asked for.

Failures against the oracle are the result's ``failed`` out of
``attempted`` (urls on pages_extract, queries on curate_docs); their ratio
is printed as ``fail_frac``.

``--trace 1`` turns Spark's event log on for the whole session and
measures the untraced jobs as above (plus one untraced warm job when the
timed job was a cold first pass).  It then runs one traced job in the same
warm session, times each layer from outside and reports every per-layer
metric (0 for a layer the workload does not run), the share of ``job_s``
the layers account for, and the tracing overhead: the traced job's wall
minus the untraced median, warm against warm.  The untraced jobs ran with
the event log on too, so its own cost shows only against ``--trace 0``
runs.  Spans and Spark's per-label record go to
``.perfbench/trace/<workload>-<seed>.json``.

The last stdout line is one JSON object: correct, attempted, failed,
metrics.  Work files live under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3
STEAL_MAX = 0.02  # share of the machine's cpu time stolen during a job

PER_LAYER = [
    "scan.s", "scan.bytes", "salt.shuffle_bytes", "salt.write_s", "salt.skew",
    "tokenize.py_run_s", "tokenize.py_init_s", "tokenize.bytes_to_py",
    "tokenize.bytes_from_py", "tokenize.docs_html", "tokenize.docs_pdf",
    "tokenize.docs_none", "htmltok.us_per_doc", "htmltok.nodes_per_doc",
    "pdftok.us_per_doc", "rollup.s", "sink.s", "sink.bytes",
    "fields.receipt_s", "fields.invoice_s", "results.assemble_s",
    "results.json_s", "results.json_bytes",
] + [f"q.{q}_{k}" for k in ("s", "rows") for q in (
    "dedup_minhash_lsh", "dedup_simhash", "dedup_ngram_jaccard",
    "fingerprint_pairs", "bloom_dedup", "text_repetition",
    "pdf_span_geometry", "media_pixel_features")] + [
    "dedup.candidate_rows", "dedup.useful_frac", "dedup.shuffle_bytes",
    "dedup.broadcasts", "spans.py_nodes", "spark.task_run_s",
    "spark.task_cpu_s", "spark.gc_s", "spark.shuffle_bytes", "spark.stages",
    "host.probe_s", "trace.layer_share", "trace.overhead_s",
]


def unit(name: str) -> str:
    if name.endswith(("bytes", "_to_py", "_from_py")):
        return "bytes"
    if name.endswith("us_per_doc"):
        return "us"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("frac", "skew", "share")):
        return "ratio"
    return "count"


def _fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _prepare_env(work: str) -> None:
    if not (os.path.isdir(os.path.join(ROOT, "image_ocr_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        _fail(f"program sources not found under {ROOT}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(0, ROOT)


class Runner:
    def __init__(self, args):
        from perfbench import host
        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.work = os.path.join(ROOT, ".perfbench", args.workload)
        self.wl = WORKLOADS[args.workload](self.work, args.seed)
        self.host = host
        self.tree = host.ProcTree()
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", enabled=False)
        self.attempted = self.failed = 0
        self.jobs: list = []  # (wall s, cpu s, peak rss MB, python peak rss MB)
        self.steal: list = []  # per job: share of the machine's cpu time stolen

    def setup(self):
        from perfbench.sparkrun import Session

        t_inputs = statistics.median(
            self._timed(lambda: self.wl.prepare(self.host.cpus())) for _ in range(SETUP_REPS)
        )
        t0 = time.perf_counter()
        # DuckDB runs the oracle while the JVM starts: a run must fit the
        # benchmark's time budget
        with ThreadPoolExecutor(1) as pool:
            oracle = pool.submit(self.wl.oracle)
            sess = Session(self.work, f"perfbench-{self.wl.name}", event_log=bool(self.args.trace))
            oracle.result()
        t_start = time.perf_counter() - t0
        sess.label("warmup")
        t_warm = sum(self._timed(lambda: self.wl.job(sess)) for _ in range(self.wl.warmups))
        if self.wl.warmups:
            self.self_test()
        self.setup_s = t_inputs + t_start + t_warm
        self.setup_parts = (t_inputs, t_start, t_warm)
        self.sess = sess

    @staticmethod
    def _timed(fn) -> float:
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    def self_test(self) -> None:
        """The oracle must see a single corrupted output row."""
        attempted, failed = self.wl.check()
        if failed:
            _fail(f"oracle: {failed}/{attempted} outputs wrong in the warm-up job")
        if self.wl.check(corrupt=True)[1] < 1:
            _fail("oracle self-test: a corrupted row went unnoticed")

    def timed_job(self, label: str = "job") -> float:
        sess = self.sess
        sess.label(label)
        cpu0 = self.tree.cpu_s()
        steal0 = self.host.steal_s()
        self.tree.watch()
        t0 = time.perf_counter()
        with self.tracer.span(label):
            self.wl.job(sess)
        wall = time.perf_counter() - t0
        peak, peak_py = self.tree.stop()
        cpu = self.tree.cpu_s() - cpu0
        self.steal.append((self.host.steal_s() - steal0) / (wall * os.cpu_count()))
        attempted, failed = self.wl.check()
        self.attempted += attempted
        self.failed += failed
        self.jobs.append((wall, cpu, peak, peak_py))
        return wall

    def measure(self) -> None:
        deadline = time.perf_counter() + self.args.seconds
        while len(self.jobs) < self.wl.max_jobs and (
            len(self.jobs) < self.wl.min_jobs or time.perf_counter() < deadline
        ):
            self.timed_job()
        if not self.wl.warmups:
            self.self_test()

    def quiet_jobs(self) -> list:
        """The jobs run with at most STEAL_MAX stolen, or if fewer than
        ``report_jobs`` were, the ``report_jobs`` least stolen."""
        order = sorted(range(len(self.jobs)), key=self.steal.__getitem__)
        quiet = [i for i in order if self.steal[i] <= STEAL_MAX]
        n = self.wl.report_jobs
        return [self.jobs[i] for i in (quiet if len(quiet) >= n else order[:n])]

    def end_to_end(self) -> dict:
        jobs = self.quiet_jobs()
        job_s = statistics.median(j[0] for j in jobs)
        return {
            "setup_s": (self.setup_s, "s"),
            "job_s": (job_s, "s"),
            "docs_per_s": (self.wl.docs / job_s, "1/s"),
            "cpu_s": (statistics.median(j[1] for j in jobs), "s"),
            "py_rss_mb": (statistics.median(j[3] for j in jobs), "MB"),
        }

    def traced(self) -> dict:
        """One traced job after the untraced ones, in the same warm
        session (the event log was on for all of them), then the layer
        measurements."""
        from perfbench.sparkrun import EventLog

        if not self.wl.warmups:
            # the timed job was a cold first pass: compare warm with warm
            self.jobs.clear()
            self.steal.clear()
            self.timed_job("untraced")
        untraced = statistics.median(j[0] for j in self.quiet_jobs())
        self.tracer.enabled = True
        traced = self.timed_job("traced")
        m = self.wl.layers(self.sess, self.tracer)
        self.attempted += self.wl.layer_checks[0]
        self.failed += self.wl.layer_checks[1]
        app = self.sess.app_id
        self.sess.spark.stop()
        log = EventLog(self.sess.events_dir, app)
        accounted = self.wl.spark_layers(log, m, self.sess.cpus)
        labels = self.wl.job_labels
        for k in ("task_run_s", "task_cpu_s", "gc_s", "shuffle_bytes", "stages"):
            m[f"spark.{k}"] = sum(log.totals(x)[k] for x in labels)
        m["trace.layer_share"] = sum(accounted.values()) / traced
        m["trace.overhead_s"] = traced - untraced
        self.tracer.write(
            os.path.join(ROOT, ".perfbench", "trace", f"{self.wl.name}-{self.args.seed}.json"),
            log.summary(),
        )
        print(f"traced job_s {traced:.3f} s; untraced median {untraced:.3f} s; "
              f"tracing overhead {traced - untraced:+.3f} s")
        for k, v in accounted.items():
            print(f"  layer {k:<28} {v:9.3f} s  {100 * v / traced:6.1f}% of job_s")
        rest = traced - sum(accounted.values())
        print(f"  unaccounted remainder          {rest:9.3f} s  {100 * rest / traced:6.1f}% of job_s")
        return m

    def run(self) -> dict:
        probe0 = self.host.host_probe()
        self.setup()
        self.measure()
        e2e = self.end_to_end()
        layers = self.traced() if self.args.trace else None
        if not self.args.trace:
            self.sess.spark.stop()
        from perfbench.sparkrun import Session

        Session.shutdown_jvm()  # the probe runs with the host to itself
        probe1 = self.host.host_probe()
        print(f"workload {self.wl.name} seed {self.args.seed}: local[{self.sess.cpus}], "
              f"heap {self.sess.heap_gb}g, {self.wl.docs} input docs, "
              f"host probe {probe0:.4f} / {probe1:.4f} s")
        print("  timed jobs (wall s / cpu s / peak MB / python peak MB / steal): " + ", ".join(
            f"{w:.2f}/{c:.1f}/{p:.0f}/{q:.0f}/{st:.2f}" for (w, c, p, q), st in zip(self.jobs, self.steal)))
        print("  setup s: inputs %.2f (median of %d), session start with oracle %.2f, "
              "warm-up %.2f" % (self.setup_parts[0], SETUP_REPS, *self.setup_parts[1:]))
        print("  " + self.wl.detail())
        for k, (v, u) in e2e.items():
            print(f"  {k:<12} {v:12.4f} {u}")
        print(f"  {'peak_rss_mb':<12} {statistics.median(j[2] for j in self.jobs):12.4f} MB")
        print(f"  {'fail_frac':<12} {self.failed / max(1, self.attempted):12.4f} "
              f"({self.failed}/{self.attempted})")
        if layers is None:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        else:
            layers["host.probe_s"] = statistics.median([probe0, probe1])
            metrics = {k: {"value": float(layers.get(k, 0)), "unit": unit(k)} for k in PER_LAYER}
            for k in PER_LAYER:
                print(f"  {k:<34} {metrics[k]['value']:16.4f} {metrics[k]['unit']}")
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["pages_extract", "curate_docs"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    _prepare_env(os.path.join(ROOT, ".perfbench", args.workload))
    from perfbench.sparkrun import Session

    try:
        result = Runner(args).run()
    finally:
        Session.shutdown_jvm()  # also on failure: leave no process behind
    print(json.dumps(result))


if __name__ == "__main__":
    main()

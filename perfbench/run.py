"""Benchmark entry point.

    python3 perfbench/run.py --workload {ingest,serve} --seed N \
        --seconds S --trace {0,1}

Run from the root of a checkout. Inputs are generated from ``--seed``
under ``.perfbench_work/`` in the checkout, the engine runs on
``local[<cpus>]`` in this one process, and every output is checked
against ground truth. Both workloads run the ingest and the serve
phase; the one a workload is named for repeats for ``--seconds``. The
last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: every end-to-end metric with ``--trace 0``,
every per-layer metric with ``--trace 1``.
The line before it is a report (environment, input sizes, sample
counts). The exit code is 0 only when every check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import sys
import time

PACKAGE = "pdf_using_hugging_face_and_vector_database_spark"
SETUP_REPEATS = 3
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fs_type(path: str) -> str:
    """Filesystem type of the mount holding ``path``."""
    best, fstype = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt = parts[1]
            if path == mnt or path.startswith(mnt.rstrip("/") + "/"):
                if len(mnt) >= len(best):
                    best, fstype = mnt, parts[2]
    return fstype


def pin_env(work: str) -> dict:
    """Environment for the engine; must run before pyspark is imported."""
    cpus = len(os.sched_getaffinity(0))
    ram = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    mem_mb = min(2048, ram // 4 // 2**20)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEM": f"{mem_mb}m",
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "SPARK_GRAFT_INDEX_DIR": os.path.join(work, "index"),
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(work, "local"),
        "TMPDIR": os.path.join(work, "tmp"),
        # every JVM, the spark-submit launcher's too, keeps its files here
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    os.environ.update(env)
    for d in ("index", "local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    return env


class Run:
    """One benchmark process: the Spark session, scratch dir and seed."""

    def __init__(self, args, work: str):
        self.seed = args.seed
        self.work = work
        self.spark = None
        self.failures: list[str] = []
        self.attempted = self.failed = 0
        self.evdir = os.path.join(work, "eventlog") if args.trace else None
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        }
        if self.evdir:
            os.makedirs(self.evdir, exist_ok=True)
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.evdir,
                "spark.eventLog.compress": "false",
            })

    def start_session(self):
        from pdf_using_hugging_face_and_vector_database_spark.session import get_spark

        self.spark = get_spark(app_name="perfbench", extra_conf=self.conf)
        return self.spark

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None

    def peak_rss_mb(self) -> float:
        from pyspark import SparkContext

        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            with open(f"/proc/{proc.pid}/status") as f:
                kb += next(int(l.split()[1]) for l in f if l.startswith("VmHWM"))
        return kb / 1024.0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)) or not os.path.isfile(
        os.path.join(ROOT, "bench.py")
    ):
        print(f"perfbench: no {PACKAGE}/ or bench.py under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = pin_env(work)
    load_start = os.getloadavg()
    sys.path.insert(0, ROOT)
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    run = Run(args, work)
    wl = WORKLOADS[args.workload](run, traced=bool(args.trace))
    tracer = Tracer(run.evdir) if args.trace else None
    setup_s = []
    phases = {"start": time.perf_counter()}
    try:
        # the session starts once per process; the inputs (and serve's
        # stores) are set up SETUP_REPEATS times in it, each in a fresh dir
        t0 = time.perf_counter()
        if tracer:
            with tracer.span("session"):
                tracer.spark = run.start_session()
        else:
            run.start_session()
        session_s = time.perf_counter() - t0
        # setup_s is reported by untraced runs only
        for i in range(1 if tracer else SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.setup(os.path.join(work, f"setup{i}"))
            setup_s.append(time.perf_counter() - t0)
            shutil.rmtree(os.path.join(work, f"setup{i - 1}"), ignore_errors=True)
        phases["setup"] = time.perf_counter()
        wl.warmup()
        phases["warmup"] = time.perf_counter()
        if tracer:
            metrics = wl.traced(tracer, args.seconds)
            metrics["trace.metrics_ok"] = (int(tracer.metrics_ok), "bool")
            tracer.write(os.path.join(work, "trace.json"))
        else:
            metrics = wl.measure(args.seconds)
            metrics["setup_s"] = (session_s + statistics.median(setup_s), "s")
            metrics["peak_rss_mb"] = (run.peak_rss_mb(), "MiB")
        phases["measure"] = time.perf_counter()
    finally:
        run.shutdown()
    phases["shutdown"] = time.perf_counter()

    failed = run.failed
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "env": {**env, "cpus": int(env["SPARK_GRAFT_CPUS"])},
        "load_start": load_start,
        "load_end": os.getloadavg(),
        "scratch_fs": _fs_type(work),
        "inputs": wl.sizes,
        "session_s": session_s,
        "inputs_setup_s": setup_s,
        "samples": wl.samples,
        "phases_s": {
            k: phases[k] - prev for prev, k in zip(list(phases.values()), list(phases)[1:])
        },
        "error_rate": failed / max(1, run.attempted),
        "failures": run.failures[:20],
        "metrics_ok": tracer.metrics_ok if tracer else None,
    }
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump(report, f)
    for d in os.listdir(work):
        if d not in ("report.json", "trace.json"):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(1, run.attempted),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

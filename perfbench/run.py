"""Benchmark entry point.

    python3 perfbench/run.py --workload search|pipeline \
        --seed N --seconds S --trace 0|1

Run from the root of a source checkout: the engine is imported from
there, and everything the run writes goes under ``.perfbench_run/`` in
the checkout. The last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics untraced, the per-layer metrics traced). See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench_run")

E2E_UNITS = {"setup_s": "s", "docs_per_s": "docs/s", "queries_per_s": "1/s", "query_p50_ms": "ms"}


def _configure_env(work: str, trace: bool) -> str | None:
    """Keep every file Spark, the JVM and Python write inside the
    checkout, silence the console progress bar, and (traced) turn on
    the build profile marks and Spark's JSON event log. Returns the
    event-log directory when traced."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIR"] = local  # read by session.get_spark
    os.environ["SPARK_LOCAL_DIRS"] = local  # overrides spark.local.dir if set
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    ]
    log_dir = None
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        os.environ["OLSPARK_BUILD_PROFILE"] = "1"
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return log_dir


class Run:
    """State of one benchmark run, handed to the workload."""

    def __init__(self, spark, probe, seed: int, seconds: int, trace: bool, work: str):
        self.spark, self.probe = spark, probe
        self.seed, self.seconds, self.trace, self.work = seed, seconds, trace, work
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def check(self, why: str | None, what: str) -> None:
        """Count one checked operation; ``why`` is None when it was correct."""
        self.attempted += 1
        if why is not None:
            self.failed += 1
            print(f"MISMATCH {what}: {why}", file=sys.stderr)


def _alive(pid: int) -> bool:
    """True while ``pid`` runs (a zombie has ended)."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _stop_spark(spark) -> None:
    """Stop Spark, then end the JVM and its Python workers and wait."""
    from probes import proc_tree

    kids = [p for p in proc_tree(os.getpid()) if p != os.getpid()]
    gateway = spark.sparkContext._gateway
    proc = gateway.proc  # the JVM, started by pyspark's launch_gateway
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    _wait_gone(kids, 15)
    for p in kids:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
    _wait_gone(kids, 15)


def _wait_gone(pids: list[int], seconds: float) -> None:
    deadline = time.monotonic() + seconds
    while time.monotonic() < deadline and any(_alive(p) for p in pids):
        time.sleep(0.1)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["search", "pipeline"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)

    sys.dont_write_bytecode = True  # keep the benchmark directory as committed
    sys.path[:0] = [ROOT, HERE]
    import ocaml_lucene_spark  # noqa: F401  (fails at once outside a checkout)

    from probes import Probe, event_log_totals
    from workloads import WORKLOADS
    from layers import layer_metrics

    work = os.path.join(RUN_DIR, f"{a.workload}-{a.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        log_dir = _configure_env(work, bool(a.trace))
        t0 = time.monotonic()
        from ocaml_lucene_spark.session import get_spark

        spark = get_spark()
        session_s = time.monotonic() - t0
        probe = Probe(spark, bool(a.trace))
        run = Run(spark, probe, a.seed, a.seconds, bool(a.trace), work)
        try:
            WORKLOADS[a.workload](run)
        finally:
            _stop_spark(spark)
        setup = [s["s"] for s in probe.spans if s["name"].startswith("setup.")]
        run.e2e["setup_s"] = session_s + sum(setup)
        run.layer["session.start_s"] = session_s
        run.layer["warmup_s"] = sum(s["s"] for s in probe.by_name("setup.warmup"))
        if a.trace:
            probe.write(os.path.join(RUN_DIR, "traces", f"{a.workload}-seed{a.seed}.json"))
            layers = layer_metrics(run, event_log_totals(log_dir))
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
        else:
            metrics = {k: {"value": run.e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        print(json.dumps({
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        }))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

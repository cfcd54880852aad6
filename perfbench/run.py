"""Layer-resolved benchmark of headson_spark's preview backfills and live
stream.

    python3 perfbench/run.py --workload preview_short --seed 1 \
        --seconds 12 --trace 0

Run it from the repository root. It generates the workload's parquet
inputs from the seed, runs them through the public entry points on
local[<nproc>], checks the outputs, and prints a human-readable report
followed by one JSON line (the last line of stdout):

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones (see README.md in this directory).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import platform
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("preview_short", "preview_long", "stream_live")

END_TO_END = {  # name -> unit
    "setup_s": "s", "turns_per_s": "turns/s", "latency_p50_s": "s",
    "latency_p90_s": "s", "peak_rss_mb": "MB"}

PER_LAYER = {
    "session.start_s": "s",
    "preview.plan_pushdown": "count",
    "preview.choose_plan_s": "s",
    "preview.scan_ms": "ms",
    "preview.scan_bytes": "B",
    "preview.exchange_bytes": "B",
    "preview.exchange_records": "count",
    "preview.exchange_write_ms": "ms",
    "preview.exchange_fetch_wait_ms": "ms",
    "preview.partition_skew": "ratio",
    "preview.sort_ms": "ms",
    "preview.spill_bytes": "B",
    "preview.python_run_ms": "ms",
    "preview.python_init_ms": "ms",
    "preview.python_start_ms": "ms",
    "preview.python_bytes_sent": "B",
    "preview.python_bytes_returned": "B",
    "preview.task_skew": "ratio",
    "kernel.arena_us": "us",
    "kernel.order_us": "us",
    "kernel.search_us": "us",
    "kernel.convs_per_s": "1/s",
    "kernel.preview_bytes": "B",
    "kernel.share_of_python": "ratio",
    "stream.batches": "count",
    "stream.batch_ms_p50": "ms",
    "stream.batch_ms_max": "ms",
    "stream.add_batch_ms_p50": "ms",
    "stream.fixed_ms_p50": "ms",
    "stream.busy_frac": "ratio",
    "state.rows_total": "count",
    "state.rows_updated": "count",
    "state.memory_bytes": "B",
    "state.commit_ms": "ms",
    "state.update_ms": "ms",
    "sink.call_ms_p50": "ms",
    "sink.rows": "count",
    "sink.bytes": "B",
    "sink.files": "count",
    "gen.late_s_max": "s",
    "gen.turns": "count",
    "gen.files": "count",
    "trace.overhead_frac": "ratio",
}


def _host() -> dict:
    import pyarrow
    import pyspark
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {"nproc": os.cpu_count(), "mem_gb": round(mem_kb / 2**20, 1),
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "python": platform.python_version()}


def _configure_host(work: str, cores: int) -> None:
    """Benchmark-side settings; the program itself is not changed."""
    import workloads
    # the Python workers import headson_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    # get_spark defaults to a 24g driver; this host class has ~15 GB
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = workloads.DRIVER_MEM
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)


_SPIN = """
import os
os.sched_setscheduler(0, os.SCHED_IDLE, os.sched_param(0))
parent = os.getppid()
while os.getppid() == parent:
    for _ in range(100_000):
        pass
"""


class WarmCpus:
    """One SCHED_IDLE busy loop per core for the whole run.

    On a virtual machine whose idle vCPUs the hypervisor deschedules, a
    burst of work after an idle gap (every Spark stage start) first runs
    at a fraction of full speed for up to ~1 s; on a 4-core VM, four
    processes starting together took 0.78 s for a step that takes 0.20 s
    once running. Idle-priority loops keep the vCPUs scheduled and yield
    to any other runnable thread (SCHED_IDLE weight is 3 against 1024),
    so the benchmark times the program rather than vCPU wake-up. They
    exit when this process exits."""

    def __init__(self, n: int):
        self.n = n
        self.procs: list = []

    def __enter__(self):
        import subprocess
        self.procs = [subprocess.Popen([sys.executable, "-c", _SPIN])
                      for _ in range(self.n)]
        return self

    def __exit__(self, *exc):
        for p in self.procs:
            p.kill()
        for p in self.procs:
            p.wait()

    @property
    def pids(self) -> set[int]:
        return {p.pid for p in self.procs}


def _stop_jvm() -> None:
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits on stdin EOF
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def end_to_end(res, rss_mb: float) -> dict:
    deciles = statistics.quantiles(res.latency_s, n=10, method="inclusive")
    return {
        "setup_s": statistics.median(res.setup_s),
        "turns_per_s": statistics.median(res.turns_per_s),
        "latency_p50_s": deciles[4],
        "latency_p90_s": deciles[8],
        "peak_rss_mb": rss_mb,
    }


def _report(workload: str, res, e2e: dict, host: dict) -> None:
    stream = workload == "stream_live"
    tput = "catchup_turns_per_s" if stream else "preview_turns_per_s"
    lat = "emit_latency" if stream else "pass_wall"
    rows = [
        ("setup_s", e2e["setup_s"], "s", "lower", len(res.setup_s)),
        (tput, e2e["turns_per_s"], "turns/s", "higher",
         len(res.turns_per_s)),
        (f"{lat}_p50_s", e2e["latency_p50_s"], "s", "lower",
         len(res.latency_s)),
        (f"{lat}_p90_s", e2e["latency_p90_s"], "s", "lower",
         len(res.latency_s)),
        ("peak_rss_mb", e2e["peak_rss_mb"], "MB", "lower", 1),
        ("failed_frac", res.failed / max(res.attempted, 1), "ratio",
         "lower", res.attempted),
    ]
    print(f"# host {json.dumps(host)}")
    print(f"# {'metric':<24}{'value':>14}  {'unit':<8}{'better':<8}n")
    for name, v, unit, better, n in rows:
        print(f"# {name:<24}{v:>14.4f}  {unit:<8}{better:<8}{n}")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import headson_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: cannot import headson_spark from {ROOT}: {e}",
              file=sys.stderr)
        return 2

    import harvest
    import workloads

    cores = os.cpu_count() or 1
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{a.workload}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _configure_host(work, cores)
    run = workloads.Run(seed=a.seed, seconds=a.seconds, trace=bool(a.trace),
                        work=work, cores=cores)
    try:
        with WarmCpus(cores) as warm, harvest.RssSampler() as rss:
            rss.exclude |= warm.pids
            if a.workload == "stream_live":
                res = workloads.run_stream_live(run, rss)
            else:
                res = workloads.run_preview(run, a.workload)
    finally:
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass

    host = _host()
    e2e = end_to_end(res, rss.peak_mb)
    _report(a.workload, res, e2e, host)
    res.notes["pss_at_peak_mb"] = [round(x / 1024) for x in rss.at_peak]
    if res.notes:
        print(f"# notes {json.dumps(res.notes, default=str)}")
    if a.trace:
        missing = sorted(set(PER_LAYER) - set(res.layers))
        print(f"# not_applicable {json.dumps(missing)}")
        metrics = {k: {"value": float(res.layers.get(k, 0.0)), "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": float(e2e[k]), "unit": u}
                   for k, u in END_TO_END.items()}
    print(json.dumps({"correct": res.failed == 0,
                      "attempted": res.attempted, "failed": res.failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

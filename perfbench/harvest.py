"""Layer harvester: reads what Spark, the stream and /proc already expose.

Nothing here reaches inside `headson_spark`. The sources are:
- Spark's monitoring REST API (`<uiWebUrl>/api/v1/applications/<app>`):
  the SQL endpoint gives per-operator metrics of one exact execution,
  including the `noop` write a timed pass runs; the stage task summary
  gives task-time and shuffle-read distributions;
- `StreamingQuery.recentProgress` for micro-batch durations and state;
- `/proc/<pid>/smaps_rollup` for resident memory of the Spark JVM and
  its Python workers.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
import urllib.request

# --------------------------------------------------------------------------
# stream emit latency


def emit_latencies(commit_s: dict[int, float], batch_ids, last_ts_s,
                   finals) -> list[float]:
    """Per-row emit latency of a stream's sink rows: the commit time of
    the row's micro-batch minus the row's `last_ts` (creation time of the
    last turn that contributed to the preview). Rows of batches without a
    recorded commit time, and final (session-close) rows, are skipped."""
    out = []
    for b, ts, fin in zip(batch_ids, last_ts_s, finals):
        c = commit_s.get(int(b))
        if c is None or fin:
            continue
        out.append(c - ts)
    return out


# --------------------------------------------------------------------------
# Spark UI metric strings

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
         "TiB": 1 << 40, "PiB": 1 << 50}
_TIME_MS = {"ns": 1e-6, "µs": 1e-3, "us": 1e-3, "ms": 1.0, "s": 1e3,
            "m": 60e3, "min": 60e3, "h": 3600e3}
_NUM = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-zµ]*)")
_STAGE = re.compile(r"\(stage (\d+)\.(\d+): task \d+\)")


def metric_total(value: str) -> float:
    """Total of a SQL metric value string, in bytes for sizes, ms for
    times and plain for counts. Handles both the plain form ('64.8 MiB',
    '1,014,352') and the per-task form
    'total (min, med, max (stageId: taskId))\\n4.1 s (188 ms, ...)'."""
    if "\n" in value:
        value = value.split("\n", 1)[1]
    m = _NUM.match(value)
    if not m:
        raise ValueError(f"unparsed metric value: {value!r}")
    x = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in _SIZE:
        return x * _SIZE[unit]
    if unit in _TIME_MS:
        return x * _TIME_MS[unit]
    if unit:
        raise ValueError(f"unknown metric unit {unit!r} in {value!r}")
    return x


def metric_max_stage(value: str) -> tuple[int, int] | None:
    """(stageId, attempt) of the task holding a per-task metric's max."""
    m = _STAGE.search(value)
    return (int(m.group(1)), int(m.group(2))) if m else None


# --------------------------------------------------------------------------
# REST client


class SparkRest:
    """Thin client for the monitoring REST API of a live SparkContext."""

    def __init__(self, sc, timeout_s: float = 10.0):
        url = sc.uiWebUrl
        if not url:
            raise RuntimeError("Spark UI is disabled; the harvester needs "
                               "spark.ui.enabled=true")
        self.base = f"{url}/api/v1/applications/{sc.applicationId}"
        self.timeout_s = timeout_s

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path,
                                    timeout=self.timeout_s) as r:
            return json.load(r)

    def last_execution_id(self) -> int:
        """Highest SQL execution id so far (-1 when there is none)."""
        ids = [e["id"] for e in self.get(
            "/sql?details=false&planDescription=false&offset=0"
            "&length=100000")]
        return max(ids, default=-1)

    def executions_after(self, after_id: int,
                         wait_s: float = 15.0) -> list[dict]:
        """Executions with id > after_id, with node metrics, once every
        one of them has finished (the status listener runs a little
        behind the action that ran them)."""
        deadline = time.time() + wait_s
        while True:
            es = [e for e in self.get(
                "/sql?details=true&planDescription=false&offset=0"
                "&length=100000") if e["id"] > after_id]
            if es and all(e["status"] in ("COMPLETED", "FAILED")
                          for e in es):
                return sorted(es, key=lambda e: e["id"])
            if time.time() > deadline:
                raise TimeoutError(
                    f"SQL executions after {after_id} did not finish")
            time.sleep(0.1)

    def task_quantiles(self, stage: tuple[int, int]) -> dict:
        sid, att = stage
        return self.get(f"/stages/{sid}/{att}/taskSummary"
                        "?quantiles=0.5,1.0")


def _node_metrics(execution: dict, node_name: str) -> list[dict]:
    return [{m["name"]: m["value"] for m in n.get("metrics", [])}
            for n in execution["nodes"] if n["nodeName"] == node_name]


def _sum_metric(execution: dict, node_name: str, metric: str) -> float:
    return sum(metric_total(ms[metric])
               for ms in _node_metrics(execution, node_name)
               if metric in ms)


def _ratio(hi: float, mid: float) -> float:
    return hi / mid if mid > 0 else 0.0


def preview_layers(rest: SparkRest, executions: list[dict]) -> dict:
    """Per-layer metrics of one preview pass from its SQL executions: the
    dispatcher's stats scan (any execution without a MapInPandas node)
    and the pass's own write (the one with it)."""
    writes = [e for e in executions
              if any(n["nodeName"] == "MapInPandas" for n in e["nodes"])]
    if len(writes) != 1:
        raise RuntimeError(f"expected one MapInPandas execution, found "
                           f"{len(writes)} among {len(executions)}")
    w = writes[0]
    stats = [e for e in executions if e is not w]
    mip = _node_metrics(w, "MapInPandas")[0]
    run_key = "time to run Python workers"
    out = {
        "preview.plan_pushdown": float(any(
            n["nodeName"] == "Union" for n in w["nodes"])),
        "preview.choose_plan_s": sum(e["duration"] for e in stats) / 1e3,
        "preview.scan_ms": _sum_metric(w, "Scan parquet", "scan time"),
        "preview.scan_bytes": _sum_metric(w, "Scan parquet",
                                          "size of files read"),
        "preview.exchange_bytes": _sum_metric(w, "Exchange",
                                              "shuffle bytes written"),
        "preview.exchange_records": _sum_metric(
            w, "Exchange", "shuffle records written"),
        "preview.exchange_write_ms": _sum_metric(w, "Exchange",
                                                 "shuffle write time"),
        "preview.exchange_fetch_wait_ms": _sum_metric(w, "Exchange",
                                                      "fetch wait time"),
        "preview.sort_ms": _sum_metric(w, "Sort", "sort time"),
        "preview.spill_bytes": sum(
            metric_total(v) for n in w["nodes"]
            for m in n.get("metrics", []) if m["name"] == "spill size"
            for v in [m["value"]]),
        "preview.python_run_ms": metric_total(mip[run_key]),
        "preview.python_init_ms": metric_total(
            mip["time to initialize Python workers"]),
        "preview.python_start_ms": metric_total(
            mip["time to start Python workers"]),
        "preview.python_bytes_sent": metric_total(
            mip["data sent to Python workers"]),
        "preview.python_bytes_returned": metric_total(
            mip["data returned from Python workers"]),
        "preview.wall_s": w["duration"] / 1e3,
    }
    # the kernel stage is the one holding MapInPandas's slowest task
    stage = metric_max_stage(mip[run_key])
    if stage is None:
        raise RuntimeError("MapInPandas metric names no stage")
    tq = rest.task_quantiles(stage)
    med_run, max_run = tq["executorRunTime"]
    med_rd, max_rd = tq["shuffleReadMetrics"]["readBytes"]
    out["preview.task_skew"] = _ratio(max_run, med_run)
    out["preview.partition_skew"] = _ratio(max_rd, med_rd)
    return out


def progress_layers(progress: list[dict], phase_s: float) -> dict:
    """Micro-batch and state metrics over a list of progress dicts
    (`json.loads(p.json)` of StreamingQueryProgress)."""
    if not progress:
        raise ValueError("no micro-batch progress to summarize")
    trig = [p["durationMs"].get("triggerExecution", 0) for p in progress]
    add = [p["durationMs"].get("addBatch", 0) for p in progress]
    ops = [p["stateOperators"][0] for p in progress if p["stateOperators"]]
    return {
        "stream.batches": float(len(progress)),
        "stream.batch_ms_p50": statistics.median(trig),
        "stream.batch_ms_max": float(max(trig)),
        "stream.add_batch_ms_p50": statistics.median(add),
        "stream.fixed_ms_p50": statistics.median(
            t - a for t, a in zip(trig, add)),
        "stream.busy_frac": sum(trig) / 1e3 / phase_s if phase_s else 0.0,
        "state.rows_total": float(ops[-1]["numRowsTotal"]) if ops else 0.0,
        "state.rows_updated": float(sum(o["numRowsUpdated"] for o in ops)),
        "state.memory_bytes": float(ops[-1]["memoryUsedBytes"])
        if ops else 0.0,
        "state.commit_ms": float(sum(o["commitTimeMs"] for o in ops)),
        "state.update_ms": float(sum(o["allUpdatesTimeMs"] for o in ops)),
    }


# --------------------------------------------------------------------------
# resident memory


def _children(pid: int) -> list[int]:
    # a child belongs to the thread that forked it, so read every thread
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(x) for x in f.read().split())
        except OSError:
            pass
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, with each page shared by n
    processes counted 1/n in each. Python workers are forked from one
    daemon and share most of their pages, so summed RSS would count
    those pages once per worker."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples resident memory (PSS) summed over the Spark JVM and its
    Python workers every `period_s`; `peak_mb` is the largest sum seen.

    Counted: this process's direct children (the JVM), except pids in
    `exclude`, and every deeper descendant running Python (the pyspark
    daemon and its forked workers). Other grandchildren are skipped: the
    JVM starts helper commands through vfork, and a vfork child shares
    the JVM's address space, so its PSS would count the heap twice."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self.at_peak: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree(self) -> list[int]:
        out = []
        todo = [p for p in _children(os.getpid()) if p not in self.exclude]
        out.extend(todo)
        while todo:
            for c in _children(todo.pop()):
                todo.append(c)
                if _comm(c).startswith("python"):
                    out.append(c)
        return out

    def sample(self) -> None:
        per = {p: _pss_kb(p) for p in self._tree()}
        tot = sum(per.values())
        if tot > self.peak_kb:
            self.peak_kb = tot
            self.at_peak = sorted(per.values(), reverse=True)

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

"""The three workloads: two preview backfills and one live stream.

Each runner takes a `Run` (seed, seconds, trace flag, work dir) and
returns a `Result`: end-to-end samples, per-layer values (traced runs
only) and the correctness tally. Only public entry points are called:
`session.get_spark`, `operators.preview.conversation_previews` (plus
`conversation_previews_full` and `clear_plan_cache`),
`streaming.engine.run_stream` with a `KeyedParquetSink`, and the kernel
functions the preview operator itself calls.
"""

from __future__ import annotations

import dataclasses
import json
import os
import statistics
import subprocess
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import harvest

BUDGET = 500
DRIVER_MEM = "2g"       # fixed JVM heap, touched at launch (see README)
SETUPS = 3              # set-ups per run; setup_s is their median
MIN_PASSES = 3          # timed preview passes per run, at least
ORACLE_SAMPLE = 150     # previews checked against the kernel per run
PUSHDOWN_SAMPLE = 40    # preview_long: pushdown vs full plan per run
KERNEL_SAMPLE = 150     # conversations timed in-process (traced runs)

SHORT_TURNS = 60_000
LONG_TURNS = 300_000
LONG_HOT_TURNS = 50_000

# stream_live: backlog present at start, then one file per interval
STREAM_BACKLOG_TURNS = 8_000
STREAM_RATE = 150.0      # offered turns/s in the live phase
STREAM_INTERVAL_S = 8.0  # one file per interval
STREAM_WARMUP_TURNS = 300
STREAM_BACKLOG_FILES = 4
CATCHUP_REPS = 3         # catch-up runs per run; the last one goes live


@dataclasses.dataclass
class Run:
    seed: int
    seconds: float
    trace: bool
    work: str           # scratch directory inside the checkout
    cores: int


@dataclasses.dataclass
class Result:
    setup_s: list[float]
    turns_per_s: list[float]
    latency_s: list[float]
    attempted: int = 0
    failed: int = 0
    layers: dict = dataclasses.field(default_factory=dict)
    notes: dict = dataclasses.field(default_factory=dict)


def _now() -> float:
    return time.perf_counter()


def start_spark(run: Run):
    """get_spark on local[cores], timed. The first call in a process
    launches the JVM; later calls (after stop()) reuse it."""
    from headson_spark.session import get_spark
    t0 = _now()
    spark = get_spark(
        "perfbench", master=f"local[{run.cores}]",
        extra={"spark.ui.showConsoleProgress": "false",
               "spark.local.dir": os.path.join(run.work, "spark-local"),
               "spark.sql.warehouse.dir": os.path.join(run.work,
                                                       "warehouse"),
               "spark.driver.extraJavaOptions":
                   f"-Djava.io.tmpdir={os.path.join(run.work, 'tmp')} "
                   f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch"})
    spark.sparkContext.setLogLevel("ERROR")
    return spark, _now() - t0


def _lww_turns(pdf) -> dict[str, tuple[list, list, list]]:
    """{conv_id: (roles, texts, tools)} after last-write-wins by ts."""
    pdf = (pdf.sort_values(["conv_id", "turn_idx", "ts"], kind="stable")
              .drop_duplicates(subset=["conv_id", "turn_idx"],
                               keep="last"))
    out = {}
    for cid, g in pdf.groupby("conv_id", sort=False):
        out[cid] = (g["role"].tolist(), g["text"].tolist(),
                    g["tool"].tolist())
    return out


def oracle_preview(turns: tuple[list, list, list]) -> str:
    from headson_spark.kernel import summarize_value
    roles, texts, tools = turns
    doc = {"turns": [{"role": r, "text": t, "tool": tl}
                     for r, t, tl in zip(roles, texts, tools)]}
    return summarize_value(doc, character_budget=BUDGET)


def kernel_probe(convs: list[tuple[list, list, list]]) -> dict:
    """Single-thread, in-process timing of the three kernel stages the
    preview operator runs per conversation."""
    from headson_spark.kernel.api import make_configs
    from headson_spark.kernel.arena import build_conversation_arena
    from headson_spark.kernel.order import build_order
    from headson_spark.kernel.render import find_largest_render_under_budget
    cfg, prio, budget = make_configs(format="json",
                                     character_budget=BUDGET)
    arena_us, order_us, search_us, nbytes = [], [], [], []
    for roles, texts, tools in convs:
        t0 = _now()
        a = build_conversation_arena(roles, texts, tools,
                                     prio["array_max_items"],
                                     prio["sampler"])
        t1 = _now()
        po = build_order(a, prio["max_string_graphemes"],
                         prefer_tail_arrays=prio["prefer_tail_arrays"],
                         max_pops=max(budget, 1), lazy=True)
        t2 = _now()
        s = find_largest_render_under_budget(po, cfg, budget)
        t3 = _now()
        arena_us.append((t1 - t0) * 1e6)
        order_us.append((t2 - t1) * 1e6)
        search_us.append((t3 - t2) * 1e6)
        nbytes.append(len(s.encode("utf-8")))
    total_s = (sum(arena_us) + sum(order_us) + sum(search_us)) / 1e6
    return {"kernel.arena_us": statistics.median(arena_us),
            "kernel.order_us": statistics.median(order_us),
            "kernel.search_us": statistics.median(search_us),
            "kernel.convs_per_s": len(convs) / total_s,
            "kernel.preview_bytes": statistics.median(nbytes),
            "_kernel_mean_s": total_s / len(convs)}


def _median_layers(samples: list[dict]) -> dict:
    return {k: statistics.median([s[k] for s in samples]) for k in samples[0]}


def _check_previews(got: dict[str, str], expected_convs: set[str],
                    turns: dict, res: Result) -> None:
    """Conversation count, then a sample of previews against the kernel
    run directly on the LWW-merged turns."""
    res.attempted += 1
    if set(got) != expected_convs:
        res.failed += 1
        res.notes["count_mismatch"] = {"got": len(got),
                                       "expected": len(expected_convs)}
    bad = [cid for cid, t in turns.items()
           if got.get(cid) != oracle_preview(t)]
    res.attempted += len(turns)
    res.failed += len(bad)
    if bad:
        res.notes["oracle_mismatch"] = sorted(bad)[:5]


def _sample_ids(rng: np.random.Generator, ids: list[str], k: int,
                always: list[str] = ()) -> list[str]:
    pick = rng.choice(len(ids), size=min(k, len(ids)), replace=False)
    out = list(dict.fromkeys(list(always) + [ids[i] for i in pick]))
    return out[:max(k, len(always))]


# --------------------------------------------------------------------------
# preview backfills


def run_preview(run: Run, kind: str) -> Result:
    from headson_spark.operators.preview import (
        clear_plan_cache, conversation_previews, conversation_previews_full)

    phases = {}
    t_phase = _now()
    path = os.path.join(run.work, kind)
    if kind == "preview_short":
        meta = gen.preview_short(run.seed, path, SHORT_TURNS)
    else:
        meta = gen.preview_long(run.seed, path, LONG_TURNS,
                                hot_turns=LONG_HOT_TURNS)
    pdf = pq.read_table(path).to_pandas()
    conv_ids = sorted(set(pdf["conv_id"]))

    setup_start = _now()
    setups, starts, spark = [], [], None
    for _ in range(SETUPS):
        if spark is not None:
            spark.stop()
        spark, t_start = start_spark(run)
        t0 = _now()
        # warm-up: one full pass over the first input file
        clear_plan_cache()
        (conversation_previews(spark.read.parquet(meta["files"][0]),
                               budget=BUDGET)
         .write.format("noop").mode("overwrite").save())
        setups.append(t_start + _now() - t0)
        starts.append(t_start)
    df = spark.read.parquet(path)
    phases["generate"] = setup_start - t_phase
    phases["setup"] = _now() - setup_start
    t_phase = _now()

    rest = harvest.SparkRest(spark.sparkContext) if run.trace else None
    walls, traced_walls, layer_samples = [], [], []
    deadline = _now() + run.seconds
    i = 0
    while _now() < deadline or len(walls) + len(traced_walls) < MIN_PASSES:
        traced = run.trace and i % 2 == 1
        if traced:
            last = rest.last_execution_id()
        clear_plan_cache()
        t0 = _now()
        (conversation_previews(df, budget=BUDGET)
         .write.format("noop").mode("overwrite").save())
        wall = _now() - t0
        if traced:
            traced_walls.append(wall)
            layer_samples.append(harvest.preview_layers(
                rest, rest.executions_after(last)))
        else:
            walls.append(wall)
        i += 1

    res = Result(setup_s=setups,
                 turns_per_s=[meta["turns"] / w for w in walls],
                 latency_s=walls)
    res.notes.update(convs=meta["convs"], walls=[round(w, 3) for w in walls])
    phases["measure"] = _now() - t_phase
    t_phase = _now()

    # correctness: count, kernel oracle sample, and (long) pushdown==full
    clear_plan_cache()
    got = {r["conv_id"]: r["preview"]
           for r in conversation_previews(df, budget=BUDGET).collect()}
    rng = np.random.default_rng([run.seed, 99])
    always = [meta["hot_conv"]] if "hot_conv" in meta else []
    sample = _sample_ids(rng, conv_ids, ORACLE_SAMPLE, always)
    turns = _lww_turns(pdf[pdf["conv_id"].isin(sample)])
    _check_previews(got, set(conv_ids), turns, res)
    if kind == "preview_long":
        sub = _sample_ids(rng, conv_ids, PUSHDOWN_SAMPLE, always)
        full = {r["conv_id"]: r["preview"] for r in conversation_previews_full(
            df.filter(df["conv_id"].isin(sub)), budget=BUDGET).collect()}
        bad = [c for c in sub if full.get(c) != got.get(c)]
        res.attempted += len(sub)
        res.failed += len(bad)
        if bad:
            res.notes["pushdown_vs_full_mismatch"] = bad[:5]
    phases["check"] = _now() - t_phase
    res.notes["phase_s"] = phases

    if run.trace:
        layers = _median_layers(layer_samples)
        k = kernel_probe([turns[c] for c in sample[:KERNEL_SAMPLE]])
        kernel_s = k.pop("_kernel_mean_s") * meta["convs"]
        layers.update(k)
        layers["kernel.share_of_python"] = (
            kernel_s * 1e3 / layers["preview.python_run_ms"])
        layers["session.start_s"] = statistics.median(starts)
        layers["trace.overhead_frac"] = (
            statistics.median(traced_walls) / statistics.median(walls) - 1.0)
        res.layers = layers
    spark.stop()
    return res


# --------------------------------------------------------------------------
# live stream


class TimedSink:
    """foreachBatch wrapper around a KeyedParquetSink: records, per batch
    id, how long the sink call took and when it returned (the commit
    time the emit latency is measured against)."""

    def __init__(self, sink):
        self.sink = sink
        self.commit_s: dict[int, float] = {}
        self.call_s: dict[int, float] = {}

    def __call__(self, batch_df, batch_id: int):
        t0 = time.time()
        self.sink(batch_df, batch_id)
        t1 = time.time()
        self.call_s[batch_id] = t1 - t0
        self.commit_s[batch_id] = t1


def _wait_commit(q, tsink: TimedSink, batch_id: int, traced: bool = False,
                 timeout_s: float = 120.0) -> float:
    """Block until the sink committed `batch_id`. A traced wait also
    reads the query's progress on every poll, as a monitoring client
    would while the batch runs."""
    deadline = time.time() + timeout_s
    while batch_id not in tsink.commit_s:
        if traced:
            q.lastProgress  # noqa: B018  (the read is the trace work)
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        if time.time() > deadline:
            raise TimeoutError(f"batch {batch_id} not committed")
        time.sleep(0.005)
    return tsink.commit_s[batch_id]


def _start_generator(run: Run, src: str, live_files: int):
    here = os.path.dirname(os.path.abspath(__file__))
    p = subprocess.Popen(
        [sys.executable, os.path.join(here, "gen.py"),
         "--seed", str(run.seed), "--dir", src,
         "--backlog-turns", str(STREAM_BACKLOG_TURNS),
         "--rate", str(STREAM_RATE), "--interval", str(STREAM_INTERVAL_S),
         "--files", str(live_files)],
        stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
    return p


def run_stream_live(run: Run, rss: harvest.RssSampler) -> Result:
    live_files = max(-int(-run.seconds // STREAM_INTERVAL_S), 2)
    tl = gen.stream_timeline(run.seed, STREAM_BACKLOG_TURNS, STREAM_RATE,
                             STREAM_INTERVAL_S, live_files)
    src = os.path.join(run.work, "src")
    warm_src = os.path.join(run.work, "warm_src")
    backlog_turns = gen.write_backlog(tl, src, int(time.time() * 1e6),
                                      STREAM_BACKLOG_FILES)
    warm = {k: v[:STREAM_WARMUP_TURNS] for k, v in tl["backlog"].items()}
    gen.write_backlog({"backlog": warm}, warm_src,
                      int(time.time() * 1e6), 1)
    genp = _start_generator(run, src, live_files)
    rss.exclude.add(genp.pid)
    try:
        return _stream_phases(run, src, warm_src, backlog_turns,
                              live_files, genp)
    finally:
        if genp.poll() is None:
            genp.kill()
        genp.wait()


def _stream_phases(run: Run, src: str, warm_src: str, backlog_turns: int,
                   live_files: int, genp: subprocess.Popen) -> Result:
    from headson_spark.operators.preview import (
        clear_plan_cache, conversation_previews)
    from headson_spark.streaming.engine import KeyedParquetSink, run_stream

    def dirs(tag):
        d = os.path.join(run.work, tag)
        return KeyedParquetSink(os.path.join(d, "sink")), os.path.join(
            d, "ckpt")

    phases = {}
    t_phase = _now()
    setups, starts, spark = [], [], None
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        spark, t_start = start_spark(run)
        t0 = _now()
        # warm-up stream: start, first batch committed, stop
        sink, ckpt = dirs(f"warm{i}")
        tsink = TimedSink(sink)
        q = run_stream(spark, warm_src, tsink, ckpt, available_now=False)
        _wait_commit(q, tsink, 0)
        q.stop()
        setups.append(t_start + _now() - t0)
        starts.append(t_start)
    if genp.stdout.readline().strip() != "ready":
        raise RuntimeError("live generator did not start")

    phases["setup"] = _now() - t_phase
    t_phase = _now()
    rest = harvest.SparkRest(spark.sparkContext) if run.trace else None
    catchup, traced_catchup = [], []
    for rep in range(CATCHUP_REPS):
        final = rep == CATCHUP_REPS - 1
        traced = run.trace and rep == 1
        sink, ckpt = dirs(f"catchup{rep}")
        tsink = TimedSink(sink)
        t0 = time.time()
        q = run_stream(spark, src, tsink, ckpt, available_now=False)
        took = _wait_commit(q, tsink, 0, traced) - t0
        (traced_catchup if traced else catchup).append(took)
        if not final:
            q.stop()

    phases["catchup"] = _now() - t_phase
    t_phase = _now()
    # live phase: the generator writes one file per interval from origin
    origin = time.time()
    genp.stdin.write(f"{origin!r}\n")
    genp.stdin.flush()
    summary = json.loads(genp.stdout.readline())
    genp.wait(timeout=60)
    # the phase ends when the batch holding the last delivered row has
    # committed (the no-data batch that may follow is not waited for)
    delivered = backlog_turns + summary["turns"]
    deadline = time.time() + 120
    while True:
        progress = [json.loads(p.json) for p in q.recentProgress]
        if sum(p["numInputRows"] for p in progress) >= delivered:
            break
        if q.exception() is not None:
            raise RuntimeError(f"stream failed: {q.exception()}")
        if time.time() > deadline:
            raise TimeoutError("live files not consumed")
        time.sleep(0.02)
    last_data = max(p["batchId"] for p in progress if p["numInputRows"])
    live_end = _wait_commit(q, tsink, last_data)
    q.stop()
    progress = [p for p in progress if p["batchId"] <= last_data]
    phases["live"] = _now() - t_phase
    t_phase = _now()

    live_batches = sorted(b for b in tsink.commit_s if 0 < b <= last_data)
    tbl = pa.concat_tables([
        pq.read_table(os.path.join(sink.path, f"batch={b}"),
                      columns=["_batch_id", "last_ts", "final"])
        for b in live_batches
        if os.path.isdir(os.path.join(sink.path, f"batch={b}"))])
    lat = harvest.emit_latencies(
        tsink.commit_s, tbl["_batch_id"].to_pylist(),
        (tbl["last_ts"].to_numpy().astype("datetime64[us]")
         .astype(np.int64) / 1e6).tolist(),
        tbl["final"].to_pylist())

    res = Result(setup_s=setups,
                 turns_per_s=[backlog_turns / c for c in catchup],
                 latency_s=lat)
    res.notes.update(backlog_turns=backlog_turns, live_turns=summary[
        "turns"], live_files=summary["files"], live_batches=len(
        live_batches), rate_turns_per_s=STREAM_RATE,
        interval_s=STREAM_INTERVAL_S)

    # correctness: latest sink preview per conversation == batch previews
    # over every delivered turn (backlog + live files)
    latest = {r["conv_id"]: r["preview"] for r in
              sink.read_latest(spark).select("conv_id", "preview")
              .collect()}
    last = rest.last_execution_id() if run.trace else None
    clear_plan_cache()
    batch = {r["conv_id"]: r["preview"] for r in conversation_previews(
        spark.read.parquet(src), budget=BUDGET).collect()}
    bad = [c for c in batch if latest.get(c) != batch[c]]
    extra = set(latest) - set(batch)
    res.attempted += len(batch) + len(tsink.commit_s)
    res.failed += len(bad) + len(extra)
    if bad or extra:
        res.notes["stream_vs_batch_mismatch"] = sorted(bad)[:5]
        res.notes["stream_extra_convs"] = sorted(extra)[:5]
    n_files = len([f for f in os.listdir(src) if f.endswith(".parquet")])
    if (summary["files"] != live_files
            or n_files != STREAM_BACKLOG_FILES + live_files):
        res.failed += 1
        res.notes["files_missing"] = {"written": summary["files"],
                                      "in_source": n_files}
    phases["check"] = _now() - t_phase
    res.notes["phase_s"] = phases
    # (batch id, input rows, trigger ms, commit s after the live origin)
    res.notes["batches"] = [
        (p["batchId"], p["numInputRows"],
         p["durationMs"].get("triggerExecution"),
         round(tsink.commit_s.get(p["batchId"], origin) - origin, 2))
        for p in progress]

    if run.trace:
        phase_s = live_end - origin
        live_prog = [p for p in progress if p["batchId"] > 0]
        layers = harvest.progress_layers(live_prog, phase_s)
        layers.update(harvest.preview_layers(
            rest, rest.executions_after(last)))
        metrics = sink.metrics()
        layers["sink.call_ms_p50"] = statistics.median(
            [tsink.call_s[b] * 1e3 for b in live_batches])
        for k in ("rows", "bytes", "files"):
            layers[f"sink.{k}"] = float(sum(
                metrics.get(b, {}).get(k, 0) for b in live_batches))
        layers["gen.late_s_max"] = summary["late_s_max"]
        layers["gen.turns"] = float(summary["turns"])
        layers["gen.files"] = float(summary["files"])
        rng = np.random.default_rng([run.seed, 99])
        delivered = pq.read_table(src).to_pandas()
        ids = sorted(set(delivered["conv_id"]))
        sample = _sample_ids(rng, ids, KERNEL_SAMPLE)
        turns = _lww_turns(delivered[delivered["conv_id"].isin(sample)])
        k = kernel_probe([turns[c] for c in sample])
        # every emitted sink row is one render in the stateful operator
        kernel_s = k.pop("_kernel_mean_s") * layers["sink.rows"]
        layers.update(k)
        layers["kernel.share_of_python"] = (
            kernel_s * 1e3 / layers["state.update_ms"]
            if layers["state.update_ms"] else 0.0)
        layers["session.start_s"] = statistics.median(starts)
        layers["trace.overhead_frac"] = (
            statistics.median(traced_catchup) / statistics.median(catchup)
            - 1.0)
        res.layers = layers
    spark.stop()
    return res

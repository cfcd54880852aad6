"""Tests of the benchmark's own parts: generator, harvester, latency.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import harvest  # noqa: E402


def test_emit_latency_synthetic():
    commit = {1: 100.0, 2: 103.5}
    lat = harvest.emit_latencies(
        commit,
        batch_ids=[1, 2, 2, 3],
        last_ts_s=[98.0, 101.0, 90.0, 99.0],
        finals=[False, False, True, False])
    # the final row and the row of an uncommitted batch are skipped
    assert lat == [2.0, 2.5]


def test_metric_value_parsing():
    per_task = ("total (min, med, max (stageId: taskId))\n"
                "4.1 s (188 ms, 242 ms, 439 ms (stage 61.0: task 218))")
    assert harvest.metric_total(per_task) == pytest.approx(4100.0)
    assert harvest.metric_max_stage(per_task) == (61, 0)
    assert harvest.metric_total("64.8 MiB") == pytest.approx(64.8 * 2**20)
    assert harvest.metric_total("1,014,352") == 1_014_352
    assert harvest.metric_total("0 ms") == 0.0


def test_generator_is_seeded(tmp_path):
    import pyarrow.parquet as pq
    a = gen.preview_short(5, str(tmp_path / "a"), 3_000, n_files=2)
    b = gen.preview_short(5, str(tmp_path / "b"), 3_000, n_files=2)
    c = gen.preview_short(6, str(tmp_path / "c"), 3_000, n_files=2)
    ta = pq.read_table(a["path"]).to_pandas()
    tb = pq.read_table(b["path"]).to_pandas()
    tc = pq.read_table(c["path"]).to_pandas()
    assert ta.equals(tb)
    assert not ta["text"].equals(tc["text"])
    # re-deliveries carry a strictly later ts than the first delivery
    g = ta.groupby(["conv_id", "turn_idx"])["ts"]
    dup = g.transform("size") > 1
    assert dup.any()
    assert (g.transform("nunique")[dup] == g.transform("size")[dup]).all()


def test_stream_timeline_dense_prefix():
    tl = gen.stream_timeline(3, 2_000, 500.0, 1.0, 3)
    import numpy as np
    ids = np.concatenate([tl["backlog"]["conv_id"]]
                         + [f["conv_id"] for f in tl["live"]])
    idx = np.concatenate([tl["backlog"]["turn_idx"]]
                         + [f["turn_idx"] for f in tl["live"]])
    per = {}
    for c, i in zip(ids.tolist(), idx.tolist()):
        per.setdefault(c, set()).add(i)
    assert all(s == set(range(len(s))) for s in per.values())
    assert all(len(f["ts"]) for f in tl["live"])


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from headson_spark.session import get_spark
    s = get_spark("perfbench_tests", master="local[2]",
                  shuffle_partitions=2,
                  extra={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_harvester_finds_python_node(spark, tmp_path):
    from headson_spark.operators.preview import (clear_plan_cache,
                                                 conversation_previews)
    meta = gen.preview_short(1, str(tmp_path / "t"), 400, n_files=1)
    rest = harvest.SparkRest(spark.sparkContext)
    last = rest.last_execution_id()
    clear_plan_cache()
    (conversation_previews(spark.read.parquet(meta["path"]))
     .write.format("noop").mode("overwrite").save())
    layers = harvest.preview_layers(rest, rest.executions_after(last))
    assert layers["preview.python_run_ms"] > 0
    assert layers["preview.python_bytes_sent"] > 0
    assert layers["preview.plan_pushdown"] == 0.0
    assert layers["preview.choose_plan_s"] > 0

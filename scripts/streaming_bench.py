"""Streaming throughput: sustained turns/sec through the stateful
preview pipeline (the BASELINE.json primary metric, stream form).

Replays N file chunks of synthesized transcripts through
readStream -> watermark -> applyInPandasWithState -> idempotent sink with
a bounded files-per-trigger, measuring end-to-end wall time and the
per-batch processedRowsPerSecond from the StreamingQueryListener.

Usage: python scripts/streaming_bench.py [turns] [chunks] [n_buckets]\n[emit_policy] -> JSON line
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main():
    turns = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    chunks = int(sys.argv[2]) if len(sys.argv) > 2 else 8
    # engine: bucket count for state coalescing; 0 = per-conversation
    n_buckets = int(sys.argv[3]) if len(sys.argv) > 3 else 512
    n_buckets = n_buckets or None
    # emission policy: on_change (default) / on_close
    emit_policy = sys.argv[4] if len(sys.argv) > 4 else "on_change"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    import pyarrow as pa
    import pyarrow.parquet as pq
    from headson_spark.session import get_spark
    from headson_spark.sources.transcripts import generate_rows, to_arrow
    from headson_spark.streaming.engine import KeyedParquetSink, run_stream
    from headson_spark.streaming.metrics import MetricsRecorder

    # state-store commits scale with partition count: cpus (not cpus*2)
    # measured ~2x faster for the stateful pipeline
    spark = get_spark("streaming_bench", master=f"local[{cpus}]",
                      shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    tmp = tempfile.mkdtemp(prefix="stream_bench_")
    src = os.path.join(tmp, "src")
    os.makedirs(src)
    tbl = to_arrow(generate_rows(0.1, tags=["bulk", "plain", "late"],
                                 bulk_turns=turns))
    n = tbl.num_rows
    step = (n + chunks - 1) // chunks
    for i in range(chunks):
        c = tbl.slice(i * step, step)
        if c.num_rows:
            pq.write_table(c, os.path.join(src, f"chunk_{i:03d}.parquet"))

    sink = KeyedParquetSink(os.path.join(tmp, "sink"))
    rec = MetricsRecorder(os.path.join(tmp, "metrics.jsonl"))
    rec.attach(spark)

    t0 = time.time()
    q = run_stream(spark, src, sink, os.path.join(tmp, "ckpt"),
                   budget=500, available_now=True,
                   session_gap_ms=7 * 24 * 3600 * 1000,
                   watermark="2 days", max_files_per_trigger=1,
                   n_buckets=n_buckets, emit_policy=emit_policy)
    q.awaitTermination(3600)
    wall = time.time() - t0

    progress = [m for m in rec.read() if m.get("event") == "progress"]
    batch_rates = [m["processed_rows_per_sec"] for m in progress
                   if m.get("processed_rows_per_sec")]
    latest = sink.read_latest(spark)
    # on_close with open sessions emits nothing until closure
    out_rows = latest.count() if latest is not None else 0
    print(json.dumps({
        "metric": "streaming_turns_per_sec",
        "value": round(n / wall, 1),
        "unit": "turns/sec",
        "n_buckets": n_buckets,
        "emit_policy": emit_policy,
        "turns": n,
        "wall_sec": round(wall, 2),
        "micro_batches": len(progress),
        "median_batch_rows_per_sec": round(
            sorted(batch_rates)[len(batch_rates) // 2], 1)
        if batch_rates else None,
        "conversations": out_rows,
        "cpus": cpus,
    }))
    spark.stop()
    shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()

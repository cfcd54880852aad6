"""spark-submit entry point for the streaming preview job.

Build the zip with `python scripts/package.py` first; it is not checked
in, and a stale one would ship old code. Then:

    spark-submit --py-files dist/headson_spark.zip \
        scripts/submit_preview_job.py \
        --input <transcript parquet dir or Iceberg table> \
        --output <sink dir> --checkpoint <ckpt dir> \
        [--budget 500] [--style default] [--batch] [--continuous]

With --batch, runs the batch preview pipeline instead of the stream.
On a cluster with an Iceberg catalog, pass --iceberg-table instead of
--input to readStream from the table (same downstream plan).
"""

from __future__ import annotations

import argparse


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=False)
    ap.add_argument("--iceberg-table", required=False)
    ap.add_argument("--output", required=True)
    ap.add_argument("--checkpoint", default=None)
    ap.add_argument("--budget", type=int, default=500)
    ap.add_argument("--style", default="default")
    ap.add_argument("--skew", default="balanced")
    ap.add_argument("--watermark", default="10 minutes")
    ap.add_argument("--session-gap-ms", type=int, default=600_000)
    ap.add_argument("--batch", action="store_true")
    ap.add_argument("--continuous", action="store_true",
                    help="keep running (default: availableNow)")
    ap.add_argument("--metrics", default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession
    spark = SparkSession.builder.appName("headson_spark_preview").getOrCreate()

    if args.batch:
        from headson_spark.operators.preview import conversation_previews
        df = spark.read.parquet(args.input)
        (conversation_previews(df, budget=args.budget, style=args.style,
                               skew=args.skew)
         .write.mode("overwrite").parquet(args.output))
        return

    from headson_spark.streaming.engine import KeyedParquetSink, run_stream
    from headson_spark.streaming.metrics import MetricsRecorder
    if args.metrics:
        MetricsRecorder(args.metrics).attach(spark)
    sink = KeyedParquetSink(args.output)
    if args.iceberg_table:
        src = spark.readStream.format("iceberg").load(args.iceberg_table)
        from headson_spark.streaming.engine import streaming_previews
        out = streaming_previews(src, budget=args.budget, style=args.style,
                                 skew=args.skew, watermark=args.watermark,
                                 session_gap_ms=args.session_gap_ms)
        writer = (out.writeStream.foreachBatch(sink).outputMode("update")
                  .option("checkpointLocation", args.checkpoint))
        q = (writer.start() if args.continuous
             else writer.trigger(availableNow=True).start())
    else:
        q = run_stream(spark, args.input, sink, args.checkpoint,
                       budget=args.budget, style=args.style, skew=args.skew,
                       watermark=args.watermark,
                       session_gap_ms=args.session_gap_ms,
                       available_now=not args.continuous)
    q.awaitTermination()


if __name__ == "__main__":
    main()

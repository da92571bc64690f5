"""spark-submit entry point (absolute imports: spark-submit runs this file
as a top-level script, with the package supplied via --py-files).

  spark-submit --master 'local[4]' --py-files dist/ocr_spark.zip \
      ocr_spark/cli.py extract --input /data/corpus --output /data/out --buckets 64

Spark settings (master, shuffle partitions, catalogs) come only from Spark's
own launch settings: spark-submit's ``--master`` and ``--conf``, or
``PYSPARK_SUBMIT_ARGS`` under ``python3 -m ocr_spark.cli``, e.g.

  PYSPARK_SUBMIT_ARGS="--master local[4] pyspark-shell" \
      python3 -m ocr_spark.cli extract --input /data/corpus --output /data/out

``extract --catalog NAME`` commits to the Iceberg catalog ``NAME`` that the
launch configured (``--conf spark.sql.catalog.NAME=...``) in place of
``--output DIR``.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv=None):
    ap = argparse.ArgumentParser(prog="ocr_spark")
    sub = ap.add_subparsers(dest="cmd", required=True)

    # the flags of both Spark subcommands
    spark_job = argparse.ArgumentParser(add_help=False)
    spark_job.add_argument(
        "--fonts", default="arial", type=lambda s: tuple(f for f in s.split(",") if f),
        help="comma list of bundled font sheets to learn (arial,courier); "
             "multiple fonts accumulate into one template set",
    )

    ex = sub.add_parser("extract", parents=[spark_job], help="run the extraction pipeline")
    ex.add_argument("--input", required=True)
    ex.add_argument("--run-id", default="run-0")
    ex.add_argument("--buckets", type=int, default=8)
    where = ex.add_mutually_exclusive_group(required=True)
    where.add_argument("--output", help="output dir (parquet spans + manifest)")
    where.add_argument(
        "--catalog",
        help="Iceberg catalog the session already has (spark-submit --conf "
             "spark.sql.catalog.NAME=...); extract fails before any Spark "
             "job, with exact swap instructions, when the session cannot "
             "load its class",
    )

    st = sub.add_parser("stream", parents=[spark_job],
                        help="streaming extraction over arriving parquet files")
    st.add_argument("--stream-dir", required=True, help="directory watched for documents parquet")
    st.add_argument("--media-dir", required=True)
    st.add_argument("--output", required=True)
    st.add_argument("--checkpoint", required=True)
    st.add_argument("--continuous", action="store_true",
                    help="keep running (default: drain available files and stop)")

    dr = sub.add_parser(
        "debug-render",
        help="F8 per-glyph debug curvature sheet for a page region "
             "(driver-side kernel tool, no Spark session)",
    )
    dr.add_argument("--page", required=True, help="8-bit grayscale PNG (page raster)")
    dr.add_argument("--box", required=True, nargs=4, type=int,
                    metavar=("X", "Y", "W", "H"), help="glyph box on the page")
    dr.add_argument("--out", required=True, help="output PNG path")

    args = ap.parse_args(argv)

    if args.cmd == "debug-render":
        from ocr_spark.kernel.debug_render import render_region_debug
        from ocr_spark.png import decode_gray, encode_rgb

        with open(args.page, "rb") as f:
            gray = decode_gray(f.read())
        x, y, w, h = args.box
        img, _mask = render_region_debug(gray, x, y, w, h)
        with open(args.out, "wb") as f:
            f.write(encode_rgb(img))
        print(json.dumps({"out": args.out, "width": img.shape[1], "height": img.shape[0]}))
        return

    from pyspark.sql import SparkSession

    from ocr_spark.pipeline.job import configure, extract, stream_extract

    spark = configure(SparkSession.builder.appName(f"ocr_spark.{args.cmd}")).getOrCreate()
    try:
        if args.cmd == "extract":
            metrics = extract(
                spark,
                args.input,
                args.output,
                run_id=args.run_id,
                buckets=args.buckets,
                fonts=args.fonts,
                catalog=args.catalog,
            )
            print(json.dumps(metrics))
        else:  # stream
            q = stream_extract(
                spark,
                args.stream_dir,
                args.media_dir,
                args.output,
                args.checkpoint,
                available_now=not args.continuous,
                fonts=args.fonts,
            )
            q.awaitTermination()
            print(json.dumps({"stream": "drained" if not args.continuous else "stopped"}))
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())

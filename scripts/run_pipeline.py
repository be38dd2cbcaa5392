"""spark-submit entry point for the dedup pipeline (north_rule packaging).

Cluster usage:

    zip -r cloud_dedup_spark.zip cloud_dedup_spark/
    spark-submit --py-files cloud_dedup_spark.zip \\
        --conf spark.sql.shuffle.partitions=<2-3x total cores> \\
        --packages org.apache.iceberg:iceberg-spark-runtime-4.0_2.13:<ver> \\
        scripts/run_pipeline.py \\
        --input <parquet dir or iceberg table> --format parquet \\
        --checkpoint-dir <stage-table location> --report out/report.json

Local smoke:

    PYTHONPATH=. python scripts/run_pipeline.py --synthetic 2000 \\
        --checkpoint-dir /tmp/ckpt --report /tmp/report.json
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--input", help="files table location (parquet dir / iceberg table)")
    p.add_argument("--format", default="parquet", choices=["parquet", "iceberg", "orc"])
    p.add_argument("--synthetic", type=int, default=0,
                   help="run on N synthetic corpus files instead of --input")
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--report", default=None, help="write JSON summary here")
    p.add_argument("--master", default=None)
    args = p.parse_args(argv)

    from cloud_dedup_spark import run_pipeline
    from cloud_dedup_spark.report import build_report, write_report
    from cloud_dedup_spark.session import build_session
    from cloud_dedup_spark.sources.files_source import read_files

    spark = build_session(app_name="cloud-dedup-pipeline", master=args.master)
    try:
        warnings: list[str] = []
        if args.synthetic:
            from cloud_dedup_spark.corpus import corpus_df
            files, _ = corpus_df(spark, args.synthetic, seed=42)
        elif args.input:
            from cloud_dedup_spark.sources.files_source import scan_warnings
            files = read_files(spark, args.input, table_format=args.format)
            warnings = scan_warnings(files)
        else:
            p.error("one of --input / --synthetic is required")

        result = run_pipeline(spark, files, checkpoint_dir=args.checkpoint_dir)
        if args.report:
            report = write_report(result, args.report, scan_warnings=warnings)
        else:
            report = build_report(result, scan_warnings=warnings)
        print(json.dumps(
            {k: report[k] for k in
             ("total_files", "n_clusters", "edge_kinds", "per_repo_files")},
            sort_keys=True))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())

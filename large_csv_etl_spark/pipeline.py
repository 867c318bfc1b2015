"""End-to-end ETL pipeline + CLI (SURVEY.md §2a E7, §3 entry point 1).

The reference's flagship path (/root/reference/src/etl_manager.py:50-97,
100-141) is: mkdir temp -> create table -> parallel chunk transform ->
combine chunks -> chunked SQLite load -> cleanup, orchestrated by asyncio
over thread pools, materializing the data to disk twice between stages.

Here the same user-visible contract — dirty CSV in, clean queryable table
out, stats + integrity report — is ONE lazy DataFrame expression with a
single sink: scan (permissive, corrupt-record capture) -> transform
(F1-F5/P1-P5) -> optional upsert-by-key (S6) -> parquet write. Catalyst
pipelines the stages; there are no intermediate files, no second read, no
single-threaded writer.

CLI flag mapping vs the reference (src/etl_manager.py:100-116):
  input_file        -> input_file
  --db-path         -> --output-path (parquet dir; the "table")
  --chunk-size      -> --partitions (partition count = unit of parallelism)
  --max-workers     -> (driver conf; local[] threads / executor cores)
  --temp-dir        -> (none: no intermediate materialization exists)
  --log-level       -> --log-level
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import SparkSession

from .io import (
    CORRUPT_COL,
    read_transactions_csv,
    upsert_by_key,
    validate_data_integrity,
    write_table,
)
from .logging_util import get_logger, setup_logging
from .transform import observed_pipeline, validate_final_data

logger = get_logger(__name__)


def run_pipeline(
    spark: SparkSession,
    input_file: str,
    output_path: str,
    partitions: int | None = None,
    dedupe_key: str | None = "transaction_id",
) -> dict:
    """CSV -> transform -> parquet table, returning the reference's
    stats/validation report shapes (src/etl_manager.py:50-97 +
    src/core/db_manager.py:250-353).

    ``dedupe_key`` applies the S6 upsert-by-primary-key semantics before
    the write (INSERT OR REPLACE analog); None keeps duplicates.
    """
    raw = read_transactions_csv(spark, input_file)
    good = raw.filter(raw[CORRUPT_COL].isNull()).drop(CORRUPT_COL)

    # A7 accounting rides the write action via Observation metrics (zero
    # dedicated count() scans — at 100 TB that is two saved re-reads of
    # the fact table); note original_rows counts the parsed-valid rows,
    # matching the reference's "rows entering transform" meaning.
    out, fetch_stats = observed_pipeline(good)
    if dedupe_key:
        out = upsert_by_key(out, dedupe_key)
    if partitions:
        out = out.repartition(partitions)

    write_table(out, output_path)
    stats = fetch_stats()

    # Post-write checks read the written table (what a user would query),
    # not the in-memory plan — the same observability point as the
    # reference's SQLite-side validators.
    loaded = spark.read.parquet(output_path)
    if dedupe_key:
        # upsert may drop duplicate keys after the observed transform;
        # report the written row count (the reference's processed_rows)
        processed = loaded.count()
        stats["processed_rows"] = processed
        stats["rows_removed"] = stats["original_rows"] - processed
    final = validate_final_data(loaded)
    integrity = validate_data_integrity(loaded)
    report = {
        "stats": stats,
        "final_validation": final,
        "integrity": integrity,
        "success": final["is_valid"] and integrity["is_valid"],
    }
    logger.info("pipeline finished: %s", report["stats"])
    return report


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(
        description="Chunked-CSV ETL pipeline (PySpark engine)"
    )
    parser.add_argument("input_file", help="input transactions CSV")
    parser.add_argument(
        "--output-path", required=True, help="output parquet table directory"
    )
    parser.add_argument(
        "--partitions", type=int, default=None, help="output partition count"
    )
    parser.add_argument(
        "--no-dedupe",
        action="store_true",
        help="keep duplicate transaction_ids (skip S6 upsert semantics)",
    )
    parser.add_argument("--log-level", default="INFO")
    args = parser.parse_args(argv)

    setup_logging(args.log_level)

    import os

    # validate input before paying JVM startup (reference parity:
    # src/etl_manager.py:122-124)
    if not os.path.exists(args.input_file):
        print(f"error: input file not found: {args.input_file}", file=sys.stderr)
        return 1

    from .session import get_spark

    spark = get_spark(app_name="large_csv_etl_pipeline")
    report = run_pipeline(
        spark,
        args.input_file,
        args.output_path,
        partitions=args.partitions,
        dedupe_key=None if args.no_dedupe else "transaction_id",
    )
    print(report)
    return 0 if report["success"] else 1


def export_training_dataset(
    spark, sf_dir: str, out_path: str, min_tokens: int = 3
) -> None:
    """Materialize the training-export manifest as a (split, shard)
    partitioned parquet dataset — the write side of
    ``export_training_manifest``. One repartition on the partition
    columns puts each (split, shard) cell in one task (48 cells: 3
    splits x 16 shards), so the layout lands as one file per cell
    instead of tasks x cells small files; md5 uniformity keeps cells
    balanced, and a trainer reads its split/shard by partition pruning
    alone."""
    from pyspark.sql import functions as F

    from .queries.sampling import QUERIES as SAMPLING_QUERIES

    manifest = SAMPLING_QUERIES["export_training_manifest"](spark, sf_dir)
    (
        manifest.repartition(F.col("split"), F.col("shard"))
        .write.mode("overwrite")
        .partitionBy("split", "shard")
        .parquet(out_path)
    )


if __name__ == "__main__":
    sys.exit(main())

"""CLI entry: convert an NDJSON(.gz) file/dir to sorted, tuned Parquet.

Usage:
    python -m json_to_parquet_spark SRC DEST [--sort-column time]
        [--mode cluster|global|none] [--dt-mode strict|coerce]

This is the engine's equivalent of the reference's ``python
pyarrow/main.py`` local entry (reference pyarrow/main.py:300-314), minus
the synthetic-S3-event wrapper: SRC/DEST are paths (local, s3a://, hdfs://).
"""

from __future__ import annotations

import argparse
import json
import sys

from .operators.convert import DEFAULT_SORT_COLUMN, convert
from .session import build_session


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="json_to_parquet_spark", description=__doc__)
    p.add_argument("src", help="NDJSON(.gz) file or directory (local/s3a/hdfs path)")
    p.add_argument("dest", help="output Parquet directory")
    p.add_argument("--sort-column", default=DEFAULT_SORT_COLUMN)
    p.add_argument("--mode", choices=["cluster", "global", "none"], default="cluster")
    p.add_argument("--dt-mode", choices=["strict", "coerce"], default="strict")
    p.add_argument(
        "--sorting-metadata",
        action="store_true",
        help="record a Parquet SortingColumn footer (PyArrow post-pass)",
    )
    p.add_argument(
        "--format",
        choices=["ndjson", "csv", "xml"],
        default="ndjson",
        help="source format: ndjson (reference parity, default), csv "
        "(header row; splittable, so it scans parallel natively), or xml "
        "(Spark 4 built-in XML source, one row per --xml-row-tag element)",
    )
    p.add_argument(
        "--xml-row-tag",
        default="row",
        help="XML element name that delimits one record (--format xml)",
    )
    p.add_argument(
        "--partition-by",
        default=None,
        help="comma-separated columns for a hive-layout partitioned sink "
        "(requires --mode cluster|none)",
    )
    p.add_argument(
        "--infer-sampling-ratio",
        type=float,
        default=None,
        help="parse only ~this fraction of lines during schema inference "
        "(opt-in; changes union-inference semantics — safe only on "
        "structurally homogeneous feeds)",
    )
    p.add_argument(
        "--schema-file",
        default=None,
        help="schema-registry path: if the file exists, pin the scan to it "
        "(skips inference); otherwise infer from SRC and write it there "
        "for the feed's subsequent objects",
    )
    args = p.parse_args(argv)

    spark = build_session(app_name="json_to_parquet_spark.convert")
    try:
        import os as _os

        pinned = None
        if args.schema_file and _os.path.exists(args.schema_file):
            from .sources.schema_registry import load_schema

            pinned = load_schema(args.schema_file)
        source: object = args.src
        if args.format == "csv":
            # CSV is splittable (uncompressed), so the native scan is
            # already parallel — hand convert the DataFrame directly. The
            # _dt rewrite applies to string *_dt columns the same way.
            reader = spark.read.option("header", "true")
            reader = (
                reader.schema(pinned)
                if pinned is not None
                else reader.option("inferSchema", "true")
            )
            source = reader.csv(args.src)
        elif args.format == "xml":
            from .sources.xml import read_xml

            source = read_xml(spark, args.src, row_tag=args.xml_row_tag, schema=pinned)
        res = convert(
            spark,
            source,
            args.dest,
            sort_column=args.sort_column,
            mode=args.mode,
            dt_mode=args.dt_mode,
            schema=pinned,
            sorting_metadata=args.sorting_metadata,
            partition_by=args.partition_by.split(",") if args.partition_by else None,
            sampling_ratio=args.infer_sampling_ratio,
        )
        if args.schema_file and pinned is None and res.input_schema is not None:
            from .sources.schema_registry import save_schema

            save_schema(res.input_schema, args.schema_file)
    except Exception as exc:  # surface a one-line error, not a JVM stack wall
        print(f"error: {exc}", file=sys.stderr)
        return 1
    # Lineage log — the reference logs rows/sort/schemas per run
    # (pyarrow/main.py:152-165); we print the same facts as one JSON line,
    # plus how the output was partitioned and the seconds per phase.
    print(
        json.dumps(
            {
                "output": res.output_path,
                "rows": res.rows,
                "sorted_by": res.sorted_by,
                "rewritten_dt_paths": res.rewritten_dt_paths,
                "schema_after": res.schema_after,
                "partitioning": res.partitioning,
                "phases": {k: round(v, 3) for k, v in res.phases.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())

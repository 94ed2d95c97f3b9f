"""Job driver CLI — the open-Spark equivalent of the reference's Glue
entry point (``script/main.py:196-416``): resolve the incremental
window, read the eight input tables and run the nightly job
(``pipelines.consume_batch.run_job``), which computes all four
country/distribution slices as one slice-keyed chain and writes the
reference's three sinks (gzip JSON nested and gzip CSV flat, one
directory per slice; month-partitioned parquet) under ``--output-dir``.

    python tools/run_consume_batch.py \
        --input-dir /data/inputs --output-dir /data/out \
        --partition-date 2024-07-15 --days-ago 10

``--input-dir`` must hold parquet tables named ``changelog, texts,
visibility, fraud, contacts, visits, bundeslaender, stadtlandkreise``
(schemas: see pipelines.consume_batch docstrings / tests). ``--days-ago
full_refresh`` rewinds to the data epoch like the reference's flag.
The job's staging tables (stage 0 in ``_stage0_staging``, the bucketed
texts in ``_texts_bucketed``) stay in ``--output-dir`` and are replaced
by the next run into it.
"""

from __future__ import annotations

import argparse
import json
import sys
from datetime import date
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

# unused, kept: perfbench's tracer wraps these by name; a missing one fails every traced call
from st_bigdata_consume_batch_ma_with_cr_ecd_spark.pipelines.consume_batch import (  # noqa: F401
    JobDates,
    filter_changelog,
    merge_delete,
    run_job,
)
from st_bigdata_consume_batch_ma_with_cr_ecd_spark.session import get_spark
from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sinks.writers import (  # noqa: F401
    overwrite_partitions,
)

INPUT_TABLES = (
    "changelog",
    "texts",
    "visibility",
    "fraud",
    "contacts",
    "visits",
    "bundeslaender",
    "stadtlandkreise",
)


def main(argv: list[str] | None = None) -> int:
    from concurrent.futures import ThreadPoolExecutor

    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input-dir", required=True)
    ap.add_argument("--output-dir", required=True)
    ap.add_argument("--partition-date", default=date.today().isoformat())
    ap.add_argument("--days-ago", default="10", help="integer lookback or 'full_refresh'")
    ap.add_argument("--cpus", type=int, default=None)
    args = ap.parse_args(argv)

    spark = get_spark("consume-batch-job", cpus=args.cpus)
    # each read runs a one-task schema job; the pool overlaps them
    with ThreadPoolExecutor(max_workers=len(INPUT_TABLES)) as pool:
        frames = pool.map(
            lambda name: spark.read.parquet(f"{args.input_dir}/{name}"), INPUT_TABLES
        )
        t = dict(zip(INPUT_TABLES, frames))
    days: int | str = args.days_ago if args.days_ago == "full_refresh" else int(args.days_ago)
    dates = JobDates.resolve(date.fromisoformat(args.partition_date), days)

    rows_per_slice = run_job(t, dates, args.output_dir)
    print(
        json.dumps(
            {
                "partition_date": args.partition_date,
                "window": [dates.first_day_past, dates.partition_month],
                "rows_per_slice": rows_per_slice,
                "total_rows": sum(rows_per_slice.values()),
                "output_dir": args.output_dir,
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())

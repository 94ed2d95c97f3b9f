"""The benchmark's workloads: how each one sets up its inputs, calls the
program once, checks the output, and which functions its trace wraps.

The program receives only the generated files. Each workload reuses
the program's own oracle SQL (run in DuckDB over the same files) as the
expected result; a call whose output differs counts as failed. The
DuckDB work runs in a separate checker process (the module-level
functions below), so its memory stays out of the measured process.
"""

from __future__ import annotations

import contextlib
import csv
import gzip
import io
import json
from concurrent.futures import Executor
from datetime import date
from pathlib import Path

import duckdb

import inputs
from spans import Tracer

#: the nightly job's window: partition date and lookback in days
PARTITION_DATE = "2024-01-30"
DAYS_AGO = 10


def _bytes_under(path: Path) -> int:
    return sum(p.stat().st_size for p in path.rglob("*") if p.is_file())


def _digest(con: duckdb.DuckDBPyConnection, sql: str) -> tuple[int, str]:
    """Row count and the correctness harness's order-insensitive digest."""
    from check_correctness import table_digest

    cur = con.execute(sql)
    rows = cur.fetchall()
    return len(rows), table_digest(rows, [d[0] for d in cur.description])


def _consume_views(con: duckdb.DuckDBPyConnection, in_dir: Path) -> None:
    from run_consume_batch import INPUT_TABLES

    for name in INPUT_TABLES:
        src = f"read_parquet('{in_dir / name}/*.parquet')"
        if name == "fraud":
            # the replay takes fraud as its per-key argmax, the shape
            # pipelines.consume_batch.prepare_enrich_dims builds
            src = f"""(
                SELECT globalObjectKey, fraudLevelId FROM (
                    SELECT globalObjectKey, controlData.FraudLevelId AS fraudLevelId,
                           row_number() OVER (
                               PARTITION BY globalObjectKey
                               ORDER BY changeDate DESC, controlData.FraudLevelId DESC) AS rn
                    FROM {src} WHERE operation <> 'Delete'
                ) WHERE rn = 1)"""
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM {src}")


def consume_replay_sql() -> str:
    """The e2e oracle's stage SQL (everything after its input derivation)
    over tables named like the CLI's inputs."""
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads import consume_e2e as e2e

    if e2e._DATES != e2e.JobDates.resolve(date.fromisoformat(PARTITION_DATE), DAYS_AGO):
        raise RuntimeError("the e2e oracle's pinned window no longer matches this workload")
    parts = [e2e._pipeline_sql()]
    selects = []
    for i, spec in enumerate(e2e.DEFAULT_SLICES):
        parts.append(e2e._slice_sql(i, spec.geoid, spec.distribution_type, spec.price_amount_column))
        selects.append(f"SELECT {', '.join(e2e.OUTPUT_COLS)} FROM mod_{i}")
    return "WITH " + ",".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


def consume_expected(in_dir: Path) -> tuple[int, str]:
    with duckdb.connect() as con:
        _consume_views(con, in_dir)
        return _digest(con, consume_replay_sql())


def _sink_counts(out_dir: Path, kind: str) -> dict[str, int]:
    """Rows per slice in the gzip CSV (minus its header) or JSON sink."""
    counts = {}
    for d in sorted((out_dir / kind).iterdir()):
        n = 0
        for f in d.glob("*.gz"):
            with gzip.open(f, "rt", encoding="utf-8", newline="") as fh:
                if kind == "csv":
                    n += sum(1 for _ in csv.reader(fh)) - 1
                else:
                    n += sum(1 for line in fh if line.strip())
        if n:
            counts[d.name] = n
    return counts


def consume_problems(
    out_dir: Path, expected: tuple[int, str], rows_per_slice: dict[str, int]
) -> list[str]:
    """What is wrong with the CLI's three sinks; empty when correct."""
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads.consume_e2e import OUTPUT_COLS

    sink = (
        f"read_parquet('{out_dir}/parquet/*/*.parquet', hive_partitioning = true, "
        "hive_types = {'partitionMonth': VARCHAR})"
    )
    with duckdb.connect() as con:
        got = _digest(con, f"SELECT {', '.join(OUTPUT_COLS)} FROM {sink}")
        per_slice = dict(
            con.execute(
                f"SELECT partitionGeoid || '_' || classified_distributionType, count(*) "
                f"FROM {sink} GROUP BY 1"
            ).fetchall()
        )
    problems = []
    if got != expected:
        problems.append(f"parquet sink {got} != replay {expected}")
    for kind in ("csv", "json"):
        counts = _sink_counts(out_dir, kind)
        if counts != per_slice:
            problems.append(f"{kind} slice counts {counts} != parquet {per_slice}")
    if {k: v for k, v in rows_per_slice.items() if v} != per_slice:
        problems.append(f"reported rows {rows_per_slice} != parquet {per_slice}")
    return problems


DEDUP_QUERY = "corpus_near_dedup_pipeline"


def dedup_expected(in_dir: Path) -> tuple[tuple[int, str], int]:
    """The registry oracle's digest and its verified-pair count. The
    verified-pair CTE is computed once into a table: DuckDB would
    otherwise re-derive the MinHash signatures in every step of the
    recursive components CTE."""
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads import REGISTRY
    from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads.llm import (
        _minhash_verified_oracle,
    )

    verified = f"verified AS ({_minhash_verified_oracle(0.5)})"
    oracle = REGISTRY[DEDUP_QUERY].oracle
    if verified not in oracle:
        raise RuntimeError(f"{DEDUP_QUERY}'s oracle no longer starts from the verified pairs")
    with duckdb.connect() as con:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{in_dir / 'documents.parquet'}'")
        con.execute(f"CREATE TABLE verified_pairs AS {_minhash_verified_oracle(0.5)}")
        n_pairs = con.execute("SELECT count(*) FROM verified_pairs").fetchone()[0]
        digest = _digest(con, oracle.replace(verified, "verified AS (SELECT * FROM verified_pairs)"))
    return digest, n_pairs


class ConsumeBatch:
    """``tools/run_consume_batch.main`` on ``scale`` x 100k change-log rows,
    into an output directory that keeps the previous call's sinks."""

    def __init__(self, work: Path, scale: float) -> None:
        self.scale = scale
        self.in_dir = work / "inputs"
        self.out_dir = work / "output"
        self.rows = 0
        self.expected: tuple[int, str] | None = None

    def write_inputs(self, seed: int) -> None:
        tables = inputs.consume_tables(seed, self.scale)
        self.rows = tables["changelog"].num_rows
        inputs.write_tables(tables, self.in_dir)

    def prepare_check(self, checker: Executor) -> None:
        self.expected = checker.submit(consume_expected, self.in_dir).result()

    def call(self, spark, tracer: Tracer | None = None) -> dict:
        import run_consume_batch

        argv = [
            "--input-dir", str(self.in_dir),
            "--output-dir", str(self.out_dir),
            "--partition-date", PARTITION_DATE,
            "--days-ago", str(DAYS_AGO),
        ]
        out = io.StringIO()
        with contextlib.redirect_stdout(out):
            rc = run_consume_batch.main(argv)
        if rc != 0:
            raise RuntimeError(f"run_consume_batch exited {rc}")
        return json.loads(out.getvalue().strip().splitlines()[-1])

    def check(self, summary: dict, checker: Executor) -> list[str]:
        return checker.submit(
            consume_problems, self.out_dir, self.expected, summary["rows_per_slice"]
        ).result()

    def trace(self, tracer: Tracer) -> None:
        """Wrap the layers' public functions where the CLI finds them."""
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        import run_consume_batch as cli
        from st_bigdata_consume_batch_ma_with_cr_ecd_spark.pipelines import consume_batch as cb
        from st_bigdata_consume_batch_ma_with_cr_ecd_spark.sinks import writers

        tracer.patch(DataFrameReader, "parquet", "sources", "read.parquet")
        for name in ("filter_changelog", "merge_delete"):
            tracer.patch(cli, name, "stage0")
        tracer.patch_calls_from(DataFrameWriter, "parquet", cli.__name__, "stage0", "staging_write")
        tracer.patch(cb, "prepare_enrich_dims", "dims")
        for name in (
            "basedata_first", "basedata_enrich", "basedata_final", "modify_data",
            "shape_json_output",
        ):
            tracer.patch(cb, name, "slices.plan")
        tracer.patch(cb, "run_slices_concurrent", "slices")
        for name in ("write_csv_gzip", "write_json_gzip"):
            tracer.patch(writers, name, f"sinks.{name}")
        tracer.patch(cli, "overwrite_partitions", "sinks.overwrite_partitions")
        tracer.patch_thread_pools()

    def trace_extras(self) -> dict[str, float]:
        return {
            "sinks.write_csv_gzip.bytes_on_disk": _bytes_under(self.out_dir / "csv"),
            "sinks.write_json_gzip.bytes_on_disk": _bytes_under(self.out_dir / "json"),
            "sinks.overwrite_partitions.bytes_on_disk": _bytes_under(self.out_dir / "parquet"),
            "stage0.staging_bytes": _bytes_under(self.out_dir / "_stage0_staging"),
        }


class CorpusDedup:
    """The registered ``corpus_near_dedup_pipeline`` (MinHash verified
    pairs, connected components, cluster sizes) into a noop sink."""

    def __init__(self, work: Path, n_docs: int) -> None:
        self.in_dir = work / "inputs"
        self.rows = n_docs
        self.expected: tuple[int, str] | None = None
        self.verified_pairs = 0

    def write_inputs(self, seed: int) -> None:
        import pyarrow.parquet as pq

        self.in_dir.mkdir(parents=True, exist_ok=True)
        pq.write_table(inputs.corpus_table(seed, self.rows), self.in_dir / "documents.parquet")

    def prepare_check(self, checker: Executor) -> None:
        self.expected, self.verified_pairs = checker.submit(dedup_expected, self.in_dir).result()

    def call(self, spark, tracer: Tracer | None = None):
        from st_bigdata_consume_batch_ma_with_cr_ecd_spark.workloads import REGISTRY

        df = REGISTRY[DEDUP_QUERY].fn(spark, str(self.in_dir))
        sink = contextlib.nullcontext() if tracer is None else tracer.span("noop", "sinks.noop")
        with sink:
            df.write.format("noop").mode("overwrite").save()
        return df

    def check(self, df, checker: Executor) -> list[str]:
        from check_correctness import table_digest

        rows = [tuple(r) for r in df.collect()]
        got = (len(rows), table_digest(rows, df.columns))
        return [] if got == self.expected else [f"dedup verdict {got} != oracle {self.expected}"]

    def trace(self, tracer: Tracer) -> None:
        from pyspark.sql.readwriter import DataFrameReader

        from st_bigdata_consume_batch_ma_with_cr_ecd_spark.llm import dedup
        from st_bigdata_consume_batch_ma_with_cr_ecd_spark.operators import graph

        tracer.patch(DataFrameReader, "parquet", "sources", "read.parquet")
        tracer.patch(dedup, "minhash_verified_pairs", "dedup")
        for name in ("assign_cluster_ids", "cluster_sizes"):
            tracer.patch(graph, name, "graph")

    def trace_extras(self) -> dict[str, float]:
        return {"dedup.verified_pairs": self.verified_pairs}

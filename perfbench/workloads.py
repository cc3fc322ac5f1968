"""The benchmark's workloads, driven only through the engine's public
functions.

A workload makes its inputs from the seed, then runs one pass at a time
through the harness in run.py, which times each op.  After the timed
passes it checks the last pass's outputs against a reference.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import data


class _Extracted:
    """A result already extracted, shaped like the DataFrame the oracle
    comparison expects (it only calls ``toPandas``)."""

    def __init__(self, pdf) -> None:
        self._pdf = pdf

    def toPandas(self):  # noqa: N802 - mirrors the DataFrame method
        return self._pdf


class QueryMultijob:
    """query_multijob: oracle-backed registry queries that run many
    Spark jobs per result (eager lineage cuts, driver collects) while
    their executor work is small.  Each op builds one query's DataFrame
    and extracts it with ``toPandas``.  The seed permutes the query
    order within each pass."""

    name = "query_multijob"
    # Chosen by measurement from the ten multi-job registry queries
    # (perfbench/README.md): together they start most of their jobs and
    # spend most of their wall time while the DataFrames are built, as
    # the ten do, and one pass takes about 5 s on a 4-core host.  An odd
    # count keeps the median op inside one query's ops rather than in
    # the gap between two queries.
    queries = ["part_kcore", "constraint_violations", "local_supplier_volume"]
    sf = 0.01
    # CPU without the JIT compiler threads stops falling after pass four
    warmup_passes = 5

    def make_inputs(self, run_dir: str, seed: int) -> None:
        self.data_dir = os.path.join(run_dir, f"sf{self.sf}")
        data.write_tables(self.data_dir, self.sf)
        self.rng = random.Random(seed)

    def start(self) -> None:
        from telemetry_streaming_spark.plans.queries import QUERIES

        self.specs = {q: QUERIES[q] for q in self.queries}
        self.last: dict[str, object] = {}

    def run_pass(self, h) -> None:
        order = list(self.queries)
        self.rng.shuffle(order)
        for q in order:
            self.last[q] = h.query_op(q, lambda s, q=q: self.specs[q].fn(s, self.data_dir))

    def end_pass(self) -> None:
        pass

    def check(self, spark) -> list[str]:
        """Compare each query's last result with its DuckDB oracle,
        exactly as the engine's oracle tests do."""
        import duckdb

        from tests.oracle_harness import compare_query

        failures = []
        duck = duckdb.connect()
        try:
            for q in self.queries:
                pdf = self.last.get(q)
                if pdf is None:
                    continue  # the op itself failed and is counted already
                try:
                    compare_query(spark, duck, q, lambda s, d, pdf=pdf: _Extracted(pdf),
                                  self.specs[q].oracle, self.data_dir)
                except AssertionError as e:
                    failures.append(f"{q}: {e}")
        finally:
            duck.close()
        return failures


def _escape_influx(sig: str) -> str:
    for ch in (" ", ",", "=", '"'):
        sig = sig.replace(ch, "\\" + ch)
    return sig


class PingEtl:
    """ping_etl: the paper's jobs over seeded JSON pings.  Per pass:
    ErrorAggregator streams the files in a closed loop, one file per
    micro-batch, into a fresh parquet sink and checkpoint; then
    CrashesToInflux with the signature UDF runs over the same files.
    Each data file holds the next 5-minute window, so the watermark
    closes a window at every file after the first; the flush file
    closes the last one."""

    name = "ping_etl"
    n_files = 3
    pings_per_file = 160
    # CPU without the JIT compiler threads is flat from pass three
    warmup_passes = 2

    def make_inputs(self, run_dir: str, seed: int) -> None:
        self.run_dir = run_dir
        self.files, self.tally = data.make_pings(seed, self.n_files, self.pings_per_file)
        self.blobs = ["\n".join(lines) + "\n" for lines in self.files]
        self.pass_no = 0

    def start(self) -> None:
        from telemetry_streaming_spark.jobs import crashes

        self.sig_udf = crashes.crash_signature_udf()

    def run_pass(self, h) -> None:
        from telemetry_streaming_spark.jobs import crashes, error_aggregator
        from telemetry_streaming_spark.streaming.core import stop_quietly, text_file_source

        import pyspark.sql.functions as F

        spark = h.spark
        base = os.path.join(self.run_dir, f"pass{self.pass_no}")
        self.pass_no += 1
        self.in_dir, self.out_dir = os.path.join(base, "in"), os.path.join(base, "out")
        os.makedirs(self.in_dir)
        os.makedirs(self.out_dir)
        query = error_aggregator.write_streaming(
            text_file_source(spark, self.in_dir), self.out_dir, os.path.join(base, "checkpoint")
        )
        try:
            for i, blob in enumerate(self.blobs):
                h.micro_batch_op(query, lambda i=i, blob=blob: self._drop(i, blob))
        finally:
            stop_quietly(query)

        def build():
            stack = F.to_json(F.col("ping")["payload"]["stackTraces"])
            sig = crashes.influx_escape_signature(self.sig_udf(stack))
            return crashes.to_influx(spark.read.text(self.in_dir), signature=sig)

        self.crash_lines = h.query_op("crash_job", lambda s: build(), layer="jobs.crash")
        h.sink_written(self.out_dir)

    def end_pass(self) -> None:
        if self.pass_no > 1:  # keep only the pass the check will read
            shutil.rmtree(os.path.join(self.run_dir, f"pass{self.pass_no - 2}"), ignore_errors=True)

    def _drop(self, i: int, blob: str) -> None:
        tmp = os.path.join(self.in_dir, f".{i:04d}.tmp")
        with open(tmp, "w") as f:
            f.write(blob)
        os.rename(tmp, os.path.join(self.in_dir, f"{i:04d}.json"))

    def check(self, spark) -> list[str]:
        """Streaming output equals the batch aggregate over the same
        files; the all-up count equals the generator's tally of allowed
        pings; crash lines and a sample of signatures match the
        generator and an in-process siggen."""
        import pyspark.sql.functions as F

        from telemetry_streaming_spark.functions.siggen import signature_from_json
        from telemetry_streaming_spark.jobs import error_aggregator
        from tests.oracle_harness import _normalize

        failures = []
        flush_us = self.tally["flush_window_start_ns"] // 1000
        data_files = [os.path.join(self.in_dir, f"{i:04d}.json") for i in range(self.n_files)]
        streamed = (
            spark.read.parquet(self.out_dir)
            .withColumn("submission_date_s3", F.col("submission_date_s3").cast("string"))
        )
        batch = error_aggregator.aggregate(spark.read.text(data_files)).where(
            F.col("window_start") < F.timestamp_micros(F.lit(flush_us))
        )
        got = _normalize(streamed.select(*sorted(streamed.columns)).toPandas())
        want = _normalize(batch.select(*sorted(batch.columns)).toPandas())
        if not got.equals(want):
            failures.append(f"error_aggregator: streamed {len(got)} rows != batch {len(want)} rows")
        all_up = got[got.experiment_id.isna() & got.experiment_branch.isna()]["count"].sum()
        if int(all_up) != self.tally["allowed"]:
            failures.append(f"error_aggregator: count {all_up} != allowed pings {self.tally['allowed']}")

        lines = [] if self.crash_lines is None else list(self.crash_lines["value"])
        if len(lines) != self.tally["influx_crashes"]:
            failures.append(f"crashes: {len(lines)} lines != {self.tally['influx_crashes']} crash pings")
        for line in random.Random(0).sample(lines, min(50, len(lines))):
            ts = int(line.rsplit(" ", 1)[1])
            sig = signature_from_json(json.dumps(self.tally["crash_stacks"][ts]))
            tag = f",crashSignature={_escape_influx(sig)} " if sig else ",crashSignature="
            if (tag in line) != bool(sig):
                failures.append(f"crashes: signature mismatch at {ts}: {line}")
        return failures


WORKLOADS = {w.name: w for w in (QueryMultijob, PingEtl)}

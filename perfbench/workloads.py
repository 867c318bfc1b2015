"""The benchmark's workloads: what one operation is, the inputs it reads,
the warm-up, and the correctness check of each result.

``query_mix``: one pass runs every entry of ``QUERY_MIX`` once, a registry
call plus ``.collect()``, in an order the seed permutes. It holds six
cheap entries from six operator families (fixed per-query cost dominates
these) and the one streaming entry.

``etl_pipeline``: one operation is ``run_pipeline`` on a dirty-transactions
CSV, with the default upsert on ``transaction_id``; it is the only workload
that writes.

See README.md in this directory for why each was chosen and which layer
each metric belongs to.
"""

from __future__ import annotations

import os
import random
import shutil
from contextlib import nullcontext

from check import OracleChecker, pipeline_problems
from datagen import write_tables, write_transactions_csv

QUERY_MIX = [
    "q6_forecast_revenue",  # relational
    "events_daily_active_users",  # events
    "window_topk_with_ties",  # windows
    "text_chunk_documents",  # text
    "dedup_exact_groups",  # dedup
    "etl_reject_reasons",  # etl: a CSV scan through io.read_transactions_csv
    "streaming_update_mode_user_totals",  # the only path into the streaming layer
]

# Input sizes. "tiny" is the self-test's size.
SIZES = {
    "full": {"sf": 0.01, "warm_sf": 0.001, "csv_rows": 150_000, "warm_csv_rows": 75_000},
    "tiny": {"sf": 0.001, "warm_sf": 0.001, "csv_rows": 20_000, "warm_csv_rows": 2_000},
}
# Warm-up inputs use another seed than the timed inputs, so warming never
# reads the data the timed loop scans.
WARM_SEED_OFFSET = 1_000_003


def _span(tracer, name: str):
    return tracer.span(name) if tracer else nullcontext()


class QueryMix:
    name = "query_mix"
    # The timed loop runs whole passes, three at least whatever --seconds
    # says: a pass count set by the clock alone would flip with machine
    # speed.
    min_ops = 3 * len(QUERY_MIX)

    def __init__(self, work: str, seed: int, size: str):
        self.data = os.path.join(work, "tables")
        self.warm_data = os.path.join(work, "warm_tables")
        self.input_rows = sum(write_tables(self.data, SIZES[size]["sf"], seed).values())
        write_tables(self.warm_data, SIZES[size]["warm_sf"], seed + WARM_SEED_OFFSET)
        self._rng = random.Random(seed)
        self.registry = None
        self.checker = None

    def start(self, spark) -> None:
        from large_csv_etl_spark.queries import all_queries

        self.registry = all_queries()
        missing = [n for n in QUERY_MIX if n not in self.registry]
        if missing:
            raise SystemExit(f"query_mix: registry lacks {missing}")

    def warmup(self, spark, release) -> None:
        # The first pass pays class loading and compilation; the JIT keeps
        # compiling through the second, which left in the timed loop
        # spread the medians of runs by 20%.
        for _ in range(2):
            for name in QUERY_MIX:
                self.registry[name](spark, self.warm_data).collect()
                release()

    def next_pass(self) -> list[str]:
        names = list(QUERY_MIX)
        self._rng.shuffle(names)
        return names

    def run(self, spark, name: str, tracer):
        """One operation: returns (result, output rows, the DataFrame whose
        Catalyst phases to read)."""
        with _span(tracer, "queries.build"):
            df = self.registry[name](spark, self.data)
        with _span(tracer, "queries.collect"):
            rows = df.collect()
        return (df.schema, rows), len(rows), df

    def corrupt(self, result):
        schema, rows = result
        return schema, rows[:-1] if rows else [None]

    def problems(self, name: str, result) -> list[str]:
        if self.checker is None:  # built on first use, outside setup_s
            from large_csv_etl_spark.queries import all_oracles

            self.checker = OracleChecker(self.data, all_oracles())
        schema, rows = result
        return self.checker.problems(name, schema, rows)

    def after_op(self) -> None:
        pass

    def extra(self) -> dict:
        return {}

    def close(self) -> None:
        if self.checker:
            self.checker.close()


class EtlPipeline:
    name = "etl_pipeline"
    min_ops = 7

    def __init__(self, work: str, seed: int, size: str):
        self.work = work
        self.csv = os.path.join(work, "transactions.csv")
        self.warm_csv = os.path.join(work, "warm_transactions.csv")
        self.expected = write_transactions_csv(self.csv, SIZES[size]["csv_rows"], seed)
        write_transactions_csv(
            self.warm_csv, SIZES[size]["warm_csv_rows"], seed + WARM_SEED_OFFSET
        )
        self.input_rows = self.expected["rows"]
        self.csv_bytes = os.path.getsize(self.csv)
        self.stored: list[float] = []
        self._n = 0
        self._out = None

    def start(self, spark) -> None:
        pass

    def _output(self) -> str:
        self._n += 1
        return os.path.join(self.work, f"table_{self._n}")

    def warmup(self, spark, release) -> None:
        from large_csv_etl_spark.pipeline import run_pipeline

        # After one cold run the timed runs got faster one after another,
        # from 4.5 s to 2 s. Two warm-up runs take most of that; more
        # warm-up, even on as many rows as the timed file, still left a 25%
        # slope over the next five runs, so the loop runs seven.
        for _ in range(2):
            out = self._output()
            run_pipeline(spark, self.warm_csv, out)
            shutil.rmtree(out)
            release()

    def next_pass(self) -> list[str]:
        return ["run_pipeline"]

    def run(self, spark, name: str, tracer):
        from large_csv_etl_spark.pipeline import run_pipeline

        self._out = self._output()
        with _span(tracer, "pipeline.run"):
            report = run_pipeline(spark, self.csv, self._out)
        return report, report.get("stats", {}).get("processed_rows", 0), None

    def corrupt(self, report):
        bad = dict(report, stats=dict(report.get("stats", {})))
        bad["stats"]["processed_rows"] = bad["stats"].get("processed_rows", 0) + 1
        return bad

    def problems(self, name: str, report) -> list[str]:
        return pipeline_problems(report, self.expected)

    def after_op(self) -> None:
        """Outside the timed span: record the table's size, then delete it
        so disk use stays flat."""
        stored = 0
        for dirpath, _, files in os.walk(self._out):
            stored += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        self.stored.append(stored / self.csv_bytes)
        shutil.rmtree(self._out)

    def extra(self) -> dict:
        return {"stored_bytes_per_input_byte": sum(self.stored) / max(1, len(self.stored))}

    def close(self) -> None:
        pass


WORKLOADS = {w.name: w for w in (QueryMix, EtlPipeline)}

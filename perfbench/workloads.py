"""The benchmark workloads.

Each workload writes its inputs from the seed (``prepare``, before the
session starts), runs a verified warm-up (``warm_up``), then runs closed-loop jobs (``job``),
each forced through its real sink or a ``noop`` write — never
``count()``, which lets Catalyst prune the work being timed.
"""

from __future__ import annotations

import os
import shutil
import time

from . import inputs, oracle
from .tracing import Tracer

PARTITIONS = 8  # spark.sql.shuffle.partitions that get_spark picks for local[4]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files if not f.startswith(".")
    )


class Workload:
    name = ""
    pass_jobs = 1  # jobs in one pass of the mix; runs stop on a pass boundary

    def __init__(self, work: str, seed: int, scale: float):
        self.work, self.seed, self.scale = work, seed, scale
        self.failed_names: set[str] = set()

    def job_label(self, i: int) -> str:
        return self.name

    def prepare(self) -> None:
        raise NotImplementedError

    def warm_up(self, spark, tracer: Tracer) -> None:
        raise NotImplementedError

    def job(self, spark, tracer: Tracer, i: int) -> int:
        """Run job ``i``; returns the input rows it read."""
        raise NotImplementedError

    def check(self) -> list[int]:
        """Verify kept outputs; returns failing job indices (warm-ups < 0)."""
        return []

    def layer_metrics(self, spark, tracer: Tracer) -> dict[str, float]:
        return {}


class KvTextSum(Workload):
    """The CLI's ``--scalable`` job (``python -m uw_mapreduce_spark
    --scalable``): read_text_kv -> sliding_aggregate_scalable(window=91,
    sum) -> write_text_kv, on uniform random int32 ``key\\tvalue`` text."""

    name = "kv_text_sum"
    rows = 200_000
    window = 91
    warm_ups = 3

    def __init__(self, work, seed, scale):
        super().__init__(work, seed, scale)
        self.n = max(1000, int(self.rows * scale))
        self.path = os.path.join(work, "data", f"tosort{self.n}.txt")
        self.out_dir = os.path.join(work, "out")
        self.kept: dict[int, str] = {}

    def prepare(self):
        self.keys, values = inputs.kv_uniform(self.seed, self.n)
        self.expected = oracle.kv_hash(oracle.kv_sum_model(self.keys, values, self.window))
        inputs.write_kv_text(self.path, self.keys, values)

    def read(self, spark, tracer):
        from uw_mapreduce_spark.sources.text_kv import read_text_kv

        with tracer.span("text_kv.read"):
            return read_text_kv(spark, self.path)

    def run_query(self, spark, tracer, out_path: str, window: int | None = None) -> None:
        from uw_mapreduce_spark.operators.scale import sliding_aggregate_scalable
        from uw_mapreduce_spark.sources.text_kv import write_text_kv

        with tracer.span("scale.window_call"):
            out = sliding_aggregate_scalable(
                self.read(spark, tracer), ["key", "value"], "value", window or self.window, agg="sum"
            ).select("rank", "key", "agg")
            tracer.sample_cache()
        with tracer.span("scale.window_action"), tracer.span("text_kv.write"):
            write_text_kv(out, out_path)
        tracer.sample_cache()

    def warm_up(self, spark, tracer):
        for i in range(-1, -1 - self.warm_ups, -1):
            self.kept[i] = os.path.join(self.out_dir, f"warm-up{i}")
            self.run_query(spark, tracer, self.kept[i])

    def job(self, spark, tracer, i):
        self.kept[i] = os.path.join(self.out_dir, f"job-{i}")
        self.run_query(spark, tracer, self.kept[i])
        return self.n

    def check(self):
        bad = []
        self.out_bytes_per_row = 0.0
        for i, path in self.kept.items():
            if oracle.kv_hash(oracle.read_kv_text_output(path)) != self.expected:
                bad.append(i)
            self.out_bytes_per_row = _dir_bytes(path) / self.n
            shutil.rmtree(path, ignore_errors=True)
        self.kept.clear()
        return bad

    def layer_metrics(self, spark, tracer):
        import numpy as np

        from uw_mapreduce_spark.operators.window import sliding_aggregate

        borders = tracer.named("scale.borders")
        balance = 0.0
        if borders:
            # Rows per range partition j (keys in (b_{j-1}, b_j]) under the
            # borders the traced jobs used, over the mean n/P.
            pid = np.searchsorted(np.asarray(borders[-1]["attrs"]["borders"]), self.keys, side="left")
            balance = float(np.bincount(pid, minlength=PARTITIONS).max() / (self.n / PARTITIONS))
        # The single-partition Window path on the same input: the reference
        # point for the Window/scalable crossover.  The second of two runs
        # is reported (the first compiles the plan).
        for _ in range(2):
            t0 = time.perf_counter()
            _noop(sliding_aggregate(self.read(spark, Tracer(None)), ["key", "value"], "value",
                                    self.window, agg="sum"))
            single = time.perf_counter() - t0
        return {
            "scale.partition_rows_max_over_mean": balance,
            "text_kv.write_bytes_per_row": self.out_bytes_per_row,
            "window.single_partition_s": single,
        }


# BASELINE.md headline catalog queries -> the tables each one reads.
CATALOG_MIX: dict[str, tuple[str, ...]] = {
    "sliding_sum_91": ("events",),
    "sliding_sum_91_scalable": ("events",),
    "q1_pricing_summary": ("lineitem",),
    "q3_shipping_priority": ("customer", "orders", "lineitem"),
    "window_analytics_orders": ("orders",),
    "ngram_jaccard_documents": ("documents",),
    "doc_stats_documents": ("documents",),
}


class CatalogMix(Workload):
    """Catalog queries in a fixed closed-loop order, noop sink."""

    name = "catalog_mix"
    table_scale = 0.1  # ~10k events, 60k lineitem
    pass_jobs = len(CATALOG_MIX)

    def __init__(self, work, seed, scale):
        super().__init__(work, seed, scale)
        self.sf_dir = os.path.join(work, "catalog")
        self.names = list(CATALOG_MIX)

    def job_label(self, i):
        return self.names[i % len(self.names)]

    def prepare(self):
        tables = inputs.catalog_tables(self.seed, self.table_scale * self.scale)
        inputs.write_catalog(self.sf_dir, tables)
        self.table_rows = {t: tables[t].num_rows for t in tables}

    def query(self, spark, tracer, name):
        from uw_mapreduce_spark.plans.catalog import QUERIES

        with tracer.span("catalog.call", query=name):
            df = QUERIES[name](spark, self.sf_dir)
            tracer.sample_cache()
        return df

    def warm_up(self, spark, tracer):
        from uw_mapreduce_spark.plans.catalog import ORACLE
        import uw_mapreduce_spark.plans.catalog_llm  # noqa: F401  (registers its queries)

        duck = oracle.CatalogOracle(self.sf_dir, list(self.table_rows))
        try:
            self.expected = {q: duck.signature(ORACLE[q]) for q in self.names}
        finally:
            duck.close()
        for name in self.names:
            try:
                got = oracle.spark_signature(self.query(spark, tracer, name))
            except Exception as e:  # a failing query counts against every job of it
                print(f"warm-up {name} raised {type(e).__name__}: {e}")
                got = None
            if got != self.expected[name]:
                print(f"oracle mismatch {name}: spark={got} duckdb={self.expected[name]}")
                self.failed_names.add(name)

    def job(self, spark, tracer, i):
        name = self.job_label(i)
        df = self.query(spark, tracer, name)
        with tracer.span("catalog.action", query=name):
            _noop(df)
        tracer.sample_cache()
        return sum(self.table_rows[t] for t in CATALOG_MIX[name])


WORKLOADS = {w.name: w for w in (KvTextSum, CatalogMix)}

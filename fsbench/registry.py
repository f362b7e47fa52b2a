"""registry_mix: whole passes over a fixed set of registry queries.

Each operation builds one query through ``plans.registry.QUERIES[name].fn``
and executes it into the ``noop`` sink. Driver-side work dominates at this
scale: ``schemas.load_table``, the eager actions some builds fire, Catalyst
and job scheduling. The serving stores and the streaming pipeline do none
of it.
"""

from __future__ import annotations

import statistics
import sys
import time
import traceback
from concurrent.futures import ThreadPoolExecutor

import inputs
import rules
import trace

QUERY_SET = (
    "flagship_features",
    "revenue_by_nation",
    "latest5_per_key",
    "sync_offline_online",
    "minhash_lsh_pairs",
    "ivf_topk",
    "pagerank",
    "bfs_levels",
)
# Fixed warm-up, counted in setup_s: four copies of the set on four client
# threads (the cold pass compiles and JITs the most code, and threads keep
# every core busy while it does), then serial passes, the last of which
# collects the results for the oracle check.
WARM_THREADS = 4
WARM_COPIES = 4
WARM_SERIAL_PASSES = 2


def _table_hash():
    """``tools.check_oracle.table_hash``, imported without keeping the
    module's own ``sys.path`` edit."""
    saved = list(sys.path)
    try:
        from tools.check_oracle import table_hash
    finally:
        sys.path[:] = saved
    return table_hash


class RegistryMix:
    shares = {q: 1.0 for q in QUERY_SET}
    round_size = len(QUERY_SET)
    # per-layer metrics of layers this workload never calls
    untouched = tuple(
        f"{store}.{m}" for store, ms in (
            ("online_store", ("get_ms", "files_scanned_per_get",
                              "rows_scanned_per_row_returned", "upsert_ms",
                              "buckets_touched_per_upsert", "files_written_per_upsert",
                              "bytes_written_per_row", "bytes_on_disk_per_live_row")),
            ("offline_store", ("by_key_ms", "by_date_range_ms", "bulk_ms", "backfill_ms",
                               "files_scanned", "rows_scanned_per_row_returned",
                               "bytes_written_per_row")),
            ("collect", ("ms", "rows")),
            ("stream", ("batch_ms", "events_per_s", "add_batch_ms", "query_planning_ms",
                        "wal_commit_ms", "commit_offsets_ms", "latest_offset_ms",
                        "get_batch_ms")),
            ("state", ("rows", "memory_bytes")),
            ("sink", ("upsert_ms",)),
        ) for m in ms)

    def __init__(self, spark, seed: int, work: str, tracer: trace.Tracer | None, jvm):
        from feature_store_fraud_detection_spark.plans import registry

        self.spark = spark
        self.jvm = jvm
        self.jit_marks: list[float] = []
        self.seed = seed
        self.reg = registry
        self.tracer = tracer
        self.tables = f"{work}/tables"
        self.layers: dict[str, list[dict]] = {q: [] for q in QUERY_SET}
        self.rdds: list[int] = []
        self.results: dict[str, tuple] = {}

    # -- operations ---------------------------------------------------------

    def _execute(self, name: str) -> None:
        df = self.reg.QUERIES[name].fn(self.spark, self.tables)
        df.write.format("noop").mode("overwrite").save()

    def _traced(self, name: str, op: int) -> None:
        sc = self.spark.sparkContext
        loads: list[float] = []
        original = self.reg.load_table

        def timed_load(spark, sf_dir, table):
            t = time.perf_counter()
            try:
                return original(spark, sf_dir, table)
            finally:
                loads.append((time.perf_counter() - t) * 1000)

        tr = self.tracer
        rdds0 = trace.persistent_rdds(self.spark)
        self.reg.load_table = timed_load
        try:
            with tr.span("query", op, kind=name) as root:
                sc.setJobGroup(f"build-{op}", name)
                with tr.span("plans.registry.build", op, root["id"]) as b:
                    df = self.reg.QUERIES[name].fn(self.spark, self.tables)
                b.update(load_table_calls=len(loads), load_table_ms=sum(loads))
                sc.setJobGroup(f"plan-{op}", name)
                with tr.span("catalyst", op, root["id"]) as c:
                    c.update(trace.catalyst_phases(df._jdf))
                sc.setJobGroup(f"exec-{op}", name)
                with tr.span("exec", op, root["id"]) as x:
                    df.write.format("noop").mode("overwrite").save()
        finally:
            self.reg.load_table = original
            sc.setLocalProperty("spark.jobGroup.id", None)
        x.update(trace.group_counters(self.spark, f"exec-{op}"))
        self.layers[name].append({
            "load_table.calls": len(loads),
            "load_table.ms": sum(loads),
            "build.ms": trace.span_ms(b) - sum(loads),
            "build.jobs": trace.group_counters(self.spark, f"build-{op}")["jobs"],
            "catalyst.analysis_ms": c["analysis"],
            "catalyst.optimization_ms": c["optimization"],
            "catalyst.planning_ms": c["planning"],
            "exec.ms": trace.span_ms(x),
            **{f"exec.{k}": v for k, v in x.items()
               if k in ("jobs", "stages", "tasks", "shuffle_write_bytes",
                        "spill_bytes", "input_records")},
            "leaked_rdds": trace.persistent_rdds(self.spark) - rdds0,
        })

    # -- phases -------------------------------------------------------------

    def setup(self) -> None:
        inputs.write_tables(inputs.make_tables(self.seed, inputs.REGISTRY_SCALE), self.tables)
        self.phases = {"tables": time.perf_counter()}
        self.jit_marks.append(self.jvm.jit_ms())
        with ThreadPoolExecutor(WARM_THREADS) as ex:
            for f in [ex.submit(self._execute, q) for q in QUERY_SET * WARM_COPIES]:
                f.result()
        self.phases["parallel"] = time.perf_counter()
        self.jit_marks.append(self.jvm.jit_ms())
        for _ in range(WARM_SERIAL_PASSES - 1):
            for q in QUERY_SET:
                self._execute(q)
            self.jit_marks.append(self.jvm.jit_ms())
        self.phases["serial"] = time.perf_counter()
        # the last warm-up pass collects each result for the oracle check
        table_hash = _table_hash()
        for q in QUERY_SET:
            try:
                df = self.reg.QUERIES[q].fn(self.spark, self.tables)
                rows = [tuple(r) for r in df.collect()]
                self.results[q] = (len(rows), sorted(df.columns), table_hash(df.columns, rows))
            except Exception:  # noqa: BLE001 - reported by check()
                traceback.print_exc()
        self.jit_marks.append(self.jvm.jit_ms())

    def run_window(self, seconds: float) -> rules.Ledger:
        ledger = rules.Ledger(self.round_size)
        deadline = time.perf_counter() + seconds
        self.rdds.append(trace.persistent_rdds(self.spark))
        self.window_mark = len(self.jit_marks) - 1
        op = 0
        p = 0
        while p < rules.MIN_ROUNDS or time.perf_counter() < deadline:
            for q in QUERY_SET:
                # a traced run alternates traced and untraced passes
                traced = self.tracer is not None and p % 2 == 0
                t = time.perf_counter()
                ok = True
                try:
                    if traced:
                        self._traced(q, op)
                    else:
                        self._execute(q)
                except Exception:  # noqa: BLE001 - a failed operation is a result
                    traceback.print_exc()
                    ok = False
                ms = (time.perf_counter() - t) * 1000
                ledger.add(q, p, ms, ok, traced)
                op += 1
            p += 1
            self.jit_marks.append(self.jvm.jit_ms())
        self.rdds.append(trace.persistent_rdds(self.spark))
        return ledger

    def check(self, ledger: rules.Ledger) -> list[str]:
        """Every query's result, collected in the last warm-up pass, against
        its DuckDB oracle; a wrong query fails all of its window
        operations."""
        import duckdb

        from feature_store_fraud_detection_spark.schemas import TESTDATA_TABLES

        table_hash = _table_hash()
        con = duckdb.connect()
        problems = []
        try:
            for t in TESTDATA_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'")
            for q in QUERY_SET:
                res = con.execute(self.reg.QUERIES[q].oracle)
                dcols = [d[0] for d in res.description]
                drows = res.fetchall()
                if self.results.get(q) != (len(drows), sorted(dcols), table_hash(dcols, drows)):
                    problems.append(f"{q}: result differs from its DuckDB oracle")
                    ledger.fail_where(lambda o, q=q: o.kind == q)
        finally:
            con.close()
        return problems

    def stationarity(self) -> dict:
        return {"persistent_rdds": self.rdds}

    def report(self, ledger: rules.Ledger) -> dict:
        med = rules.per_kind_medians([o for o in ledger.counted() if not o.traced])
        return {"query_p50_ms": rules.weighted_geomean(med, self.shares),
                "per_query_p50_ms": med,
                **trace.jit_by_round(self.jit_marks, self.window_mark)}

    def layer_metrics(self) -> dict[str, float]:
        """Mean over the query set of each query's median across its traced
        operations."""
        names = next(iter(v for v in self.layers.values() if v), [{}])[0].keys()
        out = {}
        for m in names:
            per_q = [statistics.median(r[m] for r in v) for v in self.layers.values() if v]
            out[m] = sum(per_q) / len(per_q)
        return out

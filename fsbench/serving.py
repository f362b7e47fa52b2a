"""serving_mix: reads and writes against the offline and online stores, plus
one streaming micro-batch per round into a stream-fed online store.

The offline store is a date-partitioned ``OfflineStore`` and the online
store a bucketed ``ParquetOnlineStore``, both loaded with the flagship
features of seeded events. Reads go through ``FeatureServer`` (offline) and
``ParquetOnlineStore.read()`` plus a key filter (online). Every read is
checked, outside its timed region, against a pure-Python model of the
fixture plus every write applied so far.

The ``stream_batch`` kind drops one fixed-size file of seeded events into a
file source that feeds ``parse_stream -> enrich -> windowed_stats ->
OnlineStoreSink``, then waits for that one micro-batch; its latency is the
client's wait, and ``batch_p50_ms`` is the batches' median
``triggerExecution``. After the window the stream-fed store is
checked against a batch twin of the same pipeline over the processed files.
"""

from __future__ import annotations

import datetime as dt
import math
import os
import statistics
import time
import traceback


import inputs
import rules
import trace

# Fixed warm-up rounds, counted in setup_s.
WARM_ROUNDS = 3
SHARES = inputs.SERVING_SHARES
SPANS = {
    "online_get": "sources.online_store.get",
    "by_key": "plans.serving.features_by_key",
    "by_date_range": "plans.serving.features_by_date_range",
    "bulk": "plans.serving.bulk_features",
    "upsert": "sources.online_store.upsert",
    "backfill": "sources.offline_store.backfill",
    "stream_batch": "streaming.pipeline.micro_batch",
}
STREAM_PHASES = {
    "stream.add_batch_ms": "addBatch",
    "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
    "stream.latest_offset_ms": "latestOffset",
    "stream.get_batch_ms": "getBatch",
}


def _rows(rows) -> list:
    return sorted((tuple(r) for r in rows), key=repr)


def _dir_files(path: str) -> dict[str, int]:
    out = {}
    for d, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def _partitions(path: str) -> int:
    return sum(1 for d in os.listdir(path) if "=" in d)


class ServingMix:
    shares = SHARES
    round_size = sum(inputs.SERVING_ROUND.values())
    # per-layer metrics of layers this workload never calls
    untouched = ("load_table.calls", "load_table.ms", "build.ms", "build.jobs")

    def __init__(self, spark, seed: int, work: str, tracer: trace.Tracer | None, jvm):
        self.spark = spark
        self.jvm = jvm
        self.jit_marks: list[float] = []
        self.seed = seed
        self.work = work
        self.tracer = tracer
        self.scale = inputs.SERVING_SCALE
        self.layer: dict[str, list[float]] = {}
        self.sink_ms: list[float] = []
        self.progress: list[dict] = []
        self.station: dict[str, list] = {}

    # -- fixture ------------------------------------------------------------

    def setup(self) -> None:
        from feature_store_fraud_detection_spark.plans.registry import QUERIES
        from feature_store_fraud_detection_spark.plans.serving import FeatureServer
        from feature_store_fraud_detection_spark.schemas import FEATURES_SCHEMA
        from feature_store_fraud_detection_spark.sources.offline_store import OfflineStore
        from feature_store_fraud_detection_spark.sources.online_store import (
            ParquetOnlineStore,
        )

        spark, w = self.spark, self.work
        self.phases = {"start": time.perf_counter()}
        events = inputs.make_tables(self.seed, self.scale)["events"]
        inputs.write_tables({"events": events}, f"{w}/events")
        rows = [tuple(r) for r in QUERIES["flagship_features"].fn(spark, f"{w}/events").collect()]
        self.schema = FEATURES_SCHEMA
        self.ts_i = FEATURES_SCHEMA.names.index("feature_timestamp")
        self.amt_i = FEATURES_SCHEMA.names.index("amt")
        self.base: dict[str, list[tuple]] = {}
        for r in rows:
            self.base.setdefault(r[self.ts_i].strftime("%Y-%m-%d"), []).append(r)
        self.offline_model = {d: list(v) for d, v in self.base.items()}
        self.online_model: dict[int, tuple] = {}
        for r in rows:
            cur = self.online_model.get(r[0])
            if cur is None or r[self.ts_i] > cur[self.ts_i]:
                self.online_model[r[0]] = r

        self.phases["features"] = time.perf_counter()
        fdf = spark.createDataFrame(rows, FEATURES_SCHEMA)
        self.offline = OfflineStore(spark, f"{w}/offline")
        self.offline.write(fdf, sort_cols=["cc_num"])
        self.phases["offline"] = time.perf_counter()
        self.online = ParquetOnlineStore(
            spark, f"{w}/online", key="cc_num", ts="feature_timestamp",
            retention_seconds=None,
        )
        self.online.upsert(fdf)
        self.phases["online"] = time.perf_counter()
        self.server = FeatureServer(spark, self.offline)
        self._start_stream()
        self.phases["stream"] = time.perf_counter()
        self.jit_marks.append(self.jvm.jit_ms())
        for r in range(WARM_ROUNDS):
            self._round(r, None)
            self.phases[f"warm{r}"] = time.perf_counter()
            self.jit_marks.append(self.jvm.jit_ms())

    def _start_stream(self) -> None:
        from feature_store_fraud_detection_spark.streaming.pipeline import (
            OnlineStoreSink,
            enrich,
            parse_stream,
            windowed_stats,
        )
        from feature_store_fraud_detection_spark.streaming.sources import file_stream

        spark, w = self.spark, self.work
        self.stream_in = f"{w}/stream_in"
        os.makedirs(self.stream_in)
        self.sink = OnlineStoreSink(key="cc_num", ts="window_end", path=f"{w}/stream_state")
        self.pipeline = (enrich, parse_stream, windowed_stats)
        stats = windowed_stats(enrich(parse_stream(file_stream(spark, self.stream_in))))
        # state partitions are fixed when the query first starts
        default = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(inputs.STREAM_STATE_PARTITIONS))
        try:
            self.query = (
                stats.writeStream.outputMode("append")
                .foreachBatch(self._sink_call)
                .option("checkpointLocation", f"{w}/stream_ckpt")
                .trigger(processingTime="100 milliseconds")
                .start()
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", default)

    def _sink_call(self, batch_df, batch_id: int) -> None:
        t = time.perf_counter()
        self.sink(batch_df, batch_id)
        self.sink_ms.append((time.perf_counter() - t) * 1000)

    def stop(self) -> None:
        q = getattr(self, "query", None)
        if q is not None and q.isActive:
            q.stop()

    # -- operations ---------------------------------------------------------

    def _round(self, r: int, ledger: rules.Ledger | None) -> None:
        for op in inputs.serving_round(self.seed, r, self.scale.users, self.scale.days):
            # a traced run alternates traced and untraced rounds
            traced = (self.tracer is not None and ledger is not None
                      and (r - WARM_ROUNDS) % 2 == 0)
            t = time.perf_counter()
            try:
                ms, ok = self._op(op, traced, len(ledger.ops) if ledger else -1)
            except Exception:  # noqa: BLE001 - a failed operation is a result
                if ledger is None:
                    raise
                traceback.print_exc()
                ms, ok = (time.perf_counter() - t) * 1000, False
            if ledger is not None:
                ledger.add(op[0], r, ms, ok, traced)

    def _op(self, op: tuple, traced: bool, op_id: int) -> tuple[float, bool]:
        kind = op[0]
        if kind == "stream_batch":
            return self._stream_batch(op[1], traced, op_id)
        if not traced:
            return self._run(op)
        sc = self.spark.sparkContext
        path = self.online.path if kind == "upsert" else self.offline.path
        before = _dir_files(path)
        rdds0 = trace.persistent_rdds(self.spark)
        sc.setJobGroup(f"serve-{op_id}", kind)
        try:
            with self.tracer.span(SPANS[kind], op_id) as span:
                ms, ok = self._run(op)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        attrs = self._trace_op(kind, ms, op_id, before, _dir_files(path))
        attrs["leaked_rdds"] = trace.persistent_rdds(self.spark) - rdds0
        self._add("leaked_rdds", attrs["leaked_rdds"])
        span.update(ok=ok, **attrs)
        return ms, ok

    def _run(self, op: tuple) -> tuple[float, bool]:
        """One timed serving call; the result check runs after the clock
        stops."""
        from pyspark.sql import functions as F

        kind = op[0]
        self.last_df = None
        t = time.perf_counter()
        if kind == "online_get":
            df = self.online.read().filter(F.col("cc_num") == op[1])
        elif kind == "by_key":
            df = self.server.features_by_key(op[1])
        elif kind == "by_date_range":
            df = self.server.features_by_date_range(op[1], op[2])
        elif kind == "bulk":
            df = self.server.bulk_features(op[1])
        elif kind == "upsert":
            batch = self._upsert_rows(op[1], op[2])
            self.online.upsert(self.spark.createDataFrame(batch, self.schema))
        else:
            batch = self._backfill_rows(op[1], op[2])
            self.offline.backfill(self.spark.createDataFrame(batch, self.schema))
        if kind in inputs.READ_KINDS:
            got = df.collect()
        ms = (time.perf_counter() - t) * 1000
        if kind == "upsert":
            for row in batch:
                self.online_model[row[0]] = row
            self.last_rows = len(batch)
            return ms, True
        if kind == "backfill":
            self.offline_model[op[1]] = batch
            self.last_rows = len(batch)
            return ms, True
        self.last_df, self.last_rows = df, len(got)
        if kind == "bulk":
            return ms, self._bulk_ok(got, op[1])
        return ms, _rows(got) == _rows(self._expect(op))

    def _upsert_rows(self, keys, amts) -> list[tuple]:
        template = next(iter(self.online_model.values()))
        out = []
        for k, a in zip(keys, amts):
            cur = self.online_model.get(k)
            if cur is None:
                cur = (k,) + template[1:self.ts_i] + (inputs.EPOCH + dt.timedelta(days=self.scale.days),) + template[self.ts_i + 1:]
            row = list(cur)
            row[self.amt_i] = a
            row[self.ts_i] = cur[self.ts_i] + dt.timedelta(seconds=1)
            out.append(tuple(row))
        return out

    def _backfill_rows(self, day: str, version: int) -> list[tuple]:
        out = []
        for r in self.base.get(day, []):
            row = list(r)
            row[self.amt_i] = round(r[self.amt_i] + version / 100.0, 2)
            out.append(tuple(row))
        return out

    def _expect(self, op: tuple) -> list[tuple]:
        kind = op[0]
        if kind == "online_get":
            return [self.online_model[op[1]]] if op[1] in self.online_model else []
        if kind == "by_key":
            return [r for rows in self.offline_model.values() for r in rows if r[0] == op[1]]
        # by_date_range: ISO day strings order like dates
        return [r for d, rows in self.offline_model.items() if op[1] <= d <= op[2] for r in rows]

    def _bulk_ok(self, got, limit: int) -> bool:
        """``bulk`` orders by card only, so which rows of the last card make
        the cut is the engine's choice: check the key sequence, the full
        rows of every earlier card, and that the last card's rows exist."""
        everything = [r for rows in self.offline_model.values() for r in rows]
        keys = sorted(r[0] for r in everything)[:limit]
        if sorted(r[0] for r in got) != keys:
            return False
        last = keys[-1] if keys else None
        want = _rows(r for r in everything if r[0] != last and r[0] in set(keys))
        have = [tuple(r) for r in got]
        pool = {repr(r) for r in everything if r[0] == last}
        return _rows(r for r in have if r[0] != last) == want and all(
            repr(r) in pool for r in have if r[0] == last)

    def _stream_batch(self, b: int, traced: bool, op_id: int) -> tuple[float, bool]:
        """Drop batch ``b`` into the source and wait until the stream has
        processed it. The latency is what the client waits: file drop,
        trigger wait and the micro-batch. ``triggerExecution`` is kept from
        the progress report for batch_p50_ms."""
        rdds0 = trace.persistent_rdds(self.spark) if traced else 0
        lines = "\n".join(inputs.stream_batch_lines(self.seed, b)) + "\n"
        tmp = f"{self.work}/stream_tmp-{b}.json"
        t = time.perf_counter()
        with open(tmp, "w") as f:
            f.write(lines)
        os.replace(tmp, f"{self.stream_in}/batch-{b:06d}.json")
        self.query.processAllAvailable()
        ms = (time.perf_counter() - t) * 1000
        p = [p for p in self.query.recentProgress if p["numInputRows"] > 0][-1]
        ok = p["batchId"] == b and p["numInputRows"] == inputs.STREAM_ROWS_PER_BATCH
        self.progress.append(p)
        if traced:
            self._add("leaked_rdds", trace.persistent_rdds(self.spark) - rdds0)
            # the batch ran on Spark's stream thread; its span is rebuilt
            # from the progress report and the sink's own timing
            self.tracer.spans.append({
                "id": len(self.tracer.spans), "op": op_id, "parent": None,
                "name": SPANS["stream_batch"], "ok": ok, "batch_id": b,
                "client_ms": ms, "sink_upsert_ms": self.sink_ms[-1],
                **{f"phase.{k}": v for k, v in p["durationMs"].items()},
            })
        return ms, ok

    # -- tracing ------------------------------------------------------------

    def _add(self, name: str, v: float) -> None:
        self.layer.setdefault(name, []).append(v)

    def _trace_op(self, kind: str, ms: float, op_id: int, before, after) -> dict:
        """Per-layer counters of one traced serving call, also returned as
        the attributes of its span."""
        attrs = {f"exec.{k}": v for k, v in
                 trace.group_counters(self.spark, f"serve-{op_id}").items()}
        attrs["exec.ms"] = ms  # a serving call is one action: its latency is execution
        rows = self.last_rows
        if self.last_df is not None:
            files, scanned = trace.scan_counters(self.last_df._jdf)
            attrs.update({f"catalyst.{p}_ms": v for p, v in
                          trace.catalyst_phases(self.last_df._jdf).items()})
            attrs.update({"collect.ms": ms, "collect.rows": rows})
            store = "online_store" if kind == "online_get" else "offline_store"
            if kind == "online_get":
                attrs.update({"online_store.get_ms": ms,
                              "online_store.files_scanned_per_get": files})
            else:
                attrs.update({f"offline_store.{kind}_ms": ms,
                              "offline_store.files_scanned": files})
            attrs.update({f"{store}.rows_scanned": scanned, f"{store}.rows_returned": rows})
        else:
            new = {p: s for p, s in after.items() if p not in before}
            store = "online_store" if kind == "upsert" else "offline_store"
            attrs.update({f"{store}.{kind}_ms": ms,
                          f"{store}.bytes_written": sum(new.values()),
                          f"{store}.rows_written": rows})
            if kind == "upsert":
                touched = {os.path.dirname(p) for p in new} | {
                    os.path.dirname(p) for p in before if p not in after}
                attrs.update({"online_store.buckets_touched_per_upsert": len(touched),
                              "online_store.files_written_per_upsert": len(new)})
        for k, v in attrs.items():
            self._add(k, v)
        return attrs

    # -- window -------------------------------------------------------------

    def _snapshot(self) -> None:
        state = self.progress[-1]["stateOperators"] if self.progress else []
        for name, v in (
            ("online_files", len(_dir_files(self.online.path))),
            ("offline_files", len(_dir_files(self.offline.path))),
            ("offline_partitions", _partitions(self.offline.path)),
            ("stream_store_files", len(_dir_files(self.sink.path))),
            ("stream_state_rows", sum(s["numRowsTotal"] for s in state)),
            ("persistent_rdds", trace.persistent_rdds(self.spark)),
        ):
            self.station.setdefault(name, []).append(v)

    def run_window(self, seconds: float) -> rules.Ledger:
        ledger = rules.Ledger(self.round_size)
        self._snapshot()
        self.progress_start = len(self.progress)
        self.window_mark = len(self.jit_marks) - 1
        deadline = time.perf_counter() + seconds
        r = WARM_ROUNDS
        while r < WARM_ROUNDS + rules.MIN_ROUNDS or time.perf_counter() < deadline:
            self._round(r, ledger)
            r += 1
            self.jit_marks.append(self.jvm.jit_ms())
        self._snapshot()
        return ledger

    def check(self, ledger: rules.Ledger) -> list[str]:
        problems = []
        online = _rows(self.online.read().collect())
        if online != _rows(self.online_model.values()):
            problems.append("online store differs from the model")
            ledger.fail_where(lambda o: o.kind == "upsert")
        offline = _rows(self.offline.read().drop("feature_date").collect())
        if offline != _rows(r for rows in self.offline_model.values() for r in rows):
            problems.append("offline store differs from the model")
            ledger.fail_where(lambda o: o.kind == "backfill")
        self.stop()
        try:
            twin_ok = self._stream_twin_ok()
        except Exception:  # noqa: BLE001 - reported as a failed check
            traceback.print_exc()
            twin_ok = False
        if not twin_ok:
            problems.append("stream-fed store differs from its batch twin")
            ledger.fail_where(lambda o: o.kind == "stream_batch")
        return problems

    def _stream_twin_ok(self) -> bool:
        """The stream-fed store against the same pipeline run as a batch
        job over the processed files: per card, the latest window the
        watermark of the last batch had closed."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        enrich, parse_stream, windowed_stats = self.pipeline
        wm = self.progress[-1]["eventTime"]["watermark"]
        raw = self.spark.read.schema("value string").json(self.stream_in)
        w = Window.partitionBy("cc_num").orderBy(F.col("window_end").desc())
        twin = (
            windowed_stats(enrich(parse_stream(raw)))
            .filter(F.col("window_end") <= F.to_timestamp(F.lit(wm)))
            .withColumn("rn", F.row_number().over(w))
            .filter("rn = 1")
            .drop("rn")
        )
        cols = ["cc_num", "window_start", "window_end", "txn_count", "avg_amount"]
        want = {r[0]: r for r in twin.select(*cols).collect()}
        got = {r[0]: r for r in self.sink.state.select(*cols).collect()}
        if want.keys() != got.keys():
            return False
        for k, a in want.items():
            b = got[k]
            if a[:4] != b[:4] or not math.isclose(a[4], b[4], rel_tol=1e-9):
                return False
        return True

    def stationarity(self) -> dict:
        return self.station

    def report(self, ledger: rules.Ledger) -> dict:
        ops = [o for o in ledger.counted() if not o.traced]
        med = rules.per_kind_medians(ops)
        reads = {k: SHARES[k] for k in inputs.READ_KINDS}
        writes = {k: SHARES[k] for k in inputs.WRITE_KINDS}
        batch_ms, events_per_s = self._stream_rates()
        return {
            "online_get_p50_ms": med["online_get"],
            "read_p50_ms": rules.weighted_geomean(med, reads),
            "write_p50_ms": rules.weighted_geomean(med, writes),
            "batch_p50_ms": batch_ms,
            "events_per_s": events_per_s,
            "per_kind_p50_ms": med,
            **trace.jit_by_round(self.jit_marks, self.window_mark),
        }

    def _stream_rates(self) -> tuple[float, float]:
        """Median ``triggerExecution`` of the window's micro-batches, and
        events over their summed ``triggerExecution``."""
        window = self.progress[self.progress_start:]
        trig = [p["durationMs"]["triggerExecution"] for p in window]
        return statistics.median(trig), sum(p["numInputRows"] for p in window) / (sum(trig) / 1000.0)

    def layer_metrics(self) -> dict[str, float]:
        L = self.layer
        med = {k: statistics.median(v) for k, v in L.items() if k.endswith("ms")}
        mean = {k: sum(v) / len(v) for k, v in L.items()}
        out = dict(med)
        for k in ("online_store.files_scanned_per_get", "offline_store.files_scanned",
                  "online_store.buckets_touched_per_upsert",
                  "online_store.files_written_per_upsert", "collect.rows",
                  "leaked_rdds"):
            if k in mean:
                out[k] = mean[k]
        out.update({k: v for k, v in mean.items() if k.startswith("exec.") and k != "exec.ms"})
        for store in ("online_store", "offline_store"):
            if L.get(f"{store}.rows_returned"):
                out[f"{store}.rows_scanned_per_row_returned"] = (
                    sum(L[f"{store}.rows_scanned"]) / max(1, sum(L[f"{store}.rows_returned"])))
            if L.get(f"{store}.rows_written"):
                out[f"{store}.bytes_written_per_row"] = (
                    sum(L[f"{store}.bytes_written"]) / sum(L[f"{store}.rows_written"]))
        out["online_store.bytes_on_disk_per_live_row"] = (
            sum(_dir_files(self.online.path).values()) / len(self.online_model))
        window = self.progress[self.progress_start:]
        for name, key in STREAM_PHASES.items():
            out[name] = statistics.median(p["durationMs"].get(key, 0) for p in window)
        out["stream.batch_ms"], out["stream.events_per_s"] = self._stream_rates()
        state = window[-1]["stateOperators"]
        out["state.rows"] = sum(s["numRowsTotal"] for s in state)
        out["state.memory_bytes"] = sum(s["memoryUsedBytes"] for s in state)
        out["sink.upsert_ms"] = statistics.median(self.sink_ms[-len(window):])
        return out

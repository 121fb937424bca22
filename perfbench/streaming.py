"""Streaming workloads: a timed drain of a fixed backlog, then an open loop.

Drain: a backlog of parquet files is replayed with an availableNow
trigger, one file per micro-batch. The first ``warmup_batches`` batches
warm the JVM and count as set-up; throughput is the events of the next
``timed_batches`` batches divided by the CPU time (and, reported beside
it, the wall time) between the sink returns that bound them.

Open loop: ``gen.py`` runs as its own process and lands files on a fixed
schedule for ``seconds`` seconds while the query runs with the default
trigger. An output row's latency is the time the sink call for its
micro-batch returned minus the due time of the newest event that
contributed to the row.

Correctness is checked afterwards against DuckDB over the same input files.
"""

from __future__ import annotations

import dataclasses
import json
import os
import statistics
import subprocess
import sys
import time
from datetime import datetime

import duckdb
import numpy as np

from perfbench import events, gen, spec, stats
from perfbench.common import Engine, Result
from perfbench.procstat import ProcTree, RssSampler
from perfbench.trace import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
TAIL_TIMEOUT_S = 20.0  # after the generator ends, time allowed to consume its last files
DRAIN_TIMEOUT_S = 120.0
# micro-batch phases in the order MicroBatchExecution runs them, with the
# layer each one belongs to
PHASES = (
    ("latestOffset", "sources.latest_offset"),
    ("walCommit", "checkpoint.wal_commit"),
    ("getBatch", "sources.get_batch"),
    ("queryPlanning", "ops.query_planning"),
    ("addBatch", "ops.add_batch"),
    ("commitOffsets", "checkpoint.commit_offsets"),
)


def _schema(value_type: str):
    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType, TimestampType,
    )

    return StructType([
        StructField("key", LongType()),
        StructField("value", DoubleType() if value_type == "double" else LongType()),
        StructField("ts", TimestampType()),
        StructField("due_us", LongType()),
    ])


def _pipeline(name: str, stream):
    """The operator under test and its output mode."""
    from pyspark.sql import functions as F

    from windflow_spark.streaming import streaming_rolling_reduce, streaming_sliding_window_tb

    if name == "window_zipf":
        aggs = [
            F.count("*").alias("cnt"),
            F.sum("value").alias("sum_value"),
            F.max("value").alias("max_value"),
            F.max("due_us").alias("max_due_us"),
        ]
        return streaming_sliding_window_tb(
            stream, ["key"], "ts", spec.WINDOW_US, spec.SLIDE_US, aggs,
            lateness_us=spec.LATENESS_US,
        ), "update"
    # event time equals due time here (no disorder), so each output row's
    # ts is the due time of the input it was emitted for
    return streaming_rolling_reduce(stream.select("key", "ts", "value"), ["key"], "ts", "value"), "append"


class ParquetSink:
    """foreachBatch function: appends each micro-batch under
    ``out/batch=<id>`` and records when the write started and returned.
    ``on_return(batch_id)``, if given, runs right after each write."""

    def __init__(self, out: str, on_return=None):
        self.out = out
        self.on_return = on_return
        self.calls: dict[int, tuple[float, float]] = {}

    def __call__(self, df, batch_id: int) -> None:
        t0 = time.time()
        df.write.mode("append").parquet(os.path.join(self.out, f"batch={batch_id}"))
        self.calls[batch_id] = (t0, time.time())
        if self.on_return is not None:
            self.on_return(batch_id)


def _rows_read(q) -> int:
    return sum(p.numInputRows for p in q.recentProgress)


def _ts(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class StreamingRun:
    def __init__(self, name: str, seed: int, seconds: float, work: str,
                 engine: Engine, tracer: Tracer, tree: ProcTree):
        self.name = name
        self.spec = spec.STREAMING[name]
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.engine = engine
        self.tracer = tracer
        self.tree = tree
        self.monitor = None
        self.n_queries = 0

    # -- set-up -----------------------------------------------------------
    def stage_backlog(self, directory: str) -> None:
        os.makedirs(directory)
        per = self.spec.file_events
        for k in range(self.spec.warmup_batches + self.spec.timed_batches):
            tbl = events.make_events(
                self.spec.traffic, self.seed, spec.BACKLOG_SALT, k * per, per, spec.BACKLOG_START_US
            )
            events.write_atomic(tbl, directory, f"backlog-{k:04d}.parquet")

    def build(self, src: str, available_now: bool):
        """The pipeline over the files in ``src``; a bounded replay reads one
        file per micro-batch."""
        from windflow_spark.streaming import file_stream

        with self.tracer.span("sources.file_stream"):
            stream = file_stream(
                self.engine.spark, src, _schema(self.spec.traffic.value_type),
                max_files_per_trigger=1 if available_now else None,
            )
        with self.tracer.span("ops.build"):
            return _pipeline(self.name, stream)

    def start_query(self, src: str, sink: ParquetSink, available_now: bool):
        out, mode = self.build(src, available_now)
        self.n_queries += 1
        w = (
            out.writeStream.foreachBatch(sink)
            .outputMode(mode)
            .option("checkpointLocation", os.path.join(self.work, f"ckpt-{self.n_queries}"))
        )
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    def progress(self, q) -> list[dict]:
        """A finished query's progress reports; in a traced run, as the
        monitor's listener received them (it runs on the listener bus, so
        wait until it has caught up with the query)."""
        recent = [json.loads(p.json) for p in q.recentProgress]
        if self.monitor is None:
            return recent
        deadline = time.time() + 5
        while len(self.monitor.history(str(q.id))) < len(recent) and time.time() < deadline:
            time.sleep(0.01)
        return self.monitor.history(str(q.id))

    # -- phases -----------------------------------------------------------
    def drain(self, backlog: str) -> tuple[list[dict], ParquetSink, float, dict]:
        """Replay the backlog. Returns its progress reports, its sink, the
        warm-up time (query start to the sink return of the last warm-up
        batch) and the engine's CPU at the sink returns of the last warm-up
        batch (``"start"``) and of the last timed batch (``"end"``)."""
        cpu = {}
        last_warmup = self.spec.warmup_batches - 1
        last_timed = last_warmup + self.spec.timed_batches

        def on_return(batch_id: int) -> None:
            if batch_id in (last_warmup, last_timed):
                cpu["start" if batch_id == last_warmup else "end"] = self.tree.cpu()

        sink = ParquetSink(os.path.join(self.work, "out-drain"), on_return)
        with self.tracer.span("ops.query", phase="drain") as qspan:
            t0 = time.time()
            q = self.start_query(backlog, sink, available_now=True)
            if not q.awaitTermination(DRAIN_TIMEOUT_S):
                q.stop()
                raise RuntimeError(f"drain did not finish in {DRAIN_TIMEOUT_S}s")
        if q.exception() is not None:
            raise RuntimeError(f"drain failed: {q.exception()}")
        prog = self.progress(q)
        self._progress_spans(qspan, prog, sink)
        return prog, sink, sink.calls[last_warmup][1] - t0, cpu

    def spawn_generator(self) -> subprocess.Popen:
        """Start gen.py and wait until it has imported; it writes nothing
        until ``open_loop`` hands it the schedule's start."""
        self.land = os.path.join(self.work, "land")
        self.gen_report = os.path.join(self.work, "gen.json")
        g = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "gen.py"), "--out", self.land,
             "--seed", str(self.seed), "--workload", self.name,
             "--seconds", str(self.seconds), "--report", self.gen_report],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True,
        )
        self.tree.exclude(g.pid)
        if g.stdout.readline().strip() != "ready":
            raise RuntimeError("generator did not start")
        return g

    def open_loop(self, g: subprocess.Popen) -> dict:
        land, report_path = self.land, self.gen_report  # gen.py made ``land``
        sink = ParquetSink(os.path.join(self.work, "out-open"))
        with self.tracer.span("ops.query", phase="open") as qspan:
            q = self.start_query(land, sink, available_now=False)
            deadline = time.time() + 5
            while not q.recentProgress and time.time() < deadline:
                time.sleep(0.02)  # wait for the first (empty) trigger
            start_us = time.time_ns() // 1000 + 100_000
            g.stdin.write(f"{start_us}\n")
            g.stdin.close()
            g.wait(timeout=self.seconds + 30)
            if g.returncode != 0:
                raise RuntimeError(f"generator exited with {g.returncode}")
            with open(report_path) as f:
                report = json.load(f)
            rows_at_gen_end = _rows_read(q)
            deadline = time.time() + TAIL_TIMEOUT_S
            while time.time() < deadline:
                if _rows_read(q) >= report["events"] and not q.status["isTriggerActive"]:
                    break
                time.sleep(0.05)
            q.stop()
        if q.exception() is not None:
            raise RuntimeError(f"open loop failed: {q.exception()}")
        prog = self.progress(q)
        self._progress_spans(qspan, prog, sink)
        return {
            "progress": prog, "sink": sink, "report": report, "start_us": start_us,
            "land": land, "rows_at_gen_end": rows_at_gen_end,
        }

    def _progress_spans(self, parent, prog: list[dict], sink: ParquetSink) -> None:
        """Micro-batch spans from the public progress reports: one span per
        batch, its durationMs phases laid out in execution order as child
        spans, and the sink call (timed here) under addBatch."""
        if not self.tracer.enabled:
            return
        for p in prog:
            d = p.get("durationMs") or {}
            start = _ts(p["timestamp"])
            bid = p["batchId"]
            b = self.tracer.add(
                "ops.batch", start, start + d.get("triggerExecution", 0) / 1e3, parent,
                batch_id=bid, rows_in=p.get("numInputRows", 0),
                state=[{k: op.get(k) for k in ("numRowsTotal", "numRowsUpdated", "numRowsRemoved",
                                                  "memoryUsedBytes", "commitTimeMs")}
                       for op in p.get("stateOperators") or []],
            )
            t = start
            for key, span_name in PHASES:
                ms = d.get(key)
                if not ms:
                    continue
                sid = self.tracer.add(span_name, t, t + ms / 1e3, b)
                if key == "addBatch" and bid in sink.calls:
                    s0, s1 = sink.calls[bid]
                    self.tracer.add("sinks.foreach_batch", s0, s1, sid)
                t += ms / 1e3

    # -- checks -----------------------------------------------------------
    def check(self, out: str, inputs: str) -> tuple[int, int]:
        """(groups checked, groups that differ from DuckDB)."""
        con = duckdb.connect()
        got = f"read_parquet('{out}/batch=*/*.parquet', hive_partitioning = true)"
        src = f"read_parquet('{inputs}')"
        if self.name == "window_zipf":
            slide, n_win = spec.SLIDE_US, spec.WINDOW_US // spec.SLIDE_US
            sql = f"""
            WITH e AS (SELECT key, value, due_us, epoch_us(ts) AS us FROM {src}),
            x AS (SELECT key, (us // {slide} - j) * {slide} AS ws, count(*) AS cnt,
                         sum(value) AS s, max(value) AS mx, max(due_us) AS md
                  FROM e, range({n_win}) t(j) GROUP BY ALL),
            o AS (SELECT key, epoch_us(w_start) AS ws, cnt, sum_value AS s,
                         max_value AS mx, max_due_us AS md
                  FROM {got}
                  QUALIFY row_number() OVER (PARTITION BY key, w_start ORDER BY batch DESC) = 1)
            SELECT count(*), count(*) FILTER (WHERE x.key IS NULL OR o.key IS NULL
                   OR x.cnt <> o.cnt OR x.s <> o.s OR x.mx <> o.mx OR x.md <> o.md)
            FROM x FULL JOIN o USING (key, ws)"""
        else:
            sql = f"""
            WITH x AS (SELECT key, count(*) AS c, sum(value) AS s FROM {src} GROUP BY key),
            o AS (SELECT key, max(running_cnt) AS c, arg_max(running_sum, running_cnt) AS s,
                         count(*) AS n FROM {got} GROUP BY key)
            SELECT count(*), count(*) FILTER (WHERE x.key IS NULL OR o.key IS NULL
                   OR x.c <> o.c OR x.s <> o.s OR o.n <> o.c)
            FROM x FULL JOIN o USING (key)"""
        n, bad = con.execute(sql).fetchone()
        con.close()
        return int(n), int(bad)

    def latencies(self, ol: dict) -> tuple[np.ndarray, np.ndarray]:
        """(latency ms, batch id) per open-loop output row."""
        due = "max_due_us" if self.name == "window_zipf" else "epoch_us(ts)"
        con = duckdb.connect()
        rows = con.execute(
            f"SELECT batch, {due} AS due_us FROM read_parquet('{ol['sink'].out}/batch=*/*.parquet', "
            "hive_partitioning = true)"
        ).fetchnumpy()
        con.close()
        batch = np.asarray(rows["batch"], dtype="int64")
        due_us = np.asarray(rows["due_us"], dtype="int64")
        ret_us = np.array([ol["sink"].calls[b][1] * 1e6 for b in batch])
        return (ret_us - due_us) / 1000.0, batch

    # -- the run ----------------------------------------------------------
    def run(self, proc_start: float) -> Result:
        with self.tracer.span("bench.launch"):
            spark = self.engine.start()
        launch_s = time.time() - proc_start
        launch_cpu = self.tree.cpu_total()
        rounds, round_cpu = [], []
        for r in range(spec.SETUP_ROUNDS):
            with self.tracer.span("bench.setup_round", round=r):
                t0, c0 = time.time(), self.tree.cpu_total()
                backlog = os.path.join(self.work, f"backlog-{r}")
                with self.tracer.span("bench.stage"):
                    self.stage_backlog(backlog)
                self.build(backlog, available_now=True)
                rounds.append(time.time() - t0)
                round_cpu.append(self.tree.cpu_total() - c0)
        if self.tracer.enabled:
            from windflow_spark.streaming import monitor_streams

            self.monitor = monitor_streams(spark, max_history=1000)

        g = self.spawn_generator()
        try:
            with RssSampler(self.tree) as rss:
                warm_c0 = self.tree.cpu_total()
                drain_prog, drain_sink, warmup_s, drain_cpu = self.drain(backlog)
                ol = self.open_loop(g)
            cpu1 = self.tree.cpu()
        finally:
            if g.poll() is None:
                g.kill()
            g.wait()
            g.stdin.close()
            g.stdout.close()
        if self.monitor is not None:
            self.monitor.remove()
        setup_wall_s = launch_s + statistics.median(rounds) + warmup_s
        warmup_cpu = sum(drain_cpu["start"].values()) - warm_c0
        setup_cpu_s = launch_cpu + statistics.median(round_cpu) + warmup_cpu
        w, n = self.spec.warmup_batches, self.spec.timed_batches
        data_ids = [p["batchId"] for p in drain_prog if p.get("numInputRows")]
        if data_ids != list(range(w + n)):
            raise RuntimeError(f"drain ran batches {data_ids}, expected one file per batch")
        drain_s = drain_sink.calls[w + n - 1][1] - drain_sink.calls[w - 1][1]

        # correctness, outside the timed region
        checked = bad = 0
        for out, inputs in ((drain_sink.out, backlog), (ol["sink"].out, ol["land"])):
            c, b = self.check(out, os.path.join(inputs, "*.parquet"))
            checked, bad = checked + c, bad + b
        rows_in = sum(p.get("numInputRows", 0) for p in ol["progress"])
        never = max(0, ol["report"]["events"] - rows_in)
        all_prog = drain_prog + ol["progress"]
        dropped = sum(op.get("numRowsDroppedByWatermark", 0) or 0
                      for p in all_prog for op in p.get("stateOperators") or [])
        n_batches = sum(1 for p in all_prog if p.get("numInputRows"))
        attempted = n_batches + checked + ol["report"]["events"]
        failed = bad + never + dropped

        lat, lat_batch = self.latencies(ol)
        p50 = stats.row_percentile(lat, lat_batch, 50)
        p90 = stats.row_percentile(lat, lat_batch, 90)
        tail = stats.highest_supported(lat, lat_batch)
        cpu = {k: cpu1[k] - drain_cpu["start"][k] for k in cpu1}
        drain_cpu_s = sum(drain_cpu["end"][k] - drain_cpu["start"][k] for k in cpu1)
        e2e = {
            "setup_s": setup_cpu_s,
            "throughput_per_cpu_s": n * self.spec.file_events / drain_cpu_s,
            "cpu_s": sum(cpu.values()),
        }
        wall = {
            "wall.throughput_per_s": n * self.spec.file_events / drain_s,
            "wall.lat_p50_ms": p50.value,
            "wall.lat_p90_ms": p90.value,
            "wall.peak_rss_mb": rss.peak_mb,
        }
        summary = {
            **wall,
            "setup_wall_s": setup_wall_s,
            "launch_s": launch_s, "setup_rounds_s": rounds, "warmup_s": warmup_s,
            "launch_cpu_s": launch_cpu, "setup_rounds_cpu_s": round_cpu, "warmup_cpu_s": warmup_cpu,
            "peak_rss_mb_by_role": rss.peak_by_role,
            "drain_s": drain_s, "drain_cpu_s": drain_cpu_s,
            "lat_rows": p50.rows, "lat_batches": p50.batches,
            "lat_p50_batches_beyond": p50.batches_beyond,
            "lat_p90_batches_beyond": p90.batches_beyond,
            "lat_p90_supported": p90.supported,
            "lat_tail": None if tail is None else {"q": tail.q, "ms": tail.value},
            "gen": ol["report"],
            "traffic": {**dataclasses.asdict(self.spec.traffic),
                        "hottest_key_share": self.spec.traffic.hottest_share()},
            "groups_checked": checked, "groups_bad": bad, "events_never_emitted": never,
            "dropped_late": dropped,
        }
        layers = {**wall, **self._layers(ol, drain_prog, drain_sink, cpu, dropped)} if self.tracer.enabled else {}
        return Result(e2e, layers, attempted, failed, summary)

    def _layers(self, ol, drain_prog, drain_sink, cpu, dropped) -> dict[str, float]:
        prog = [p for p in ol["progress"] if p.get("numInputRows")]
        all_prog = drain_prog + ol["progress"]

        def med(key):
            vals = [(p.get("durationMs") or {}).get(key, 0) for p in prog]
            return float(statistics.median(vals)) if vals else 0.0

        def state_sum(key):
            return float(sum(op.get(key, 0) or 0 for p in all_prog for op in p.get("stateOperators") or []))

        def state_last(key):
            ops = (ol["progress"][-1].get("stateOperators") or []) if ol["progress"] else []
            return float(sum(op.get(key, 0) or 0 for op in ops))

        trig = [(p.get("durationMs") or {}).get("triggerExecution", 0) for p in prog] or [0]
        rows_in = float(sum(p.get("numInputRows", 0) for p in all_prog))
        # events of the open loop are consumed in generation order, so the
        # first event a batch reads is known from the cumulative row count
        traffic, start_us = self.spec.traffic, ol["start_us"]
        lags, consumed = [], 0
        for p in ol["progress"]:
            n = p.get("numInputRows", 0)
            if n:
                first_due_us = start_us + consumed * 1_000_000 // traffic.rate
                lags.append(_ts(p["timestamp"]) * 1e3 - first_due_us / 1e3)
            consumed += n
        per_slot = traffic.rate * gen.INTERVAL_US // 1_000_000
        backlog_events_end = max(0, ol["report"]["events"] - ol["rows_at_gen_end"])
        sinks = [drain_sink, ol["sink"]]
        rows_out = float(self._rows_written(sinks))  # the sink writes every output row
        fn_ms = [(t1 - t0) * 1e3 for t0, t1 in ol["sink"].calls.values()]
        builds = [s.end - s.start for s in self.tracer.spans if s.name == "ops.build"]
        return {
            "gen.late_ms_max": ol["report"]["late_ms_max"],
            "gen.events": float(ol["report"]["events"]),
            "sources.offset_ms": med("latestOffset"),
            "sources.get_batch_ms": med("getBatch"),
            "sources.backlog_files_end": float(-(-backlog_events_end // per_slot)),
            "sources.read_lag_ms": float(statistics.median(lags)) if lags else 0.0,
            "checkpoint.wal_commit_ms": med("walCommit"),
            "checkpoint.commit_offsets_ms": med("commitOffsets"),
            "ops.query_planning_ms": med("queryPlanning"),
            "ops.batches": float(len(prog)),
            "ops.build_ms": float(statistics.median(builds)) * 1e3,
            "ops.add_batch_ms": med("addBatch"),
            "ops.rows_in": rows_in,
            "ops.rows_out": rows_out,
            "ops.trigger_ms_p50": float(np.percentile(trig, 50)),
            "ops.trigger_ms_p90": float(np.percentile(trig, 90)),
            "state.rows_total": state_last("numRowsTotal"),
            "state.rows_updated": state_sum("numRowsUpdated"),
            "state.rows_removed": state_sum("numRowsRemoved"),
            "state.memory_bytes": state_last("memoryUsedBytes"),
            "state.commit_ms": state_sum("commitTimeMs"),
            "state.update_ms": state_sum("allUpdatesTimeMs"),
            "state.removal_ms": state_sum("allRemovalsTimeMs"),
            "state.dropped_late": float(dropped),
            "state.dropped_late_ratio": dropped / rows_in if rows_in else 0.0,
            "cpu.jvm_s": cpu["jvm"],
            "cpu.pyworker_s": cpu["pyworker"],
            "cpu.driver_s": cpu["driver"],
            "sinks.fn_ms": float(statistics.median(fn_ms)) if fn_ms else 0.0,
            "sinks.rows_written": rows_out,
            "sinks.bytes_written": float(sum(
                os.path.getsize(os.path.join(d, f))
                for s in sinks for d, _dirs, files in os.walk(s.out) for f in files
                if f.endswith(".parquet")
            )),
        }

    def _rows_written(self, sinks) -> int:
        con = duckdb.connect()
        n = sum(
            con.execute(f"SELECT count(*) FROM read_parquet('{s.out}/batch=*/*.parquet')").fetchone()[0]
            for s in sinks
        )
        con.close()
        return n

"""``stream_operator``: arcon's measured pipeline, a keyed custom
operator with event-time timers, fed one file per micro-batch by one
client (a closed loop).

    Stream.from_file(parquet, maxFilesPerTrigger=1)
      → key_by("k") → operator(WindowCount) → memory sink

The client moves the next tape file into the source directory only
after the engine reported the previous batch, so each batch holds
exactly one file and the tape's position is known when the run stops.
No-data batches are off: timers fire in the next data batch, which
keeps one batch per file.
"""

from __future__ import annotations

import json
import os
import threading
import time

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from arcon_spark.streaming.stateful import Operator
from perfbench import corpus, data, layers
from perfbench.harness import Run, TimedPhase, log
from perfbench.stats import geomean, median, summary, warm

KEYS = 256  # arcon's keyby integration test (keyby_integration.rs) uses 256 keys
EVENTS_PER_FILE = 1024  # arcon's default source batch: one batch per file
STEP_MS = 1  # arcon's custom_operator example: event time = element number
JITTER_MS = 2_000
LATE_ARRIVAL = "3 seconds"  # > JITTER_MS, so no event is ever dropped
WINDOW_MS = 1_000
WARM_BATCHES = 5
ONE_CORE_BATCHES = 10
MAX_FILES = 600
# two events of a key outside the tape, far ahead in event time: the
# first moves the watermark past every window, the second gives the
# batch in which every other key's due timers fire
FLUSH_KEY = -1
FLUSH_TIMES_MS = (1_893_456_000_000, 1_893_456_000_000)  # 2030-01-01, past any tape
SCHEMA = "id long, k long, v long, ts timestamp"
OUT_SCHEMA = "kind string, k long, window_end long, n long, total long, seq long, first_id long"


class WindowCount(Operator):
    """Per key: counts and sums values in 1-second event-time windows
    held in MapState, with one timer per window; on timeout emits the
    window and bumps a ValueState fire counter. Each element call
    also emits one 'call' row, so the run can count key calls and
    events per call from the output."""

    def handle_element(self, key, pdf, ctx):
        wins = ctx.map("win")
        t_ms = pdf["ts"].astype("int64") // 1_000_000  # datetime64[ns] → epoch ms
        ends = (t_ms // WINDOW_MS + 1) * WINDOW_MS
        agg = pd.DataFrame({"end": ends, "v": pdf["v"]}).groupby("end")["v"].agg(["count", "sum"])
        for end, row in agg.iterrows():
            end = int(end)
            cur = wins.get(end)
            if cur is None:
                ctx.schedule_at(end, payload=end)
                cur = (0, 0)
            wins.put(end, (cur[0] + int(row["count"]), cur[1] + int(row["sum"])))
        ctx.value("events").rmw(lambda n: n + len(pdf), 0)
        return [{"kind": "call", "k": int(key[0]), "window_end": -1, "n": len(pdf),
                 "total": int(pdf["v"].sum()), "seq": -1, "first_id": int(pdf["id"].min())}]

    def handle_timeout(self, key, time_ms, payload, ctx):
        n, total = ctx.map("win").remove(payload)
        seq = ctx.value("fires").rmw(lambda s: s + 1, 0)
        return [{"kind": "fire", "k": int(key[0]), "window_end": int(payload), "n": n,
                 "total": total, "seq": seq, "first_id": -1}]


class BatchListener:
    """The benchmark's own listener: keeps every progress event whole
    (durations, state operators, watermark), since ``recentProgress``
    holds only the last 100 and MeasureListener keeps only rates."""

    def __init__(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                outer._on_progress(event.progress)

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self.listener = _L()
        self.progress: list[dict] = []
        self._cond = threading.Condition()

    def _on_progress(self, p) -> None:
        rec = json.loads(p.json)
        rec["_seen"] = time.perf_counter()
        with self._cond:
            self.progress.append(rec)
            self._cond.notify_all()

    def wait_rows(self, total_rows: int, timeout: float = 60.0) -> dict:
        """Block until the reported input rows reach ``total_rows``;
        returns the progress of the batch that got there."""
        deadline = time.monotonic() + timeout
        with self._cond:
            while True:
                seen = sum(p["numInputRows"] for p in self.progress)
                if seen >= total_rows:
                    return self.progress[-1]
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError(f"stream stalled at {seen}/{total_rows} input rows")
                self._cond.wait(left)


class Loop:
    """One streaming query over a source directory that the client
    fills one tape file at a time."""

    def __init__(self, run: Run, spark, tape: data.Tape, tag: str) -> None:
        from arcon_spark.streaming.stream import Stream

        self.run, self.spark, self.tape, self.tag = run, spark, tape, tag
        self.src = run.path(tag, "src", "")
        self.staging = run.path(tag, "staging", "")
        self.listener = BatchListener()
        spark.streams.addListener(self.listener.listener)
        t0 = time.perf_counter()
        out = (
            Stream.from_file(spark, self.src, fmt="parquet", schema=SCHEMA, ts_col="ts", maxFilesPerTrigger="1")
            .key_by("k")
            .operator(WindowCount(), OUT_SCHEMA, late_arrival=LATE_ARRIVAL)
        )
        self.build_s = time.perf_counter() - t0
        self.sink = f"perfbench_{tag}"
        self.query = (
            out.df.writeStream.format("memory")
            .queryName(self.sink)
            .outputMode("append")
            .option("checkpointLocation", run.path(tag, "checkpoint", ""))
            .start()
        )
        self.released = 0
        self.rows_released = 0
        self.rounds: list[float] = []  # client release → batch reported, s
        self.batches: list[dict] = []

    def step(self, table: pa.Table | None = None) -> dict:
        """Release the next tape file (or ``table``) and wait for its
        batch."""
        f = self.released
        if table is None:
            if f >= len(self.tape.files):
                raise RuntimeError("tape exhausted")
            table = self.tape.files[f]
        staged = os.path.join(self.staging, f"{f:05d}.parquet")
        t0 = time.perf_counter()
        pq.write_table(table, staged)
        os.rename(staged, os.path.join(self.src, f"{f:05d}.parquet"))
        self.released += 1
        self.rows_released += table.num_rows
        p = self.listener.wait_rows(self.rows_released)
        self.rounds.append(time.perf_counter() - t0)
        self.batches.append(p)
        return p

    def drain(self) -> None:
        """Release the flush events, so every timer of the tape fires."""
        for i, t_ms in enumerate(FLUSH_TIMES_MS):
            self.step(pa.table({
                "id": pa.array([-1 - i], pa.int64()),
                "k": pa.array([FLUSH_KEY], pa.int64()),
                "v": pa.array([0], pa.int64()),
                "ts": pa.array([t_ms * 1000], pa.timestamp("us", tz="UTC")),
            }))

    def stop(self) -> None:
        self.query.stop()
        self.spark.streams.removeListener(self.listener.listener)

    def output(self) -> pd.DataFrame:
        return self.spark.table(self.sink).toPandas()


def _check(spark, loop: Loop) -> dict:
    """The drained stream's output against apply_operator_batch over
    the same released events (flush key excluded): the fire rows must
    be the same multiset (key, window, count, sum, per-key sequence),
    and the call rows must account for every released event, file by
    file. A mismatch is charged to the batch that carried the file."""
    from arcon_spark.streaming.stateful import apply_operator_batch

    out = loop.output()
    ref = apply_operator_batch(
        spark.read.schema(SCHEMA).parquet(loop.src), ["k"], WindowCount(), OUT_SCHEMA, order_cols=["ts", "id"]
    ).toPandas()
    out, ref = out[out.k != FLUSH_KEY], ref[ref.k != FLUSH_KEY]
    n_files = loop.released - len(FLUSH_TIMES_MS)

    bad: set[int] = set()
    calls = out[out.kind == "call"]
    per_file = calls.assign(f=calls.first_id // EVENTS_PER_FILE).groupby("f")["n"].sum()
    for f in range(n_files):
        if int(per_file.get(f, 0)) != loop.tape.files[f].num_rows:
            bad.add(f)

    cols = ["k", "window_end", "n", "total", "seq"]
    got = out[out.kind == "fire"][cols].assign(_i=lambda d: d.groupby(cols).cumcount())
    want = ref[ref.kind == "fire"][cols].assign(_i=lambda d: d.groupby(cols).cumcount())
    diff = got.merge(want, on=cols + ["_i"], how="outer", indicator=True)
    t0_ms = data.EPOCH_US // 1000
    for end in diff[diff._merge != "both"].window_end:
        f = (int(end) - WINDOW_MS - t0_ms) // (STEP_MS * EVENTS_PER_FILE)
        bad.add(min(max(f, 0), n_files - 1))

    return {
        "files": n_files,
        "bad_files": sorted(bad),
        "input_rows": int(sum(p["numInputRows"] for p in loop.batches)),
        "released_rows": loop.rows_released,
        "call_events": int(calls.n.sum()) + len(FLUSH_TIMES_MS),
        "fires": len(got),
        "ref_fires": len(want),
        "fire_mismatches": int((diff._merge != "both").sum()),
    }


def _phase(batches: list[dict], key: str) -> list[float]:
    return [float(b["durationMs"].get(key, 0)) for b in batches]


def _state(batches: list[dict], key: str) -> list[float]:
    return [float(sum(op.get(key, 0) for op in b.get("stateOperators", []))) for b in batches]


def run(run: Run) -> dict:
    with run.spans.span("workload:stream_operator"):
        with run.spans.span("setup.session"):
            t0 = time.perf_counter()
            spark = run.session(
                "perfbench_stream_operator",
                **{"spark.sql.streaming.noDataMicroBatches.enabled": "false"},
            )
            session_s = time.perf_counter() - t0
        gen = []
        for _ in range(3):
            t0 = time.perf_counter()
            tape = data.tape(run.seed, MAX_FILES, EVENTS_PER_FILE, KEYS, STEP_MS, JITTER_MS)
            gen.append(time.perf_counter() - t0)
        input_gen_s = median(gen)
        with run.spans.span("setup.warmup"):
            t0 = time.perf_counter()
            loop = Loop(run, spark, tape, "main")
            for _ in range(WARM_BATCHES):
                loop.step()
            warmup_s = time.perf_counter() - t0
        # process start to the first timed batch, with the three input
        # generations counted as their median
        setup_s = layers.process_age_s() - sum(gen) + input_gen_s
        log(f"setup {setup_s:.1f}s (session {session_s:.1f}, warm-up {warmup_s:.1f})")

        store = layers.StatusStore(spark) if run.trace else None
        traced_rounds: list[int] = []
        phase = TimedPhase(spark, run.trace)
        with run.spans.span("stream.run") as run_span:
            while True:
                i = len(loop.batches)
                p = loop.step()
                run.spans.add(f"batch:{p['batchId']}", p["_seen"] - p["durationMs"]["triggerExecution"] / 1e3,
                              p["_seen"], run_span)
                if run.trace and (i - WARM_BATCHES) % 2 == 1:
                    # the traced half of the batches pays for reading the
                    # status store before the next file is released
                    t0 = time.perf_counter()
                    store.jobs()
                    loop.rounds[-1] += time.perf_counter() - t0
                    traced_rounds.append(i)
                # a traced run needs a traced and an untraced batch after
                # the first timed one
                if time.perf_counter() - phase.t0 >= run.seconds and (not run.trace or i >= WARM_BATCHES + 2):
                    break
        timed = phase.finish()
        n_timed = len(loop.batches)
        with run.spans.span("check"):
            loop.drain()
            check = _check(spark, loop)
        loop.stop()

    loop.n_timed = n_timed
    steady = warm(loop.batches[:n_timed], WARM_BATCHES)
    rounds = warm(loop.rounds[:n_timed], WARM_BATCHES)
    trig = _phase(steady, "triggerExecution")
    rows = [float(b["numInputRows"]) for b in steady]
    for f in range(check["files"]):
        run.outcomes.record(f not in check["bad_files"], f"batch of file {f}: output differs from the batch run")
    if not check["input_rows"] == check["call_events"] == check["released_rows"]:
        run.outcomes.record(False, f"input rows {check['input_rows']}, operator saw {check['call_events']}, "
                                   f"released {check['released_rows']}")

    metrics = {
        "setup_s": setup_s,
        "round_p50_s": median(rounds),
        "query_geomean_s": geomean([median(trig) / 1e3]),
        "events_per_s": sum(rows) / (sum(trig) / 1e3),
        "batch_p50_ms": median(trig),
    }
    run.record.update(
        timed=timed,
        check=check,
        samples={"batch_ms": summary(trig), "round_s": summary(rounds)},
        config={"keys": KEYS, "events_per_file": EVENTS_PER_FILE, "warm_batches": WARM_BATCHES,
                "window_ms": WINDOW_MS, "late_arrival": LATE_ARRIVAL, "cpus": os.environ["SPARK_GRAFT_CPUS"]},
    )
    if run.trace:
        run.layers.update(_trace_layers(loop, steady, timed, traced_rounds, store))
        run.layers.update(session_start_s=session_s, input_gen_s=input_gen_s, warmup_s=warmup_s)
        run.layers["stream_operator.events_per_s_1core"] = _one_core(run)
    return metrics


def _trace_layers(loop: Loop, steady, timed, traced_rounds, store) -> dict:
    n = len(steady)
    trig = _phase(steady, "triggerExecution")
    add = _phase(steady, "addBatch")
    out = {
        "build_s": median([(t - a) / 1e3 for t, a in zip(trig, add)]),
        "run_s": median(add) / 1e3,
        "batch.add_batch_ms": median(add),
        "batch.planning_ms": median(_phase(steady, "queryPlanning")),
        "batch.get_batch_ms": median(_phase(steady, "getBatch")),
        "batch.latest_offset_ms": median(_phase(steady, "latestOffset")),
        "batch.wal_commit_ms": median(_phase(steady, "walCommit")),
        "batch.commit_offsets_ms": median(_phase(steady, "commitOffsets")),
        "state.commit_ms": median(_state(steady, "commitTimeMs")),
        "state.rows_total": median(_state(steady, "numRowsTotal")),
        "state.rows_updated": median(_state(steady, "numRowsUpdated")),
        "state.memory_bytes": median(_state(steady, "memoryUsedBytes")),
        "pipeline.build_s": loop.build_s,
    }
    # operator counts from the operator's own output rows
    outp = loop.output()
    calls = outp[outp.kind == "call"].assign(f=lambda d: d.first_id // EVENTS_PER_FILE)
    calls = calls[calls.f >= WARM_BATCHES]
    out["operator.key_calls_per_batch"] = len(calls) / n
    out["operator.events_per_key_call"] = float(calls.n.sum()) / max(1, len(calls))
    # a batch's output rows are its file's call rows plus the timers it
    # fired, so timers deferred to a later batch count where they fire
    calls_in_file = calls.groupby("f").size()
    fired = [b["sink"]["numOutputRows"] - int(calls_in_file.get(WARM_BATCHES + i, 0)) for i, b in enumerate(steady)]
    out["timers.fired_per_batch"] = float(sum(fired)) / n
    # engine counters per steady batch, from the jobs each batch ran
    jobs = store.jobs()
    stages = {s["stageId"]: s for s in store.stages()}
    execs = store.sql_executions()
    w = layers.Window(store)
    run_id = str(loop.query.runId)
    per_batch = []
    for b in steady[-20:]:
        tag = f"batch = {b['batchId']}"
        bj = [j for j in jobs if run_id in (j.get("description") or "") and tag in (j.get("description") or "")]
        e = w.engine(bj, stages)
        e.update(w.python_boundary({j["jobId"] for j in bj}, execs))
        per_batch.append(e)
    for k in per_batch[0] if per_batch else []:
        out[k] = median([e[k] for e in per_batch])
    cpu = timed["cpu_s"]
    batches_in_window = loop.n_timed - WARM_BATCHES
    out["cpu.jvm_s"] = cpu.get("jvm", 0.0) / batches_in_window
    out["cpu.python_workers_s"] = cpu.get("python_workers", 0.0) / batches_in_window
    out["cpu.driver_s"] = cpu.get("driver", 0.0) / batches_in_window
    out["rss_growth_mb_per_round"] = (timed["rss_end_mb"] - timed["rss_start_mb"]) / batches_in_window
    out["jvm.heap_peak_mb"] = timed["jvm_heap_peak_mb"]
    out["peak_rss_mb"] = timed["peak_rss_mb"]
    out.update(corpus.layer_medians([]))  # no corpus job, no parquet sink
    # the first timed batch, still warming, is in neither set
    timed_idx = range(WARM_BATCHES + 1, loop.n_timed)
    traced_set = set(traced_rounds)
    traced = [loop.batches[i]["durationMs"]["triggerExecution"] for i in timed_idx if i in traced_set]
    untraced = [loop.batches[i]["durationMs"]["triggerExecution"] for i in timed_idx if i not in traced_set]
    rt = [loop.rounds[i] for i in timed_idx if i in traced_set]
    ru = [loop.rounds[i] for i in timed_idx if i not in traced_set]
    out["trace.overhead_s"] = median(rt) - median(ru)
    out["trace.overhead_batch_ms"] = median(traced) - median(untraced)
    out["trace.samples"] = len(rt)
    return out


def _one_core(run: Run) -> float:
    """events/s of the same job on a fresh ``local[1]`` context: the
    single-threaded baseline."""
    from pyspark.sql import SparkSession

    SparkSession.getActiveSession().stop()
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    spark = run.session(
        "perfbench_stream_operator_1core",
        **{"spark.sql.streaming.noDataMicroBatches.enabled": "false", "spark.sql.shuffle.partitions": "1"},
    )
    tape = data.tape(run.seed + 1, WARM_BATCHES + ONE_CORE_BATCHES, EVENTS_PER_FILE, KEYS, STEP_MS, JITTER_MS)
    loop = Loop(run, spark, tape, "one_core")
    with run.spans.span("stream.one_core"):
        for _ in range(WARM_BATCHES + ONE_CORE_BATCHES):
            loop.step()
    loop.stop()
    steady = loop.batches[WARM_BATCHES:]
    return sum(b["numInputRows"] for b in steady) / (sum(_phase(steady, "triggerExecution")) / 1e3)

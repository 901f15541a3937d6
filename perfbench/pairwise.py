"""``pairwise``: six Python-kernel pairwise queries and the corpus-prep
job, one round running each once, in an order drawn from the seed.
The queries run through the ``noop`` sink; the corpus job ends in its
own partitioned parquet write and read-back (``perfbench.corpus``).

The first round collects every query result and is checked against
the query's DuckDB oracle (``plans.registry.oracle_sql()``) the way
``tools/check_parity.py`` compares them; it is also the warm-up. Every
timed query call counts its output rows through
``streaming.measure.observed_metrics`` and must match the oracle's
row count. Every corpus call must read back what the first one did,
and that must be the job re-done in pandas from the stage functions'
outputs, each of which must match its own oracle.
"""

from __future__ import annotations

import hashlib
import os
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

import numpy as np

from perfbench import corpus, data, layers
from perfbench.harness import Run, TimedPhase, log
from perfbench.stats import geomean, median, summary

QUERIES = {
    # query → the table it reads, for the input-row count
    "dedup_weighted_minhash": "documents",
    "fuzzy_match_customers": "customer",
    "dedup_embedding_cosine": "embeddings",
    "semdedup_embeddings": "embeddings",
    "user_activity_similarity": "events",
    "ts_similarity_radius_join": "events",
}
CALLS = (*QUERIES, corpus.NAME)
STAGE_ROWS = "corpus_stages"  # the warm-up's collect of each corpus stage, for the check
SF = 0.02
MIN_ROUNDS = 2
STREAM_COUNTS = ("state.rows_total", "state.rows_updated", "state.memory_bytes",
                 "operator.key_calls_per_batch", "operator.events_per_key_call", "timers.fired_per_batch")


def _digest(rows: list) -> str:
    return hashlib.sha256(repr(rows).encode()).hexdigest()[:16]


def _order(seed: int, round_no: int) -> list[str]:
    rng = np.random.default_rng(np.random.SeedSequence([seed, 11, round_no]))
    names = list(CALLS)
    return [names[i] for i in rng.permutation(len(names))]


def _oracle(sf_dir: str, names) -> dict[str, tuple]:
    """DuckDB oracle rows per query, normalised like check_parity."""
    import duckdb

    from arcon_spark.plans.registry import oracle_sql
    from tools.check_parity import _norm_rows

    sql = oracle_sql()
    con = duckdb.connect()
    con.sql(f"SET threads={os.environ['SPARK_GRAFT_CPUS']}")
    con.sql(f"SET temp_directory='{os.environ['TMPDIR']}'")
    for t in set(QUERIES.values()):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    out = {}
    for q in names:
        rel = con.sql(sql[q])
        out[q] = _norm_rows([d[0] for d in rel.description], rel.fetchall())
    con.close()
    return out


def run(run: Run) -> dict:
    from pyspark.sql import functions as F

    from arcon_spark.plans.registry import queries
    from arcon_spark.streaming.measure import observed_metrics
    from tools.check_parity import _norm_rows

    sf_dir = run.path("data", "")
    corpus_out = run.path("corpus", "out")
    with run.spans.span("workload:pairwise"):
        with run.spans.span("setup.session"):
            t0 = time.perf_counter()
            spark = run.session("perfbench_pairwise")
            session_s = time.perf_counter() - t0
        gen = []
        for _ in range(3):
            t0 = time.perf_counter()
            counts = data.write_tables(sf_dir, run.seed, SF, tuple(sorted(set(QUERIES.values()))))
            gen.append(time.perf_counter() - t0)
        input_gen_s = median(gen)
        qfn = queries()
        sc = spark.sparkContext

        # warm-up round: collect each query result for the oracle
        # comparison, the corpus job's read-back summary and cut-offs for
        # the later rounds', and each corpus stage's result for the
        # check. The cold calls run concurrently, as
        # tools/check_parity.py --jobs runs them; their cost is mostly
        # single-threaded driver and JIT work, so this roughly halves
        # the set-up.
        def collect(q: str):
            sc.setJobGroup(f"perfbench:warm:{q}", q)
            try:
                if q == corpus.NAME:
                    final, _, cuts = corpus.build(spark, sf_dir, _no_span)
                    return corpus.write_read(spark, final, corpus_out, _no_span)[0], cuts
                if q == STAGE_ROWS:
                    return _collect_stages(spark, qfn, sf_dir)
                df = qfn[q](spark, sf_dir)
                return _norm_rows(df.columns, [tuple(r) for r in df.collect()])
            except Exception as e:  # a failing call is a failed operation
                log(f"warm-up {q} raised {type(e).__name__}: {e}")
                return None

        with run.spans.span("setup.warmup"):
            t0 = time.perf_counter()
            with ThreadPoolExecutor(max_workers=len(CALLS)) as pool:
                spark_rows = dict(zip((*CALLS, STAGE_ROWS), pool.map(collect, (*CALLS, STAGE_ROWS))))
            stage_rows = spark_rows.pop(STAGE_ROWS)
            spark.catalog.clearCache()
            warmup_s = time.perf_counter() - t0
        setup_s = layers.process_age_s() - sum(gen) + input_gen_s
        log(f"setup {setup_s:.1f}s (session {session_s:.1f}, warm-up {warmup_s:.1f})")

        expected = {q: len(r[1]) for q, r in spark_rows.items() if r is not None and q in QUERIES}
        rounds: list[float] = []
        calls: dict[str, list[tuple[float, float]]] = {q: [] for q in CALLS}
        corpus_calls: list[dict] = []
        traced_rounds: list[int] = []
        per_call: list[dict] = []
        store = layers.StatusStore(spark) if run.trace else None
        phase = TimedPhase(spark, run.trace)
        r = 0
        with run.spans.span("timed"):
            # a traced run traces the even rounds and compares them with
            # the odd ones after the first, which is still warming
            min_rounds = 4 if run.trace else MIN_ROUNDS
            while r < min_rounds or time.perf_counter() - phase.t0 < run.seconds:
                r += 1
                traced = run.trace and r % 2 == 0
                cpu0 = layers.cpu_seconds() if traced else None
                with run.spans.span(f"round:{r}"):
                    t_round = time.perf_counter()
                    for q in _order(run.seed, r):
                        spark.catalog.clearCache()
                        sc.setJobGroup(f"perfbench:r{r}:{q}", q)
                        with run.spans.span(f"call:{q}"):
                            try:
                                if q == corpus.NAME:
                                    t0 = time.perf_counter()
                                    with run.spans.span("build"):
                                        final, stage_s, cuts = corpus.build(spark, sf_dir, run.spans.span)
                                    t1 = time.perf_counter()
                                    with run.spans.span("run"):
                                        summ, sink = corpus.write_read(spark, final, corpus_out, run.spans.span)
                                    t2 = time.perf_counter()
                                    ok = (summ, cuts) == spark_rows[q]
                                    run.outcomes.record(ok, f"round {r} {q}: read back {summ} with cut-offs {cuts}, "
                                                            f"expected {spark_rows[q]}")
                                    corpus_calls.append({**stage_s, **sink})
                                else:
                                    t0 = time.perf_counter()
                                    with run.spans.span("build"):
                                        df = qfn[q](spark, sf_dir)
                                    t1 = time.perf_counter()
                                    with run.spans.span("run"):
                                        obs_df, obs = observed_metrics(df, f"rows_r{r}_{q}", F.count(F.lit(1)).alias("n"))
                                        obs_df.write.format("noop").mode("overwrite").save()
                                    t2 = time.perf_counter()
                                    n = obs.get["n"]
                                    ok = n == expected.get(q)
                                    run.outcomes.record(ok, f"round {r} {q}: {n} rows, expected {expected.get(q)}")
                                calls[q].append((t1 - t0, t2 - t1))
                            except Exception as e:
                                run.outcomes.record(False, f"round {r} {q} raised {type(e).__name__}: {e}")
                    if traced:
                        # a traced round includes reading its layers
                        traced_rounds.append(r)
                        per_call.append(_round_layers(store, r, cpu0))
                    rounds.append(time.perf_counter() - t_round)
        timed = phase.finish()
        sc.setJobGroup("perfbench:check", "check")

        with run.spans.span("check"):
            oracle = _oracle(sf_dir, (*QUERIES, *corpus.ORACLES.values()))
        check = {}
        for q in QUERIES:
            got = spark_rows.get(q)
            ok = got is not None and got == oracle[q]
            run.outcomes.record(ok, f"{q}: spark result differs from the DuckDB oracle")
            check[q] = {
                "rows": len(oracle[q][1]),
                "oracle_digest": _digest(oracle[q]),
                "spark_digest": _digest(got) if got is not None else None,
            }
        check[corpus.NAME] = _check_corpus(run, spark, sf_dir, corpus_out, spark_rows[corpus.NAME], stage_rows, oracle)

    jobs = [j for j in layers.StatusStore(spark).jobs()
            if (j.get("jobGroup") or "").startswith("perfbench:r")]
    job_ms = [float(j["completionTime"] - j["submissionTime"]) for j in jobs
              if j.get("completionTime") and j.get("submissionTime")]
    per_query = {q: median([b + u for b, u in c]) for q, c in calls.items() if c}
    table = {**QUERIES, corpus.NAME: "documents"}
    total_rows = sum(counts[table[q]] * len(c) for q, c in calls.items())
    total_s = sum(b + u for c in calls.values() for b, u in c)
    metrics = {
        "setup_s": setup_s,
        "round_p50_s": median(rounds),
        "query_geomean_s": geomean(list(per_query.values())),
        "events_per_s": total_rows / total_s,
        "batch_p50_ms": median(job_ms),
    }
    run.record.update(
        timed=timed,
        check=check,
        input_rows=counts,
        samples={
            "round_s": summary(rounds),
            "job_ms": summary(job_ms),
            "query_s": {q: summary([b + u for b, u in c]) for q, c in calls.items() if c},
        },
        config={"sf": SF, "min_rounds": MIN_ROUNDS, "cpus": os.environ["SPARK_GRAFT_CPUS"]},
    )
    if run.trace:
        run.layers.update(session_start_s=session_s, input_gen_s=input_gen_s, warmup_s=warmup_s)
        run.layers.update(_trace_layers(calls, corpus_calls, rounds, traced_rounds, per_call, timed))
    return metrics


@contextmanager
def _no_span(name: str):
    """Stands in for ``Spans.span`` in the concurrent warm-up calls,
    whose spans would interleave."""
    yield


def _collect_stages(spark, qfn, sf_dir: str) -> dict[str, tuple[list, list]]:
    """Each corpus stage function's result: its columns and rows."""
    out = {}
    for stage, q in corpus.ORACLES.items():
        df = qfn[q](spark, sf_dir)
        out[stage] = (df.columns, [tuple(x) for x in df.collect()])
    return out


def _check_corpus(run: Run, spark, sf_dir: str, out_dir: str, warm_result, stage_rows, oracle) -> dict:
    """Each stage function's result against its DuckDB oracle, then the
    job re-done in pandas from those results against what the last
    round wrote, and the per-split counts of the warm-up round."""
    import pandas as pd
    import pyarrow.parquet as pq

    from tools.check_parity import _norm_rows

    out: dict = {"stages": {}}
    if stage_rows is None:
        run.outcomes.record(False, "corpus stages failed in the warm-up round")
        return out
    frames = {}
    for stage, q in corpus.ORACLES.items():
        cols, rows = stage_rows[stage]
        got = _norm_rows(cols, rows)
        run.outcomes.record(got == oracle[q], f"corpus stage {stage}: {q} differs from the DuckDB oracle")
        out["stages"][stage] = {"rows": len(rows), "oracle_digest": _digest(oracle[q]), "spark_digest": _digest(got)}
        frames[stage] = pd.DataFrame(rows, columns=cols)
    if warm_result is None:
        run.outcomes.record(False, "corpus job failed in the warm-up round")
        return out
    summ, cuts = warm_result
    docs = pq.read_table(os.path.join(sf_dir, "documents.parquet")).to_pandas()
    want = sorted(tuple(int(v) if i != 1 else v for i, v in enumerate(t))
                  for t in corpus.expected(docs, frames, cuts).itertuples(index=False))
    back = spark.read.parquet(out_dir).select("doc_id", "split", "bpe_ish_tokens").collect()
    got = sorted((int(x.doc_id), x.split, int(x.bpe_ish_tokens)) for x in back)
    want_counts = {s: sum(1 for t in want if t[1] == s) for s in {t[1] for t in want}}
    ok = got == want and want_counts == {s: n for s, (n, _) in summ.items()}
    run.outcomes.record(ok, f"corpus read-back differs from the job re-done in pandas: {len(got)} rows, "
                            f"expected {len(want)}; split counts {summ}, expected {want_counts}")
    out.update(rows=len(got), split_counts=want_counts, digest=_digest(got), cut_offs=cuts)
    return out


def _round_layers(store: layers.StatusStore, r: int, cpu0: dict) -> dict:
    """Engine, Python-boundary and CPU counters of one traced round,
    per query and summed."""
    cpu1 = layers.cpu_seconds()
    jobs = store.jobs()
    stages = {s["stageId"]: s for s in store.stages()}
    execs = store.sql_executions()
    w = layers.Window(store)
    out = {"cpu": {k: cpu1[k] - cpu0.get(k, 0.0) for k in cpu1}, "queries": {}}
    for q in CALLS:
        qj = [j for j in jobs if j.get("jobGroup") == f"perfbench:r{r}:{q}"]
        e = w.engine(qj, stages)
        e.update(w.python_boundary({j["jobId"] for j in qj}, execs))
        out["queries"][q] = e
    return out


def _trace_layers(calls, corpus_calls, rounds, traced_rounds, per_call, timed) -> dict:
    out = {}
    for q, c in calls.items():
        out[f"{q}.build_s"] = median([b for b, _ in c])
        out[f"{q}.run_s"] = median([u for _, u in c])
    out["build_s"] = sum(out[f"{q}.build_s"] for q in calls)
    out["run_s"] = sum(out[f"{q}.run_s"] for q in calls)
    keys = [k for k in per_call[0]["queries"][CALLS[0]]] if per_call else []
    for k in keys:
        # per round: summed over the round's calls, median over rounds
        out[k] = median([sum(pc["queries"][q][k] for q in CALLS) for pc in per_call])
        if k == "task.skew":
            out[k] = median([max(pc["queries"][q][k] for q in CALLS) for pc in per_call])
        for q in CALLS:
            out[f"{q}.{k}"] = median([pc["queries"][q][k] for pc in per_call])
    for part in ("jvm", "python_workers", "driver"):
        out[f"cpu.{part}_s"] = median([pc["cpu"].get(part, 0.0) for pc in per_call])
    n = len(rounds)
    out["rss_growth_mb_per_round"] = (timed["rss_end_mb"] - timed["rss_start_mb"]) / n
    out["jvm.heap_peak_mb"] = timed["jvm_heap_peak_mb"]
    out["peak_rss_mb"] = timed["peak_rss_mb"]
    out.update(corpus.layer_medians(corpus_calls))
    rt = [rounds[r - 1] for r in traced_rounds]
    ru = [rounds[r - 1] for r in range(2, n + 1) if r not in traced_rounds]
    out["trace.overhead_s"] = median(rt) - median(ru)
    out["trace.samples"] = len(rt)
    # a batch workload keeps no streaming state and calls no operator
    for k in STREAM_COUNTS:
        out[k] = 0.0
    return out

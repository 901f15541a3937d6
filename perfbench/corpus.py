"""The corpus-prep job of ``examples/corpus_pipeline.py`` as one call of
the ``pairwise`` round: the same stage functions, composed in the same
order, ending in a partitioned parquet write and a read-back.

The stages are re-composed here rather than calling the example's
``main()``, because that function stops the Spark session. A call has
two parts, timed apart like every other call of the round:
``build`` runs the stage functions and the two ``approxQuantile``
actions and returns the final DataFrame; ``write_read`` writes it
partitioned by split, reads it back and summarises it.
"""

from __future__ import annotations

import hashlib
import os
import statistics
import time

import pandas as pd

NAME = "corpus_pipeline"
STAGES = ("quality", "lm", "dsir", "exact_dedup", "clusters", "token_count")
ORACLES = {  # stage → the registry query (and DuckDB oracle) of its function
    "quality": "text_quality_score",
    "lm": "text_lm_perplexity",
    "dsir": "dsir_importance_weights",
    "exact_dedup": "dedup_exact",
    "clusters": "dedup_connected_clusters",
    "token_count": "text_token_count",
}
MIN_TOKENS, MAX_PUNCT = 32, 0.2
CE_Q, LW_Q, REL_ERR = 0.95, 0.05, 0.001
SUMMARY_COLS = ("doc_id", "text", "lang", "source", "n_chars", "bpe_ish_tokens")
# per-layer metric → the key of a call's timings it is the median of
LAYERS = {
    **{f"corpus.{st}.build_s": st for st in STAGES},
    "corpus.quantile_s": "quantile",
    "corpus.write_s": "write_s",
    "corpus.read_back_s": "read_back_s",
    "sink.bytes_written": "bytes_written",
    "sink.files_written": "files_written",
}


def _split(doc_id: int) -> str:
    h = hashlib.md5(f"split:{doc_id}".encode()).hexdigest()[:2]
    return "test" if h < "0d" else "val" if h < "1a" else "train"


def build(spark, sf_dir: str, span) -> tuple:
    """The stages up to the final DataFrame. Returns it with the time of
    each stage function and of the quantile actions, and the two
    quantile cut-offs."""
    from pyspark.sql import functions as F

    from arcon_spark.functions.dedup import dedup_connected_clusters, dedup_exact
    from arcon_spark.functions.text import (
        dsir_importance_weights,
        text_lm_perplexity,
        text_quality_score,
        text_token_count,
    )
    from arcon_spark.io import load_table

    t: dict[str, float] = {}

    def stage(name, fn):
        with span(f"stage:{name}"):
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            t[name] = time.perf_counter() - t0
        return df

    docs = load_table(spark, sf_dir, "documents")
    quality = stage("quality", text_quality_score).select("doc_id", "n_tokens", "punct_ratio")
    kept = (
        docs.join(quality, "doc_id")
        .filter((F.col("n_tokens") >= MIN_TOKENS) & (F.col("punct_ratio") <= MAX_PUNCT))
        .drop("n_tokens", "punct_ratio")
    )
    ppl = stage("lm", text_lm_perplexity).select("doc_id", "cross_entropy")
    dsir = stage("dsir", dsir_importance_weights).select("doc_id", "log_weight")
    with span("quantiles"):
        t0 = time.perf_counter()
        ce_cap = ppl.approxQuantile("cross_entropy", [CE_Q], REL_ERR)[0]
        lw_floor = dsir.approxQuantile("log_weight", [LW_Q], REL_ERR)[0]
        t["quantile"] = time.perf_counter() - t0
    kept = (
        kept.join(ppl, "doc_id", "left")
        .join(dsir, "doc_id", "left")
        .filter(
            (F.col("cross_entropy").isNull() | (F.col("cross_entropy") <= F.lit(ce_cap)))
            & (F.col("log_weight").isNull() | (F.col("log_weight") >= F.lit(lw_floor)))
        )
        .drop("cross_entropy", "log_weight")
    )
    canon = stage("exact_dedup", dedup_exact).select(F.col("canonical_doc_id").alias("doc_id"))
    kept = kept.join(canon, "doc_id")
    clusters = stage("clusters", dedup_connected_clusters)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    kept = kept.join(losers, "doc_id", "left_anti")
    toks = stage("token_count", text_token_count).select("doc_id", "bpe_ish_tokens")
    h = F.substring(F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))), 1, 2)
    final = kept.join(toks, "doc_id").withColumn(
        "split", F.when(h < "0d", "test").when(h < "1a", "val").otherwise("train")
    )
    return final, t, (ce_cap, lw_floor)


def write_read(spark, final, out_dir: str, span) -> tuple[dict, dict]:
    """Write ``final`` partitioned by split, read it back and summarise
    it: rows and an order-insensitive hash per split. Returns the
    summary and the sink figures (write and read-back time, bytes and
    files written)."""
    from pyspark.sql import functions as F

    with span("write"):
        t0 = time.perf_counter()
        final.write.mode("overwrite").partitionBy("split").parquet(out_dir)
        write_s = time.perf_counter() - t0
    with span("read_back"):
        t0 = time.perf_counter()
        back = spark.read.parquet(out_dir)
        row_hash = F.xxhash64(*SUMMARY_COLS).cast("decimal(38,0)")
        rows = back.groupBy("split").agg(F.count(F.lit(1)).alias("n"), F.sum(row_hash).alias("h")).collect()
        read_back_s = time.perf_counter() - t0
    files = [os.path.join(d, f) for d, _, fs in os.walk(out_dir) for f in fs if f.endswith(".parquet")]
    sink = {
        "write_s": write_s,
        "read_back_s": read_back_s,
        "bytes_written": float(sum(os.path.getsize(f) for f in files)),
        "files_written": float(len(files)),
    }
    return {r["split"]: (r["n"], str(r["h"])) for r in rows}, sink


def layer_medians(calls: list[dict]) -> dict[str, float]:
    """Each per-layer metric's median over the timed corpus calls; 0
    on a workload that runs no corpus job."""
    return {m: statistics.median(c[k] for c in calls) if calls else 0.0 for m, k in LAYERS.items()}


def expected(docs: pd.DataFrame, stage_rows: dict[str, pd.DataFrame], cuts: tuple[float, float]) -> pd.DataFrame:
    """The pipeline re-done in pandas from the stage functions' own
    outputs and the job's quantile cut-offs: (doc_id, split,
    bpe_ish_tokens) of every document the job should write."""
    ce_cap, lw_floor = cuts
    q = stage_rows["quality"]
    q = q[(q.n_tokens >= MIN_TOKENS) & (q.punct_ratio <= MAX_PUNCT)][["doc_id"]]
    kept = docs[["doc_id"]].merge(q, on="doc_id")
    kept = kept.merge(stage_rows["lm"][["doc_id", "cross_entropy"]], on="doc_id", how="left")
    kept = kept.merge(stage_rows["dsir"][["doc_id", "log_weight"]], on="doc_id", how="left")
    kept = kept[
        (kept.cross_entropy.isna() | (kept.cross_entropy <= ce_cap))
        & (kept.log_weight.isna() | (kept.log_weight >= lw_floor))
    ][["doc_id"]]
    canon = stage_rows["exact_dedup"][["canonical_doc_id"]].rename(columns={"canonical_doc_id": "doc_id"})
    kept = kept.merge(canon, on="doc_id")
    cl = stage_rows["clusters"]
    kept = kept[~kept.doc_id.isin(cl[cl.doc_id != cl.cluster_id].doc_id)]
    kept = kept.merge(stage_rows["token_count"][["doc_id", "bpe_ish_tokens"]], on="doc_id")
    kept["split"] = kept.doc_id.map(_split)
    return kept[["doc_id", "split", "bpe_ish_tokens"]]

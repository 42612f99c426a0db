"""Seeded inputs, the timed operator calls and their oracles.

Every input derives from the ``seed`` given on the command line; the
package only ever receives the generated DataFrames.  Each workload is a
fixed sequence of operator calls (one "pass") over inputs of its own:

- ``join_prefilter``: the naive join (the control) and three
  ``bloom_join`` variants over a token table and a lookup table, then
  ``incremental_dedup`` of a batch against a history;
- ``sketch_build``: the one-pass sketch suite, the multi-column pandas
  lane and a sketch-store write and read over the same token table.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import bloomjoin_spark as bj
from bloomjoin_spark.datagen import lookup_table, token_table
from bloomjoin_spark.hashing import hash_numeric_array
from bloomjoin_spark.operators import incremental_dedup
from bloomjoin_spark.operators.dedup import IncrementalDedupReport


@dataclass(frozen=True)
class Workload:
    ops: tuple[str, ...]  # one pass, in call order
    tok_rows: int = 0  # token table: join probe side, sketch input
    hist_rows: int = 0  # incremental_dedup history
    batch_rows: int = 0  # incremental_dedup batch (10% planted duplicates)


WORKLOADS = {
    "join_prefilter": Workload(
        ops=("naive_join", "bloom_join", "bloom_join_hinted", "bloom_join_sketch",
             "incr_dedup"),
        tok_rows=100_000, hist_rows=30_000, batch_rows=3_000),
    "sketch_build": Workload(
        ops=("sketch_suite", "sketch_multicol", "store_ingest", "store_refresh"),
        tok_rows=100_000),
}

#: every op any workload calls
ALL_OPS = (
    "naive_join", "bloom_join", "bloom_join_hinted", "bloom_join_sketch", "incr_dedup",
    "sketch_suite", "sketch_multicol", "store_ingest", "store_refresh",
)
#: ops that return the library's DataFrame (the others return sketches)
DATAFRAME_OPS = ("naive_join", "bloom_join", "bloom_join_hinted",
                 "bloom_join_sketch", "incr_dedup")

#: partitions of every generated table (one per local core)
PARTS = 4
#: the one-pass sketch suite: HLL p=14, CMS eps=delta=1e-3, t-digest 200, KLL 200
HLL_P, CMS_EPS, TD_COMPRESSION, KLL_K = 14, 1e-3, 200, 200
#: HLL answers are checked against this many relative standard errors
HLL_SIGMAS = 4
#: t-digest publishes no rank-error guarantee; the benchmark holds it to
#: this one (its observed error on these inputs is well below it)
TD_RANK_BOUND = 10.0 / TD_COMPRESSION


def _sketch_factories() -> dict:
    return {
        "hll": lambda: bj.HllSketch(HLL_P),
        "cms": lambda: bj.CmsSketch(eps=CMS_EPS, delta=CMS_EPS),
        "tdigest": lambda: bj.TDigestSketch(TD_COMPRESSION),
        "kll": lambda: bj.KllSketch(KLL_K),
    }


def _doc_text(seed: int, idc):
    return F.concat(F.lit(f"corpus {seed} document "), idc.cast("string"),
                    F.lit(" "), F.repeat(F.md5(idc.cast("string")), 2))


class Inputs:
    """The materialized inputs of one workload at one seed."""

    def __init__(self, spark: SparkSession, wl: Workload, seed: int, work_dir: str):
        self.spark, self.wl = spark, wl
        self.store_path = os.path.join(work_dir, "sketch_store")
        self.frames: list[DataFrame] = []
        if wl.tok_rows:
            self.toks = self._keep(token_table(
                spark, wl.tok_rows, vocab=50_000, max_tok=128, seed=seed,
                num_partitions=PARTS))
        if "naive_join" in wl.ops:
            self.lookup = self._keep(
                lookup_table(spark, wl.tok_rows, wl.tok_rows // 3, overlap=0.01,
                             seed=seed + 1, num_partitions=PARTS)
                .withColumn("payload", F.repeat(F.md5(F.col("doc_id")), 16)))
            self.n_lookup = self.lookup.count()
        if wl.hist_rows:
            n_hist = wl.hist_rows
            self.history = self._keep(
                spark.range(0, n_hist, 1, PARTS).select(
                    F.col("id").alias("doc_id"), _doc_text(seed, F.col("id")).alias("text")))
            dup = F.pmod(F.xxhash64(F.lit(seed), F.col("id")), F.lit(10)) == 0
            src = F.pmod(F.col("id") * 13 + F.lit(seed), F.lit(n_hist))
            self.batch = self._keep(
                spark.range(n_hist, n_hist + wl.batch_rows, 1, PARTS).select(
                    F.col("id").alias("doc_id"),
                    F.when(dup, _doc_text(seed, src))
                    .otherwise(_doc_text(seed, F.col("id"))).alias("text")))

    def _keep(self, df: DataFrame) -> DataFrame:
        df = df.persist()
        df.count()
        self.frames.append(df)
        return df

    def token_sample(self, n: int = 4000) -> pd.DataFrame:
        """``n`` rows (doc_id, tokens, n_tok) of the workload's token data."""
        return (self.toks.select("doc_id", "tokens", F.size("tokens").alias("n_tok"))
                .limit(n).toPandas())

    def release(self) -> None:
        for df in self.frames:
            df.unpersist(blocking=True)
        shutil.rmtree(self.store_path, ignore_errors=True)


# ---------------------------------------------------------------------------
# consumers: every action reads the columns a real caller would use
# ---------------------------------------------------------------------------

def _id_hash(col: str):
    """A 31-bit hash of an id, so sums of them cannot overflow a long."""
    return F.pmod(F.xxhash64(col), F.lit(2**31 - 1))


def consume_join(df: DataFrame) -> tuple:
    r = df.agg(F.count(F.lit(1)), F.sum(F.length("payload")),
               F.sum(F.size("tokens"))).first()
    return tuple(int(v or 0) for v in r)


def consume_ids(df: DataFrame) -> tuple:
    r = df.agg(F.count(F.lit(1)), F.sum(_id_hash("doc_id"))).first()
    return tuple(int(v or 0) for v in r)


# ---------------------------------------------------------------------------
# the operator calls: each returns (lazy DataFrame or None, finish) where
# finish() runs the consuming action and returns (result, details)
# ---------------------------------------------------------------------------

class Calls:
    def __init__(self, inputs: Inputs):
        self.i = inputs

    def naive_join(self):
        df = self.i.toks.join(self.i.lookup, "doc_id", "inner")
        return df, lambda: (consume_join(df), {})

    def bloom_join(self):
        df, rep = bj.bloom_join(self.i.toks, self.i.lookup, on="doc_id",
                                return_report=True)
        return df, lambda: (consume_join(df), _report_details(rep))

    def bloom_join_hinted(self):
        df, rep = bj.bloom_join(
            self.i.toks, self.i.lookup, on="doc_id", force_prefilter=True,
            collect_metrics=False, n_hint={"y": self.i.n_lookup},
            return_report=True)
        return df, lambda: (consume_join(df), _report_details(rep))

    def bloom_join_sketch(self):
        df, rep = bj.bloom_join(
            self.i.toks, self.i.lookup, on="doc_id", engine="bloom",
            force_prefilter=True, collect_metrics=True, return_report=True)

        def finish():
            out = consume_join(df)
            rep.finalize()
            return out, _report_details(rep)
        return df, finish

    def sketch_suite(self):
        res = bj.build_sketches(self.i.toks, _sketch_factories(), token_col="tokens")
        blob_kb = sum(len(r.sketch.to_bytes()) for r in res.values()) / 1024
        parts = max(r.n_partitions for r in res.values())
        return None, lambda: (res, {"blob_kb": blob_kb, "partials": parts})

    def sketch_multicol(self):
        res = bj.build_sketch(self.i.toks, lambda: bj.HllSketch(HLL_P),
                              cols=["source", "n_tok"])
        return None, lambda: (res, {})

    def store_ingest(self):
        facs = _sketch_factories()
        bj.append_sketch_snapshot(self.i.toks, {"hll": facs["hll"], "cms": facs["cms"]},
                                  self.i.store_path, "s0", token_col="tokens")
        return None, lambda: (None, _store_details(self.i.store_path))

    def store_refresh(self):
        store = bj.read_sketch_store(self.i.spark, self.i.store_path)
        sk = bj.store_sketch(store.where(F.col("name") == "hll"))
        return None, lambda: (sk.estimate(), {})

    def incr_dedup(self):
        rep = IncrementalDedupReport()
        df = incremental_dedup(self.i.batch, self.i.history, report=rep)
        return df, lambda: (consume_ids(df), _dedup_details(rep))


def _report_details(rep) -> dict:
    d = {"engine": rep.engine, "engine_fallback_reason": rep.engine_fallback_reason,
         "used_prefilter": rep.used_prefilter}
    if rep.probe_rows_before:
        d["probe_rows_before"] = rep.probe_rows_before
        d["probe_rows_after"] = rep.probe_rows_after
    return d


def _dedup_details(rep) -> dict:
    return {"engine": rep.engine, "engine_fallback_reason": rep.engine_fallback_reason,
            "n_batch": rep.n_batch, "n_candidates": rep.n_candidates,
            "n_cross_dups": rep.n_cross_dups}


def _store_details(path: str) -> dict:
    n_files, n_bytes = 0, 0
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n_files += 1
                n_bytes += os.path.getsize(os.path.join(root, f))
    return {"files": n_files, "snapshot_kb": n_bytes / 1024}


# ---------------------------------------------------------------------------
# oracles: computed once per run, untimed, with plain Spark
# ---------------------------------------------------------------------------

class Oracles:
    """Exact answers for the workload's calls (the joins are checked
    against the naive join of the same pass instead)."""

    def __init__(self, inputs: Inputs):
        ops = inputs.wl.ops
        if "incr_dedup" in ops:
            self.dedup = self._dedup(inputs)
        if "sketch_suite" in ops:
            self._sketch_truth(inputs)

    @staticmethod
    def _dedup(i: Inputs) -> tuple:
        def fp(df):
            return df.select(F.md5(F.lower(F.trim("text"))).alias("fp"), "doc_id")
        reps = fp(i.batch).groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
        new = reps.join(fp(i.history).select("fp").distinct(), "fp", "left_anti")
        return consume_ids(new)

    def _sketch_truth(self, i: Inputs) -> None:
        freq = (i.toks.select(F.explode("tokens").alias("t")).groupBy("t").count()
                .toPandas().sort_values("t"))
        self.tokens = freq["t"].to_numpy(np.int64)
        self.counts = freq["count"].to_numpy(np.int64)
        self.n_tokens = int(self.counts.sum())
        self.n_pairs = i.toks.select("source", "n_tok").distinct().count()

    def sketch_errors(self, suite: dict, multicol) -> dict[str, float]:
        """Observed error / published bound, per sketch; > 1 is a failure."""
        hll_bound = HLL_SIGMAS * bj.HllSketch(HLL_P).rel_std_error
        d_true = len(self.tokens)
        hll = abs(suite["hll"].sketch.estimate() - d_true) / d_true / hll_bound
        multi = abs(multicol.sketch.estimate() - self.n_pairs) / self.n_pairs / hll_bound
        cms_sk = suite["cms"].sketch
        top = np.argsort(self.counts)[-100:]
        pick = np.unique(np.concatenate(
            [top, np.linspace(0, len(self.tokens) - 1, 100).astype(np.int64)]))
        est = cms_sk.query_hashes(hash_numeric_array(self.tokens[pick]))
        over = est - self.counts[pick]
        # CMS never undercounts; an undercount is a wrong answer
        cms = float("inf") if (over < 0).any() else over.max() / (CMS_EPS * self.n_tokens)
        qs = np.linspace(0.01, 0.99, 99)
        kll = self._rank_error(suite["kll"].sketch.quantile(qs), qs) / suite["kll"].sketch.epsilon()
        td = self._rank_error(suite["tdigest"].sketch.quantile(qs), qs) / TD_RANK_BOUND
        return {"hll": hll, "multicol_hll": multi, "cms": float(cms),
                "kll": kll, "tdigest": td}

    def _rank_error(self, est: np.ndarray, qs: np.ndarray) -> float:
        """Largest distance of q from the true rank interval of the
        estimated q-quantile (ties make the interval non-trivial)."""
        cum = np.cumsum(self.counts) / self.n_tokens
        worst = 0.0
        for q, x in zip(qs, est):
            j = np.searchsorted(self.tokens, x, side="right")
            hi = cum[j - 1] if j > 0 else 0.0
            k = np.searchsorted(self.tokens, x, side="left")
            lo = cum[k - 1] if k > 0 else 0.0
            worst = max(worst, lo - q, q - hi, 0.0)
        return worst

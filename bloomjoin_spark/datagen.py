"""Deterministic synthesis of the north-rule input table (F0).

Schema (``/root/repo/BASELINE.json:15``):
``doc_id:string, tokens:array<int32>, n_tok:int32, source:string``

Design for 10^12-notional scale:
- generated DISTRIBUTED via ``spark.range(n).mapInPandas`` — the driver
  never materializes rows;
- counter-based randomness: every value derives from splitmix64 of the
  row id (not the partition), so the data is identical for ANY
  partitioning and any partition can be re-created independently —
  which is what makes lineage/resume tests reproducible (SURVEY.md
  "hard parts": seed-stable per partition id);
- token ids are zipf(1.1)-distributed over the vocab via an inverse-CDF
  table (heavy hitters for CMS signal, FIXTURES.md F0);
- ``source`` is skewed: one hot source holds ``hot_share`` of all rows
  (salting/AQE test bed, BASELINE.json:6).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .hashing import splitmix64

_U64 = np.uint64
_INV = 1.0 / 2.0**64

TOKEN_SCHEMA = "doc_id string, tokens array<int>, n_tok int, source string"
LOOKUP_SCHEMA = "doc_id string, meta string"


def _u01(x: np.ndarray, salt: int) -> np.ndarray:
    """Deterministic uniform(0,1) per uint64 counter."""
    return splitmix64(x ^ _U64(salt)).astype(np.float64) * _INV


def _zipf_cdf(vocab: int, alpha: float = 1.1) -> np.ndarray:
    w = (np.arange(1, vocab + 1, dtype=np.float64)) ** (-alpha)
    cdf = np.cumsum(w)
    return cdf / cdf[-1]


def token_table(
    spark: SparkSession,
    n_rows: int,
    vocab: int = 50_000,
    max_tok: int = 256,
    n_sources: int = 20,
    hot_share: float = 0.5,
    alpha: float = 1.1,
    seed: int = 42,
    num_partitions: int | None = None,
) -> DataFrame:
    """The F0 table, deterministically synthesized at any scale."""
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism
    cdf = _zipf_cdf(vocab, alpha)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64).view(np.uint64)
            n = ids.size
            # n_tok: skewed toward short docs, in [1, max_tok]
            u_len = _u01(ids, seed * 7 + 1)
            n_tok = (1 + np.floor((max_tok - 1) * u_len**3)).astype(np.int32)
            # sources: hot source 0 takes hot_share of rows
            u_src = _u01(ids, seed * 7 + 2)
            src_id = np.where(
                u_src < hot_share,
                0,
                1 + (np.floor(_u01(ids, seed * 7 + 3) * (n_sources - 1))).astype(np.int64),
            )
            # tokens: flat generation, one splitmix per token position
            offsets = np.concatenate([[0], np.cumsum(n_tok)]).astype(np.int64)
            total = int(offsets[-1])
            row_of = np.repeat(np.arange(n, dtype=np.int64), n_tok)
            pos = np.arange(total, dtype=np.int64) - offsets[row_of]
            counters = (ids[row_of] * _U64(0x10001)) + pos.view(np.uint64)
            u_tok = _u01(counters, seed * 7 + 4)
            flat_tokens = np.searchsorted(cdf, u_tok).astype(np.int32)
            tokens = [
                flat_tokens[offsets[i] : offsets[i + 1]] for i in range(n)
            ]
            yield pd.DataFrame(
                {
                    "doc_id": [f"doc_{i:012d}" for i in ids],
                    "tokens": tokens,
                    "n_tok": n_tok,
                    "source": [f"source_{s:02d}" for s in src_id],
                }
            )

    base = spark.range(0, n_rows, 1, num_partitions)
    return base.mapInPandas(gen, schema=TOKEN_SCHEMA)


def lookup_table(
    spark: SparkSession,
    n_x: int,
    n_y: int,
    overlap: float = 0.05,
    seed: int = 43,
    num_partitions: int | None = None,
) -> DataFrame:
    """Build-side companion (FIXTURES.md F0 lookup): ``n_y`` rows whose
    ``doc_id`` hits the token table with probability ``overlap``."""
    if num_partitions is None:
        num_partitions = max(1, spark.sparkContext.defaultParallelism // 2)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy(dtype=np.int64).view(np.uint64)
            u_hit = _u01(ids, seed * 11 + 1)
            target = np.floor(_u01(ids, seed * 11 + 2) * n_x).astype(np.int64)
            doc_ids = [
                f"doc_{t:012d}" if hit else f"miss_{j:012d}"
                for t, hit, j in zip(target, u_hit < overlap, ids)
            ]
            yield pd.DataFrame(
                {"doc_id": doc_ids, "meta": [f"m{j}" for j in ids]}
            )

    base = spark.range(0, n_y, 1, num_partitions)
    return base.mapInPandas(gen, schema=LOOKUP_SCHEMA)


def synthesize_media(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Deterministic fake media table: payload = utf-8 bytes of the text
    (an opaque blob as far as the pipeline is concerned), with declared
    metadata derived from the id."""
    t = F.col(text_col)
    payload = F.encode(t, "utf-8")
    return df.select(
        F.col(id_col).cast("bigint").alias("media_id"),
        payload.alias("payload"),
        F.when(F.col(id_col) % 3 == 0, F.lit("image"))
        .when(F.col(id_col) % 3 == 1, F.lit("audio"))
        .otherwise(F.lit("video"))
        .alias("modality"),
        F.octet_length(payload).cast("int").alias("n_bytes"),
        ((F.col(id_col) % 64) * 16 + 16).cast("int").alias("declared_width"),
        ((F.col(id_col) % 48) * 16 + 16).cast("int").alias("declared_height"),
    )

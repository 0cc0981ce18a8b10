"""Frequency operators: heavy hitters, CM point queries, min-count filter.

Reference semantics: the count-min filter gates sketch insertion at
`if(cm.addh(kmer) >= mincount) sketch.addh(kmer)`
(/root/reference/src/sketch_and_cmp.h:347); heavy-keeper/top-k is the
HeavyKeeper alternative (src/dashing.h:131-136). In the DataFrame model
the *candidate* top-k per group is a Window row_number (JVM-side,
shuffle-sorted); the CM sketch supplies point-estimate verification and
the scale path where exact counting of the long tail is too expensive.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window, functions as F, types as T

from dashing_spark.functions import CountMinSketch
from dashing_spark.functions.serde import sketch_from_bytes
from dashing_spark.operators import agg
from dashing_spark.operators.ship import ensure_shipped


def token_counts(df: DataFrame, key_cols: Sequence[str], text_col: str = "text") -> DataFrame:
    """Exact (key, token, cnt) counts — explode stays whole-stage-codegen."""
    return (
        df.select(*key_cols, F.explode(F.split(F.col(text_col), " ", -1)).alias("token"))
        .groupBy(*key_cols, "token")
        .agg(F.count("*").alias("cnt"))
    )


def top_k_tokens(
    df: DataFrame, key_cols: Sequence[str], k: int, text_col: str = "text"
) -> DataFrame:
    """Exact top-k tokens per key, deterministic tie-break (cnt desc,
    token asc) — the reference's NN-heap shape as a Window."""
    counts = token_counts(df, key_cols, text_col)
    w = Window.partitionBy(*key_cols).orderBy(F.col("cnt").desc(), F.col("token").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def freq_sketches_by_key(
    df: DataFrame,
    key_cols: Sequence[str],
    factories: "dict[str, object]",
    text_col: str = "text",
    salt: int | None = None,
) -> DataFrame:
    """EVERY frequency sketch in ``factories`` (name -> factory, e.g.
    CMS + HeavyKeeper) per key from ONE pass over the token stream —
    output (sketch_type, *key_cols, sketch). Keeps the build-side
    tokenize+hash convention (explode(split) + seedless xxhash64) in
    this module, matched with cms_point_query's candidate hashing, so
    the two cannot drift apart."""
    toks = df.select(
        *key_cols, F.explode(F.split(F.col(text_col), " ", -1)).alias("token")
    ).withColumn("__h", F.xxhash64("token"))
    return agg.sketch_hash_col_multi_type(toks, key_cols, factories, "__h", salt=salt)


def cms_by_key(
    df: DataFrame,
    key_cols: Sequence[str],
    text_col: str = "text",
    lg_width: int = 16,
    depth: int = 4,
    salt: int | None = None,
) -> DataFrame:
    """One count-min sketch of the token stream per key.

    Tokens are hashed JVM-side into one ``array<long>`` per row
    (``agg.token_hashes_col``: the same split and xxhash64 as the
    explode-based builds and ``cms_point_query``), so no row is made
    per token. Null-text rows carry no tokens and are dropped first: a
    key with only such rows gets no sketch."""
    return agg.sketch_tokens_by_key(
        df.filter(F.col(text_col).isNotNull()),
        key_cols,
        lambda: CountMinSketch.empty(lg_width, depth),
        text_col=text_col,
        salt=salt,
        hasher="jvm",
    )


def heavykeeper_by_key(
    df: DataFrame,
    key_cols: Sequence[str],
    text_col: str = "text",
    lg_width: int = 12,
    depth: int = 2,
    salt: int | None = None,
) -> DataFrame:
    """One HeavyKeeper top-k sketch of the token stream per key — the
    reference's CM alternative (/root/reference/src/dashing.h:131-136).
    Same pipeline shape as cms_by_key; point-query via cms_point_query
    (both sketches expose query_hashes)."""
    from dashing_spark.functions.heavykeeper import HeavyKeeper

    toks = df.select(
        *key_cols, F.explode(F.split(F.col(text_col), " ", -1)).alias("token")
    ).withColumn("__h", F.xxhash64("token"))
    return agg.sketch_hash_col_by_key(
        toks, key_cols, lambda: HeavyKeeper(lg_width, depth), "__h", salt=salt
    )


def cms_point_query(
    candidates: DataFrame,
    cms_sketches: DataFrame,
    key_cols: Sequence[str],
    token_col: str = "token",
    est_col: str = "cm_est",
) -> DataFrame:
    """Estimate each candidate token's count from its key's sketch.

    Join is on the key (sketch side is tiny → broadcast); the per-batch
    point queries are vectorized numpy. Returns candidates + ``est_col``.
    Works for any frequency sketch exposing ``query_hashes`` (CM,
    HeavyKeeper)."""
    ensure_shipped(candidates.sparkSession)
    key_cols = list(key_cols)
    joined = candidates.withColumn("__h", F.xxhash64(token_col)).join(
        F.broadcast(cms_sketches), key_cols
    )
    schema = T.StructType(
        [f for f in joined.schema.fields if f.name not in (agg.SKETCH_COL, "__h")]
        + [T.StructField(est_col, T.LongType(), False)]
    )
    out_cols = [f.name for f in schema.fields]

    def fn(batches):
        cache: dict[bytes, CountMinSketch] = {}
        for pdf in batches:
            ests = np.zeros(len(pdf), dtype=np.int64)
            for blob, grp in pdf.groupby(agg.SKETCH_COL, sort=False):
                cm = cache.get(blob)
                if cm is None:
                    cm = cache[blob] = sketch_from_bytes(blob)
                h = grp["__h"].to_numpy(dtype=np.int64).view(np.uint64)
                ests[grp.index.to_numpy()] = cm.query_hashes(h)
            pdf = pdf.reset_index(drop=True)
            ests_aligned = ests  # groupby preserved original positions via index
            out = pdf.drop(columns=[agg.SKETCH_COL, "__h"])
            out[est_col] = ests_aligned
            yield out[out_cols]

    return joined.mapInPandas(fn, schema=schema)


def min_count_filter(
    df: DataFrame,
    key_cols: Sequence[str],
    min_count: int,
    text_col: str = "text",
    use_cms: bool = False,
    lg_width: int | None = None,
    depth: int | None = None,
    backend: str | None = None,
) -> DataFrame:
    """(key, token) rows whose token frequency within the key ≥ min_count
    — the reference's `--min-count` pre-filter (src/sketch_and_cmp.h:347).

    ``backend``: "exact" (default — groupBy count + HAVING, all JVM-side,
    one shuffle on (key, token) at any scale), "cms", or "hk".
    CMS mode never drops a frequent token (CM never underestimates) but
    may keep rare collisions — the reference's one-sided error. HK mode
    is the opposite side (the reference's HeavyKeeper alternative,
    src/dashing.h:131-136): estimates never EXCEED the true count, so
    nothing infrequent slips through, but a flow decayed out of its
    buckets can be dropped — the right trade for top-heavy filters.
    ``use_cms`` is the legacy spelling of backend="cms".

    ``lg_width``/``depth`` default per backend (CMS: 20/1, HK: 12/2);
    explicit values are honored as given — the sketch constructor
    validates them, nothing is silently clamped.
    """
    if backend is None:
        backend = "cms" if use_cms else "exact"
    if lg_width is None:
        lg_width = 12 if backend == "hk" else 20
    if depth is None:
        depth = 2 if backend == "hk" else 1
    counts = token_counts(df, key_cols, text_col)
    if backend == "exact":
        return counts.filter(F.col("cnt") >= min_count)
    if backend == "cms":
        sketches = cms_by_key(df, key_cols, text_col, lg_width, depth)
        est = cms_point_query(counts.drop("cnt"), sketches, key_cols)
        return est.filter(F.col("cm_est") >= min_count)
    if backend == "hk":
        sketches = heavykeeper_by_key(
            df, key_cols, text_col, lg_width=lg_width, depth=depth
        )
        est = cms_point_query(
            counts.drop("cnt"), sketches, key_cols, est_col="hk_est"
        )
        return est.filter(F.col("hk_est") >= min_count)
    raise ValueError(f"unknown min_count_filter backend: {backend}")

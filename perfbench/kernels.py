"""Timed calls into the ``functions`` layer (the numpy kernels) on
batches of a workload's own generated input. Runs in the traced run
only, outside every Spark job."""

from __future__ import annotations

import statistics
import time

import numpy as np
import pyarrow as pa

from dashing_spark.functions import HLL, KLL, CountMinSketch, hashing
from dashing_spark.functions.compare import triple_batch_from_blobs

HLL_P = 10
KLL_K = 200
CMS_LG_WIDTH = 16
CMS_DEPTH = 4
#: each rate is timed over at least this many calls and seconds
MIN_REPS = 3
MIN_SECONDS = 0.3


def _rate(work: int, fn) -> float:
    """``work`` units / median seconds of ``fn()`` over repeated calls."""
    times = []
    t_end = time.perf_counter() + MIN_SECONDS
    while len(times) < MIN_REPS or time.perf_counter() < t_end:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return work / statistics.median(times)


def kernel_rates(texts, values, keys, hll_blobs=None) -> dict[str, float]:
    """Rates of the sketch and compare kernels.

    ``texts``: a batch of the workload's documents; ``values``: their
    ``n_chars``; ``keys``: the grouping key of each document, used to
    build per-key HLLs whose blobs feed the pair kernel when the run
    did not hand over its own (``hll_blobs``)."""
    arr = pa.array(list(texts), type=pa.string())
    th, lens = hashing.hash_tokens_arrow(arr)
    vals = np.asarray(values, dtype=np.float64)
    out = {
        "functions.hash_tokens.rows_per_s": _rate(
            len(arr), lambda: hashing.hash_tokens_arrow(arr)
        ),
        "functions.hll_update.hashes_per_s": _rate(
            len(th), lambda: HLL.empty(HLL_P).update_hashes(th)
        ),
        "functions.kll_update.values_per_s": _rate(
            len(vals), lambda: KLL.empty(KLL_K).update_batch(vals)
        ),
        "functions.cms_update.hashes_per_s": _rate(
            len(th), lambda: CountMinSketch.empty(CMS_LG_WIDTH, CMS_DEPTH).update_hashes(th)
        ),
    }
    if hll_blobs is None:
        _, key_codes = np.unique(np.asarray(keys), return_inverse=True)
        key_of = np.repeat(key_codes, lens)
        hll_blobs = [
            HLL.empty(HLL_P).update_hashes(th[key_of == k]).to_bytes()
            for k in np.unique(key_of)
        ]
    ia, ib = np.triu_indices(len(hll_blobs), 1)
    a = [hll_blobs[i] for i in ia]
    b = [hll_blobs[j] for j in ib]
    out["functions.pair_triple.pairs_per_s"] = _rate(
        len(a), lambda: triple_batch_from_blobs(a, b)
    )
    return out

"""Driver-side timings of the `kernel` layer on arrays from the workload
corpus: hashing throughput, per-kind update throughput, merge latency and
serialized size. Each figure is the median of `reps` timings."""

from __future__ import annotations

import statistics
import time

import numpy as np
import pandas as pd

# the five specs the sketch_analytics workload builds (same as bench.py)
KINDS = {
    "bloom": ({"m_bits": 1 << 18, "n_hashes": 3}, "keys"),
    "hll": ({"p": 12}, "keys"),
    "cms": ({"width": 2048, "depth": 5}, "keys"),
    "kll": ({"k": 200}, "vals"),
    "tdigest": ({"delta": 100.0}, "vals"),
}


def _median_time(fn, reps: int) -> float:
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def run(texts: list[str], reps: int = 3) -> dict[str, float]:
    """`texts` are normalized page texts."""
    from tetrex_spark.functions.text import token_shingle_hashes_series
    from tetrex_spark.kernel import REGISTRY, from_bytes
    from tetrex_spark.kernel.hashing import hash_char_kgrams_series, hash_ws_tokens_series

    series = pd.Series(texts)
    mb = sum(len(t) for t in texts) / 1e6
    out = {
        "kernel.hash_tokens_mb_per_s":
            mb / _median_time(lambda: hash_ws_tokens_series(series), reps),
        "kernel.hash_chargrams_mb_per_s":
            mb / _median_time(lambda: hash_char_kgrams_series(series, 3), reps),
    }
    data = {
        "keys": token_shingle_hashes_series(series, 3)[0],
        "vals": np.fromiter((len(w) for t in texts for w in t.split(" ") if w),
                            dtype=np.float64)[:50_000],
    }
    for kind, (params, src) in KINDS.items():
        arr = data[src]
        unit = "mkeys" if src == "keys" else "mvals"
        out[f"kernel.{kind}_update_{unit}_per_s"] = arr.size / 1e6 / _median_time(
            lambda: REGISTRY[kind](**params).update(arr), reps)
        half = arr.size // 2
        a = REGISTRY[kind](**params).update(arr[:half]).to_bytes()
        b = REGISTRY[kind](**params).update(arr[half:])
        merge_times = []
        for _ in range(reps):
            left = from_bytes(a)  # merge mutates its receiver
            t0 = time.perf_counter()
            merged = left.merge(b)
            merge_times.append(time.perf_counter() - t0)
        out[f"kernel.{kind}_merge_us"] = statistics.median(merge_times) * 1e6
        out[f"kernel.{kind}_blob_bytes"] = float(len(merged.to_bytes()))
    return out

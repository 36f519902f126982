"""Pure-numpy mergeable sketch kernels (zero Spark imports).

The UDAF family required by the north rule (BASELINE.json):
bloom / hll / cms / kll / tdigest (+ the exact charset behind the motif
index alphabet), each with
update(ndarray) / merge(other) / estimate() / to_bytes() / from_bytes().
"""

import sys

import numpy as np

from .base import Sketch, from_bytes, pack_payload, unpack_payload
from .bloom import BloomFilter, bloom_m_bits
from .charset import CharSet
from .cms import CountMinSketch
from .hll import HyperLogLog
from .kll import KLL
from .tdigest import TDigest

# _clz64 in hll.py views uint64 memory as bytes — little-endian only.
assert sys.byteorder == "little", "tetrex_spark kernels require a little-endian host"

REGISTRY: dict[str, type] = {
    BloomFilter.KIND: BloomFilter,
    HyperLogLog.KIND: HyperLogLog,
    CountMinSketch.KIND: CountMinSketch,
    KLL.KIND: KLL,
    TDigest.KIND: TDigest,
    CharSet.KIND: CharSet,
}

__all__ = [
    "Sketch",
    "BloomFilter",
    "HyperLogLog",
    "CountMinSketch",
    "KLL",
    "TDigest",
    "CharSet",
    "REGISTRY",
    "from_bytes",
    "pack_payload",
    "unpack_payload",
    "bloom_m_bits",
]

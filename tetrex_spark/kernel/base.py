"""Mergeable-sketch contract shared by every kernel.

The reference's index is a single compile-time type (IBF/HIBF,
/root/reference/include/index_ibf.h:18, index_hibf.h:17). We generalize it
to a family of mergeable sketches with one uniform lifecycle so the Spark
build pipeline (operators/sketch_build.py) is kernel-agnostic:

    s = Kind(**params)        # empty partial aggregate
    s.update(np.ndarray)      # absorb a batch of uint64 keys / float values
    s.merge(other)            # commutative+associative combine
    s.to_bytes() / from_bytes # deterministic serialization (parquet binary)
    s.estimate(...)           # kind-specific query

Determinism rule: for Bloom/HLL/CMS/charset the payload must be *byte-identical*
regardless of update batching and merge order (pure OR / max / add /
union lattices). KLL and t-digest are sampling sketches — payloads may differ
across merge orders, but every estimate must stay within the published
error bound (property-tested in tests/test_kernel_merge.py).
"""

from __future__ import annotations

import json
import struct
from typing import ClassVar

MAGIC = b"TXSK"
VERSION = 1


def pack_payload(kind: str, params: dict, body: bytes) -> bytes:
    """Self-describing envelope: magic, version, params JSON, body."""
    meta = json.dumps({"kind": kind, "params": params}, sort_keys=True).encode()
    return MAGIC + struct.pack("<HI", VERSION, len(meta)) + meta + body


def unpack_payload(blob: bytes) -> tuple[str, dict, bytes]:
    if blob[:4] != MAGIC:
        raise ValueError("not a tetrex_spark sketch payload")
    ver, mlen = struct.unpack_from("<HI", blob, 4)
    if ver != VERSION:
        raise ValueError(f"unsupported sketch payload version {ver}")
    meta = json.loads(blob[10 : 10 + mlen])
    return meta["kind"], meta["params"], blob[10 + mlen :]


class Sketch:
    KIND: ClassVar[str] = "?"

    def params(self) -> dict:  # pragma: no cover - abstract
        raise NotImplementedError

    def _body(self) -> bytes:  # pragma: no cover - abstract
        raise NotImplementedError

    def to_bytes(self) -> bytes:
        return pack_payload(self.KIND, self.params(), self._body())

    def _check_mergeable(self, other: "Sketch") -> None:
        if type(self) is not type(other) or self.params() != other.params():
            raise ValueError(
                f"cannot merge {type(self).__name__}{self.params()} "
                f"with {type(other).__name__}{other.params()}"
            )


def from_bytes(blob: bytes) -> Sketch:
    """Reconstruct any sketch from its envelope (registry dispatch)."""
    from . import REGISTRY

    kind, params, body = unpack_payload(blob)
    cls = REGISTRY[kind]
    return cls._from_body(params, body)

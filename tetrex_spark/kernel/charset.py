"""Exact code-point set kernel — the closed alphabet of an indexed corpus.

TetRex gets its closed alphabet for free from the fixed residue set; a web
corpus has to observe its own. The motif planner expands '.' and negated
classes over exactly the characters the index holds (plans/planner.py),
so the set rides along in the same map-side partial / merge-tree build as
the char-kgram Bloom (operators/sketch_build.py) instead of costing its
own corpus pass.

Keys are Unicode code points (source 'char'); the state is their sorted
distinct set. Merge = set union → byte-identical payloads under any
update batching and merge order.
"""

from __future__ import annotations

import numpy as np

from .base import Sketch

MAX_CODE_POINT = 0x10FFFF


class CharSet(Sketch):
    KIND = "charset"

    def __init__(self, *, codes: np.ndarray | None = None):
        # sorted, distinct uint32 code points
        self.codes = codes if codes is not None else np.zeros(0, dtype=np.uint32)

    def params(self) -> dict:
        return {}

    def update(self, keys: np.ndarray) -> "CharSet":
        keys = np.asarray(keys)
        if keys.size == 0:
            return self
        if keys.dtype.kind not in "iu" or keys.min() < 0 or keys.max() > MAX_CODE_POINT:
            raise ValueError("charset keys must be Unicode code points")
        # presence scatter: O(n + max code point), no sort of the key stream
        present = np.zeros(int(keys.max()) + 1, dtype=bool)
        present[keys] = True
        self.codes = np.union1d(self.codes, np.flatnonzero(present).astype(np.uint32))
        return self

    def merge(self, other: "CharSet") -> "CharSet":
        self._check_mergeable(other)
        self.codes = np.union1d(self.codes, other.codes)
        return self

    def contains(self, keys: np.ndarray) -> np.ndarray:
        return np.isin(np.atleast_1d(keys), self.codes)

    def estimate(self) -> float:
        return float(self.codes.size)

    def chars(self) -> str:
        """The set as a string, in code-point order."""
        return "".join(map(chr, self.codes.tolist()))

    def _body(self) -> bytes:
        return self.codes.astype("<u4").tobytes()

    @classmethod
    def _from_body(cls, params: dict, body: bytes) -> "CharSet":
        codes = np.frombuffer(body, dtype="<u4").astype(np.uint32)
        if codes.size and (
            np.any(codes[1:] <= codes[:-1]) or codes[-1] > MAX_CODE_POINT
        ):
            raise ValueError("charset payload is not a sorted code-point set")
        return cls(codes=codes)

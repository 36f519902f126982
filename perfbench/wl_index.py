"""sketch_motif: the sketch_analytics cycle and the motif_search call
stream on one corpus, as one workload.

One op cycle: build_sketches (the five bench.py specs) -> write_sketch_table
-> collect_sketches -> merged answers -> heavy_hitters -> MotifIndex.build
into a fresh directory -> track -> a block of 8 motif calls against it.
Both halves of the repo's motif index (write and read side) and the sketch
family run here; the dedup family runs in dedup_curation.
"""

from __future__ import annotations

import shutil

from . import gen
from .wl_motif import MotifPart
from .wl_sketch import SketchPart


class SketchMotif:
    name = "sketch_motif"
    shape = gen.Shape(n_docs=1500)

    def __init__(self):
        self.sk, self.mo = SketchPart(), MotifPart()

    def prepare(self, seed: int, work: str) -> dict:
        self.work = work
        cols, planted = gen.generate(seed, self.shape)
        gen.write_table(cols, f"{work}/pages", self.shape.n_files)
        self.sk.absorb(seed, work, cols, planted)
        return gen.traffic(cols, planted) | self.mo.absorb(seed, work, cols, planted)

    def setup(self, spark) -> None:
        self.sk.setup(spark)
        self.mo.spark, self.mo.corpus = spark, self.sk.corpus

    def begin(self) -> None:
        self.mo.begin()

    def cycle(self, ops, i: int) -> None:
        index_dir = f"{self.work}/motif-{i}"
        idx = self.sk.cycle(ops, i, index_dir)
        if idx is not None:
            self.mo.cycle(ops, idx, index_dir)

    def cleanup(self, i: int) -> None:
        for d in (f"{self.work}/sketches-{i}", f"{self.work}/motif-{i}"):
            shutil.rmtree(d, ignore_errors=True)

    def named_metrics(self, tracer) -> dict:
        return self.sk.named_metrics(tracer) | self.mo.named_metrics(tracer)

    def probe(self, tracer) -> dict:
        return self.mo.probe(tracer)

    def layer_metrics(self, tracer) -> dict:
        return self.sk.layer_metrics(tracer) | self.mo.layer_metrics(tracer)

    def kernel_texts(self) -> list[str]:
        return self.sk.texts

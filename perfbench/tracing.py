"""Spans around the ER pipeline's layer entry points, recorded from outside.

``run_pipeline`` reaches every layer through module attributes
(``blocking.choose_banding``, ``clustering.connected_components``, ...)
and through ``Checkpointer.write``, so replacing those attributes for the
duration of a traced call attributes its time without editing the
package. Each outermost span tags the jobs it starts with
``setJobGroup(<tag>|<layer>)`` so the event log can be split per layer,
and harvests the Python UDF profiler, so Python-side time is split per
layer too.
"""

from __future__ import annotations

import functools
import pstats
import shutil
import time
from contextlib import contextmanager
from pathlib import Path

from globalign_spark.pipeline import blocking, clustering, metrics
from globalign_spark.pipeline import orchestrator

# Checkpointed stage -> the layer whose work its write forces.
STAGE_LAYER = {
    "s0_normalized": "normalize",
    "s0b_rep_map": "normalize",
    "s1_signatures": "blocking.signatures",
    "s1_candidates": "blocking.lsh",
    "s3_scores": "scoring",
    "s4_edges": "scoring",
    "s4b_rescue_edges": "blocking.rescue",
    "s5_components": "clustering",
}

# Layers in pipeline order; ``metrics`` is the untimed evaluation.
LAYERS = (
    "normalize",
    "blocking.signatures",
    "blocking.choose_banding",
    "blocking.lsh",
    "scoring",
    "blocking.rescue",
    "clustering",
    "metrics",
)

# Profiled Python functions: (file name, function name) -> counter. The
# profiler strips directories from the file names it records.
PROFILED = {
    ("kernel.py", "align_cost_batch"): "kernel",
    # score_pairs' mapInPandas body: Arrow -> pandas, chunking, kernel.
    ("scoring.py", "run"): "scoring",
    # minhash_signature_col's pandas UDF.
    ("blocking.py", "sig"): "signatures",
}


class Tracer:
    """Records the spans of traced calls; ``installed()`` patches the
    layer entry points for the duration of a ``with`` block."""

    def __init__(self, spark, tag: str, profile_dir: Path | None = None):
        self.spark = spark
        self.tag = tag
        self.profile_dir = profile_dir
        self.spans: list[tuple[str, float, float]] = []  # outermost only
        self.python_s: dict[tuple[str, str], float] = {}  # (layer, counter)
        self.harvest_s = 0.0  # time spent harvesting the profiler
        self._depth = 0
        self._dumps = 0

    @contextmanager
    def span(self, layer: str):
        outer = self._depth == 0
        self._depth += 1
        sc = self.spark.sparkContext
        if outer:
            sc.setJobGroup(f"{self.tag}|{layer}", layer)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._depth -= 1
            if outer:
                sc._jsc.clearJobGroup()
                self.spans.append((layer, t0, t1))
                self._harvest_profile(layer)

    def _harvest_profile(self, layer: str) -> None:
        """Move the profiler's accumulated results into ``python_s``."""
        if self.profile_dir is None:
            return
        t0 = time.perf_counter()
        self._dumps += 1
        out = self.profile_dir / str(self._dumps)
        self.spark.profile.dump(str(out), type="perf")
        self.spark.profile.clear(type="perf")
        for f in out.glob("*.pstats"):
            for (path, _line, name), row in pstats.Stats(str(f)).stats.items():
                counter = PROFILED.get((Path(path).name, name))
                if counter is not None:
                    key = (layer, counter)
                    # row[3] is cumulative time.
                    self.python_s[key] = self.python_s.get(key, 0.0) + row[3]
        shutil.rmtree(out, ignore_errors=True)
        self.harvest_s += time.perf_counter() - t0

    def layer_walls(self, t0: float, t1: float) -> dict[str, float]:
        """Wall per layer over outermost spans that lie within [t0, t1]."""
        out: dict[str, float] = {}
        for layer, s, e in self.spans:
            if s >= t0 and e <= t1:
                out[layer] = out.get(layer, 0.0) + (e - s)
        return out

    def _wrap(self, fn, layer: str, force_result_collect: bool = False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(layer):
                result = fn(*args, **kwargs)
            if force_result_collect:
                # lsh_candidates / rescue_candidates return lazy (pairs,
                # stats); the caller's stats.collect() is the first action
                # that runs them, so it belongs to the same layer.
                stats = result[1]
                collect = stats.collect

                def traced_collect():
                    with self.span(layer):
                        return collect()

                stats.collect = traced_collect
            return result

        return traced

    @contextmanager
    def installed(self):
        """Patch the layer entry points; restore them on exit."""
        ck_write = orchestrator.Checkpointer.write
        tracer = self

        def traced_write(ck, name, df, meta=None):
            with tracer.span(STAGE_LAYER.get(name, name)):
                return ck_write(ck, name, df, meta)

        patches = [
            (orchestrator.Checkpointer, "write", traced_write),
            (blocking, "choose_banding",
             self._wrap(blocking.choose_banding, "blocking.choose_banding")),
            (blocking, "lsh_candidates",
             self._wrap(blocking.lsh_candidates, "blocking.lsh", True)),
            (blocking, "rescue_candidates",
             self._wrap(blocking.rescue_candidates, "blocking.rescue", True)),
            (clustering, "connected_components",
             self._wrap(clustering.connected_components, "clustering")),
            (metrics, "pairwise_prf", self._wrap(metrics.pairwise_prf, "metrics")),
            (metrics, "blocking_quality",
             self._wrap(metrics.blocking_quality, "metrics")),
        ]
        saved = [(obj, name, getattr(obj, name)) for obj, name, _ in patches]
        try:
            for obj, name, new in patches:
                setattr(obj, name, new)
            yield self
        finally:
            for obj, name, old in saved:
                setattr(obj, name, old)

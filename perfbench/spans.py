"""In-memory span tracer for the traced run.

The benchmark never edits engine code. In the traced run it rebinds
public engine functions to timing wrappers: the module attribute and
every other module that imported the same function object by name, so
``from x import f`` call sites are covered too. Spans stay in memory
and are reduced to per-layer metrics when the run ends.

A span is (name, start, end, parent). Self time is a span's duration
minus the union of its child spans. Parents are tracked per thread: the
genre-ALS monitor runs on a background thread, so its spans overlap the
trainer's own without becoming their children.
"""

from __future__ import annotations

import functools
import sys
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    children: list[int] = field(default_factory=list)


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.events: list[tuple[str, float, float]] = []  # (key, time, n)
        self._stack = threading.local()
        self._lock = threading.Lock()

    # -- spans -------------------------------------------------------------
    def _parents(self) -> list[int]:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    def begin(self, name: str) -> int:
        parents = self._parents()
        with self._lock:
            idx = len(self.spans)
            parent = parents[-1] if parents else None
            self.spans.append(Span(name, time.time(), parent=parent))
            if parent is not None:
                self.spans[parent].children.append(idx)
        parents.append(idx)
        return idx

    def end(self, idx: int) -> None:
        self.spans[idx].end = time.time()
        parents = self._parents()
        if parents and parents[-1] == idx:
            parents.pop()

    def count(self, key: str, n: float = 1.0) -> None:
        with self._lock:
            self.events.append((key, time.time(), n))

    def counted(self, key: str, since: float = 0.0) -> float:
        return sum(n for k, t, n in self.events if k == key and t >= since)

    def total(self, name: str, since: float = 0.0, until: float = float("inf")
              ) -> tuple[int, float]:
        """(calls, summed seconds) of spans called ``name`` that started
        in [since, until)."""
        sel = [s for s in self.spans
               if s.name == name and since <= s.start < until and s.end]
        return len(sel), sum(s.end - s.start for s in sel)

    def self_time(self, name: str, since: float = 0.0) -> float:
        """Summed self time of spans called ``name``: duration minus the
        union of child-span intervals."""
        out = 0.0
        for s in self.spans:
            if s.name != name or s.start < since or not s.end:
                continue
            covered = union_seconds(
                (self.spans[c].start, self.spans[c].end or s.end) for c in s.children
            )
            out += (s.end - s.start) - covered
        return out

    # -- wrapping ----------------------------------------------------------
    def wrap(self, module, attr: str, span: str, on_result=None) -> None:
        """Replace ``module.attr`` (and every imported alias of it) with a
        span-recording wrapper."""
        orig = getattr(module, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            idx = tracer.begin(span)
            try:
                out = orig(*args, **kwargs)
            finally:
                tracer.end(idx)
            if on_result is not None:
                on_result(out)
            return out

        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith(
                "recommender_systems_spark"
            ):
                continue
            if getattr(mod, attr, None) is orig:
                setattr(mod, attr, wrapper)
        setattr(module, attr, wrapper)

    def wrap_method(self, classes, attr: str, counter) -> None:
        """Count calls of ``attr`` on each class that defines it, under
        the key ``counter(args, kwargs)``."""
        tracer = self
        for cls in classes:
            orig = cls.__dict__.get(attr)
            if orig is None:
                continue

            def wrapper(*args, _orig=orig, **kwargs):
                tracer.count(counter(args, kwargs))
                return _orig(*args, **kwargs)

            setattr(cls, attr, functools.wraps(orig)(wrapper))


def union_seconds(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# Public engine functions the traced run wraps: (module, attribute, span).
SPANS = [
    ("recommender_systems_spark.session", "get_spark", "session.get_spark"),
    ("recommender_systems_spark.deploy", "ensure_shipped", "deploy.ensure_shipped"),
    ("recommender_systems_spark.io", "load_table", "io.load_table"),
    ("recommender_systems_spark.io", "write_factors", "io.factors_write"),
    ("recommender_systems_spark.io", "read_factors", "io.factors_read"),
    ("recommender_systems_spark.ml.als", "als_half_sweep", "ml.als.half_sweep"),
    ("recommender_systems_spark.ml.als", "sweep_monitor", "ml.als.monitor"),
    ("recommender_systems_spark.ml.genre_als", "genre_a_stats", "ml.genre_als.stats"),
    ("recommender_systems_spark.ml.genre_als", "update_genre_features", "ml.genre_als.stats"),
    ("recommender_systems_spark.ml.bpr", "popularity_pool_distributed", "ml.bpr.pool"),
    ("recommender_systems_spark.ml.bpr", "popularity_pools_distributed", "ml.bpr.pool"),
    ("recommender_systems_spark.ml.bpr", "precision_recall_at_k", "ml.bpr.eval"),
    # train_bpr's fixed-count user-sample evaluation takes this route.
    ("recommender_systems_spark.ml.bpr", "_eval_pr_driver", "ml.bpr.eval"),
    ("recommender_systems_spark.ml.bpr", "train_bpr", "ml.bpr.train"),
    ("recommender_systems_spark.ml.ials", "train_ials", "ml.ials.train"),
    ("recommender_systems_spark.ml.foldin", "fold_in_bias_and_trait_vector", "ml.foldin.fold_in"),
]
OPERATORS = [
    ("recommender_systems_spark.operators.densify", "dense_id_map"),
    ("recommender_systems_spark.operators.densify", "densify_ids"),
    ("recommender_systems_spark.operators.relational", "anti_join_below_threshold"),
    ("recommender_systems_spark.operators.relational", "relative_frequency"),
    ("recommender_systems_spark.operators.relational", "global_top_k"),
    ("recommender_systems_spark.operators.relational", "group_top_k"),
    ("recommender_systems_spark.operators.relational", "cumulative_sum"),
    ("recommender_systems_spark.operators.relational", "two_phase_midrank"),
    ("recommender_systems_spark.operators.relational", "seeded_shuffle"),
    ("recommender_systems_spark.operators.relational", "weighted_sample"),
    ("recommender_systems_spark.operators.relational", "equalize_groups"),
    ("recommender_systems_spark.operators.relational", "global_running_total"),
    ("recommender_systems_spark.operators.relational", "global_running_totals"),
]


def install(tracer: Tracer) -> None:
    """Wrap every traced engine entry point. Call after the engine's
    modules are imported (``registry`` pulls in all query modules)."""
    import importlib

    from pyspark.sql import DataFrame
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame

    for mod_name, attr, span in SPANS + [(m, a, "operators") for m, a in OPERATORS]:
        tracer.wrap(importlib.import_module(mod_name), attr, span)
    io = importlib.import_module("recommender_systems_spark.io")
    tracer.wrap(
        io, "cache_ready", "io.cache_ready",
        on_result=lambda ok: tracer.count("io.cache_ready_true", 1.0 if ok else 0.0),
    )

    def ckpt_kind(args, kwargs):
        eager = kwargs.get("eager", args[1] if len(args) > 1 else True)
        return "spark.local_checkpoints_eager" if eager else "spark.local_checkpoints_lazy"

    tracer.wrap_method((DataFrame, ClassicDataFrame), "localCheckpoint", ckpt_kind)


class StreamingStats:
    """Totals from a ``StreamingQueryListener``: micro-batches, input rows
    and the peak state-store row count."""

    def __init__(self) -> None:
        self.batches = 0
        self.input_rows = 0
        self.state_rows_peak = 0

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        stats = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                stats.batches += 1
                stats.input_rows += int(p.numInputRows or 0)
                state = sum(int(s.numRowsTotal or 0) for s in p.stateOperators)
                stats.state_rows_peak = max(stats.state_rows_peak, state)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()

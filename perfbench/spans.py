"""Python-side spans for the traced run, recorded from outside the engine.

:func:`install` replaces functions of the engine's modules with timing
wrappers by assigning module (or class) attributes, and returns a function
that puts the originals back. The engine's code is not edited: its modules
look these names up at call time (``S.melt_mixed(...)``,
``from ...pruning import ebp_prune`` inside ``train``), so the wrappers
see every call. Spans are kept in memory and read after the call.

``DataFrame.toPandas`` and the other actions are not wrapped: PySpark names
the frame that calls an action as the job's call site, which the event-log
attribution reads, and a wrapper would become that frame.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field


#: the functions of the c45_stats layer that build query plans
C45_PLAN_FUNCTIONS = ("melt_mixed", "mixed_contingency",
                      "categorical_stats", "numeric_best_split", "node_info")


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float


@dataclass
class Tracer:
    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)

    def count(self, name: str, n: float) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def total(self, name: str) -> float:
        return sum(s.end - s.start for s in self.spans if s.name == name)

    def intervals(self, name: str) -> list[tuple[float, float]]:
        return [(s.start, s.end) for s in self.spans if s.name == name]

    def reset(self) -> None:
        self.spans.clear()
        self.counts.clear()


def _timed(tracer: Tracer, span: str, fn, after=None):
    def wrapper(*args, **kwargs):
        t0 = time.time()
        try:
            out = fn(*args, **kwargs)
        finally:
            tracer.spans.append(Span(span, t0, time.time()))
        if after is not None:
            after(args, kwargs, out)
        return out

    wrapper.__wrapped__ = fn
    return wrapper


def install(tracer: Tracer) -> callable:
    """Wrap the engine's layer entry points; return the undo function."""
    from c4_5decisiontreebasedonmapreduce_spark.operators import (
        c45_stats,
        fractional,
        pruning,
        tree,
    )
    patched: list[tuple[object, str, object]] = []

    def patch(owner, name: str, span: str, after=None) -> None:
        original = getattr(owner, name)
        patched.append((owner, name, original))
        setattr(owner, name, _timed(tracer, span, original, after))

    def count_decide(args, kwargs, out) -> None:
        frontier = args[1] if len(args) > 1 else kwargs["frontier"]
        _, splits = out
        tracer.count("nodes_evaluated", len(frontier))
        tracer.count("nodes_split", len(splits))

    def count_contingency(args, kwargs, out) -> None:
        tracer.count("contingency_rows", len(args[0]))

    patch(tree, "train", "tree.train")
    for name in C45_PLAN_FUNCTIONS:
        patch(c45_stats, name, f"c45_stats.{name}")
    patch(tree, "_decide_level", "tree.decide", count_decide)
    patch(fractional, "_decide_level", "tree.decide", count_decide)
    patch(fractional, "train_fractional", "fractional.train")
    patch(pruning, "ebp_prune", "pruning.ebp")
    patch(tree.DecisionListModel, "prediction_column", "predict.compile")
    # the collected driver-path contingency is this function's input
    patch(tree, "_driver_level_stats", "tree.driver_stats", count_contingency)

    def undo() -> None:
        for owner, name, original in reversed(patched):
            setattr(owner, name, original)

    return undo

"""In-memory spans, Spark job labels and the traced run's patches.

A span holds name, start, end, parent and iteration id (start/end are
epoch seconds, so they line up with event-log times).  Entering a span
labels the Spark jobs it launches with ``setJobGroup``/``addJobTag`` as
``i<iteration>:<name>``; leaving it restores the enclosing label.  The
patches wrap public functions for the length of a ``with`` block and
never edit the program's files.
"""

from __future__ import annotations

import time
from collections import defaultdict
from contextlib import contextmanager, nullcontext
from typing import Dict, List, Optional


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.spans: List[dict] = []
        self.iteration: Optional[int] = None
        self._stack: List[int] = []

    def label(self, idx: int) -> str:
        s = self.spans[idx]
        return f"i{s['iteration']}:{s['name']}"

    def _set_label(self, old: Optional[str], new: Optional[str]) -> None:
        if old:
            self.sc.removeJobTag(old)
        if new:
            self.sc.setJobGroup(new, new)
            self.sc.addJobTag(new)
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append({"name": name, "start": time.time(), "end": None,
                           "parent": parent, "iteration": self.iteration})
        self._set_label(self.label(parent) if parent is not None else None,
                        self.label(idx))
        self._stack.append(idx)
        try:
            yield idx
        finally:
            self.spans[idx]["end"] = time.time()
            self._stack.pop()
            self._set_label(self.label(idx),
                            self.label(parent) if parent is not None else None)

    def find(self, name: str, iteration: int) -> Optional[dict]:
        for s in self.spans:
            if s["name"] == name and s["iteration"] == iteration:
                return s
        return None

    def label_at(self, t: float) -> Optional[str]:
        """Label of the innermost span open at epoch time ``t``."""
        best = None
        for i, s in enumerate(self.spans):
            if s["start"] <= t <= (s["end"] or t) and (
                    best is None or s["start"] >= self.spans[best]["start"]):
                best = i
        return self.label(best) if best is not None else None

    def self_time(self, idx: int) -> float:
        """Span time minus the time covered by its child spans."""
        s = self.spans[idx]
        children = sum(c["end"] - c["start"] for c in self.spans
                       if c["parent"] == idx)
        return (s["end"] - s["start"]) - children


def maybe_span(tracer: Optional[Tracer], name: str):
    return tracer.span(name) if tracer is not None else nullcontext()


@contextmanager
def patched(*targets):
    """Set ``(obj, attr, value)`` triples for the block, then restore."""
    saved = [(obj, attr, getattr(obj, attr)) for obj, attr, _ in targets]
    try:
        for obj, attr, value in targets:
            setattr(obj, attr, value)
        yield
    finally:
        for obj, attr, value in reversed(saved):
            setattr(obj, attr, value)


def traced_stages(tracer: Tracer):
    """Span every ``StageRunner.run`` as ``plans.<stage>`` and its
    ``build()`` as ``plans.<stage>.build``."""
    from kgkit.plans.stages import StageRunner

    run = StageRunner.run

    def traced_run(self, stage, build):
        def traced_build():
            with tracer.span(f"plans.{stage}.build"):
                return build()

        with tracer.span(f"plans.{stage}"):
            return run(self, stage, traced_build)

    return patched((StageRunner, "run", traced_run))


NER_PHASES = ("pretokenize", "encode", "tag", "merge", "restore")


class PhaseTimer:
    """Self time per ner_core phase, summed over every call."""

    def __init__(self):
        self.totals: Dict[str, float] = defaultdict(float)
        self._stack: List[float] = []

    def wrap(self, phase: str, fn):
        def timed(*args, **kwargs):
            t0 = time.perf_counter()
            self._stack.append(0.0)
            try:
                return fn(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                self.totals[phase] += dt - self._stack.pop()
                if self._stack:
                    self._stack[-1] += dt
        return timed

    def patches(self):
        """Wrap the phase functions that ``ner_core.predict`` calls."""
        from kgkit.ner_core import pipeline, spans
        from kgkit.ner_core.tagger import default_gazetteer
        from kgkit.ner_core.wordpiece import default_tokenizer

        tok, tagger = type(default_tokenizer()), type(default_gazetteer())
        groups = {
            "pretokenize": [(pipeline, "pretokenize")],
            "encode": [(tok, "encode_words")],
            "tag": [(tagger, "tag_slice")],
            "merge": [(spans, n) for n in (
                "merge_slices", "merge_subtokens", "merge_tokens_to_words",
                "autocorrect_scheme", "merge_tokens_to_entities",
                "strip_sentencepiece_marker")],
            "restore": [(spans, "restore_unknown_tokens"), (spans, "unpretokenize")],
        }
        return patched(*[(obj, attr, self.wrap(phase, getattr(obj, attr)))
                         for phase, targets in groups.items()
                         for obj, attr in targets])

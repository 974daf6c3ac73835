"""Timing wrappers installed around module attributes, then removed.

Callers in ``ocrflow`` resolve their callees at call time (module
globals such as ``reference.segment_html``, module attributes such as
``R.extract_turn_arrays``, or a class attribute such as
``IceliteTable.commit_append``), so replacing the attribute on its owner
is enough to see every call. Each span records its parent; a span's self
time is its time minus the time of the spans it encloses.
"""

from __future__ import annotations

import functools
import time
from collections import defaultdict


class Tracer:
    def __init__(self):
        self.total: dict[str, float] = defaultdict(float)
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: dict[str, int] = defaultdict(int)
        self.parents: dict[str, set] = defaultdict(set)
        self.counters: dict[str, float] = defaultdict(float)
        self._stack: list[list] = []  # [label, child seconds]
        self._patches: list[tuple] = []

    def wrap(self, owner, attr: str, label: str, observe=None):
        """Replace ``owner.attr`` with a timed wrapper. ``observe(tracer,
        args, result)`` may add counters after each call."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*args, **kw):
            parent = tracer._stack[-1][0] if tracer._stack else None
            frame = [label, 0.0]
            tracer._stack.append(frame)
            t0 = time.perf_counter()
            try:
                result = orig(*args, **kw)
            finally:
                dt = time.perf_counter() - t0
                tracer._stack.pop()
                tracer.total[label] += dt
                tracer.self_s[label] += dt - frame[1]
                tracer.calls[label] += 1
                tracer.parents[label].add(parent)
                if tracer._stack:
                    tracer._stack[-1][1] += dt
            if observe is not None:
                observe(tracer, args, result)
            return result

        setattr(owner, attr, wrapper)
        self._patches.append((owner, attr, orig))

    def remove(self):
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.remove()

    def subtree_self(self, root: str) -> float:
        """Summed self time of ``root`` and every span below it."""
        below = {root}
        grew = True
        while grew:
            grew = False
            for label, parents in self.parents.items():
                if label not in below and parents & below:
                    below.add(label)
                    grew = True
        return sum(self.self_s[label] for label in below)

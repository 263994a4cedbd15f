"""In-memory span recorder for the benchmark's traced runs.

Spans are recorded only around calls the benchmark makes into a
layer's public functions: the recorder patches those functions for
the life of one run (``install``) and restores them at the end
(``uninstall``). Nothing inside the program is edited.

A span has a name whose first dotted component is its layer
(``icelake.Table.append`` belongs to ``icelake``), start and end
times from ``time.perf_counter``, the index of its parent span, the
id of the benchmark operation it ran under, and the phase of the run
(``setup``, ``loop`` or ``verify``). A layer's self time is its
span's duration minus the part of that interval its child spans
cover.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    phase: str = ""
    #: free-form numbers recorded at the call (e.g. bytes parsed)
    attrs: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list[Span]) -> list[float]:
    """Per span: duration minus the time its direct children cover."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append((s.start, s.end))
    return [
        s.duration - covered(children.get(i, []), s.start, s.end)
        for i, s in enumerate(spans)
    ]


class Tracer:
    """Records spans and per-operation counters while ``enabled``.

    Disabled, every wrapper is one attribute test and a direct call,
    and ``install`` is never called by the untraced run anyway.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        #: (op id, counter name) -> value
        self.counters: dict[tuple[int | None, str], float] = {}
        self.op: int | None = None
        self.phase = "setup"
        #: seconds of benchmark-side bookkeeping between ops
        self.paused_s = 0.0
        self._stack: list[int] = []
        self._patches: list[tuple[object, str, object]] = []
        self._paused = 0

    # -- recording -----------------------------------------------------

    @property
    def active(self) -> bool:
        return self.enabled and not self._paused

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.active:
            yield None
            return
        s = Span(
            name=name,
            start=0.0,
            parent=self._stack[-1] if self._stack else None,
            op=self.op,
            phase=self.phase,
            attrs=attrs,
        )
        self.spans.append(s)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float = 1) -> None:
        if self.active:
            key = (self.op, name)
            self.counters[key] = self.counters.get(key, 0) + value

    @contextmanager
    def paused(self):
        """Benchmark-side bookkeeping calls (e.g. ``Table.files()`` to
        count live files) must not show up as spans of the program."""
        self._paused += 1
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._paused -= 1
            self.paused_s += time.perf_counter() - t0

    # -- patching ------------------------------------------------------

    def wrap(self, fn, name: str, size_arg: int | None = None):
        """A wrapper recording a span named ``name`` around ``fn``.
        ``size_arg`` records ``len(args[size_arg])`` as the span's
        ``bytes`` attribute (the metadata document size)."""
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            attrs = {}
            if size_arg is not None and len(args) > size_arg:
                attrs["bytes"] = len(args[size_arg])
            with tracer.span(name, **attrs) as s:
                out = fn(*args, **kwargs)
                if s is not None and size_arg is None and isinstance(out, str):
                    s.attrs["bytes"] = len(out)
                return out

        return wrapper

    def patch(self, owner, attr: str, replacement) -> None:
        self._patches.append((owner, attr, owner.__dict__[attr]))
        setattr(owner, attr, replacement)

    def patch_method(self, owner, attr: str, name: str, size_arg: int | None = None) -> None:
        raw = owner.__dict__[attr]
        if isinstance(raw, staticmethod):
            self.patch(owner, attr, staticmethod(self.wrap(raw.__func__, name, size_arg)))
        elif isinstance(raw, property):
            self.patch(owner, attr, property(self.wrap(raw.fget, name)))
        else:
            self.patch(owner, attr, self.wrap(raw, name, size_arg))

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            setattr(owner, attr, orig)

    # -- output --------------------------------------------------------

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "spans": [asdict(s) for s in self.spans],
                    "counters": [
                        {"op": op, "name": n, "value": v}
                        for (op, n), v in sorted(
                            self.counters.items(), key=lambda kv: (kv[0][0] or -1, kv[0][1])
                        )
                    ],
                },
                f,
            )

"""In-memory span recorder for the benchmark's traced mode.

Spans are recorded only from the benchmark's own files, around each call
into a layer's public function.  Each span keeps a name, start, end, the
id of the span that caused it and the id of the op it belongs to.  Spark
is lazy, so :meth:`Tracer.forced` also runs the returned DataFrame to a
``noop`` sink inside the span; without that the span would time only
plan construction.  Spans stay in memory and are written out once, when
the run ends.

With tracing off (:data:`NO_TRACE`) every method is a pass-through: no
span is recorded and no DataFrame is forced, so untraced runs execute
exactly the calls a user would make.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager


def force(df):
    """Run *df* to completion without collecting it."""
    df.write.format("noop").mode("overwrite").save()
    return df


class Tracer:
    enabled = True

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._op: int | None = None

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        if parent is None:
            self._op = sid
        rec = {"id": sid, "name": name, "parent": parent, "op": self._op,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def forced(self, name: str, build, cache: bool = False):
        """Span *name* around ``build()`` plus a forced run of its result.

        ``cache=True`` persists the result inside the span, so spans of
        later consumers do not re-pay this input's cost and their self
        time is their own work.
        """
        with self.span(name):
            df = build()
            if cache:
                df = df.persist()
            force(df)
        return df

    def self_times(self) -> dict[str, list[float]]:
        """Self time of every span (duration minus the part of it its
        children cover; children run sequentially), grouped by name."""
        child_total: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_total[s["parent"]] = (child_total.get(s["parent"], 0.0)
                                            + s["end"] - s["start"])
        out: dict[str, list[float]] = {}
        for s in self.spans:
            own = s["end"] - s["start"] - child_total.get(s["id"], 0.0)
            out.setdefault(s["name"], []).append(own)
        return out

    def median_self(self, name: str) -> float | None:
        vals = self.self_times().get(name)
        return statistics.median(vals) if vals else None

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _NoTrace:
    enabled = False

    @contextmanager
    def span(self, name: str):
        yield {}

    def forced(self, name: str, build, cache: bool = False):
        return build()


NO_TRACE = _NoTrace()

"""In-memory span recorder for the traced benchmark run.

A span is (name, start, end, parent, run_id). Spans are kept in a list while
the run goes and written to one JSON file when it ends. Self time is a span's
duration minus the part of it that its child spans cover.

Wrappers are installed from outside the package, at the module attribute its
callers resolve (``install``), and removed again by ``restore``; nothing in
the package is edited.
"""

from __future__ import annotations

import functools
import json
import time
import uuid
from contextlib import contextmanager


class Tracer:
    def __init__(self, run_id: str | None = None) -> None:
        self.run_id = run_id or uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        self.spans.append({"id": idx, "name": name, "start": time.perf_counter(),
                           "end": None, "parent": parent, "run_id": self.run_id})
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx]["end"] = time.perf_counter()

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper."""
        orig = getattr(owner, attr)
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, self.wrap(name, orig))

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def closed(self, name: str | None = None, first: int = 0) -> list[dict]:
        """Finished spans (named ``name``), from span index ``first`` on."""
        return [s for s in self.spans[first:]
                if s["end"] is not None and (name is None or s["name"] == name)]

    def durations(self, name: str, first: int = 0) -> list[float]:
        return [s["end"] - s["start"] for s in self.closed(name, first)]

    def self_times(self) -> dict[int, float]:
        """span id -> duration minus the union of its children's intervals."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.closed():
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = {}
        for s in self.closed():
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], ())):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            out[s["id"]] = (s["end"] - s["start"]) - covered
        return out

    def table(self, first: int = 0) -> dict[str, dict]:
        """name -> {calls, total_s, self_s} over closed spans from index
        ``first`` on."""
        selfs = self.self_times()
        rows: dict[str, dict] = {}
        for s in self.closed(first=first):
            r = rows.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            r["calls"] += 1
            r["total_s"] += s["end"] - s["start"]
            r["self_s"] += selfs[s["id"]]
        return rows

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.closed()}, fh)


def format_table(rows: dict[str, dict]) -> str:
    lines = [f"{'span':58s} {'calls':>7s} {'total_s':>10s} {'self_s':>10s}"]
    for name, r in sorted(rows.items(), key=lambda kv: -kv[1]["self_s"]):
        lines.append(f"{name:58s} {r['calls']:7d} {r['total_s']:10.4f} {r['self_s']:10.4f}")
    return "\n".join(lines)

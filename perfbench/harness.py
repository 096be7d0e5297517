"""Closed-loop pass runner: one client, steps run one after another.

A *step* is one operation of a workload: a call into one of the
library's layers followed by the action that materializes its result.
A *pass* is one run of all steps of a workload. The runner times every
step, keeps spans in memory (pass -> step -> call/action, with parent
ids, so self time can be derived) and, when tracing, tags the step's
Spark jobs and reads the per-layer ledger after the step.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from typing import Any, Callable

from ledger import LAYER_METRICS, Ledger

LAYERS = (
    "session", "sources", "plans", "operators", "functions",
    "governance", "sync", "streaming",
)


def fs_snapshot(roots: list[str]) -> dict[tuple[int, int, int], int]:
    """Files under ``roots`` keyed by (inode, size, mtime) -> size; a file
    rewritten or renamed in from a fresh write gets a new key."""
    out = {}
    for dirpath, _dirs, files in (w for r in roots for w in os.walk(r)):
        for f in files:
            try:
                st = os.stat(os.path.join(dirpath, f))
            except FileNotFoundError:
                continue
            out[(st.st_ino, st.st_size, st.st_mtime_ns)] = st.st_size
    return out


def tree_bytes(roots: list[str]) -> int:
    return sum(fs_snapshot(roots).values())


class StepFailed(RuntimeError):
    pass


class Bench:
    def __init__(self, spark, write_roots: list[str], trace: bool) -> None:
        self.write_roots = write_roots  # where steps write; not the inputs
        self.ledger = Ledger(spark) if trace else None
        self.spans: list[dict[str, Any]] = []
        self._pass_span: int | None = None
        self._traced_pass = False
        self.pass_layers: dict[str, dict[str, float]] = {}
        self.pass_ops: list[float] = []
        self.pass_written = 0
        self._snap: dict[tuple[int, int, int], int] = {}
        self.attempted = 0
        self.failed = 0
        self.counts: dict[str, float] = {}

    # -- spans ---------------------------------------------------------------
    def _span(self, **kw) -> int:
        kw["id"] = len(self.spans)
        self.spans.append(kw)
        return kw["id"]

    def begin_pass(self, label: str, traced: bool) -> None:
        self._traced_pass = traced and self.ledger is not None
        self._pass_span = self._span(
            name=label, kind="pass", parent=None, t0=time.time(), t1=None
        )
        self.pass_layers = defaultdict(lambda: dict.fromkeys(LAYER_METRICS, 0.0))
        self.pass_ops = []
        self.pass_written = 0
        self._snap = fs_snapshot(self.write_roots)

    def end_pass(self) -> float:
        """Closes the pass; returns its wall time, the sum of its steps."""
        self.spans[self._pass_span]["t1"] = time.time()
        if self.ledger is not None:
            self.ledger.tag("perfbench-idle")
        return sum(self.pass_ops)

    # -- steps ---------------------------------------------------------------
    def step(
        self,
        layer: str,
        name: str,
        call: Callable[[], Any],
        action: Callable[[Any], Any] | None = None,
        job_groups: Callable[[Any], list[str]] | None = None,
    ) -> Any:
        """Time ``call()`` then ``action(result)``; return the action's
        result (or the call's, without an action)."""
        assert layer in LAYERS, layer
        sid = self._span(name=name, layer=layer, kind="step",
                         parent=self._pass_span)
        traced = self._traced_pass
        self.attempted += 1
        try:
            if traced:
                self.ledger.tag(f"s{sid}:call")
            w0 = time.time()
            t0 = time.perf_counter()
            obj = call()
            t1 = time.perf_counter()
            w1 = time.time()
            if traced:
                self.ledger.tag(f"s{sid}:action")
            out = action(obj) if action is not None else obj
            t2 = time.perf_counter()
            w2 = time.time()
        except Exception as exc:
            self.failed += 1
            raise StepFailed(f"step {name} ({layer}) failed: {exc}") from exc
        self.spans[sid].update(t0=w0, t1=w2)
        self._span(name=f"{name}:call", kind="call", parent=sid, t0=w0, t1=w1)
        if action is not None:
            self._span(name=f"{name}:action", kind="action", parent=sid,
                       t0=w1, t1=w2)
        self.pass_ops.append(t2 - t0)
        # bookkeeping below is outside every timed interval
        snap = fs_snapshot(self.write_roots)
        written = sum(v for k, v in snap.items() if k not in self._snap)
        self._snap = snap
        self.pass_written += written
        lm = self.pass_layers[layer]
        lm["calls"] += 1
        lm["call_s"] += t1 - t0
        lm["action_s"] += t2 - t1
        if traced:
            self.ledger.tag("perfbench-idle")
            groups = [f"s{sid}:action"] + (job_groups(obj) if job_groups else [])
            got = self.ledger.read(f"s{sid}:call", groups,
                                   (w1 * 1e3, w2 * 1e3))
            self.spans[sid]["ledger"] = got
            for k, v in got.items():
                lm[k] += v
        return out

    def count(self, key: str, value: float) -> None:
        """A workload-level counter (rows, pairs, files) for the ratios."""
        self.counts[key] = float(value)

    def write_spans(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as fh:
            for s in self.spans:
                fh.write(json.dumps(s, sort_keys=True) + "\n")


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def percentile(xs: list[float], q: float) -> tuple[float | None, int]:
    """Nearest-rank ``q`` percentile and the number of samples above it;
    None when fewer than 10 samples lie beyond it."""
    s = sorted(xs)
    if not s:
        return None, 0
    k = min(len(s) - 1, max(0, int(round(q * len(s) + 0.5)) - 1))
    beyond = len(s) - k - 1
    return (s[k] if beyond >= 10 else None), beyond

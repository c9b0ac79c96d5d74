"""Outside-in spans around every call the benchmark makes into a layer.

A span is recorded for every call in both modes, because the end-to-end
metrics are medians of span durations. With ``counters=True`` (the
``--trace 1`` run) each layer call additionally records, by diffing state
from outside the program:

- Spark jobs, tasks and failed tasks: the status tracker's job ids before
  and after the call, with the listener bus drained on both sides so the
  status store has seen every event. Job groups are not used because the
  program submits some writes from a thread pool, which does not inherit
  the caller's local properties.
- files and bytes written: the run's work directory listed before and
  after the call (a file counts when it is new or changed size or mtime).

Counters cost time (a bus drain and two directory walks per call), so
end-to-end numbers always come from runs with ``counters=False``.
"""

from __future__ import annotations

import json
import os
import statistics
import time

# Every layer call the benchmark makes, as "<layer>.<call>". The per-layer
# metric catalogue is derived from this list, so a call that a workload
# never makes still reports (with zero calls).
LAYER_CALLS = (
    "session.get_spark",
    "parse.parse_chat_lines",
    "embedder.with_embedding",
    "dedup_index.add_batch",
    "dedup_index.tick",
    "index.upsert",
    "index.query",
    "index.read",
    "ann.build",
    "ann.save",
    "ann.load",
    "ann.search",
    "ann.search_batched",
    "ann.upsert",
    "ann.delete",
    "ann.tick",
    "ann.verify",
)
LAYERS = tuple(dict.fromkeys(c.split(".")[0] for c in LAYER_CALLS))
COUNTERS = ("jobs", "tasks", "failed_tasks", "bytes_written", "files_written")
CALL_QUANTITIES = (("s", "s"),) + tuple(
    (q, "bytes" if q == "bytes_written" else "count") for q in COUNTERS
)
# Extra per-layer figures a workload records with Tracer.note(), and how a
# run's notes reduce to one value.
NOTES = (
    ("ann.load.batch_dirs", "count", statistics.median_low),
    ("ann.tick.folded", "count", sum),
    ("ann.fold.bytes_rewritten", "bytes", statistics.median_low),
    ("parse.lines", "count", sum),
    ("parse.ok_ratio", "ratio", statistics.median),
    ("embedder.rows", "count", sum),
    ("dedup_index.pairs", "count", sum),
)
# Harness spans: input generation and the benchmark's own oracles.
CLIENT_SPANS = ("bench.gen", "bench.oracle")


def per_layer_catalogue() -> list[tuple[str, str]]:
    """(name, unit) of every per-layer metric a traced run prints."""
    out = [
        (f"{call}.{q}", unit) for call in LAYER_CALLS for q, unit in CALL_QUANTITIES
    ]
    out += [(f"{layer}.failed", "count") for layer in LAYERS]
    out += [(f"{layer}.self_s", "s") for layer in LAYERS]
    out += [(name, unit) for name, unit, _ in NOTES]
    out += [
        ("bench.gen.s", "s"),
        ("bench.oracle.s", "s"),
        ("bench.client.s", "s"),
        ("bench.coverage", "ratio"),
    ]
    return out


def _dir_state(root: str) -> dict[str, tuple[int, int]]:
    state = {}
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            state[p] = (st.st_size, st.st_mtime_ns)
    return state


class Tracer:
    def __init__(self, counters: bool, work_dir: str):
        self.counters = counters
        self.work_dir = work_dir
        self.spans: list[dict] = []
        self.notes: dict[str, list[float]] = {}
        self.window: tuple[float, float] | None = None
        self._stack: list[int] = []
        self.op_id = 0
        self._sc = None

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext

    def _drain(self) -> None:
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def _job_ids(self) -> set[int]:
        self._drain()
        return set(self._sc.statusTracker().getJobIdsForGroup(None))

    def _task_counts(self, job_ids) -> tuple[int, int]:
        st = self._sc.statusTracker()
        stages = set()
        for j in job_ids:
            info = st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        done = failed = 0
        for s in stages:
            info = st.getStageInfo(s)
            if info is not None:
                done += info.numCompletedTasks
                failed += info.numFailedTasks
        return done, failed

    def _open(self, name: str) -> dict:
        span = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
            "failed": False,
        }
        self.spans.append(span)
        self._stack.append(span["id"])
        return span

    def op(self, name: str, fn, *args, **kwargs):
        """A benchmark operation: the parent span of the layer calls it
        makes."""
        self.op_id += 1
        span = self._open(name)
        span["start"] = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            span["end"] = time.perf_counter()
            self._stack.pop()

    def call(self, name: str, fn, *args, **kwargs):
        """One call into a layer (``name`` in LAYER_CALLS) or a harness span
        (``name`` in CLIENT_SPANS). The result must be consumed inside
        ``fn`` (collect a DataFrame there), or its work escapes the span."""
        span = self._open(name)
        count = self.counters and self._sc is not None and name in LAYER_CALLS
        if count:
            jobs0 = self._job_ids()
            files0 = _dir_state(self.work_dir)
        span["start"] = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        except BaseException:
            span["failed"] = True
            raise
        finally:
            span["end"] = time.perf_counter()
            self._stack.pop()
            if count:
                new_jobs = self._job_ids() - jobs0
                tasks, failed_tasks = self._task_counts(new_jobs)
                files1 = _dir_state(self.work_dir)
                written = [p for p, v in files1.items() if files0.get(p) != v]
                span.update(
                    jobs=len(new_jobs),
                    tasks=tasks,
                    failed_tasks=failed_tasks,
                    files_written=len(written),
                    bytes_written=sum(files1[p][0] for p in written),
                )

    def note(self, name: str, value: float) -> None:
        self.notes.setdefault(name, []).append(value)

    def open_window(self) -> None:
        self.window = (time.perf_counter(), None)

    def close_window(self) -> None:
        self.window = (self.window[0], time.perf_counter())

    # -- derived figures ----------------------------------------------------

    def durations(self, name: str, timed_only: bool = True) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (not timed_only or self._in_window(s))
        ]

    def _in_window(self, span: dict) -> bool:
        w0, w1 = self.window
        return span["start"] >= w0 and (w1 is None or span["end"] <= w1)

    def per_layer(self) -> dict[str, float]:
        """Per-call medians over the whole run (set-up calls included, since
        build and save only happen there), failures and notes, and self time
        and coverage over the timed window."""
        out: dict[str, float] = {}
        by_call: dict[str, list[dict]] = {}
        for s in self.spans:
            by_call.setdefault(s["name"], []).append(s)
        for call in LAYER_CALLS:
            spans = by_call.get(call, [])
            secs = [sp["end"] - sp["start"] for sp in spans]
            out[f"{call}.s"] = statistics.median(secs) if secs else 0
            for q in COUNTERS:
                # counts take the middle observed value, so they repeat
                vals = [sp[q] for sp in spans if q in sp]
                out[f"{call}.{q}"] = statistics.median_low(vals) if vals else 0
        w0, w1 = self.window
        timed = [s for s in self.spans if self._in_window(s)]
        for layer in LAYERS:
            out[f"{layer}.failed"] = sum(
                s["failed"] for s in self.spans if s["name"].startswith(layer + ".")
            )
            # layer calls are leaves under benchmark ops, so self time is
            # the summed duration of the layer's spans in the window
            out[f"{layer}.self_s"] = sum(
                s["end"] - s["start"] for s in timed if s["name"].startswith(layer + ".")
            )
        for name, _, reduce in NOTES:
            vals = self.notes.get(name, [])
            out[name] = reduce(vals) if vals else 0
        window = w1 - w0
        layer_s = sum(out[f"{layer}.self_s"] for layer in LAYERS)
        client_s = sum(s["end"] - s["start"] for s in timed if s["name"] in CLIENT_SPANS)
        out["bench.gen.s"] = sum(self.durations("bench.gen", timed_only=False))
        out["bench.oracle.s"] = sum(self.durations("bench.oracle", timed_only=False))
        out["bench.client.s"] = window - layer_s
        out["bench.coverage"] = (layer_s + client_s) / window
        return out

    def dump(self, path: str) -> None:
        w0 = self.window[0]
        rows = [
            {k: (round(v - w0, 6) if k in ("start", "end") else v) for k, v in s.items()}
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"window_s": self.window[1] - w0, "spans": rows}, f)

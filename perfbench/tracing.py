"""Tracing from outside the engine: spans around its public calls.

``Tracer.install()`` replaces module attributes and class methods of the
engine with timing wrappers (engine files are not edited) and
``Tracer.restore()`` puts the originals back. Each span records its
name, start, end, parent and thread; spans stay in memory until
``dump()`` writes them out when the run ends. Stage metrics of the merge
write job come from tagging its Spark jobs with a job group inside the
``write_delta_files`` wrapper and reading the per-stage task metrics
from Spark's status endpoint on localhost afterwards; Structured
Streaming phase durations come from a ``StreamingQueryListener``.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import json
import os
import threading
import time
import urllib.request
from collections import defaultdict

from pyspark.sql.streaming import StreamingQueryListener

from etl_kafka_project_spark import serving
from etl_kafka_project_spark.cdc import merge, metrics, mor, stream
from etl_kafka_project_spark.minilake import table as lake_table

MERGE_JOB_GROUP = "perfbench-merge-job"


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.counts: dict[str, float] = defaultdict(float)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []
        self._next_id = 0

    # ---------- spans ----------

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    @property
    def paused(self) -> bool:
        return getattr(self._local, "paused", False)

    @contextlib.contextmanager
    def span(self, name: str):
        if self.paused:
            yield None
            return
        stack = self._stack()
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        rec = {
            "id": sid,
            "parent": stack[-1] if stack else None,
            "name": name,
            "thread": threading.get_ident(),
            "start": time.perf_counter(),
        }
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            with self._lock:
                self.spans.append(rec)

    @contextlib.contextmanager
    def pause(self):
        prev, self._local.paused = self.paused, True
        try:
            yield
        finally:
            self._local.paused = prev

    def count(self, name: str, value: float = 1.0) -> None:
        if not self.paused:
            with self._lock:
                self.counts[name] += value

    # ---------- wrappers ----------

    def wrap(self, owner, attr: str, name: str, after=None, around=None) -> None:
        """Replace ``owner.attr`` by a timing wrapper. ``after(result,
        args)`` runs after the span on success and must not call the
        engine; ``around`` is a
        context-manager factory entered inside the span."""
        fn = orig = owner.__dict__[attr]
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                ctx = around(args) if around else contextlib.nullcontext()
                with ctx:
                    try:
                        result = fn(*args, **kwargs)
                    except lake_table.SnapshotConflictError:
                        tracer.count(name + ".conflicts")
                        raise
            if after is not None:
                after(result, args)
            return result

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, wrapper)

    def install(self) -> None:
        self.wrap(stream.ReplayJob, "apply_epoch", "stream.apply_epoch")
        self.wrap(stream, "evolve_table", "evolution.evolve_table")
        self.wrap(stream, "merge_events", "merge.merge_events", after=self._after_merge)
        self.wrap(merge, "fold_batch", "fold.fold_batch")
        self.wrap(mor, "write_delta_files", "mor.write_delta_files", around=_merge_job_group)
        self.wrap(mor, "compact_deltas", "mor.compact_deltas", around=self._compact_bytes)
        self.wrap(lake_table.LakeTable, "commit", "table.commit")
        self.wrap(lake_table.LakeTable, "snapshot", "table.snapshot")
        self.wrap(metrics.LineageLog, "record", "lineage.record")
        self.wrap(serving, "point_lookup", "serving.point_lookup")
        self.wrap(serving, "latest", "serving.latest")

    def restore(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def _after_merge(self, stats, args) -> None:
        self.count("fold.events", stats.events_in)
        self.count("fold.keys", stats.keys)

    @contextlib.contextmanager
    def _compact_bytes(self, args):
        """Count the compaction's outcome and the bytes of the base
        files it wrote (read from the snapshot it committed)."""
        table = args[0]
        with self.pause():
            before = {f.path for f in table.snapshot().files}
        yield
        with self.pause():
            after = table.snapshot()
            delta_buckets = {f.bucket for f in after.files if f.kind == "delta"}
            new = [f for f in after.files if f.path not in before and f.kind == "base"]
        # buckets carrying deltas before the call = compacted + skipped
        compacted = {f.bucket for f in new}
        self.count("compact.buckets", len(compacted))
        self.count("compact.buckets_with_deltas", len(compacted) + len(delta_buckets - compacted))
        self.count(
            "compact.bytes_rewritten",
            sum(os.path.getsize(os.path.join(table.root, f.path)) for f in new),
        )

    # ---------- output ----------

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]
        with open(path, "w") as f:
            json.dump({"spans": spans, "counts": dict(self.counts), **extra}, f)


@contextlib.contextmanager
def _merge_job_group(args):
    """Tag the merge write job's Spark jobs so their stages can be found
    on the status endpoint afterwards."""
    sc = args[0].spark.sparkContext
    sc.setJobGroup(MERGE_JOB_GROUP, "merge write job", interruptOnCancel=False)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


# ---------- Structured Streaming phases ----------


class StreamPhases(StreamingQueryListener):
    """Collects each data-carrying trigger's ``durationMs``."""

    def __init__(self) -> None:
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        d = dict(p.durationMs)
        if "addBatch" in d:
            start = dt.datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp()
            self.progress.append({"batch": p.batchId, "start": start, "ms": d})

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def settle(self, quiet_s: float = 0.5, timeout_s: float = 5.0) -> None:
        """Wait until no progress event arrived for ``quiet_s``."""
        deadline = time.time() + timeout_s
        n, since = len(self.progress), time.time()
        while time.time() < deadline and time.time() - since < quiet_s:
            time.sleep(0.05)
            if len(self.progress) != n:
                n, since = len(self.progress), time.time()

    def wait_for(self, n_batches: int, timeout_s: float = 10.0) -> None:
        """Listener events arrive asynchronously; wait for ``n``."""
        deadline = time.time() + timeout_s
        while len(self.progress) < n_batches and time.time() < deadline:
            time.sleep(0.05)


# ---------- stage metrics from the status endpoint ----------


def _get(url: str):
    with urllib.request.urlopen(url, timeout=10) as r:
        return json.load(r)


def merge_job_stages(spark) -> dict[str, float]:
    """Sum the task metrics of every stage of the tagged merge jobs, and
    the median over jobs of their last stage's max/median task time."""
    port = spark.sparkContext.uiWebUrl.rsplit(":", 1)[1]
    base = f"http://127.0.0.1:{port}/api/v1/applications"
    app = _get(base)[0]["id"]
    jobs = [j for j in _get(f"{base}/{app}/jobs") if j.get("jobGroup") == MERGE_JOB_GROUP]
    out = defaultdict(float)
    skews = []
    for job in jobs:
        last = None
        for sid in sorted(job["stageIds"]):
            for att in _get(f"{base}/{app}/stages/{sid}"):
                if att["status"] != "COMPLETE":
                    continue
                out["merge_job.executor_run_s"] += att["executorRunTime"] / 1e3
                out["merge_job.executor_cpu_s"] += att["executorCpuTime"] / 1e9
                out["merge_job.gc_s"] += att.get("jvmGcTime", 0) / 1e3
                out["merge_job.input_bytes"] += att["inputBytes"]
                out["merge_job.output_bytes"] += att["outputBytes"]
                out["merge_job.shuffle_read_bytes"] += att["shuffleReadBytes"]
                out["merge_job.shuffle_write_bytes"] += att["shuffleWriteBytes"]
                out["merge_job.spill_bytes"] += att["memoryBytesSpilled"] + att["diskBytesSpilled"]
                last = (sid, att["attemptId"])
        if last is not None:
            q = _get(
                f"{base}/{app}/stages/{last[0]}/{last[1]}/taskSummary?quantiles=0.5,1.0"
            )["executorRunTime"]
            if q[0] > 0:
                skews.append(q[1] / q[0])
    out["merge_job.jobs"] = len(jobs)
    skews.sort()
    out["merge_job.task_skew"] = skews[len(skews) // 2] if skews else 1.0
    return dict(out)

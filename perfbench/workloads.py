"""The benchmark's workloads. Each drives the engine only through its
public API and loads one layer heavily:

* ``bulk_replay`` — the merge write job and the compaction rewrite, with
  reads of the table while it still carries the replay's delta files;
* ``tail_open_loop`` — the per-trigger serial floor of a live tail.

A workload has three steps. ``prepare`` makes (or loads from the cache)
its seeded inputs and expected states before the Spark session exists.
``setup`` warms the JVM on the same code paths; it belongs to
``setup_s``. ``measure`` is the timed part; it returns the end-to-end
figures of one pass and is called once per run, or three times with
tracing (untraced, traced, untraced).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import time
import traceback

import numpy as np
import pandas as pd
from pyspark.sql import types as T

from etl_kafka_project_spark import serving
from etl_kafka_project_spark.cdc import mor
from etl_kafka_project_spark.cdc.envelope import EVENT_SCHEMA
from etl_kafka_project_spark.cdc.fixtures import StreamSpec
from etl_kafka_project_spark.cdc.merge import create_code_table
from etl_kafka_project_spark.cdc.metrics import LineageLog
from etl_kafka_project_spark.cdc.stream import ReplayJob
from etl_kafka_project_spark.config import EngineConfig
from etl_kafka_project_spark.minilake.table import LakeTable

import fixtures
import gate
from tracing import StreamPhases

CONFIG = EngineConfig(n_buckets=16)

EVOLVED_SCHEMA = T.StructType(
    list(EVENT_SCHEMA.fields)
    + [T.StructField("author", T.StringType(), True), T.StructField("size", T.LongType(), True)]
)


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile (q in (0, 1])."""
    s = sorted(values)
    return s[max(0, min(len(s) - 1, int(np.ceil(q * len(s))) - 1))]


def tree_bytes(root: str) -> int:
    """Bytes of every file under ``root``, each inode counted once."""
    seen, total = set(), 0
    for d, _, files in os.walk(root):
        for fn in files:
            st = os.stat(os.path.join(d, fn))
            if (st.st_dev, st.st_ino) not in seen:
                seen.add((st.st_dev, st.st_ino))
                total += st.st_size
    return total


class Run:
    """One benchmark process: session, scratch paths, operation counts."""

    def __init__(self, spark, work: str, cache: str, seed: int, seconds: int, log):
        self.spark = spark
        self.work = work
        self.cache = cache
        self.seed = seed
        self.seconds = seconds
        self.log = log
        self.attempted = 0
        self.failed = 0
        self.mismatch_rows = 0
        self.tracer = None  # set while a traced pass runs
        self.pass_name = "plain"
        self._n = 0

    def path(self, name: str) -> str:
        self._n += 1
        return os.path.join(self.work, self.pass_name, f"{name}-{self._n}")

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def op(self, name: str, fn, *args, **kwargs):
        """Run one counted operation; a failure is logged and counted,
        and the run goes on."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
            self.log(f"{self.pass_name} {name} {time.perf_counter() - t0:.3f} s")
            return result
        except Exception:  # noqa: BLE001 - the run must report, not die
            self.failed += 1
            self.log(f"operation {name} failed:\n{traceback.format_exc()}")
            return None

    # ---------- reads ----------

    def lookup(self, root: str, key: dict, want: pd.DataFrame, out: dict) -> None:
        """One timed ``point_lookup(...).collect()``, checked against
        the rows ``want`` after the clock stops."""

        def go():
            t0 = time.perf_counter()
            with self.span("read.point_lookup"):
                df = serving.point_lookup(self.spark, root, key)
                rows = df.collect()
            out.setdefault("lookup_s", []).append(time.perf_counter() - t0)
            if self.tracer is not None:
                files = df.inputFiles()
                self.tracer.count("read.lookups")
                self.tracer.count("read.files", len(files))
                self.tracer.count("read.delta_files", sum("/delta-" in f for f in files))
            return pd.DataFrame([r.asDict() for r in rows], columns=df.columns)

        got = self.op("point_lookup", go)
        if got is not None:
            self.check("lookup_check", got, want)

    def scan(self, root: str, out: dict) -> None:
        def go():
            t0 = time.perf_counter()
            with self.span("read.full_scan"):
                serving.latest(self.spark, root).write.format("noop").mode("overwrite").save()
            out.setdefault("scan_s", []).append(time.perf_counter() - t0)

        self.op("full_scan", go)

    def check(self, name: str, got: pd.DataFrame, want: pd.DataFrame) -> None:
        n = self.op(name, gate.mismatch_rows, got, want)
        if n:
            self.mismatch_rows += n
            self.failed += 1
            self.log(f"{name}: {n} rows differ from the replay oracle")

    def check_table(self, root: str, want: pd.DataFrame) -> None:
        got = self.op("read_final_table", lambda: LakeTable(self.spark, root).read().toPandas())
        if got is not None:
            self.check("oracle_check", got, want)

    def compact(self, root: str, out: dict) -> None:
        if self.tracer is not None:
            snap = LakeTable(self.spark, root).snapshot()
            self.lake_files = {
                **mor.delta_stats(snap),
                "base_files": sum(1 for f in snap.files if f.kind == "base"),
            }

        def go():
            t0 = time.perf_counter()
            mor.compact_deltas(LakeTable(self.spark, root))
            out.setdefault("compact_s", []).append(time.perf_counter() - t0)

        self.op("compact_deltas", go)


def freshness(root: str, lineage_dir: str, seg_lsn: list, due: list[float]) -> list[float]:
    """Per segment: commit time of the first snapshot holding its LSNs
    minus its due time. The snapshot comes from the lineage doc whose
    ``lsn_span`` covers the segment; its commit time is the mtime of
    that snapshot version's file."""
    spans = []
    for d in LineageLog(lineage_dir).read_all():
        if d.get("lsn_span") and not d.get("skipped"):
            v = d["snapshot_version"]
            t = os.stat(os.path.join(root, "snapshots", f"v{v}.json")).st_mtime
            spans.append((d["lsn_span"][0], d["lsn_span"][1], t))
    out = []
    for (_, hi), t_due in zip(seg_lsn, due):
        t = min((t for lo, h, t in spans if lo <= hi <= h), default=None)
        if t is None:
            raise RuntimeError(f"no committed snapshot holds lsn {hi}")
        out.append(t - t_due)
    return out


def summarize(out: dict, events: int, input_bytes: int, lake_bytes: int) -> dict:
    """End-to-end figures of one pass, from its raw samples; a figure
    whose samples are missing (its operations failed) is None."""
    ingest = sum(out.get("ingest_s", []))
    compact = sum(out.get("compact_s", []))

    def med(k):
        v = out.get(k)
        return statistics.median(v) if v else None

    fresh = out.get("fresh_s")
    return {
        "ingest_events_per_s": events / ingest if ingest else None,
        "e2e_events_per_s": events / (ingest + compact) if ingest else None,
        "freshness_s_p50": med("fresh_s"),
        "freshness_s_p90": percentile(fresh, 0.9) if fresh else None,
        "point_lookup_s_p50": med("lookup_s"),
        "write_amp": lake_bytes / input_bytes if lake_bytes else None,
        "_samples": {k: len(v) for k, v in out.items() if isinstance(v, list)},
        "_ingest_wall_s": ingest,
    }


# =====================================================================


class BulkReplay:
    """A backlog of content-heavy segments replayed by ``ReplayJob.run``
    (availableNow, four large epochs), a few reads of the table with its
    delta files, then a full ``compact_deltas`` — the reader's price.
    Four epochs stay below the compaction cadence, so every read sees the
    same four delta files per bucket. Cycles repeat on fresh tables while
    another one fits in the measuring time (one cycle takes about 18
    seconds on a 4-core host)."""

    name = "bulk_replay"
    SEGMENTS, FILES_PER_TRIGGER = 128, 32
    # with four lookups a cycle, their median's spread between seeds came
    # close to the 0.25 bound of point_lookup_s_p50
    LOOKUPS, SCANS = 8, 1

    def prepare(self, run: Run) -> None:
        spec = dict(n_repos=60, min_lines=30, max_lines=80)
        self.fx = fixtures.load_fixture(run.cache, self.name, StreamSpec(
            n_events=300 * self.SEGMENTS, n_keys=4_000, n_segments=self.SEGMENTS, seed=run.seed,
            **spec))
        rng = np.random.default_rng([run.seed, 1])
        keys = fixtures.lookup_keys(self.fx.events(), 16 * self.LOOKUPS, rng)
        self.reads = list(zip(keys, fixtures.expected_rows(self.fx.expected, keys)))

    def _cycle(self, run: Run, out: dict, reads) -> None:
        fx = self.fx
        root = run.path("bulk-table")
        create_code_table(run.spark, root, CONFIG)
        job = ReplayJob(
            table_root=root, stream_dir=fx.stream_dir, checkpoint_dir=run.path("bulk-ckpt"),
            config=CONFIG, max_files_per_trigger=self.FILES_PER_TRIGGER, emit_changelog=False,
        )
        due = time.time()
        t0 = time.perf_counter()
        stats = run.op("replay", job.run, run.spark)
        if stats is None:
            return
        out.setdefault("ingest_s", []).append(time.perf_counter() - t0)
        out.setdefault("ingest_windows", []).append((due, time.time()))
        out.setdefault("events", []).append(sum(s.events_in for s in stats))
        # every segment is due at the start of the replay, so the segments
        # of one epoch share a value: one sample per epoch
        fresh = run.op("freshness", freshness, root, job.lineage_dir, fx.seg_lsn,
                       [due] * len(fx.seg_lsn))
        out.setdefault("fresh_s", []).extend(sorted(set(fresh or [])))
        for key, want in reads:
            run.lookup(root, key, want, out)
        for _ in range(self.SCANS):
            run.scan(root, out)
        run.compact(root, out)
        out.setdefault("lake_bytes", []).append(tree_bytes(root))
        run.check_table(root, fx.expected)

    def setup(self, run: Run) -> None:
        """One untimed cycle on the same segments warms every code path
        the timed cycles run; two lookups warm the read path."""
        self._cycle(run, {}, self.reads[-2:])

    def measure(self, run: Run, cycles: int | None = None) -> dict:
        out: dict = {}
        t0 = time.perf_counter()
        i, last = 0, 0.0
        # another cycle only while it would end inside the measuring time
        while (cycles is None and (i == 0 or time.perf_counter() - t0 + last <= run.seconds)) \
                or (cycles is not None and i < cycles):
            t1 = time.perf_counter()
            self._cycle(run, out, self.reads[i * self.LOOKUPS:(i + 1) * self.LOOKUPS])
            last = time.perf_counter() - t1
            i += 1
        n = len(out.get("ingest_s", [])) or 1
        res = summarize(out, sum(out.get("events", [0])), self.fx.input_bytes * n,
                        sum(out.get("lake_bytes", [0])))
        res["_units"] = i
        res["_windows"] = out.get("ingest_windows", [])
        return res


# =====================================================================


class TailOpenLoop:
    """A continuous ``ReplayJob.start(available_now=False)`` tails a
    directory into which this process releases small segments on a
    fixed schedule (an open loop: a stall shows up as freshness, never
    as a slower sender). Watermarked dedup, default compaction cadence,
    and a stream whose events gain the ``author``/``size`` columns
    halfway through."""

    name = "tail_open_loop"
    # about a third of the 8,000-12,000 events/s this shape sustains on a
    # 4-core host before freshness leaves its per-trigger floor (ramp.py)
    SEGMENTS_PER_S = 15
    EVENTS_PER_SEGMENT = 200
    # eight lookups, as on bulk: a median of four spread up to 0.13
    # between seeds
    LOOKUPS, SCANS = 8, 1
    DRAIN_TIMEOUT_S = 60.0

    def prepare(self, run: Run) -> None:
        n_seg = self.SEGMENTS_PER_S * run.seconds
        n = n_seg * self.EVENTS_PER_SEGMENT
        spec = dict(n_repos=60, min_lines=10, max_lines=40)
        self.fx = fixtures.load_fixture(run.cache, self.name, StreamSpec(
            n_events=n, n_keys=max(500, n // 8), n_segments=n_seg, evolve_after_lsn=n // 2,
            seed=run.seed, **spec))
        self.warm = fixtures.load_fixture(run.cache, self.name + "-warmup", StreamSpec(
            n_events=4_000, n_keys=500, n_segments=4, evolve_after_lsn=2_000,
            seed=run.seed + 7919, **spec))
        rng = np.random.default_rng([run.seed, 2])
        self.keys = fixtures.lookup_keys(self.fx.events(), self.LOOKUPS, rng)
        self.want = fixtures.expected_rows(self.fx.expected, self.keys)

    def _job(self, run: Run, stream_dir: str, **kw) -> ReplayJob:
        root = run.path("tail-table")
        create_code_table(run.spark, root, CONFIG)
        return ReplayJob(
            table_root=root, stream_dir=stream_dir, checkpoint_dir=run.path("tail-ckpt"),
            config=CONFIG, event_schema=EVOLVED_SCHEMA, watermark="10 minutes",
            emit_changelog=False, **kw,
        )

    def setup(self, run: Run) -> None:
        job = self._job(run, self.warm.stream_dir, max_files_per_trigger=2)
        if run.op("warmup_replay", job.run, run.spark) is not None:
            out: dict = {}
            keys = self.keys[:1]
            for key, w in zip(keys, fixtures.expected_rows(self.warm.expected, keys)):
                run.lookup(job.table_root, key, w, out)
            run.scan(job.table_root, out)

    def measure(self, run: Run, cycles: int | None = None) -> dict:
        out: dict = {}
        stream_dir, staging = run.path("tail-stream"), run.path("tail-staging")
        os.makedirs(stream_dir)
        os.makedirs(staging)
        staged = [shutil.copy(p, staging) for p in self.fx.segments]
        job = self._job(run, stream_dir)
        phases = StreamPhases()
        run.spark.streams.addListener(phases)
        q = run.op("start_tail", job.start, run.spark, available_now=False)
        if q is None:
            run.spark.streams.removeListener(phases)
            return {}
        try:
            self._release(job, staged, stream_dir, out)
            self._drain(run, job, q)
            phases.wait_for(len(job.applied))
            out["ingest_s"] = [sum(p["ms"]["triggerExecution"] for p in phases.progress) / 1e3]
            fresh = run.op("freshness", freshness, job.table_root, job.lineage_dir,
                           self.fx.seg_lsn, out["due"])
            out["fresh_s"] = fresh or []
        finally:
            q.stop()
            run.spark.streams.removeListener(phases)
        if q.exception() is not None:
            run.attempted += 1
            run.failed += 1
            run.log(f"tail query failed: {q.exception()}")
        # compact first: how many epochs of deltas the tail leaves behind
        # depends on where its last epoch falls in the compaction cadence
        run.compact(job.table_root, out)
        for key, w in zip(self.keys, self.want):
            run.lookup(job.table_root, key, w, out)
        for _ in range(self.SCANS):
            run.scan(job.table_root, out)
        lake = tree_bytes(job.table_root)
        run.check_table(job.table_root, self.fx.expected)
        self.release_lag = out.pop("lag")
        self.backlog = out.pop("backlog")
        out.pop("due")
        res = summarize(out, self.fx.n_events, self.fx.input_bytes, lake)
        res["_units"] = 1
        return res

    def _release(self, job, staged, stream_dir, out) -> None:
        """Release segment i at t0 + i / rate: stamp its mtime with the
        release time (the file source orders by mtime) and rename it
        into the tailed directory."""
        out["due"], out["lag"], out["backlog"] = [], [], []
        t0 = time.time() + 0.2
        last_mtime = 0.0
        for i, path in enumerate(staged):
            due = t0 + i / self.SEGMENTS_PER_S
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            now = time.time()
            mtime = max(now, last_mtime + 0.002)
            os.utime(path, (mtime, mtime))
            os.rename(path, os.path.join(stream_dir, os.path.basename(path)))
            last_mtime = mtime
            out["due"].append(due)
            out["lag"].append(now - due)
            applied_hi = max((s.lsn_range[1] for s in list(job.applied) if s.lsn_range), default=0)
            out["backlog"].append(sum(1 for _, hi in self.fx.seg_lsn[: i + 1] if hi > applied_hi))

    def _drain(self, run, job, q) -> None:
        last_hi = self.fx.seg_lsn[-1][1]

        def wait():
            deadline = time.time() + self.DRAIN_TIMEOUT_S
            while time.time() < deadline:
                if q.exception() is not None:
                    raise RuntimeError(f"tail query died: {q.exception()}")
                hi = max((s.lsn_range[1] for s in list(job.applied) if s.lsn_range), default=0)
                if hi >= last_hi:
                    return
                time.sleep(0.02)
            raise TimeoutError("the tail did not apply every released segment in time")

        run.op("drain", wait)


WORKLOADS = {w.name: w for w in (BulkReplay, TailOpenLoop)}

"""Seeded inputs for the benchmark workloads, cached per (spec, seed).

Every input the engine sees is a parquet segment file produced by the
engine's own fixture generator (``cdc.fixtures.generate_stream``); the
expected final state comes from ``cdc.oracle.replay_oracle``. Both are
computed once per (workload spec, seed) under the cache directory and
reused by later runs, so neither lands in a timed window or in
``setup_s``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd

from etl_kafka_project_spark.cdc.fixtures import StreamSpec, generate_stream, space_mtimes
from etl_kafka_project_spark.cdc.oracle import replay_oracle

KEY = ["repo", "path"]

#: share of point lookups aimed at keys that never existed
MISS_SHARE = 0.2


@dataclass
class Fixture:
    """One generated stream plus everything the checks need."""

    stream_dir: str
    segments: list[str]
    #: [lo, hi] LSN of each segment, in segment order
    seg_lsn: list[tuple[int, int]]
    input_bytes: int
    n_events: int
    expected: pd.DataFrame
    events_path: str

    def events(self) -> pd.DataFrame:
        return pd.read_parquet(self.events_path)


def _spec_key(name: str, spec: StreamSpec) -> str:
    blob = json.dumps([name, asdict(spec)], sort_keys=True).encode()
    return f"{name}-{hashlib.sha256(blob).hexdigest()[:16]}"


def load_fixture(cache_dir: str, name: str, spec: StreamSpec) -> Fixture:
    """Generate (once) and load the stream for ``spec``."""
    out = os.path.join(cache_dir, _spec_key(name, spec))
    done = os.path.join(out, "_DONE")
    if not os.path.exists(done):
        shutil.rmtree(out, ignore_errors=True)
        events, segs = generate_stream(os.path.join(out, "stream"), spec)
        _type_null_columns(sorted(segs))
        events.to_parquet(os.path.join(out, "events.parquet"), index=False)
        replay_oracle(events).to_parquet(os.path.join(out, "expected.parquet"), index=False)
        seg_size = -(-len(events) // spec.n_segments)
        lsn = events["lsn"].to_numpy()
        meta = {
            "segments": [os.path.basename(p) for p in sorted(segs)],
            "seg_lsn": [
                [int(lsn[i]), int(lsn[min(i + seg_size, len(lsn)) - 1])]
                for i in range(0, len(lsn), seg_size)
            ],
            "n_events": int(events["lsn"].nunique()),
        }
        with open(os.path.join(out, "meta.json"), "w") as f:
            json.dump(meta, f)
        with open(done, "w") as f:
            f.write("ok")
    with open(os.path.join(out, "meta.json")) as f:
        meta = json.load(f)
    stream_dir = os.path.join(out, "stream")
    segments = [os.path.join(stream_dir, s) for s in meta["segments"]]
    return Fixture(
        stream_dir=stream_dir,
        segments=segments,
        seg_lsn=[tuple(r) for r in meta["seg_lsn"]],
        input_bytes=sum(os.path.getsize(p) for p in segments),
        n_events=meta["n_events"],
        expected=pd.read_parquet(os.path.join(out, "expected.parquet")),
        events_path=os.path.join(out, "events.parquet"),
    )


def _type_null_columns(segments: list[str]) -> None:
    """Give the evolved columns their declared type in segments where
    every value is null. The generator leaves them untyped there (arrow
    null type, stored as INT32), which Spark's parquet reader refuses
    to read as the stream's string/long columns."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    declared = {"author": pa.string(), "size": pa.int64()}
    for path in segments:
        t = pq.read_table(path)
        cols = [i for i, f in enumerate(t.schema) if pa.types.is_null(f.type) and f.name in declared]
        for i in cols:
            t = t.set_column(i, t.schema[i].name, t.column(i).cast(declared[t.schema[i].name]))
        if cols:
            pq.write_table(t, path)
    space_mtimes(segments)


def lookup_keys(events: pd.DataFrame, n: int, rng: np.random.Generator) -> list[dict]:
    """``n`` point-lookup keys. Hits are drawn from the event log, so
    they carry the stream's hot-repo skew; a fixed share are misses:
    paths that no event ever wrote, in a repo that exists."""
    keys = []
    n_miss = int(round(n * MISS_SHARE))
    rows = rng.integers(0, len(events), size=n)
    for i, r in enumerate(rows):
        repo, path = events["repo"].iat[r], events["path"].iat[r]
        if i < n_miss:
            path = f"src/none/missing_{int(rng.integers(1 << 30))}.py"
        keys.append({"repo": str(repo), "path": str(path)})
    order = rng.permutation(n)
    return [keys[i] for i in order]


def expected_rows(expected: pd.DataFrame, keys: list[dict]) -> list[pd.DataFrame]:
    """The rows each lookup key must return from a table whose state is
    ``expected`` (empty for misses and tombstoned keys)."""
    idx = expected.set_index(KEY, drop=False)
    out = []
    for k in keys:
        t = (k["repo"], k["path"])
        out.append(idx.loc[[t]].reset_index(drop=True) if t in idx.index else expected.iloc[0:0])
    return out

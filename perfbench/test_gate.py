"""Tests of the benchmark's own checks (no Spark session needed).

    python3 -m pytest perfbench/test_gate.py -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

from etl_kafka_project_spark.cdc.fixtures import StreamSpec, generate_events  # noqa: E402
from etl_kafka_project_spark.cdc.oracle import replay_oracle  # noqa: E402

import gate  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402


def _state() -> pd.DataFrame:
    spec = StreamSpec(n_events=600, n_keys=80, min_lines=2, max_lines=4, seed=7,
                      evolve_after_lsn=300)
    return replay_oracle(generate_events(spec))


def test_identical_state_passes():
    want = _state()
    assert gate.mismatch_rows(want.copy(), want) == 0


def test_one_altered_content_trips_the_gate():
    want = _state()
    got = want.copy()
    row = got.index[got["content"].notna()][0]
    got.loc[row, "content"] = got.loc[row, "content"] + " "
    assert gate.mismatch_rows(got, want) == 1


def test_meta_columns_are_compared():
    want = _state()
    for col in ("content_sha256", "last_lsn", "row_version"):
        got = want.copy()
        got.loc[got.index[3], col] = got.loc[got.index[4], col]
        assert gate.mismatch_rows(got, want) == 1, col


def test_missing_extra_and_duplicate_rows_count():
    want = _state()
    assert gate.mismatch_rows(want.iloc[1:], want) == 1
    assert gate.mismatch_rows(pd.concat([want, want.iloc[:1]]), want) == 1
    assert gate.mismatch_rows(want.drop(columns=["author"]), want) == len(want)


def test_spark_null_and_integer_forms_compare_equal():
    """toPandas gives NaN for null longs and floats for nullable ints."""
    want = _state()
    got = want.copy()
    got["size"] = got["size"].astype("float64")
    got["last_lsn"] = got["last_lsn"].astype(np.int64)
    assert gate.mismatch_rows(got, want) == 0


def test_benchmark_json_lists_what_the_runner_emits():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == layers.PER_LAYER


def test_self_time_subtracts_the_union_of_children():
    spans = [
        {"id": 0, "parent": None, "name": "a", "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "name": "b", "start": 1.0, "end": 4.0},
        {"id": 2, "parent": 0, "name": "b", "start": 3.0, "end": 5.0},
        {"id": 3, "parent": 1, "name": "c", "start": 1.0, "end": 2.0},
    ]
    tot = layers.span_totals(spans)
    assert tot["a"]["self_s"] == 6.0
    assert tot["b"] == {"calls": 2, "s": 5.0, "self_s": 4.0}

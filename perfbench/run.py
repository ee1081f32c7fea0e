"""CDC lake benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload bulk_replay --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The engine is imported from there;
every file the run writes goes under ``<checkout>/.perfbench`` (inputs
cached per (spec, seed) in ``cache/``, per-run scratch in ``work-<pid>/``
which is removed at exit, span files in ``spans/``). The last line of
standard output is ``{"correct", "attempted", "failed", "metrics"}``:
the end-to-end metrics with ``--trace 0``; with ``--trace 1`` the run
measures the workload once untraced and once traced and reports the
per-layer metrics of the traced pass (see ``layers.py``). A failed
operation is counted in ``failed`` and the run still reports; a run
that cannot import the engine exits with status 1 and prints no result.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

import layers  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END = [
    ("setup_s", "s"),
    ("ingest_events_per_s", "events/s"),
    ("e2e_events_per_s", "events/s"),
    ("freshness_s_p50", "s"),
    ("freshness_s_p90", "s"),
    ("point_lookup_s_p50", "s"),
    ("write_amp", "bytes/byte"),
    ("jvm_peak_rss_mb", "MB"),
]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def host_cores() -> int:
    """Cores as ``env -u OMP_NUM_THREADS nproc`` reports them."""
    env = {k: v for k, v in os.environ.items() if k != "OMP_NUM_THREADS"}
    try:
        return int(subprocess.run(["nproc"], env=env, capture_output=True, text=True,
                                  check=True, timeout=10).stdout)
    except (OSError, ValueError, subprocess.SubprocessError):
        return len(os.sched_getaffinity(0))


def driver_heap_mb() -> int:
    """A quarter of the available memory, between 1 and 6 GiB: the
    machine is shared, and the workloads' tables are tens of MB."""
    with open("/proc/meminfo") as f:
        info = {ln.split(":")[0]: int(ln.split()[1]) for ln in f if ln.split()[1:]}
    return max(1024, min(6144, info["MemAvailable"] // 1024 // 4))


def build(work: str, cores: int, trace: bool):
    from etl_kafka_project_spark.session import build_session

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    heap = driver_heap_mb()
    log(f"local[{cores}], driver heap {heap} MB, ui {'on' if trace else 'off'}")
    return build_session(
        f"local[{cores}]",
        app_name="perfbench",
        shuffle_partitions=2 * cores,
        extra_conf={
            "spark.driver.memory": f"{heap}m",
            "spark.driver.extraJavaOptions": (
                f"-XX:+UseParallelGC -XX:ActiveProcessorCount={cores} -XX:-UsePerfData"
                f" -Djava.io.tmpdir={tmp}"
            ),
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.host": "127.0.0.1",
            "spark.driver.bindAddress": "127.0.0.1",
            "spark.ui.enabled": "true" if trace else "false",
            "spark.ui.port": "0",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop(spark) -> None:
    """Stop the session and wait for the JVM process to end."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        spark.stop()
        gateway.shutdown()
    finally:
        # the JVM exits when its stdin closes, also after a broken stop
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for ln in f:
            if ln.startswith("VmHWM:"):
                return int(ln.split()[1]) / 1024
    raise RuntimeError("VmHWM missing")


def newest_snapshot_bytes(pass_dir: str) -> int:
    """Size of the newest snapshot file of each table, largest first."""
    sizes = []
    for d, _, files in os.walk(pass_dir):
        if os.path.basename(d) == "snapshots" and files:
            v = max(int(f[1:-5]) for f in files if f.startswith("v") and f.endswith(".json"))
            sizes.append(os.path.getsize(os.path.join(d, f"v{v}.json")))
    return max(sizes, default=0)


def lineage_bytes(pass_dir: str) -> int:
    from workloads import tree_bytes

    return sum(
        tree_bytes(d) for d, _, _ in os.walk(pass_dir) if os.path.basename(d) == "lineage"
    )


def traced_pass(run, wl, plain: dict, spans_dir: str) -> dict:
    """Measure the workload again with spans on, then once more without
    (the JVM keeps warming, so the traced pass is compared with the mean
    of the untraced passes around it). Returns the per-layer metrics and
    writes the span file."""
    import tracing

    tracer = tracing.Tracer()
    phases = tracing.StreamPhases()
    run.spark.streams.addListener(phases)
    run.tracer, run.pass_name = tracer, "traced"
    tracer.install()
    try:
        res = wl.measure(run, cycles=plain.get("_units"))
    finally:
        tracer.restore()
        run.tracer = None
    phases.settle()
    run.spark.streams.removeListener(phases)
    pass_dir = os.path.join(run.work, "traced")
    lag = max(getattr(wl, "release_lag", [0.0]))
    backlog = max(getattr(wl, "backlog", [0]))
    run.pass_name = "plain-after"
    after = wl.measure(run, cycles=plain.get("_units"))
    doc = {
        "workload": wl.name,
        "seed": run.seed,
        "units": res.get("_units", 1),
        "ingest_wall_s": res["_ingest_wall_s"],
        "plain_ingest_wall_s": (plain["_ingest_wall_s"] + after["_ingest_wall_s"]) / 2,
        "ingest_windows": res.get("_windows", []),
        "stream_progress": phases.progress,
        "merge_job": run.op("stage_metrics", tracing.merge_job_stages, run.spark) or {},
        "lake": getattr(run, "lake_files", {}),
        "snapshot_json_bytes": newest_snapshot_bytes(pass_dir),
        "lineage_bytes": lineage_bytes(pass_dir),
        "generator_lag_s_max": lag,
        "backlog_segments_max": backlog,
        "oracle_mismatch_rows": run.mismatch_rows,
        "ops_failed_share": run.failed / max(1, run.attempted),
        "samples": res.get("_samples", {}),
    }
    os.makedirs(spans_dir, exist_ok=True)
    path = os.path.join(spans_dir, f"{wl.name}-seed{run.seed}.json")
    tracer.dump(path, doc)
    log(f"span file: {path}  (print it: python3 perfbench/layers.py {path})")
    return layers.per_layer_metrics({**doc, "spans": tracer.spans, "counts": dict(tracer.counts)})


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM and removes its scratch
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    sys.path.insert(0, ROOT)
    try:
        import workloads
    except ImportError as e:
        log(f"cannot import the engine from {ROOT}: {e}")
        return 1
    if args.workload not in workloads.WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        return 2

    state = os.path.join(ROOT, ".perfbench")
    work = os.path.join(state, f"work-{os.getpid()}")
    cache = os.path.join(state, "cache")
    os.makedirs(cache, exist_ok=True)
    os.makedirs(work, exist_ok=True)
    wl = workloads.WORKLOADS[args.workload]()
    run = workloads.Run(None, work, cache, args.seed, args.seconds, log)
    spark = None
    metrics: dict = {}
    units = dict(layers.PER_LAYER if args.trace else END_TO_END)
    try:
        t = time.time()
        wl.prepare(run)
        fixture_s = time.time() - t
        log(f"inputs ready in {fixture_s:.1f} s")
        spark = run.spark = build(work, host_cores(), bool(args.trace))
        wl.setup(run)
        setup_s = time.time() - T_START - fixture_s
        log(f"setup {setup_s:.1f} s")
        plain = wl.measure(run)
        log(f"untraced pass: {plain}")
        if args.trace:
            metrics = traced_pass(run, wl, plain, os.path.join(state, "spans"))
        else:
            metrics = {k: v for k, v in plain.items() if not k.startswith("_")}
            metrics["setup_s"] = setup_s
            metrics["jvm_peak_rss_mb"] = jvm_peak_rss_mb(spark)
    except Exception as e:  # noqa: BLE001 - report what was measured
        import traceback

        run.attempted += 1
        run.failed += 1
        log(f"run failed: {e}\n{traceback.format_exc()}")
    finally:
        try:
            if spark is not None:
                stop(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    result = {
        "correct": run.failed == 0 and run.mismatch_rows == 0,
        "attempted": max(1, run.attempted),
        "failed": run.failed,
        "metrics": {
            name: {"value": metrics.get(name), "unit": unit} for name, unit in units.items()
        },
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

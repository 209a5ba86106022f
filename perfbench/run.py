"""sedona_spark benchmark: seeded closed-loop workloads with oracle checks.

    python3 perfbench/run.py --workload pipeline_write --seed 1 --seconds 8 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` and
cached under ``.perfbench/inputs``; the workload runs in its own worker
process on ``local[<cores>]`` (one client, closed loop). The last line of
stdout is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Lines before it print each metric by name and
unit, the named per-op figures, and the host's contention telemetry.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

RUN_LIMIT_S = 170.0      # whole run, including input generation


def _mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def session_env(root: str, scratch: str) -> dict:
    """Size the engine from the machine: half the usable cores, a quarter
    of RAM for the driver JVM (``SPARK_GRAFT_CPUS`` / ``SPARK_DRIVER_MEM``
    are the deployment settings ``sedona_spark.session`` reads). Half, so
    that a neighbour taking one core of a shared host delays no task: on a
    4-vCPU VM a one-core CPU hog slowed ``vector_join`` by 31% on
    ``local[4]`` and not at all on ``local[2]``."""
    env = dict(os.environ)
    cores = max(1, len(os.sched_getaffinity(0)) // 2)
    env["SPARK_GRAFT_CPUS"] = str(cores)
    env["SPARK_DRIVER_MEM"] = f"{max(1, _mem_total_bytes() // 4 // 2**20)}m"
    # temporary files of Spark, the JVM and Python go under the run's
    # scratch directory, which the parent removes after the run
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    env["TMPDIR"] = tmp
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [env.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}",
                      "-XX:-UsePerfData"]))
    env["PYTHONPATH"] = os.pathsep.join(
        [root] + ([env["PYTHONPATH"]] if env.get("PYTHONPATH") else []))
    return env


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user … steal)."""
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:9]]


def contention() -> dict:
    """``bench.py``'s telemetry (load averages and a single-thread numpy
    canary) plus the CPU counters, so a reader can discount a run on a
    contended host."""
    from bench import _contention_telemetry

    return {**_contention_telemetry(), "cpu": cpu_times()}


def steal_share(start: dict, end: dict) -> float:
    """Share of CPU time the hypervisor gave to other guests in between."""
    d = [b - a for a, b in zip(start["cpu"], end["cpu"])]
    return d[7] / sum(d) if sum(d) else 0.0


class RssSampler(threading.Thread):
    """Resident memory of a process group (driver JVM, the worker and its
    Python workers), sampled from /proc as ``(epoch s, bytes)``. Each
    process counts its proportional set size, so pages that forked Python
    workers share with their daemon are counted once."""

    def __init__(self, pgid: int, every: float = 0.5):
        super().__init__(daemon=True)
        self.pgid, self.every = pgid, every
        self.samples: list[tuple[float, int]] = []
        self._halt = threading.Event()

    def sample(self) -> int:
        total = 0
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
                if int(fields[2]) != self.pgid:      # field 5: pgrp
                    continue
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except (OSError, IndexError, ValueError):
                continue  # process ended between listing and reading
        return total

    def run(self) -> None:
        while not self._halt.is_set():
            self.samples.append((time.time(), self.sample()))
            self._halt.wait(self.every)

    def stop(self) -> None:
        self._halt.set()
        self.join()


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
        return True
    except ProcessLookupError:
        return False


def stop_group(proc: subprocess.Popen, grace: float = 20.0) -> None:
    """Wait for the worker's process group to end; kill what is left."""
    pgid = proc.pid
    deadline = time.monotonic() + grace
    while _group_alive(pgid) and time.monotonic() < deadline:
        time.sleep(0.1)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        if not _group_alive(pgid):
            break
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            break
        end = time.monotonic() + 5
        while _group_alive(pgid) and time.monotonic() < end:
            time.sleep(0.1)
    proc.wait()


def _interrupt(signum, frame):
    raise KeyboardInterrupt


def read_events(path: str) -> list[dict]:
    if not os.path.exists(path):
        return []
    out = []
    with open(path) as f:
        for line in f:
            try:
                out.append(json.loads(line))
            except json.JSONDecodeError:
                break  # torn last line of a killed worker
    return out


def tally(events: list[dict]) -> tuple[int, int]:
    """(attempted ops, failed ops). An iteration that began but never
    ended (killed JVM, crash) counts all its ops as failed."""
    attempted = failed = 0
    open_ops = 0
    for e in events:
        if e["kind"] == "begin":
            open_ops = e["ops"]
        elif e["kind"] == "end":
            attempted += e["ops"]
            failed += e["failed"]
            open_ops = 0
    return attempted + open_ops, failed + open_ops


def iteration_peaks(events: list[dict], samples: list[tuple[float, int]],
                    phase: str = "timed") -> list[int]:
    """Peak sampled RSS within each iteration of ``phase``."""
    peaks, t0 = [], None
    for e in events:
        if e.get("phase") != phase:
            continue
        if e["kind"] == "begin":
            t0 = e["t"]
        elif e["kind"] == "end" and t0 is not None:
            inside = [b for t, b in samples if t0 <= t <= e["t"]]
            if inside:
                peaks.append(max(inside))
            t0 = None
    return peaks


def end_to_end(events: list[dict], items: int) -> tuple[dict, dict]:
    """End-to-end metrics and the named per-op medians of the timed loop."""
    setup = next((e for e in events if e["kind"] == "setup"), None)
    timed = [e for e in events
             if e["kind"] == "end" and e["phase"] == "timed" and "wall" in e]
    walls = [e["wall"] for e in timed]
    # a run that timed nothing (it failed, and says so) reports zeros
    med = statistics.median(walls) if walls else 0.0
    metrics = {
        "setup_s": (statistics.median(setup["setup_s"]) if setup else 0.0, "s"),
        "iter_s": (med, "s"),
        "throughput": (items / med if med else 0.0, "items/s"),
    }
    ops = {}
    for key in sorted({k for e in timed for k in e["times"]}):
        ops[key] = statistics.median(e["times"][key] for e in timed if key in e["times"])
    ops["iterations"] = len(walls)
    return metrics, ops


OP_METRICS = {  # named per-op figures (reported with the per-layer metrics)
    "images_per_s": "images/s", "pip_join_s": "s", "distance_join_s": "s",
    "knn_join_s": "s", "pipeline_s": "s", "resume_s": "s", "write_amp": "ratio",
    "sql_stmt_s": "s",
}


def layer_unit(metric: str) -> str:
    m = metric.split(".", 1)[1]
    if m.endswith("_mb"):
        return "MB"
    if m.endswith("_s"):
        return "s"
    if m.endswith(("bytes", "bytes_written", "bytes_sent", "bytes_received")):
        return "bytes"
    if m.endswith("ratio"):
        return "ratio"
    return "count"


def per_layer(events: list[dict], ops: dict, expected: dict) -> dict:
    from perfbench import trace

    led = next((e for e in events if e["kind"] == "ledger"), None)
    layers = led["layers"] if led else {}
    out = {}
    for name in trace.metric_names():
        layer, m = name.split(".", 1)
        out[name] = (float(layers.get(layer, {}).get(m, 0.0)), layer_unit(name))
    named = {k: ops.get(k, 0.0) for k in OP_METRICS}
    if ops.get("tile_join_s"):
        named["images_per_s"] = expected["n_images"] / ops["tile_join_s"]
    named["sql_stmt_s"] = led["sql_stmt_s"] if led else 0.0
    for k, unit in OP_METRICS.items():
        out[f"op.{k}"] = (float(named[k]), unit)
    out["session.peak_rss_mb"] = (ops.get("peak_rss_mb", 0.0), "MB")
    out["trace.overhead"] = (float(led["overhead"]) if led else 0.0, "ratio")
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    t_start = time.monotonic()
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "sedona_spark", "__init__.py")):
        print("perfbench: run from the repository root (no sedona_spark/ here)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    from perfbench import inputs

    if a.workload not in inputs.WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; "
              f"choose from {', '.join(inputs.WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(root, ".perfbench")
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    tele_start = contention()
    input_dir, expected = inputs.ensure(a.workload, a.seed, os.path.join(base, "inputs"))

    tag = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    events_path = os.path.join(out_dir, f"{tag}.events.jsonl")
    artifact = os.path.join(out_dir, f"{tag}.trace.json")
    log_path = os.path.join(out_dir, f"{tag}.log")
    for p in (events_path, artifact):
        if os.path.exists(p):
            os.remove(p)
    work_dir = os.path.join(base, "work", tag)
    cmd = [sys.executable, "-m", "perfbench.worker", "--workload", a.workload,
           "--input-dir", input_dir, "--events", events_path,
           "--work-dir", os.path.join(work_dir, "stages"),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--artifact", artifact, "--run-id", tag]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, env=session_env(root, work_dir), stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        sampler = RssSampler(proc.pid)
        sampler.start()
        budget = RUN_LIMIT_S - (time.monotonic() - t_start)
        signal.signal(signal.SIGTERM, _interrupt)
        grace = 20.0
        try:
            rc = proc.wait(timeout=max(budget, 1.0))
        except subprocess.TimeoutExpired:
            rc, grace = None, 0.0
        except KeyboardInterrupt:
            grace = 0.0
            raise
        finally:
            sampler.stop()
            stop_group(proc, grace)
            shutil.rmtree(work_dir, ignore_errors=True)
    tele_end = contention()

    events = read_events(events_path)
    attempted, failed = tally(events)
    items = workload_items(a.workload, expected)
    metrics, ops = end_to_end(events, items)
    peaks = iteration_peaks(events, sampler.samples)
    ops["peak_rss_mb"] = statistics.median(peaks) / 2**20 if peaks else 0.0
    done = rc == 0 and ops["iterations"] > 0
    if not done:
        failed = max(failed, 1)
        attempted = max(attempted, failed)
        with open(log_path) as f:
            tail = f.read()[-4000:]
        print(f"perfbench: worker exit {rc}; log tail:\n{tail}", file=sys.stderr)
    err_rate = failed / attempted if attempted else 1.0
    if a.trace:
        metrics = per_layer(events, ops, expected)

    for e in events:
        for msg in e.get("errors", []):
            print(f"CHECK FAILED [{e['phase']}]: {msg}")
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{ops['iterations']} timed iterations, attempted {attempted} ops, "
          f"failed {failed}, error_rate {err_rate:.4f}")
    for k, v in ops.items():
        if k != "iterations":
            print(f"  op {k} = {v:.6g} (median over timed iterations)")
    for k, (v, unit) in metrics.items():
        print(f"  {k} = {v:.6g} {unit}")
    print(f"  telemetry load_avg {tele_start['load_avg']} -> {tele_end['load_avg']}, "
          f"canary_s {tele_start['canary_sec']} -> {tele_end['canary_sec']}, "
          f"cpu steal {steal_share(tele_start, tele_end):.3f}")
    led = next((e for e in events if e["kind"] == "ledger"), None)
    if led:
        for op, r in led["residual_s"].items():
            print(f"  residual {op} = {r:.6g} s (op wall - build - plan - exec)")
    if a.trace and os.path.exists(artifact):
        print(f"  trace artifact: {os.path.relpath(artifact, root)}")
    result = {
        "correct": done and failed == 0,
        "attempted": int(attempted),
        "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0


def workload_items(workload: str, expected: dict) -> int:
    """Input items one iteration processes (images, or input points)."""
    from perfbench import inputs

    if workload == "vector_join":
        return (inputs.N_PIP_POINTS + 2 * inputs.N_DIST_POINTS
                + inputs.N_KNN_QUERIES + inputs.N_KNN_OBJECTS)
    return expected["n_images"]


if __name__ == "__main__":
    sys.exit(main())

"""One workload run in its own process (started by ``perfbench/run.py``).

Events are appended to a JSON-lines file as they happen, so the parent
can count an iteration that a killed JVM or a crash left unfinished.

    python3 -m perfbench.worker --workload W --input-dir D --events F \
        --work-dir T --seconds S --trace 0|1 [--artifact A]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

SETUPS = 5          # set-ups per run; setup_s is their median
TIMED_MIN = 3       # timed iterations per run at least; iter_s is their median
# the catalog statement of traced runs: the one whose cost is mostly
# driver-side analysis and planning (sql_registry's share)
SQL_PROBE = "sql_api_5"


class Events:
    def __init__(self, path: str):
        self.f = open(path, "a", buffering=1)

    def emit(self, **ev) -> None:
        ev["t"] = time.time()
        self.f.write(json.dumps(ev) + "\n")
        self.f.flush()

    def close(self) -> None:
        self.f.close()


def _op_errors(errs: list[str]) -> int:
    """Failed ops in one iteration: distinct op prefixes among messages."""
    return len({e.split(":", 1)[0] for e in errs})


def iteration(wl, spark, runner, events: Events, phase: str) -> dict:
    events.emit(kind="begin", phase=phase, ops=wl.ops)
    try:
        times, wall, errs = wl.iterate(spark, runner)
    except Exception as e:
        # an op raised: count the whole iteration as failed, then stop the
        # run (the parent reports it as incorrect, with the log's tail)
        events.emit(kind="end", phase=phase, ops=wl.ops, failed=wl.ops,
                    errors=[f"{phase}: {type(e).__name__}: {e}"[:500]])
        raise
    events.emit(kind="end", phase=phase, ops=wl.ops, failed=_op_errors(errs),
                wall=wall, times=times, errors=errs[:5])
    return {"wall": wall, **times}


def loop(wl, spark, runner, seconds: float, events: Events, phase: str,
         min_iters: int = 1, odd: bool = True) -> list[dict]:
    """Closed loop: one client, next iteration only after the last ends.
    Runs for ``seconds`` and at least ``min_iters`` iterations; with
    ``odd``, an odd number of them, so the median is one measured
    iteration rather than the mean of two."""
    out = []
    deadline = time.perf_counter() + seconds
    while (len(out) < min_iters or time.perf_counter() < deadline
           or (odd and len(out) % 2 == 0)):
        out.append(iteration(wl, spark, runner, events, phase))
    return out


def traced_loop(wl, spark, tracer, seconds: float, events: Events):
    """Untraced and traced iterations alternate, so both see the same warm
    state and the tracing overhead is not confused with JIT warm-up."""
    from perfbench.workloads import OpRunner

    plain_runner, traced_runner = OpRunner(spark), OpRunner(spark, tracer)
    plain, traced = [], []
    deadline = time.perf_counter() + 2 * seconds
    while not traced or time.perf_counter() < deadline:
        plain.append(iteration(wl, spark, plain_runner, events, "timed"))
        tracer.install()
        try:
            traced.append(iteration(wl, spark, traced_runner, events, "traced"))
        finally:
            tracer.uninstall()
    return plain, traced, traced_runner


def sql_probe(spark, tracer, runner, sf_dir: str) -> tuple[dict, list[str]]:
    """Register the SQL catalog and run one catalog statement under the
    tracer, checking it against its DuckDB twin (traced runs only)."""
    import duckdb

    import __spark_entry__ as entry

    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    from driver_check import value_hash

    reg = spark._jsparkSession.sessionState().functionRegistry()
    n0 = reg.listFunction().size()
    t0 = time.perf_counter()
    with tracer.span("sql_registry.setup", "sql_registry", "op"):
        import sedona_spark

        sedona_spark.register(spark, force=True)
    register_s = time.perf_counter() - t0
    n_fn = reg.listFunction().size() - n0

    built = []

    def build():
        built.append(getattr(entry, f"q_{SQL_PROBE}")(spark, sf_dir))
        return built[-1]

    pdf, stmt_s, _ = runner.run(f"sql_catalog.{SQL_PROBE}", "sql_registry", build,
                                lambda df: df.toPandas())
    nodes = len(built[0]._jdf.queryExecution().analyzed().treeString().splitlines())
    con = duckdb.connect()
    try:
        con.execute(f"create view nation as select * from '{sf_dir}/nation.parquet'")
        want = con.execute(entry.oracle_sql()[SQL_PROBE]).fetchdf()
    finally:
        con.close()
    errs = []
    if len(pdf) != len(want) or value_hash(pdf) != value_hash(want):
        errs.append(f"{SQL_PROBE}: {len(pdf)} rows vs {len(want)}, value hash differs")
    return {"register_s": register_s, "functions": n_fn, "analyzed_nodes": nodes,
            "sql_stmt_s": stmt_s}, errs


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--input-dir", required=True)
    ap.add_argument("--events", required=True)
    ap.add_argument("--work-dir", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--artifact")
    ap.add_argument("--run-id", default="run")
    a = ap.parse_args(argv)

    sys.path.insert(0, os.getcwd())
    from perfbench import trace as tr
    from perfbench.workloads import WORKLOADS, OpRunner
    from sedona_spark.session import get_spark

    with open(os.path.join(a.input_dir, "expected.json")) as f:
        expected = json.load(f)
    events = Events(a.events)
    os.makedirs(a.work_dir, exist_ok=True)
    wl = WORKLOADS[a.workload](a.input_dir, expected, a.work_dir)
    spark = None
    try:
        setups, starts = [], []
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark("perfbench")
            t1 = time.perf_counter()
            wl.prepare(spark)
            setups.append(time.perf_counter() - t0)
            starts.append(t1 - t0)
        events.emit(kind="setup", setup_s=setups, start_s=starts)

        loop(wl, spark, OpRunner(spark), 0, events, "warmup", wl.warmups, odd=False)
        if not a.trace:
            loop(wl, spark, OpRunner(spark), a.seconds, events, "timed", TIMED_MIN)
            return 0

        cores = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count() or 1)
        tracer = tr.Tracer(spark, a.run_id, cores)
        plain, traced, runner = traced_loop(wl, spark, tracer, a.seconds, events)
        tracer.install()
        try:
            sql, sql_errs = sql_probe(spark, tracer, runner,
                                      os.path.join(a.input_dir, "sf"))
            events.emit(kind="end", phase="sql_probe", ops=1, failed=_op_errors(sql_errs),
                        wall=sql["sql_stmt_s"], times={}, errors=sql_errs)
        finally:
            tracer.uninstall()
        src = tr.SparkSources(spark)
        led = tr.ledger(tracer, src, runner.op_spans)
        layers = led["layers"]
        n_it = len(traced)
        for layer, ms in layers.items():
            for m in ms:
                if m not in tr.GAUGES and layer != "sql_registry":
                    ms[m] /= n_it
        layers["session"]["start_s"] = statistics.median(starts)
        for m in ("register_s", "functions", "analyzed_nodes"):
            layers["sql_registry"][m] = sql[m]
        med_plain = statistics.median(r["wall"] for r in plain)
        med_traced = statistics.median(r["wall"] for r in traced)
        summary = {
            "layers": layers,
            "residual_s": {k: v / n_it for k, v in led["residual_s"].items()},
            "overhead": med_traced / med_plain - 1.0,
            "sql_stmt_s": sql["sql_stmt_s"],
            "traced_iterations": n_it,
        }
        events.emit(kind="ledger", **summary)
        if a.artifact:
            with open(a.artifact, "w") as f:
                json.dump({"summary": summary,
                           "spans": [s.as_dict() for s in tracer.spans]}, f)
        return 0
    finally:
        if spark is not None:
            spark.stop()
        shutil.rmtree(a.work_dir, ignore_errors=True)
        events.close()


if __name__ == "__main__":
    sys.exit(main())

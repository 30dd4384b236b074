"""Benchmark of the nbi_oedi_etl_spark engine on seeded, OEDI-shaped inputs.

    python3 perfbench/run.py --workload {etl_batch,series_fetch}
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Inputs are generated from the seed (and
reused when already on disk); the engine sees only the generated files. One
run opens ``N_SETUPS`` sessions, each on a fresh JVM; each session's set-up
is timed, and each runs an equal share of ``--seconds`` seconds of the
workload's operations as a closed loop with one client. Every result is
checked without Spark. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the same run is traced and the metrics are the per-layer ones. All files
go under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
N_SETUPS = 2
REQUIRED = ("bench.py", "nbi_oedi_etl_spark/pipeline.py")
WORKLOAD_NAMES = ("etl_batch", "series_fetch")
#: Per-layer values that read 0 on this scale (the sum check is 0 up to
#: float rounding; local shuffle fetches never wait a millisecond): kept in
#: the report, left out of the result line.
REPORT_ONLY = ("trace.unaccounted_s", "execute.shuffle_fetch_wait_s")


class Context:
    def __init__(self, seed: int, manifest: dict) -> None:
        self.work, self.seed, self.manifest = WORK, seed, manifest


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def isolate_environment() -> None:
    """Keep every file Spark and the JVMs write inside the work directory."""
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    opts = f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} -XX:-UsePerfData"
    os.environ["JAVA_TOOL_OPTIONS"] = f"{os.environ.get('JAVA_TOOL_OPTIONS', '')} {opts}".strip()
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(os.cpu_count()))


def prepare(seed: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "prepare.py"),
         "--seed", str(seed), "--work", WORK],
        cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=600,
        env={**os.environ, "PYTHONPATH": ROOT},
    )
    if proc.returncode != 0:
        raise RuntimeError(f"prepare.py exited {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if "bytes" in name:
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_per_op"):
        return "calls/op"
    if name.endswith(("_share", "_amplification")):
        return "ratio"
    return "count"


def finite(v: float) -> float:
    """A failed request makes a latency infinite; JSON needs a number."""
    return v if math.isfinite(v) else 1e12


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    isolate_environment()
    shutil.rmtree(os.path.join(WORK, "etl"), ignore_errors=True)
    prepared = prepare(args.seed)

    import nbi_oedi_etl_spark

    from perfbench import checks, engine, host, trace, workloads

    if not os.path.abspath(nbi_oedi_etl_spark.__file__).startswith(ROOT + os.sep):
        raise RuntimeError(f"engine imported from {nbi_oedi_etl_spark.__file__}, not {ROOT}")
    with open(prepared["manifest"]) as fh:
        manifest = json.load(fh)
    run_id = f"{args.workload}-seed{args.seed}"
    trace_dir = os.path.join(WORK, "trace", run_id)
    shutil.rmtree(trace_dir, ignore_errors=True)
    tracer = trace.Tracer(os.path.join(trace_dir, "eventlog")) if args.trace else trace.NullTracer()
    eng = engine.Engine(tracer)
    wl = workloads.WORKLOADS[args.workload](Context(args.seed, manifest))
    conf = engine.session_conf(WORK)
    if args.trace:
        conf.update(tracer.conf())

    failures: list[dict] = []

    def fail(op: str, layer: str, exc: BaseException) -> None:
        failures.append({"op": op, "layer": layer, "type": type(exc).__name__, "error": str(exc)[:500]})

    def run_op(spark, req, op: str) -> tuple[float, tuple[int, int] | None]:
        """Execute one request (timed), then check it (untimed): the
        duration and the checked (input rows, output bytes), or None. A
        failure is recorded with its layer and type, and the run goes on."""
        t0 = time.perf_counter()
        try:
            with tracer.span("bench.op", op):
                out = wl.execute(eng, spark, req)
        except Exception as exc:  # noqa: BLE001 - every failure is counted
            fail(op, engine.layer_of(exc) or "bench", exc)
            return time.perf_counter() - t0, None
        dt = time.perf_counter() - t0
        try:
            return dt, wl.check(req, out)
        except Exception as exc:  # noqa: BLE001 - a wrong result is a failed operation
            fail(op, "check", exc)
            return dt, None

    # N_SETUPS sessions, each on a fresh JVM: a timed set-up, untimed warm-up
    # operations (the first of each kind compiles its code, and the JIT keeps
    # compiling over the next few), then an equal share of the measured
    # window as a closed loop with one client. Two set-ups per run give
    # setup_s a median within the run, and spreading the window over two JVMs
    # averages out their JIT and GC decisions. A set-up is an operation too:
    # if it fails, the failure is recorded with its layer and the run goes on
    # with the next session.
    setup_s: list[float] = []
    jvm_rss: list[float] = []
    latencies: list[float] = []
    rows = out_bytes = in_bytes_ok = 0
    attempted = selected = 0
    measured_total = 0.0
    host_rec = dict(prepared["host"])
    stream = wl.requests()
    share = args.seconds / N_SETUPS
    for session in range(N_SETUPS):
        spark = None
        try:
            attempted += 1
            t0 = time.perf_counter()
            try:
                with tracer.span("bench.setup", f"setup{session}"):
                    spark = eng.get_spark(app_name="perfbench", extra_conf=conf)
                    spark.sparkContext.setLogLevel("ERROR")
                    tracer.attach(spark)
                    with tracer.span("session.warmup"):
                        workloads.warmup(eng, spark, manifest, os.path.join(WORK, "setup", str(session)))
            except Exception as exc:  # noqa: BLE001 - a failed set-up is counted
                layer = "check" if isinstance(exc, checks.CheckFailed) else "session"
                fail(f"setup{session}", engine.layer_of(exc) or layer, exc)
                continue
            setup_s.append(time.perf_counter() - t0)
            if "spark.master" not in host_rec:
                host_rec.update(host.record(spark))
            for i, req in enumerate(wl.warmup_requests(session)):
                attempted += 1
                selected += wl.selected_bytes(req)
                run_op(spark, req, f"warm{session}.{i}")
            measured = 0.0
            timed = 0
            wall_cap = time.perf_counter() + max(3 * share, share + 30)
            while (measured < share or timed % wl.cycle) and time.perf_counter() < wall_cap:
                req = next(stream)
                timed += 1
                attempted += 1
                in_bytes = wl.selected_bytes(req)
                selected += in_bytes
                dt, got = run_op(spark, req, f"op{len(latencies)}")
                measured += dt
                if got is None:
                    latencies.append(float("inf"))
                else:
                    latencies.append(dt)
                    rows += got[0]
                    out_bytes += got[1]
                    in_bytes_ok += in_bytes
            measured_total += measured
        finally:
            jvm_rss.append(engine.stop_jvm(spark))
    py_rss = host.vm_hwm_mb()
    # Python's VmHWM plus the lower of the JVMs' VmHWM: G1 sizes the shipped
    # 32g heap by pause timing, so one JVM's peak swings by up to 1.7x
    # between identical sessions; the lower of two swings less.
    peak_rss_mb = py_rss + min((r for r in jvm_rss if r is not None), default=0.0)

    metrics = {
        "setup_s": (statistics.median(setup_s) if setup_s else math.inf, "s"),
        "ok_ratio": ((attempted - len(failures)) / attempted, "ratio"),
        "latency_p50_ms": (workloads.percentile(latencies, 50) * 1000, "ms"),
        # input rows of checked operations per second of all operations
        "rows_per_s": (rows / measured_total if measured_total else 0.0, "rows/s"),
        "output_bytes_per_input_byte": (out_bytes / in_bytes_ok if in_bytes_ok else 0.0, "ratio"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    e2e = {k: {"value": finite(v), "unit": u} for k, (v, u) in metrics.items()}

    results_dir = os.path.join(WORK, "results")
    os.makedirs(results_dir, exist_ok=True)
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "host": host_rec,
              "setup_samples_s": setup_s, "ops": attempted, "measured_s": measured_total,
              "latencies_ms": [finite(x * 1000) for x in latencies],
              # reported, not gated: a run has 2 (etl_batch) or 8
              # (series_fetch) timed operations, too few samples beyond p90
              "latency_p90_ms": finite(workloads.percentile(latencies, 90) * 1000),
              "peak_rss_mb": {"value": peak_rss_mb, "python": py_rss, "jvm_per_session": jvm_rss},
              "input_bytes": manifest["bytes"], "failures": failures, "end_to_end": e2e}
    if args.trace:
        layers = layer_metrics(tracer, eng, wl, failures, len(latencies), selected)
        layers["session.peak_rss_mb"] = peak_rss_mb
        untraced_path = os.path.join(results_dir, f"{run_id}-trace0.json")
        if os.path.exists(untraced_path):
            with open(untraced_path) as fh:
                base = json.load(fh)["end_to_end"]
            report["tracing_overhead"] = {k: e2e[k]["value"] - base[k]["value"] for k in e2e if k in base}
        else:
            report["tracing_overhead"] = "no untraced run of this workload and seed in this checkout"
        report["per_layer"] = layers
        tracer.dump(os.path.join(trace_dir, "spans.json"))
        out_metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()
                       if k not in REPORT_ONLY}
    else:
        out_metrics = e2e
    with open(os.path.join(results_dir, f"{run_id}-trace{args.trace}.json"), "w") as fh:
        json.dump(report, fh, indent=1)
    for scratch in ("etl", "setup"):
        shutil.rmtree(os.path.join(WORK, scratch), ignore_errors=True)

    print(json.dumps(report))
    print(json.dumps({"correct": not failures, "attempted": attempted, "failed": len(failures),
                      "metrics": out_metrics}))
    return 0


def layer_metrics(tracer, eng, wl, failures, ops: int, selected: int) -> dict:
    """Per-layer metrics of the traced run: totals over its set-ups, the
    warm-up operations and the ``ops`` timed operations; ``selected`` is the
    bytes of the input files the operations selected."""
    m = tracer.layer_table()
    m.update(wl.layer_counts())
    for k in ("monitor.rows_listed", "sinks.files_written", "sinks.bytes_written"):
        m.setdefault(k, 0)
    m["deliver.rows"] = eng.rows_delivered
    m["sources.read_amplification"] = m["sources.op_bytes_read"] / selected if selected else 0.0
    op_py4j = sum(s.py4j for s in tracer.spans.values() if s.request.startswith("op"))
    m["py4j.calls_per_op"] = op_py4j / ops if ops else 0.0
    m["trace.ops"] = ops
    for layer in ("session", "sources", "catalog", "resample", "sinks", "pipeline", "query",
                  "deliver", "check", "bench"):
        m[f"{layer}.failed"] = sum(1 for f in failures if f["layer"] == layer)
    return dict(sorted(m.items()))


if __name__ == "__main__":
    sys.exit(main())

"""The engine's public entry points as the benchmark calls them.

Each function is wrapped once: the wrapper opens a tracer span (a no-op when
tracing is off) and tags an escaping exception with the layer it came from,
for failure accounting. The same wrappers are installed in
``nbi_oedi_etl_spark.pipeline``'s namespace, so the calls ``run_pipeline``
makes internally are seen too. No engine file is changed.
"""

from __future__ import annotations

import functools
import os
import subprocess

from pyspark import SparkContext

from nbi_oedi_etl_spark import pipeline, session
from nbi_oedi_etl_spark.operators import resample
from nbi_oedi_etl_spark.sources import catalog, parquet, sinks

#: function name -> (defining module, span name); the span's first dotted
#: part is the layer.
CALLS = {
    "get_spark": (session, "session.get_spark"),
    "read_partitioned": (parquet, "sources.read_partitioned"),
    "register_parquet_table": (catalog, "catalog.register"),
    "resample_hourly": (resample, "resample.construct"),
    "write_parquet": (sinks, "sinks.write"),
    "run_pipeline": (pipeline, "pipeline.run"),
    "run_etl_job": (pipeline, "pipeline.job"),
    "bypass_metadata": (pipeline, "pipeline.bypass"),
}


def layer_of(exc: BaseException) -> str | None:
    return getattr(exc, "perfbench_layer", None)


def _wrap(tracer, span_name: str, fn):
    layer = span_name.split(".")[0]

    @functools.wraps(fn)
    def call(*args, **kwargs):
        try:
            with tracer.span(span_name):
                return fn(*args, **kwargs)
        except Exception as exc:
            if layer_of(exc) is None:
                exc.perfbench_layer = layer
            raise

    return call


class Engine:
    """Wrapped entry points; attribute names match the engine's."""

    def __init__(self, tracer) -> None:
        self.tracer = tracer
        self.rows_delivered = 0
        for name, (module, span_name) in CALLS.items():
            fn = _wrap(tracer, span_name, getattr(module, name))
            setattr(self, name, fn)
            if hasattr(pipeline, name):
                setattr(pipeline, name, fn)

    def action(self, df, how: str):
        """Run ``df.<how>()``: plan, execute and deliver its result."""
        try:
            out = self.tracer.action(df, how)
        except Exception as exc:
            if layer_of(exc) is None:
                exc.perfbench_layer = "deliver"
            raise
        self.rows_delivered += len(out)
        return out

    def construct(self, fn, *args):
        """Benchmark-side DataFrame construction (filters, ``spark.sql``)."""
        return _wrap(self.tracer, "query.construct", fn)(*args)


def session_conf(work: str) -> dict[str, str]:
    """The only conf the benchmark adds to the engine's defaults: a path,
    keeping the warehouse inside the work directory."""
    return {"spark.sql.warehouse.dir": os.path.join(work, "warehouse")}


def stop_jvm(spark=None) -> float | None:
    """Stop the session (``spark``, else any active context) and its JVM,
    and wait until the JVM has exited, so the next ``get_spark`` launches a
    fresh one. Returns the JVM's peak RSS in MB, read just before it stops,
    or None when no JVM was running."""
    from perfbench.host import vm_hwm_mb

    gateway = SparkContext._gateway
    if gateway is None:
        return None
    proc = gateway.proc
    try:
        rss = vm_hwm_mb(proc.pid)
    except OSError:
        rss = None
    try:
        if spark is not None:
            spark.stop()
        elif SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        gateway.shutdown()
        proc.stdin.close()  # the gateway server exits at end of input
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    return rss

"""Host record and process memory, read from ``/proc``."""

from __future__ import annotations

import os
from importlib.metadata import version


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def calibration() -> dict:
    """The repo bench's single- and multi-core speed tokens. Run before any
    JVM exists: the multi-core token forks."""
    import bench

    return {"calib_s": bench._host_calibration(), "calib_mt_s": bench._host_calibration_mt()}


def record(spark) -> dict:
    """nproc, cores, library versions and the session's effective values of
    the defaults a host-tuning change would move."""
    rec = {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        # versions from package metadata: importing duckdb here would add
        # its library to this process's resident memory
        **{name: version(name) for name in ("pyspark", "pyarrow", "duckdb")},
    }
    for key in ("spark.driver.memory", "spark.sql.shuffle.partitions", "spark.master"):
        rec[key] = spark.conf.get(key)
    return rec

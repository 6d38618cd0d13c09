"""Memory counters read from outside the engine: peak resident memory of
the driver JVM and the driver Python process, and the bytes Spark still
holds in cached or checkpointed RDD blocks."""

from __future__ import annotations


def _vm_hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def memory(spark) -> dict:
    sc = spark.sparkContext
    jvm_pid = sc._jvm.java.lang.ProcessHandle.current().pid()
    jvm_mb = _vm_hwm_kb(jvm_pid) / 1024
    py_mb = _vm_hwm_kb("self") / 1024
    cached = sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())
    return {"peak_rss_mb": jvm_mb + py_mb, "jvm_hwm_mb": jvm_mb,
            "python_hwm_mb": py_mb, "cached_bytes": cached}

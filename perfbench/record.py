"""The run record printed next to the metrics: hardware, versions, the
effective Spark conf, input sizes and a plan fingerprint per stage."""
from __future__ import annotations

import hashlib
import os
import platform
import re


def hardware() -> dict:
    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    model = ""
    with open("/proc/cpuinfo") as fh:
        for line in fh:
            if line.startswith("model name"):
                model = line.split(":", 1)[1].strip()
                break
    return {"nproc": len(os.sched_getaffinity(0)),
            "ram_gb": round(mem_kb / 2**20, 1), "cpu_model": model,
            "machine": platform.machine()}


def cpu_steal(since: tuple[int, int] | None = None):
    """(steal, total) jiffies of all CPUs from /proc/stat; given an
    earlier reading, the share of CPU time the hypervisor took since."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    now = (ticks[7], sum(ticks))
    if since is None:
        return now
    return (now[0] - since[0]) / max(now[1] - since[1], 1)


def versions() -> dict:
    import numpy
    import pyarrow
    import pyspark
    return {"spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "numpy": numpy.__version__, "python": platform.python_version()}


def plan_fingerprints(plans: dict, work_dir: str) -> dict:
    """Per stage output: Spark's ``semanticHash`` of the written plan,
    which also hashes the input paths, and ``plan_sha``, a hash of the
    optimized plan text with the work directory and expression ids
    taken out, which compares across checkouts."""
    out = {}
    for name, df in sorted(plans.items()):
        text = df._jdf.queryExecution().optimizedPlan().toString()
        text = re.sub(r"#\d+L?", "", text.replace(work_dir, "<work>"))
        out[name] = {"semantic_hash": df.semanticHash(),
                     "plan_sha": hashlib.sha1(text.encode()).hexdigest()[:16]}
    return out

"""One benchmark round: a fresh process that builds the session, runs a
job's ``main(argv)`` once and writes what it measured to a JSON file.

    python3 crawlbench/round.py SPEC.json

SPEC holds ``repo`` (checkout root), ``job`` (module under ``jobs/``),
``argv``, ``trace``, ``t_launch`` (the parent's clock just before it
started this process), ``pages`` (the input parquet, for the kernel
timing) and ``result`` (where to write). The job's own output goes to
this process's stdout/stderr, which the parent sends to a log file.
"""

from __future__ import annotations

import importlib
import json
import os
import statistics
import sys
import time

from measure import (SparkCounters, Tracer, cpu_seconds, descendants, diff,
                     dir_bytes, vmhwm_mb)


def kernel_docs_per_s(pages: str, repeats: int = 3) -> float:
    """The MinHash signature + band kernel alone, outside Spark, over the
    workload's distinct texts, with the flagship's default parameters."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from doppel_spark.config import NearDupConfig
    from doppel_spark.functions.minhash import (
        _BufPool, perm_constants, sig_bands_arrow_columns)

    cfg = NearDupConfig()
    texts = pc.unique(pq.read_table(pages, columns=["text"])["text"]
                      .combine_chunks())
    consts = perm_constants(cfg.num_perm, cfg.seed)
    rates = []
    for _ in range(repeats):
        pool = _BufPool()
        t0 = time.perf_counter()
        sig, bands = sig_bands_arrow_columns(texts, pool, consts, cfg.num_perm,
                                             cfg.shingle_k, cfg.bands)
        rates.append(len(sig) / (time.perf_counter() - t0))
    return statistics.median(rates)


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, spec["repo"])
    sys.path.insert(0, os.path.join(spec["repo"], "jobs"))

    from doppel_spark.session import get_spark

    t_gs = time.time()
    spark = get_spark(app_name=f"crawlbench_{spec['job']}")
    t_ready = time.time()
    job = importlib.import_module(spec["job"])
    tracer = Tracer(spark) if spec["trace"] else None
    if tracer is not None:
        tracer.install()
    counters = SparkCounters(spark)
    me = os.getpid()
    c0 = counters.snapshot()
    cpu0 = cpu_seconds([me] + descendants(me))
    t0 = time.perf_counter()
    job.main(spec["argv"])
    wall = time.perf_counter() - t0
    tree = descendants(me)
    cpu1 = cpu_seconds([me] + tree)
    spark_counts = diff(counters.snapshot(), c0)
    res = {
        "setup_s": t_ready - spec["t_launch"],
        "get_spark_s": t_ready - t_gs,
        "wall_s": wall,
        "cpu_s": cpu1 - cpu0,
        "peak_rss_mb": vmhwm_mb(tree),
        "spark": spark_counts,
        "disk_bytes": sum(dir_bytes(p) for p in spec["disk_dirs"]),
    }
    if tracer is not None:
        res["spans"] = tracer.finish()
        res["kernel_docs_per_s"] = kernel_docs_per_s(spec["pages"])
    with open(spec["result"] + ".tmp", "w") as f:
        json.dump(res, f)
    os.replace(spec["result"] + ".tmp", spec["result"])
    spark.stop()


if __name__ == "__main__":
    main(sys.argv[1])

#!/usr/bin/env python3
"""Repository benchmark: seeded crawl workloads through the job entrypoints.

    python3 crawlbench/run.py --workload neardup_crawl --seed 7 \
        --seconds 1 --trace 0

Run from the checkout root. Each round is a fresh Python process
(``round.py``) that builds the session on ``local[nproc]`` and calls a
job's public ``main(argv)`` once; rounds repeat until ``--seconds`` have
passed (at least one). Afterwards every round's published tables are
checked by ``checks.py``. The last stdout line is one JSON object:
``correct``, ``attempted`` (job runs), ``failed`` (job runs that raised)
and ``metrics`` — the end-to-end metrics (medians over rounds) with
``--trace 0``. With ``--trace 1`` one round runs traced (after an
untraced one when this checkout has none to compare with) and the
per-layer metrics are printed instead. Inputs are generated once per
seed under ``.crawlbench/`` and reused.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".crawlbench")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

#: the near-dup job's defaults (NearDupConfig), which the checks rely on
THRESHOLD = 0.8
BUCKET_CAP = 256
RECALL_FLOOR = 0.99
#: published pairs must have exact shingle Jaccard above this (README)
PAIR_JACCARD_FLOOR = 0.4
PAIR_SAMPLE = 20000
CURATE_FLAGS = dict(min_df=20, ngram=50, max_per_host=60, budget=120000)
CACHE_KEEP = 36
HISTORY_KEEP = 20
ROUND_TIMEOUT_S = 150

WORKLOADS = {
    "neardup_crawl": ("neardup_job", ["--mode", "near"]),
    "exact_crawl": ("neardup_job", ["--mode", "exact"]),
    "curate_funnel": ("curate_job", [
        "--boilerplate-min-df", str(CURATE_FLAGS["min_df"]),
        "--decontaminate-ngram", str(CURATE_FLAGS["ngram"]),
        "--fuzzy-decontaminate",
        "--max-per-host", str(CURATE_FLAGS["max_per_host"]),
        "--token-budget", str(CURATE_FLAGS["budget"]),
        "--shards", "4",
        "--split-weights", "train=0.9,val=0.05,test=0.05"]),
}

CURATE_STAGES = ["s01_filtered", "s02_url_canonical", "s03_exact_dedup",
                 "s04_redacted", "s04b_boilerplate", "s05_line_dedup",
                 "s06_quality_reasons", "s07_quality_kept",
                 "s08_decontaminated", "s08b_fuzzy_decontaminated",
                 "s09_host_capped", "s10_splits", "s11_train_token_cut"]
NEAR_CUTS = ["digests", "sigs", "memb", "cand", "pairs"]


# ---- inputs ------------------------------------------------------------------

def ensure_inputs(workload: str, seed: int) -> str:
    """The workload's generated inputs for ``seed``, made on first use."""
    base = os.path.join(WORK, "inputs")
    path = os.path.join(base, f"{gen.GEN_VERSION}-{workload}-{seed}")
    if os.path.exists(os.path.join(path, "manifest.json")):
        os.utime(path)
        return path
    tmp = path + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    kw = ({"min_df": CURATE_FLAGS["min_df"], "ngram": CURATE_FLAGS["ngram"]}
          if workload == "curate_funnel" else {})
    gen.generate(workload, seed, tmp, **kw)
    try:
        os.replace(tmp, path)
    except OSError:  # another run published the same inputs first
        shutil.rmtree(tmp, ignore_errors=True)
    cached = sorted((os.path.getmtime(os.path.join(base, d)), d)
                    for d in os.listdir(base) if ".tmp" not in d)
    for _, d in cached[:-CACHE_KEEP]:
        shutil.rmtree(os.path.join(base, d), ignore_errors=True)
    return path


# ---- one round ---------------------------------------------------------------

def _child_env(tmp: str) -> dict[str, str]:
    """Program defaults except the core count; every temp file inside the
    checkout."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("DOPPEL_", "SPARK_GRAFT_"))
           and k not in ("SPARK_LOCAL_DIRS", "JAVA_TOOL_OPTIONS")}
    env["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    env["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env["PYTHONDONTWRITEBYTECODE"] = "1"
    return env


def _reap_group(pgid: int, grace_s: float = 20.0) -> None:
    """Wait for every process of the round's group to end; kill what is
    left after ``grace_s``. Orphans are re-parented to this process (it
    is a child subreaper), so waiting on them is possible."""
    deadline = time.time() + grace_s
    killed = False
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if not killed and time.time() > deadline:
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            killed = True
        time.sleep(0.05)


def run_round(workload: str, inputs: str, trace: bool, idx: int) -> dict:
    job, extra = WORKLOADS[workload]
    rdir = os.path.join(WORK, "runs", f"{workload}-{os.getpid()}-{idx}")
    shutil.rmtree(rdir, ignore_errors=True)
    tmp = os.path.join(rdir, "tmp")
    os.makedirs(tmp)
    out, ckpt = os.path.join(rdir, "out"), os.path.join(rdir, "ckpt")
    argv = ["--input", os.path.join(inputs, "pages.parquet"),
            "--output", out] + extra
    if workload == "curate_funnel":
        argv += ["--checkpoint", ckpt,
                 "--eval", os.path.join(inputs, "eval.parquet")]
    spec = {"repo": ROOT, "job": job, "argv": argv, "trace": trace,
            "pages": os.path.join(inputs, "pages.parquet"),
            "disk_dirs": [out, ckpt],
            "result": os.path.join(rdir, "result.json")}
    log = os.path.join(rdir, "round.log")
    spec_path = os.path.join(rdir, "spec.json")
    spec["t_launch"] = time.time()
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    with open(log, "w") as lf:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "round.py"), spec_path],
            cwd=rdir, env=_child_env(tmp), stdout=lf, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            code = proc.wait(timeout=ROUND_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            code = proc.wait()
    _reap_group(proc.pid)
    if code != 0 or not os.path.exists(spec["result"]):
        with open(log) as lf:
            sys.stderr.write(lf.read()[-4000:])
        return {"ok": False, "dir": rdir}
    res = checks.read_json(spec["result"])
    res.update(ok=True, dir=rdir, out=out, ckpt=ckpt)
    return res


# ---- checks per workload -----------------------------------------------------

def check_exact(inputs: str, manifest: dict, rows: list, r: dict) -> list[str]:
    out = r["out"]
    cols = ["digest", "n_docs", "size", "wasted_space", "urls"]
    groups = [dict(zip(cols, g))
              for g in checks.read_rows(os.path.join(out, "groups"), cols)]
    r["stats"] = checks.read_json(os.path.join(out, "report.json"))["stats"]
    return (checks.check_exact_groups(rows, groups)
            + checks.check_exact_stats(rows, r["stats"]))


def check_near(inputs: str, manifest: dict, rows: list, r: dict) -> list[str]:
    out = r["out"]
    urls = [u for u, _ in rows]
    hot = set(manifest["hot_indices"])
    planted = [(urls[a], urls[b], j, "hot" if a in hot else "other")
               for a, b, j in checks.read_rows(
                   os.path.join(inputs, "planted_pairs.parquet"),
                   ["a", "b", "jaccard"])]
    pairs = checks.read_rows(os.path.join(out, "pairs"), ["url_a", "url_b"])
    clusters = checks.read_rows(os.path.join(out, "clusters"),
                                ["url", "cluster_rep", "cluster_id"])
    bad, r["recall"] = checks.check_recall(
        planted, {u: c for u, c, _ in clusters}, THRESHOLD, RECALL_FLOOR)
    jbad, r["min_pair_jaccard"] = checks.check_pair_jaccard(
        dict(rows), pairs, PAIR_JACCARD_FLOOR, PAIR_SAMPLE, manifest["seed"])
    cols = ["capped_buckets", "pairs_skipped_by_cap", "max_bucket"]
    (r["bucket_stats"],) = [dict(zip(cols, s)) for s in checks.read_rows(
        os.path.join(out, "bucket_stats"), cols)]
    return (bad + jbad + checks.check_clusters(pairs, clusters)
            + checks.check_bucket_cap(r["bucket_stats"], BUCKET_CAP,
                                      manifest["hot_docs"]))


def check_curate(inputs: str, manifest: dict, rows: list,
                 r: dict) -> list[str]:
    out = r["out"]
    report = checks.read_json(os.path.join(out, "funnel_report.json"))
    splits, survivors = {}, {}
    for name in ("train_shards", "val", "test"):
        split_rows = checks.read_rows(os.path.join(out, name), ["url", "text"])
        splits[name] = [u for u, _ in split_rows]
        survivors.update(split_rows)
    train_texts = [survivors[u] for u in splits["train_shards"]]
    evals = [t for (t,) in checks.read_rows(
        os.path.join(inputs, "eval.parquet"), ["text"])]
    return (checks.check_splits({u for u, _ in rows}, splits)
            + checks.check_content(dict(rows), survivors,
                                   manifest["boilerplate_lines"])
            + checks.check_decontamination(survivors, evals,
                                           CURATE_FLAGS["ngram"],
                                           manifest["exact_leak_urls"])
            + checks.check_caps([u for urls in splits.values() for u in urls],
                                train_texts, CURATE_FLAGS["max_per_host"],
                                CURATE_FLAGS["budget"],
                                report["train_tokens"]))


CHECKS = {"exact_crawl": check_exact, "neardup_crawl": check_near,
          "curate_funnel": check_curate}


def check_round(workload: str, inputs: str, r: dict) -> list[str]:
    """Failure messages of every output check on round ``r``; the check
    figures also go into ``r`` for the per-round report."""
    manifest = checks.read_json(os.path.join(inputs, "manifest.json"))
    rows = checks.read_rows(os.path.join(inputs, "pages.parquet"),
                            ["url", "text"])
    return CHECKS[workload](inputs, manifest, rows, r)


# ---- metrics -----------------------------------------------------------------

def end_to_end(r: dict) -> dict[str, float]:
    """The metrics with a bound. The round's ``wall_s`` and
    ``peak_rss_mb`` are not among them: one cold job is the only sample
    a run can afford, and both swing too much from run to run on this
    host to hold any bound (README, "Why no wall time or memory")."""
    return {"cpu_s": r["cpu_s"], "setup_s": r["setup_s"],
            "spark_jobs": r["spark"]["jobs"],
            "spark_tasks": r["spark"]["tasks"],
            "shuffle_bytes": r["spark"]["shuffle_write_bytes"],
            "disk_bytes": r["disk_bytes"]}


def per_layer(r: dict, untraced_wall: float) -> dict[str, float]:
    """Per-layer metrics from a traced round's spans; 0 for a layer the
    workload does not run."""
    spans = r["spans"]
    m: dict[str, float] = {"session.get_spark_s": r["get_spark_s"],
                           "session.peak_rss_mb": r["peak_rss_mb"],
                           "kernel.minhash.docs_per_s": r["kernel_docs_per_s"],
                           "trace.overhead_s": r["wall_s"] - untraced_wall}
    for cut in NEAR_CUTS:
        mine = [s for s in spans if s["name"] == f"stage.{cut}"]
        for k in ("wall_s", "jobs", "tasks", "shuffle_write_bytes", "rows"):
            m[f"stage.{cut}.{k}"] = sum(s.get(k, 0) for s in mine)
    cc = [i for i, s in enumerate(spans) if s["name"] == "cc"]
    m["cc.wall_s"] = sum(spans[i]["wall_s"] for i in cc)
    m["cc.jobs"] = sum(spans[i]["jobs"] for i in cc)
    m["cc.tasks"] = sum(spans[i]["tasks"] for i in cc)
    m["cc.rounds"] = sum(1 for s in spans if s["parent"] in cc
                         and s["name"].startswith("cut_iter.cc_labels")
                         and s["name"] != "cut_iter.cc_labels0")
    cand = m["stage.cand.rows"]
    verify = [s for s in spans if s["name"] == "lsh.verify"]
    verified = sum(s.get("rows", 0) for s in verify)
    # verify_pairs only builds a lazy plan: its span is planning time in
    # the job's Python process
    m["lsh.verify_plan_s"] = sum(s["wall_s"] for s in verify)
    bs = r.get("bucket_stats", {})
    m["lsh.candidate_pairs"] = cand
    m["lsh.verified_pairs"] = verified
    m["lsh.verify_yield"] = verified / cand if cand else 0.0
    m["lsh.capped_buckets"] = bs.get("capped_buckets", 0)
    m["lsh.pairs_skipped_by_cap"] = bs.get("pairs_skipped_by_cap", 0)
    st = r.get("stats", {})
    m["exact.processed_docs"] = st.get("processed_docs", 0)
    m["exact.full_hashed_docs"] = st.get("full_hashed_docs", 0)
    m["exact.groups"] = st.get("duplicate_groups", 0)
    for name, key in (("report.build_report", "report.build_report_s"),
                      ("report.write_tables", "report.write_tables_s"),
                      ("splits.write_training_shards",
                       "splits.write_shards_s")):
        m[key] = sum(s["wall_s"] for s in spans if s["name"] == name)
    for stage in CURATE_STAGES:
        mine = [s for s in spans if s["name"] == f"checkpoint.{stage}"]
        for k in ("wall_s", "jobs", "rows", "bytes"):
            m[f"checkpoint.{stage}.{k}"] = sum(s.get(k, 0) for s in mine)
    return m


# ---- main --------------------------------------------------------------------

def _become_subreaper() -> None:
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__,
                                formatter_class=argparse.RawTextHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, default=1.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args(argv)

    for need in ("doppel_spark/__init__.py", "jobs/neardup_job.py",
                 "jobs/curate_job.py"):
        if not os.path.isfile(os.path.join(ROOT, need)):
            sys.stderr.write(f"crawlbench: {need} not found under {ROOT}; "
                             "run from a checkout of the repository\n")
            return 2
    _become_subreaper()
    inputs = ensure_inputs(args.workload, args.seed)

    rounds, failures = [], []
    t_start = time.time()
    history = os.path.join(WORK, f"untraced_wall_{args.workload}.json")
    walls = checks.read_json(history) if os.path.exists(history) else []
    if args.trace:
        # a traced run compares against the untraced rounds before it in
        # this checkout, and runs one itself only when there are none
        if not walls:
            rounds.append(run_round(args.workload, inputs, False, 0))
        rounds.append(run_round(args.workload, inputs, True, len(rounds)))
    else:
        while not rounds or time.time() - t_start < args.seconds:
            rounds.append(run_round(args.workload, inputs, False,
                                    len(rounds)))
    for r in rounds:
        if r["ok"]:
            failures += [f"round {os.path.basename(r['dir'])}: {m}"
                         for m in check_round(args.workload, inputs, r)]
            info = {k: r[k] for k in ("wall_s", "peak_rss_mb", "recall",
                                      "min_pair_jaccard", "bucket_stats",
                                      "stats") if k in r}
            sys.stderr.write(f"crawlbench: {os.path.basename(r['dir'])} "
                             f"{json.dumps(info)}\n")
        shutil.rmtree(r["dir"], ignore_errors=True)
    for f in failures:
        sys.stderr.write(f"CHECK FAILED {f}\n")
    ok = [r for r in rounds if r["ok"]]
    plain = [r for r in ok if "spans" not in r]
    traced = [r for r in ok if "spans" in r]
    walls = (walls + [r["wall_s"] for r in plain])[-HISTORY_KEEP:]
    if not walls or (args.trace and not traced):
        sys.stderr.write("crawlbench: no round finished\n")
        return 1
    with open(history, "w") as f:
        json.dump(walls, f)
    if args.trace:
        metrics = per_layer(traced[0], statistics.median(walls))
    else:
        per = [end_to_end(r) for r in plain]
        metrics = {k: statistics.median(x[k] for x in per) for k in per[0]}
    print(json.dumps({
        "correct": not failures,
        "attempted": len(rounds),
        "failed": len(rounds) - len(ok),
        "metrics": {k: {"value": v, "unit": unit(k)}
                    for k, v in metrics.items()},
    }))
    return 0


def unit(name: str) -> str:
    for suffix, u in (("docs_per_s", "docs/s"), ("_s", "s"), ("_mb", "MB"),
                      ("bytes", "bytes"), ("yield", "ratio")):
        if name.endswith(suffix):
            return u
    return "count"


if __name__ == "__main__":
    sys.exit(main())

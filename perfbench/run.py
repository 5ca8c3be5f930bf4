"""Workload benchmark for rental_engine.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload listings_sf0.1 --seed 1 --seconds 10 --trace 0

One run generates the workload's inputs from the seed, starts one Spark
driver process (``perfbench/worker.py``) that sets up through
``bench.build_session`` and times whole passes of the workload's
queries, checks every query's answer against the DuckDB oracle, and
prints one JSON line last on stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` turns on
Spark's event log and job groups for this run only and reports the
per-layer metrics.  Everything the run writes (inputs, answers, logs,
spans) goes under ``.bench_build/perfbench`` in the checkout.  See
``perfbench/README.md`` for the workloads and the metric map.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import uuid
from dataclasses import dataclass
from pathlib import Path

import datagen
import oraclecheck
import tracing

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".bench_build" / "perfbench"

LISTINGS = ("cleaned_listings", "city_stats", "district_stats",
            "avg_price_by_rooms", "count_by_rooms", "advertiser_share",
            "region_avg_price", "region_avg_ppu", "price_area_regression",
            "price_histogram")
PIPELINE = ("event_sessions", "events_hourly", "docs_dedup", "embed_knn",
            "multimodal_stats")
ALL_QUERIES = LISTINGS + PIPELINE


@dataclass(frozen=True)
class Workload:
    name: str
    queries: tuple[str, ...]
    scale: float


WORKLOADS = {w.name: w for w in (
    Workload("listings_sf0.1", LISTINGS, 0.1),
    Workload("pipeline_sf0.1", PIPELINE, 0.1),
)}

WARM_SCALE = 0.001          # the JIT warm pass runs on this scale, like bench.py
MIN_EXECUTIONS = 50         # so p80 keeps >= 10 samples beyond it
DRIVER_MEM = "2g"           # fits a 15 GB host; build_session defaults to 48g
RUN_LIMIT_S = 170           # a run must end within 180 s
# no pass starts later than this after the run began: on a host slowed
# by its neighbours a run measures fewer passes instead of running long
PASS_START_LIMIT_S = 65

END_TO_END_UNITS = {"pass_s": "s", "query_p50_s": "s", "query_p80_s": "s",
                    "setup_s": "s", "ok_rate": "ratio",
                    "driver_peak_rss_mb": "MB"}


class BenchError(RuntimeError):
    pass


def _require_checkout() -> None:
    for p in ("bench.py", "rental_engine/__init__.py", "rental_engine/queries.py"):
        if not (ROOT / p).is_file():
            raise BenchError(f"{ROOT / p} is missing: run from a full checkout")


def host_probe() -> dict[str, float]:
    """Seconds for fixed workloads: hashing on one thread and on one
    thread per core (CPU-bound), and copying 256 MiB (memory-bound).
    Host metadata that tells host noise apart from a code change."""
    import numpy as np

    buf = bytes(64 << 20)

    def hash_twice() -> None:
        for _ in range(2):
            hashlib.sha256(buf).digest()  # releases the GIL

    t0 = time.perf_counter()
    hash_twice()
    t1 = time.perf_counter()
    threads = [threading.Thread(target=hash_twice)
               for _ in range(len(os.sched_getaffinity(0)))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    t2 = time.perf_counter()
    a = np.ones(32 << 20)
    for _ in range(2):
        a = a.copy()
    t3 = time.perf_counter()
    return {"hash_s": t1 - t0, "hash_all_cores_s": t2 - t1, "copy_s": t3 - t2}


def cpu_steal_s() -> float:
    """Seconds of CPU stolen from this host's vCPUs so far (``/proc/stat``)."""
    with open("/proc/stat") as f:
        ticks = int(f.readline().split()[8])
    return ticks / os.sysconf("SC_CLK_TCK")


def prepare_data(work: Path, seed: int, scale: float) -> tuple[Path, Path]:
    """Generate (or reuse) the seed's workload and warm-up inputs and
    check them before any timing.  Other seeds' inputs are removed."""
    from rental_engine.queries import _SCHEMAS

    root = work / "data"
    tag = f"seed{seed}"
    if root.is_dir():
        for d in root.iterdir():
            if d.name != tag:
                shutil.rmtree(d)
    dirs = []
    for sub, sc in ((f"x{scale}", scale), ("warm", WARM_SCALE)):
        d = root / tag / sub
        if not (d / "READY").exists():
            shutil.rmtree(d, ignore_errors=True)
            datagen.write(str(d), seed, sc)
            (d / "READY").touch()
        datagen.check(str(d), _SCHEMAS)
        dirs.append(d)
    return dirs[0], dirs[1]


def _procs_with(marker: str) -> list[int]:
    needle = marker.encode()
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit() or int(d) == os.getpid():
            continue
        try:
            with open(f"/proc/{d}/environ", "rb") as f:
                if needle in f.read().split(b"\0"):
                    pids.append(int(d))
        except OSError:
            continue
    return pids


def _reap(marker: str, grace_s: float = 10.0, timeout_s: float = 20.0) -> None:
    """Wait until every process started for this run (they all inherit
    ``marker`` in their environment) has ended; signal stragglers."""
    start = time.time()
    while pids := _procs_with(marker):
        waited = time.time() - start
        if waited > timeout_s:
            raise BenchError(f"processes {pids} did not end")
        if waited > grace_s:
            sig = signal.SIGKILL if waited > grace_s + 5 else signal.SIGTERM
            for p in pids:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.2)


def run_worker(cfg: dict, out: Path, kill_at: float) -> dict:
    """Run one Spark driver process and return its raw samples."""
    token = uuid.uuid4().hex
    tmp = out / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update({
        "PYTHONPATH": os.pathsep.join([str(ROOT), env.get("PYTHONPATH", "")]).rstrip(os.pathsep),
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(tmp),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "JAVA_TOOL_OPTIONS": f"-XX:InitialRAMPercentage=100 -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PERFBENCH_RUN": token,
    })
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    if cfg["trace"]:
        log_dir = out / "eventlog"
        log_dir.mkdir()
        env["PYSPARK_SUBMIT_ARGS"] = " ".join([
            "--conf spark.eventLog.enabled=true",
            f"--conf spark.eventLog.dir=file://{log_dir}",
            "--conf spark.eventLog.compress=false",
            "--conf spark.eventLog.rolling.enabled=false",
            "pyspark-shell"])
    cfg = dict(cfg, out_path=str(out / "raw.json"))
    with open(out / "worker.log", "wb") as log:
        proc = subprocess.Popen(
            [sys.executable, str(ROOT / "perfbench" / "worker.py"), json.dumps(cfg)],
            env=env, cwd=out, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True)
        try:
            code = proc.wait(timeout=max(1.0, kill_at - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            code = None
        finally:
            _reap(f"PERFBENCH_RUN={token}")
    if code != 0:
        tail = (out / "worker.log").read_text(errors="replace")[-3000:]
        raise BenchError(f"worker exited with {code}; log tail:\n{tail}")
    with open(out / "raw.json") as f:
        return json.load(f)


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end(raw: dict, rejected: set[str]) -> tuple[dict, int, int]:
    execs = raw["executions"]
    lat = [e["build_s"] + e["exec_s"] for e in execs if e["ok"]]
    failed = sum(1 for e in execs if not e["ok"] or e["query"] in rejected)
    p80 = statistics.quantiles(lat, n=5)[3] if len(lat) > 1 else _median(lat)
    values = {
        "pass_s": _median(raw["passes"]),
        "query_p50_s": _median(lat),
        "query_p80_s": p80,
        "setup_s": raw["setup_s"],
        "ok_rate": 1.0 - failed / len(execs),
        "driver_peak_rss_mb": raw["driver_peak_rss_mb"],
    }
    return values, len(execs), failed


def per_layer(raw: dict, wl: Workload, event_log: Path) -> tuple[dict, list[dict]]:
    """{metric: (value, unit)} from a traced run's samples and event log.
    Queries outside the workload report 0."""
    groups = tracing.read_event_log(event_log)
    sites = tracing.SiteMap(ROOT / "rental_engine" / "queries.py")
    cores = raw["cores"]
    passes = sorted({e["pass"] for e in raw["executions"]})
    m = {"bench.session_s": (raw["session_s"], "s"),
         "bench.warmup_s": (raw["warmup_s"], "s")}
    empty = tracing.GroupStats()
    for q in ALL_QUERIES:
        recs = [e for e in raw["executions"] if e["query"] == q and e["ok"]]
        build = [groups.get(f"{wl.name}/p{e['pass']}/{q}/build", empty) for e in recs]
        act = [groups.get(f"{wl.name}/p{e['pass']}/{q}/exec", empty) for e in recs]
        m[f"queries.build_s.{q}"] = (_median([e["build_s"] for e in recs]), "s")
        m[f"queries.build_jobs.{q}"] = (_median([len(g.jobs) for g in build]), "count")
        m[f"exec.s.{q}"] = (_median([e["exec_s"] for e in recs]), "s")
        m[f"exec.jobs.{q}"] = (_median([len(g.jobs) for g in act]), "count")
        m[f"exec.tasks.{q}"] = (_median([g.tasks for g in act]), "count")
        m[f"exec.shuffle_bytes.{q}"] = (_median([g.shuffle_bytes for g in act]), "bytes")
        m[f"exec.core_util.{q}"] = (_median(
            [g.run_ms / 1000.0 / (e["exec_s"] * cores) for g, e in zip(act, recs)]), "ratio")
    for cat in tracing.CALL_SITES:
        secs, jobs = [], []
        for i in passes:
            hits = [j for name, g in groups.items()
                    if name.startswith(f"{wl.name}/p{i}/") and name.endswith("/build")
                    for j in g.jobs if sites.category(j.site) == cat]
            secs.append(sum(tracing.job_seconds(j) for j in hits))
            jobs.append(len(hits))
        m[f"queries.{cat}_s"] = (_median(secs), "s")
        if cat != "knn_pull":
            m[f"queries.{cat}_jobs"] = (_median(jobs), "count")
    m["trace.pass_s"] = (_median(raw["passes"]), "s")
    return m, tracing.job_spans(groups, sites)


def run(wl: Workload, seed: int, seconds: int, trace: bool, work: Path = WORK) -> dict:
    t_start = time.time()
    _require_checkout()
    sys.path.insert(0, str(ROOT))
    from rental_engine import ORACLE
    from rental_engine.queries import TABLES

    data_dir, warm_dir = prepare_data(work, seed, wl.scale)
    out = work / "out" / wl.name
    shutil.rmtree(out, ignore_errors=True)
    out.mkdir(parents=True)
    state = work / "state" / f"{wl.name}.json"
    cfg = {"root": str(ROOT), "workload": wl.name, "queries": list(wl.queries),
           "data_dir": str(data_dir), "warm_dir": str(warm_dir),
           "seed": seed, "seconds": seconds, "min_executions": MIN_EXECUTIONS,
           "cpus": len(os.sched_getaffinity(0))}
    kill_at = t_start + RUN_LIMIT_S
    host = {"probe_before": host_probe(), "steal_s": -cpu_steal_s()}

    raw = run_worker(dict(cfg, trace=trace, answers_dir=str(out / "answers"),
                          deadline=t_start + PASS_START_LIMIT_S),
                     out, kill_at)
    host["steal_s"] += cpu_steal_s()
    host["probe_after"] = host_probe()

    verdict = oraclecheck.check(out / "answers", data_dir, ORACLE, TABLES,
                                list(wl.queries), out / "tmp")
    rejected = {q for q, why in verdict.items() if why}
    e2e, attempted, failed = end_to_end(raw, rejected)
    spans = raw["spans"]
    overhead = None
    if trace:
        logs = list((out / "eventlog").iterdir())
        if len(logs) != 1:
            raise BenchError(f"expected one event log, found {logs}")
        metrics, jobs = per_layer(raw, wl, logs[0])
        spans = spans + jobs
        if state.exists():  # against the last untraced run of this workload here
            overhead = metrics["trace.pass_s"][0] - json.loads(state.read_text())["pass_s"]
    else:
        metrics = {k: (v, END_TO_END_UNITS[k]) for k, v in e2e.items()}
        state.parent.mkdir(parents=True, exist_ok=True)
        state.write_text(json.dumps({"pass_s": e2e["pass_s"]}))

    with open(out / "spans.json", "w") as f:
        json.dump([{"name": "run", "parent": None, "start": t_start,
                    "end": time.time()}] + spans, f)
    summary = {"workload": wl.name, "seed": seed, "trace": trace, "host": host,
               "executions": attempted, "passes": len(raw["passes"]),
               "error_rate": failed / attempted, "trace_overhead_s": overhead,
               "oracle": verdict,
               "execution_errors": [e for e in raw["executions"] if not e["ok"]][:5],
               "setup_errors": raw["setup_errors"], "end_to_end": e2e}
    (out / "summary.json").write_text(json.dumps(summary, indent=1))
    print(json.dumps({k: summary[k] for k in
                      ("workload", "seed", "trace", "host", "executions", "passes",
                       "error_rate", "trace_overhead_s", "setup_errors")}), file=sys.stderr)
    for q, why in verdict.items():
        if why:
            print(f"oracle rejected {q}: {why}", file=sys.stderr)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    try:
        result = run(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

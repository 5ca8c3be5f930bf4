"""One benchmark run inside its own Spark driver process.

Started by ``perfbench/run.py`` with a JSON config as its only
argument.  It builds the session through ``bench.build_session``, runs
the set-up (JIT warm pass plus one untimed pass on the workload's data
that also writes every answer for the oracle check), then times whole
passes of the workload's queries, each pass in an order shuffled by the
seed, until the measuring time is over.  Every execution is timed from
outside the engine: the builder call, then the noop-sink action on the
DataFrame it returned.  It writes its raw samples and spans as JSON.

In a traced run every builder call and every action runs under its own
Spark job group, named like its span (``<workload>/<pass>/<query>/build``
or ``.../exec``), so the event log can be joined back to the spans.
"""

from __future__ import annotations

import json
import math
import random
import sys
import time
import traceback
from contextlib import contextmanager


class Spans:
    """In-memory spans, written out once at the end of the run."""

    def __init__(self) -> None:
        self.rows: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: str | None):
        start = time.time()
        try:
            yield
        finally:
            self.rows.append({"name": name, "parent": parent,
                              "start": start, "end": time.time()})


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def main(cfg: dict) -> None:
    sys.path.insert(0, cfg["root"])
    import bench
    from rental_engine import QUERIES

    wl, queries, trace = cfg["workload"], cfg["queries"], cfg["trace"]
    spans = Spans()
    out: dict = {"executions": [], "passes": [], "setup_errors": {}}

    wl_start = time.time()
    t0 = time.perf_counter()
    with spans.span(f"{wl}/setup/session", wl):
        spark = bench.build_session(str(cfg["cpus"]))
    out["session_s"] = time.perf_counter() - t0
    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())

    def timed(pass_id: str, q: str, data_dir: str, answer_dir: str | None = None):
        """(build_s, exec_s) of one execution; raises what the engine raises."""
        base = f"{wl}/{pass_id}/{q}"
        with spans.span(base, f"{wl}/{pass_id}"):
            if trace:
                sc.setJobGroup(f"{base}/build", f"{base}/build")
            a = time.perf_counter()
            with spans.span(f"{base}/build", base):
                df = QUERIES[q](spark, data_dir)
            b = time.perf_counter()
            if trace:
                sc.setJobGroup(f"{base}/exec", f"{base}/exec")
            with spans.span(f"{base}/exec", base):
                if answer_dir is None:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    df.write.mode("overwrite").parquet(f"{answer_dir}/{q}")
            c = time.perf_counter()
        return b - a, c - b

    t1 = time.perf_counter()
    with spans.span(f"{wl}/warm", wl):
        for q in queries:
            timed("warm", q, cfg["warm_dir"])
    t2 = time.perf_counter()
    out["warmup_s"] = t2 - t1

    # the untimed first pass on the workload's own data; its answers
    # are what the oracle check compares
    with spans.span(f"{wl}/setup", wl):
        for q in queries:
            try:
                timed("setup", q, cfg["data_dir"], cfg["answers_dir"])
            except Exception:  # recorded; the oracle check rejects it
                out["setup_errors"][q] = traceback.format_exc()[-2000:]
    out["setup_s"] = time.perf_counter() - t0

    rng = random.Random(cfg["seed"])
    min_passes = math.ceil(cfg["min_executions"] / len(queries))
    start = time.perf_counter()
    i = 0
    while i < min_passes or time.perf_counter() - start < cfg["seconds"]:
        if i > 0 and time.time() > cfg["deadline"]:
            break
        order = list(queries)
        rng.shuffle(order)
        pid = f"p{i}"
        p0 = time.perf_counter()
        with spans.span(f"{wl}/{pid}", wl):
            for q in order:
                rec = {"pass": i, "query": q, "ok": True}
                try:
                    rec["build_s"], rec["exec_s"] = timed(pid, q, cfg["data_dir"])
                except Exception:  # one failed execution; keep measuring
                    rec.update(ok=False, error=traceback.format_exc()[-2000:])
                out["executions"].append(rec)
        out["passes"].append(time.perf_counter() - p0)
        i += 1

    out["driver_peak_rss_mb"] = _peak_rss_mb(jvm_pid)
    out["cores"] = int(sc.defaultParallelism)
    spark.stop()
    out["spans"] = [{"name": wl, "parent": "run", "start": wl_start,
                     "end": time.time()}] + spans.rows
    with open(cfg["out_path"], "w") as f:
        json.dump(out, f)


if __name__ == "__main__":
    main(json.loads(sys.argv[1]))

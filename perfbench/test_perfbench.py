"""Smoke tests for the benchmark itself, on sf0.001-sized inputs.

Run from the root of a checkout:  python -m pytest perfbench -q
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import oraclecheck
import run

TINY = {name: run.Workload(name, w.queries, 0.001) for name, w in run.WORKLOADS.items()}


@pytest.fixture(scope="module")
def work(tmp_path_factory) -> Path:
    return tmp_path_factory.mktemp("perfbench")


def _assert_metrics(result: dict, spec_key: str) -> None:
    spec = json.loads((run.ROOT / "BENCHMARK.json").read_text())
    want = {m["name"]: m["unit"] for m in spec[spec_key]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    assert got == want
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_untraced_run_reports_every_end_to_end_metric(work):
    result = run.run(TINY["listings_sf0.1"], seed=5, seconds=1, trace=False, work=work)
    _assert_metrics(result, "end_to_end")
    assert result["correct"] and result["failed"] == 0
    assert result["attempted"] >= run.MIN_EXECUTIONS
    assert result["metrics"]["ok_rate"]["value"] == 1.0
    assert all(result["metrics"][k]["value"] > 0 for k in
               ("pass_s", "query_p50_s", "query_p80_s", "setup_s", "driver_peak_rss_mb"))


def test_wrong_answer_lowers_ok_rate(work):
    """The oracle gate: one corrupted answer makes every execution of
    that query count as failed."""
    wl = TINY["listings_sf0.1"]
    out = work / "out" / wl.name
    data_dir, _ = run.prepare_data(work, 5, wl.scale)
    part = next(f for f in (out / "answers" / "count_by_rooms").glob("*.parquet")
                if pq.ParquetFile(f).metadata.num_rows > 0)
    t = pq.read_table(part)
    col = t.column("n_listings").to_pylist()
    col[0] += 1
    i = t.schema.get_field_index("n_listings")
    pq.write_table(t.set_column(i, "n_listings", pa.array(col, t.schema.field(i).type)), part)
    from rental_engine import ORACLE
    from rental_engine.queries import TABLES
    verdict = oraclecheck.check(out / "answers", data_dir, ORACLE, TABLES,
                                list(wl.queries), out / "tmp")
    rejected = {q for q, why in verdict.items() if why}
    assert rejected == {"count_by_rooms"}
    raw = json.loads((out / "raw.json").read_text())
    e2e, attempted, failed = run.end_to_end(raw, rejected)
    assert failed == sum(e["query"] == "count_by_rooms" for e in raw["executions"]) > 0
    assert e2e["ok_rate"] == 1.0 - failed / attempted < 1.0


def test_traced_listings_run_attributes_build_jobs_by_call_site(work):
    result = run.run(TINY["listings_sf0.1"], seed=5, seconds=1, trace=True, work=work)
    _assert_metrics(result, "per_layer")
    m = {k: v["value"] for k, v in result["metrics"].items()}
    # the bin count and the rank pull: 3 jobs per cleaned-family query
    assert m["queries.cutoffs_jobs"] == 3 * len(run.LISTINGS)
    assert m["queries.median_meta_jobs"] > 0 and m["queries.median_meta_s"] > 0
    assert m["queries.knn_pull_s"] == 0 and m["exec.s.embed_knn"] == 0
    assert m["queries.build_jobs.city_stats"] > m["queries.build_jobs.count_by_rooms"] > 0
    summary = json.loads((work / "out" / "listings_sf0.1" / "summary.json").read_text())
    assert isinstance(summary["trace_overhead_s"], float)  # against the untraced run


def test_traced_pipeline_run_reports_every_per_layer_metric(work):
    result = run.run(TINY["pipeline_sf0.1"], seed=5, seconds=1, trace=True, work=work)
    _assert_metrics(result, "per_layer")
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["queries.knn_pull_s"] > 0          # attributed to embed_knn by call site
    assert m["queries.cutoffs_jobs"] == m["queries.median_meta_jobs"] == 0
    assert m["exec.jobs.docs_dedup"] > 0 and m["exec.tasks.docs_dedup"] > 0
    assert m["exec.s.city_stats"] == 0          # not in this workload
    spans = json.loads((work / "out" / "pipeline_sf0.1" / "spans.json").read_text())
    assert any(s.get("function") == "embed_knn" for s in spans)


def test_site_map_names_the_enclosing_function():
    src = run.ROOT / "rental_engine" / "queries.py"
    sites = run.tracing.SiteMap(src)
    lines = src.read_text().splitlines()
    line = next(i for i, s in enumerate(lines, 1)
                if "def _exact_quantiles" in s) + 4
    assert sites.function(f"collect at {src}:{line}") == "_exact_quantiles"
    assert sites.category(f"collect at {src}:{line}") == "cutoffs"
    assert sites.function("save at NativeMethodAccessorImpl.java:0") is None


def test_fails_without_the_program(tmp_path):
    shutil.copy(run.ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(run.ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "pipeline_sf0.1",
                        "--seed", "1", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, capture_output=True, text=True, timeout=170)
    assert p.returncode != 0
    assert p.stdout.strip() == ""

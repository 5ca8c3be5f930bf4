"""Per-layer attribution of a traced run from Spark's own event log.

The worker tags every builder call and every action with a job group
named after its span (``<workload>/<pass>/<query>/build`` or
``.../exec``).  This module reads the uncompressed event log that the
traced run wrote, groups jobs, stages and tasks by that job group, and
names each build-side job after the function that issued it: Spark
records the Python call site (``collect at .../queries.py:316``), and
the line is mapped to its enclosing function in the source of the
commit under test, so the attribution survives when lines move.
"""

from __future__ import annotations

import ast
import json
import re
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

# build-side call sites, by the engine function that issues the job
CALL_SITES = {
    "cutoffs": {"_exact_quantiles", "_rank_values", "_exact_ranks"},
    "median_meta": {"_grouped_median"},
    "knn_pull": {"embed_knn"},
}

_SITE = re.compile(r" at (?P<file>.+?):(?P<line>\d+)$")


@dataclass
class Job:
    job_id: int
    site: str | None
    start_ms: int
    end_ms: int | None = None


@dataclass
class GroupStats:
    """What one job group (one build or one action) ran."""
    jobs: list[Job] = field(default_factory=list)
    tasks: int = 0
    run_ms: int = 0
    shuffle_bytes: int = 0


def read_event_log(path: Path) -> dict[str, GroupStats]:
    groups: dict[str, GroupStats] = defaultdict(GroupStats)
    jobs: dict[int, Job] = {}
    stage_group: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            kind = e["Event"]
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                group = props.get("spark.jobGroup.id")
                if group is None:
                    continue
                job = Job(e["Job ID"], props.get("callSite.short"), e["Submission Time"])
                jobs[job.job_id] = job
                groups[group].jobs.append(job)
            elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                jobs[e["Job ID"]].end_ms = e["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                if group is not None:
                    stage_group[e["Stage Info"]["Stage ID"]] = group
            elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_group:
                g = groups[stage_group[e["Stage ID"]]]
                m = e.get("Task Metrics") or {}
                g.tasks += 1
                g.run_ms += m.get("Executor Run Time", 0)
                g.shuffle_bytes += (m.get("Shuffle Write Metrics") or {}) \
                    .get("Shuffle Bytes Written", 0)
    return dict(groups)


class SiteMap:
    """Maps ``<action> at <file>:<line>`` to the innermost enclosing
    function of that line in one source file."""

    def __init__(self, source: Path) -> None:
        self.path = source.resolve()
        tree = ast.parse(source.read_text())
        self.spans = sorted(
            ((n.lineno, n.end_lineno, n.name) for n in ast.walk(tree)
             if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))),
            key=lambda s: s[1] - s[0])

    def function(self, site: str | None) -> str | None:
        m = _SITE.search(site or "")
        if m is None or Path(m["file"]).resolve() != self.path:
            return None
        line = int(m["line"])
        for lo, hi, name in self.spans:  # narrowest first
            if lo <= line <= hi:
                return name
        return None

    def category(self, site: str | None) -> str | None:
        fn = self.function(site)
        for cat, fns in CALL_SITES.items():
            if fn in fns:
                return cat
        return None


def job_seconds(job: Job) -> float:
    return ((job.end_ms if job.end_ms is not None else job.start_ms)
            - job.start_ms) / 1000.0


def job_spans(groups: dict[str, GroupStats], sites: SiteMap) -> list[dict]:
    """One span per traced job, parented on the build/exec span whose
    name is the job group."""
    return [{"name": f"{g}/job{j.job_id}", "parent": g,
             "start": j.start_ms / 1000.0,
             "end": (j.end_ms or j.start_ms) / 1000.0,
             "call_site": j.site, "function": sites.function(j.site)}
            for g, st in groups.items() for j in st.jobs]

"""Spans around layer calls, per-layer numbers from Spark's status REST
API, and a /proc RSS sampler.

A span runs its body under a Spark job group named after the span, so
every job (and through the job, every stage) it triggers can be
attributed to it afterwards from ``<ui>/api/v1/applications/<id>/jobs``
and ``/stages``. Spans are kept in memory; the stage records are fetched
once, when the run ends.
"""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from datetime import datetime, timezone

from perfbench import stats

# The layers the traced run reports, in the order they are printed.
SPANS = [
    "session.get_session",
    "sources.rest.read_list_endpoint",
    "sources.rest.enrich_from_detail_endpoint",
    "operators.projections.reject_nulls",
    "sinks.upsert_dim",
    "sinks.append_fact",
    "operators.asof.latest_for_key",
    "operators.asof.latest_per_key",
    "operators.windows.change_deltas",
    "operators.curation.corpus_curation_signals",
    "operators.curation.curation_decision_from_signals",
    "operators.export.shard_positions",
    "operators.export.write_training_shards",
    "operators.export.shard_manifest",
    "operators.clustering.fit",
    "operators.similarity_index.pq_encode",
    "operators.similarity.topk_ivf_pq",
]
SPAN_FIELDS = ["wall_s", "driver_s", "jobs", "tasks", "cpu_s", "shuffle_bytes"]


@dataclass
class Span:
    name: str
    group: str
    parent: int | None
    start: float
    end: float = 0.0


@dataclass
class Tracer:
    """Records spans when ``enabled``; otherwise ``span`` only runs its
    body, so the untraced run pays nothing but a context manager."""

    enabled: bool
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str, sc=None):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        group = f"{name}#{idx}"
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, group, parent, time.time()))
        self._stack.append(idx)
        if sc is not None:
            sc.setJobGroup(group, name)
        try:
            yield
        finally:
            self.spans[idx].end = time.time()
            self._stack.pop()
            if sc is not None:
                outer = self.spans[self._stack[-1]].group if self._stack else None
                sc.setLocalProperty("spark.jobGroup.id", outer)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


def _ts(text: str | None) -> float | None:
    """Spark REST timestamps look like ``2026-01-02T03:04:05.678GMT``."""
    if not text:
        return None
    dt = datetime.strptime(text.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


class StageCollector:
    """Reads the application's jobs and stages from the status REST API
    of the live SparkContext. Fails loudly when the UI is disabled:
    zeros would read as "this layer costs nothing"."""

    def __init__(self, sc):
        if not sc.uiWebUrl:
            raise RuntimeError(
                "the Spark UI is disabled (spark.ui.enabled=false); the traced "
                "run reads per-layer stage metrics from its REST API"
            )
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.loads(r.read())

    def fetch(self, settle_s: float = 0.5, timeout_s: float = 30.0):
        """(jobs, stages) once the listener bus has caught up: no job
        running and two reads in a row agree."""
        deadline = time.monotonic() + timeout_s
        prev = None
        while True:
            jobs = self._get("/jobs")
            key = [(j["jobId"], j["status"]) for j in jobs]
            if key == prev and all(j["status"] != "RUNNING" for j in jobs):
                return jobs, self._get("/stages")
            if time.monotonic() > deadline:
                raise RuntimeError("Spark status store did not settle")
            prev = key
            time.sleep(settle_s)


def stage_owner(jobs: list[dict]) -> dict[int, str | None]:
    """stageId -> job group of the first job that ran it (a stage reused
    by a later job is skipped there and must not count twice)."""
    owner: dict[int, str | None] = {}
    for job in sorted(jobs, key=lambda j: j["jobId"]):
        for sid in job["stageIds"]:
            owner.setdefault(sid, job.get("jobGroup"))
    return owner


def layer_metrics(spans: list[Span], jobs: list[dict], stages: list[dict]):
    """(metrics, totals): per-call means of the six span numbers for every
    span name in ``SPANS`` (0 for a layer the workload never calls) plus
    run-wide ``run.spill_bytes``/``run.failed_tasks``; and per span name
    the summed accumulators, stage input bytes and records included."""
    by_group_stages: dict[str, list[dict]] = defaultdict(list)
    owner = stage_owner(jobs)
    for st in stages:
        if st.get("status") == "SKIPPED":
            continue
        group = owner.get(st["stageId"])
        if group is not None:
            by_group_stages[group].append(st)
    jobs_per_group: dict[str, int] = defaultdict(int)
    for job in jobs:
        if job.get("jobGroup"):
            jobs_per_group[job["jobGroup"]] += 1
    children: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append((s.start, s.end))

    acc: dict[str, dict[str, float]] = {n: dict.fromkeys(SPAN_FIELDS + ["calls", "input_bytes", "input_records"], 0.0) for n in SPANS}
    for idx, s in enumerate(spans):
        if s.name not in acc:
            continue
        sts = by_group_stages.get(s.group, [])
        busy = [
            (_ts(st.get("submissionTime")), _ts(st.get("completionTime")))
            for st in sts
        ]
        busy = [(a, b) for a, b in busy if a is not None and b is not None]
        self_s, driver_s = stats.self_and_driver_time((s.start, s.end), children[idx], busy)
        a = acc[s.name]
        a["calls"] += 1
        a["wall_s"] += self_s
        a["driver_s"] += driver_s
        a["jobs"] += jobs_per_group.get(s.group, 0)
        a["tasks"] += sum(st["numTasks"] for st in sts)
        a["cpu_s"] += sum(st["executorCpuTime"] for st in sts) / 1e9
        a["shuffle_bytes"] += sum(st["shuffleReadBytes"] + st["shuffleWriteBytes"] for st in sts)
        a["input_bytes"] += sum(st["inputBytes"] for st in sts)
        a["input_records"] += sum(st["inputRecords"] for st in sts)

    out: dict[str, float] = {}
    for name in SPANS:
        a = acc[name]
        calls = a["calls"] or 1
        for f in SPAN_FIELDS:
            out[f"{name}.{f}"] = a[f] / calls
    real = [st for st in stages if st.get("status") != "SKIPPED"]
    out["run.spill_bytes"] = float(sum(st["memoryBytesSpilled"] + st["diskBytesSpilled"] for st in real))
    out["run.failed_tasks"] = float(sum(st["numFailedTasks"] for st in real))
    totals = {name: acc[name] for name in SPANS}
    return out, totals


class RssSampler:
    """One thread sampling the summed RSS of this process's descendants
    that are the Spark JVM or its Python workers, from /proc.

    Other descendants are left out: the JVM spawns short-lived commands
    (``chmod``, ``rm``), and until such a child execs it shares the
    JVM's address space and reports the JVM's whole RSS as its own."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.samples: list[tuple[float, int]] = []  # (perf_counter, bytes)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def _loop(self):
        while not self._stop.is_set():
            self.samples.append((time.perf_counter(), self.sample()))
            self._stop.wait(self.interval_s)

    def peak(self, start: float, end: float) -> int:
        """Highest sample taken between two ``perf_counter`` readings."""
        return max(b for t, b in self.samples if start <= t <= end)

    def sample(self) -> int:
        parent: dict[int, int] = {}
        comm: dict[int, str] = {}
        rss: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if not entry.isdigit():
                continue
            try:
                with open(f"/proc/{entry}/stat") as f:
                    head, tail = f.read().rsplit(")", 1)
            except OSError:  # the process exited between listdir and open
                continue
            fields = tail.split()
            pid = int(entry)
            parent[pid] = int(fields[1])
            comm[pid] = head.split("(", 1)[1]
            rss[pid] = int(fields[21]) * self._page
        me = os.getpid()
        total = 0
        for pid in rss:
            p = parent[pid]
            if not (
                comm[pid].startswith("python")
                or (comm[pid] == "java" and comm.get(p) != "java")
            ):
                continue
            while p and p != me and p in parent:
                p = parent[p]
            if p == me:
                total += rss[pid]
        return total

"""Traced-run instrumentation, all from outside the program.

- ``Tracer`` wraps public entry points (``CrawlEngine.seed``,
  ``seed_from_frontier``, ``run``, ``resume`` and the ``StateStore``
  methods) and keeps spans in memory: name, start, end, parent span and the
  crawl round they ran in.
- Per round it puts the round's Spark jobs in a job group and reads job,
  stage and task counts from the status tracker, and it sums the bytes and
  files the round committed under the state store.
- ``read_event_log`` parses the Spark event log of the traced context;
  ``attribute_stages`` assigns stages to round spans by submission time.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import time
from dataclasses import dataclass

from abot_dotnet_core_spark.crawler import CrawlEngine
from abot_dotnet_core_spark.sources.statestore import StateStore

ENGINE_METHODS = ("seed", "seed_from_frontier", "run")
STORE_METHODS = ("write_table", "write_pandas", "commit_round", "read_table",
                 "read_events", "read_manifest", "latest_round",
                 "drop_uncommitted")


def event_log_submit_args(log_dir: str) -> str:
    """PYSPARK_SUBMIT_ARGS enabling an uncompressed event log in log_dir."""
    return (f"--conf spark.eventLog.enabled=true "
            f"--conf spark.eventLog.dir=file://{os.path.abspath(log_dir)} "
            f"--conf spark.eventLog.compress=false pyspark-shell")


@dataclass
class Span:
    name: str
    start: float               # epoch seconds
    end: float = 0.0
    parent: int | None = None  # index into Tracer.spans
    round: int | None = None
    crawl: int = 0


@dataclass
class RoundCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    tasks_failed: int = 0
    bytes: int = 0
    files: int = 0


class Tracer:
    def __init__(self, spark) -> None:
        self.spark = spark
        self.spans: list[Span] = []
        self.rounds: dict[tuple[int, int], RoundCounts] = {}
        self.crawl_id = 0
        self._round: int | None = None
        self._stack: list[int] = []
        self._saved: list[tuple[object, str, object]] = []

    # --- spans around public entry points --------------------------------

    def _wrap(self, fn, name: str):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = len(self.spans)
            self.spans.append(Span(
                name, time.time(),
                parent=self._stack[-1] if self._stack else None,
                round=self._round, crawl=self.crawl_id))
            self._stack.append(idx)
            try:
                return fn(*args, **kwargs)
            finally:
                self._stack.pop()
                self.spans[idx].end = time.time()
        return wrapper

    def install(self) -> None:
        for name in ENGINE_METHODS:
            self._patch(CrawlEngine, name, f"engine.{name}")
        raw = CrawlEngine.__dict__["resume"]
        self._saved.append((CrawlEngine, "resume", raw))
        CrawlEngine.resume = classmethod(
            self._wrap(raw.__func__, "engine.resume"))
        for name in STORE_METHODS:
            self._patch(StateStore, name, f"statestore.{name}")

    def _patch(self, owner, attr: str, span_name: str) -> None:
        orig = owner.__dict__[attr]
        self._saved.append((owner, attr, orig))
        setattr(owner, attr, self._wrap(orig, span_name))

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._saved):
            setattr(owner, attr, orig)
        self._saved.clear()

    # --- round hooks (called by workloads.crawl) -------------------------

    def _group(self, k: int) -> str:
        return f"perfbench-c{self.crawl_id}-r{k}"

    def round_start(self, k: int) -> None:
        self._round = k
        self.spark.sparkContext.setJobGroup(self._group(k), "perfbench round")

    def round_end(self, k: int, store_root: str) -> None:
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        rc = RoundCounts()
        for job in tracker.getJobIdsForGroup(self._group(k)):
            rc.jobs += 1
            info = tracker.getJobInfo(job)
            for sid in (info.stageIds if info else ()):
                st = tracker.getStageInfo(sid)
                if st is None or st.numCompletedTasks + st.numFailedTasks == 0:
                    continue        # skipped stage (shuffle output reused)
                rc.stages += 1
                rc.tasks += st.numCompletedTasks + st.numFailedTasks
                rc.tasks_failed += st.numFailedTasks
        for path in glob.glob(os.path.join(store_root, "*", f"round={k}",
                                           "**"), recursive=True):
            if os.path.isfile(path):
                rc.files += 1
                rc.bytes += os.path.getsize(path)
        commit = os.path.join(store_root, "_commits", f"commit-{k:06d}.json")
        if os.path.isfile(commit):
            rc.files += 1
            rc.bytes += os.path.getsize(commit)
        self.rounds[(self.crawl_id, k)] = rc
        sc.setJobGroup("perfbench-idle", "perfbench outside rounds")
        self._round = None

    # --- summaries -------------------------------------------------------

    def span_seconds(self, name: str) -> tuple[float, int]:
        """Total seconds and call count of spans named ``name`` inside
        rounds (top-level occurrences only, so a re-entrant call is not
        counted twice)."""
        total, calls = 0.0, 0
        for s in self.spans:
            if s.name != name or s.round is None:
                continue
            if s.parent is not None and self.spans[s.parent].name == name:
                continue
            total += s.end - s.start
            calls += 1
        return total, calls


# --------------------------------------------------------------------------
# Spark event log
# --------------------------------------------------------------------------

@dataclass
class StageRecord:
    submitted: float           # epoch seconds
    task_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input: int = 0


def read_event_log(log_dir: str) -> dict[tuple[int, int], StageRecord]:
    """Stage records of the most recent application log in ``log_dir``
    (Spark writes one ``eventlog_v2_<app>`` directory of rolled
    ``events_<n>_<app>`` files per application), keyed by (stage, attempt)."""
    apps = glob.glob(os.path.join(log_dir, "eventlog_v2_*"))
    if not apps:
        raise FileNotFoundError(f"no Spark event log in {log_dir}")
    app = max(apps, key=os.path.getmtime)
    parts = sorted(glob.glob(os.path.join(app, "events_*")),
                   key=lambda p: int(os.path.basename(p).split("_")[1]))
    stages: dict[tuple[int, int], StageRecord] = {}
    for part in parts:
        with open(part) as fh:
            for line in fh:
                _add_event(stages, json.loads(line))
    return stages


def _add_event(stages: dict, ev: dict) -> None:
    kind = ev.get("Event")
    if kind == "SparkListenerStageSubmitted":
        info = ev["Stage Info"]
        key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
        sub = info.get("Submission Time") or 0
        stages.setdefault(key, StageRecord(submitted=sub / 1000.0))
    elif kind == "SparkListenerTaskEnd":
        key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
        rec = stages.setdefault(key, StageRecord(submitted=0.0))
        m = ev.get("Task Metrics") or {}
        rec.task_s += m.get("Executor Run Time", 0) / 1000.0
        rec.gc_s += m.get("JVM GC Time", 0) / 1000.0
        rec.spill += (m.get("Memory Bytes Spilled", 0)
                      + m.get("Disk Bytes Spilled", 0))
        sr = m.get("Shuffle Read Metrics") or {}
        rec.shuffle_read += (sr.get("Remote Bytes Read", 0)
                             + sr.get("Local Bytes Read", 0))
        sw = m.get("Shuffle Write Metrics") or {}
        rec.shuffle_write += sw.get("Shuffle Bytes Written", 0)
        rec.input += (m.get("Input Metrics") or {}).get("Bytes Read", 0)


def attribute_stages(stages: dict, windows: list[tuple[float, float]]
                     ) -> list[list[StageRecord]]:
    """Stages whose submission time falls inside each [start, end] window.
    Stage call sites are py4j frames and cannot name a phase; time can."""
    out: list[list[StageRecord]] = [[] for _ in windows]
    for rec in stages.values():
        for i, (a, b) in enumerate(windows):
            if a <= rec.submitted <= b:
                out[i].append(rec)
                break
    return out

"""Spans, the Spark event-log reader, self-time arithmetic and /proc sampling.

A span is a dict: id, name, start, end (epoch seconds), parent (span id or
None) and run (the run id every span of one benchmark run shares). The
runner records its own spans around each public call; `attach_jobs` turns
the jobs and stages of the Spark event log into spans below them.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import re
import shutil
import subprocess
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder; spans are written out when the run ends."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None, **attrs) -> int:
        sid = next(self._ids)
        self.spans.append(
            {"id": sid, "name": name, "start": start, "end": end,
             "parent": parent, "run": self.run_id, **attrs}
        )
        return sid

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.time(), 0.0, parent, **attrs)
        rec = self.spans[-1]
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


# -- Spark event log ---------------------------------------------------------

_ROLL_INDEX = re.compile(r"events_(\d+)_")


def _read_text(path: str) -> str:
    if path.endswith(".zstd") or path.endswith(".zst"):
        zstd = shutil.which("zstd")
        if zstd is None:
            raise RuntimeError(f"cannot read {path}: no zstd binary on PATH")
        return subprocess.run(
            [zstd, "-dcq", path], capture_output=True, check=True
        ).stdout.decode()
    with open(path, encoding="utf-8") as f:
        return f.read()


def eventlog_files(log_dir: str) -> list[str]:
    """Every event-log file under log_dir, in event order. A rolling log is a
    directory `eventlog_v2_<app>` of `events_<n>_<app>[.zstd]` parts that
    must be read in n order; a plain log is one file per application."""
    out: list[str] = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            parts = [p for p in glob.glob(os.path.join(path, "events_*")) if _ROLL_INDEX.search(os.path.basename(p))]
            parts.sort(key=lambda p: int(_ROLL_INDEX.search(os.path.basename(p)).group(1)))
            out.extend(parts)
        elif not entry.startswith("."):
            out.append(path)
    return out


def read_events(log_dir: str) -> list[dict]:
    """All events of every log under log_dir, merged in file order. A torn
    last line (the log of a live application) is skipped."""
    events: list[dict] = []
    for path in eventlog_files(log_dir):
        for line in _read_text(path).splitlines():
            if not line.strip():
                continue
            try:
                events.append(json.loads(line))
            except json.JSONDecodeError:
                continue
    return events


def _step_label(description: str | None) -> tuple[int | None, str]:
    """'epoch 3: fetch_join+seen_write' -> (3, 'fetch_join_seen_write');
    a job with no engine label -> (None, 'unlabelled')."""
    if not description:
        return None, "unlabelled"
    m = re.match(r"epoch (-?\d+): (.+)$", description)
    if not m:
        return None, "unlabelled"
    return int(m.group(1)), re.sub(r"[^A-Za-z0-9_]", "_", m.group(2))


def eventlog_jobs(events: list[dict]) -> list[dict]:
    """One record per finished job: id, description, epoch, step, start/end
    (epoch seconds), stages with their task-metric sums."""
    stage_job: dict[int, int] = {}
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            desc = props.get("spark.job.description")
            epoch, step = _step_label(desc)
            jid = e["Job ID"]
            jobs[jid] = {"id": jid, "description": desc, "epoch": epoch, "step": step,
                         "start": e["Submission Time"] / 1000.0, "end": None, "stages": []}
            for sid in e.get("Stage IDs", []):
                stage_job[sid] = jid
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            sid = si["Stage ID"]
            if "Submission Time" in si and "Completion Time" in si:
                st = stages.setdefault(sid, _empty_stage(sid))
                st["start"] = si["Submission Time"] / 1000.0
                st["end"] = si["Completion Time"] / 1000.0
                st["attempt"] = si.get("Stage Attempt ID", 0)
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            st = stages.setdefault(sid, _empty_stage(sid))
            m = e.get("Task Metrics") or {}
            st["tasks"] += 1
            st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            st["run_s"] += m.get("Executor Run Time", 0) / 1000.0
            st["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            st["shuffle_write_b"] += sw.get("Shuffle Bytes Written", 0)
            st["shuffle_read_b"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st["spill_b"] += m.get("Disk Bytes Spilled", 0)
            st["out_b"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
            st["out_rows"] += (m.get("Output Metrics") or {}).get("Records Written", 0)
            st["in_rows"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
    for sid, st in stages.items():
        jid = stage_job.get(sid)
        if jid in jobs and st.get("start") is not None:
            jobs[jid]["stages"].append(st)
    return [j for j in sorted(jobs.values(), key=lambda j: j["id"]) if j["end"] is not None]


def _empty_stage(sid: int) -> dict:
    return {"id": sid, "start": None, "end": None, "tasks": 0, "cpu_s": 0.0,
            "run_s": 0.0, "gc_s": 0.0, "shuffle_write_b": 0, "shuffle_read_b": 0,
            "spill_b": 0, "out_b": 0, "out_rows": 0, "in_rows": 0}


def attach_jobs(tracer: Tracer, jobs: list[dict], parents: list[dict]) -> dict[int, dict]:
    """Add a span per job under the innermost of `parents` whose interval
    holds the job's submission, and a span per stage under its job. Job and
    stage intervals are clipped to their parent so the tree nests. Returns
    stage span id -> stage record."""
    stage_of: dict[int, dict] = {}
    for j in jobs:
        holders = [p for p in parents if p["start"] <= j["start"] <= p["end"]]
        if not holders:
            continue
        parent = max(holders, key=lambda p: p["start"])
        js, je = max(j["start"], parent["start"]), min(j["end"], parent["end"])
        jid = tracer.add(f"job:{j['step']}", js, je, parent["id"], kind="job",
                         step=j["step"], epoch=j["epoch"], job_id=j["id"])
        for st in j["stages"]:
            ss, se = max(st["start"], js), min(st["end"], je)
            if se > ss:
                stage_of[tracer.add(f"stage:{st['id']}", ss, se, jid, kind="stage")] = st
    return stage_of


# -- self time ---------------------------------------------------------------


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time of every span: the part of its interval that none of its
    child spans covers. Where several children run at once they split that
    time evenly, so the self times of a tree sum to the root's duration."""
    children: dict[int | None, list[dict]] = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out = {s["id"]: 0.0 for s in spans}

    def walk(node: dict, lo: float, hi: float, weight: float) -> None:
        kids = [k for k in children.get(node["id"], []) if k["end"] > lo and k["start"] < hi]
        cuts = sorted({lo, hi, *(min(max(t, lo), hi) for k in kids for t in (k["start"], k["end"]))})
        for a, b in zip(cuts, cuts[1:]):
            active = [k for k in kids if k["start"] <= a and k["end"] >= b]
            if not active:
                out[node["id"]] += weight * (b - a)
            for k in active:
                walk(k, a, b, weight / len(active))

    for root in children.get(None, []):
        walk(root, root["start"], root["end"], 1.0)
    return out


def subtree_self(spans: list[dict], selfs: dict[int, float], root_id: int) -> float:
    kids: dict[int | None, list[int]] = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s["id"])
    total, todo = 0.0, [root_id]
    while todo:
        sid = todo.pop()
        total += selfs[sid]
        todo.extend(kids.get(sid, []))
    return total


# -- /proc ----------------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, float, str]]:
    """pid -> (ppid, cpu seconds, comm) for every visible process."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {}
    for p in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(p) as f:
                s = f.read()
        except OSError:
            continue
        lp, rp = s.index("("), s.rindex(")")
        fields = s[rp + 2:].split()
        out[int(s[:lp])] = (int(fields[1]), (int(fields[11]) + int(fields[12])) / tick, s[lp + 1:rp])
    return out


def process_tree() -> dict[int, tuple[float, str]]:
    """pid -> (cpu seconds, comm) for this process and every live descendant."""
    root = os.getpid()
    table = _proc_table()
    kids: dict[int, list[int]] = defaultdict(list)
    for pid, (ppid, _, _) in table.items():
        kids[ppid].append(pid)
    out, todo = {}, [root]
    while todo:
        pid = todo.pop()
        if pid in table:
            out[pid] = (table[pid][1], table[pid][2])
            todo.extend(kids.get(pid, []))
    return out


def tree_cpu_s() -> float:
    return sum(cpu for cpu, _ in process_tree().values())


def tree_peak_rss_mb() -> float:
    """Sum over the live process tree of each process's peak resident set
    (VmHWM): an upper bound of the tree's peak that needs no sampler."""
    total_kb = 0
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


class CpuSampler:
    """Background /proc sampler of the CPU-seconds of the Python workers, the
    JVM and the driver. Sampling keeps the CPU of a worker that exits between
    two samples up to the earlier one."""

    INTERVAL_S = 0.25

    def __init__(self):
        self._lock = threading.Lock()
        self._last: dict[int, tuple[float, str]] = {}
        self._acc = {"python_workers": 0.0, "jvm": 0.0, "driver": 0.0}
        self._started = False
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    @staticmethod
    def _classify(pid: int, comm: str) -> str:
        if pid == os.getpid():
            return "driver"
        return "jvm" if comm.startswith("java") else "python_workers"

    def snapshot(self) -> dict[str, float]:
        """Sample now; returns the totals so far."""
        with self._lock:
            now = process_tree()
            for pid, (cpu, comm) in now.items():
                prev = self._last.get(pid)
                if prev is not None or self._started:
                    # a process born after the start counts from zero
                    base = prev[0] if prev is not None else 0.0
                    self._acc[self._classify(pid, comm)] += max(0.0, cpu - base)
            self._last = now
            return dict(self._acc)

    def _loop(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            self.snapshot()

    def start(self) -> None:
        self.snapshot()
        with self._lock:
            self._acc = {k: 0.0 for k in self._acc}
            self._started = True
        self._thread.start()

    def stop(self) -> dict[str, float]:
        self._stop.set()
        self._thread.join()
        return self.snapshot()

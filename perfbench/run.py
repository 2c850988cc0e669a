#!/usr/bin/env python3
"""Benchmark entry point: one fresh, supervised benchmark process per run.

    python3 perfbench/run.py --workload resolve_supervised --seed 1 \
        --seconds 10 --trace 0

Run from the repository root.  This file pins the run environment,
starts ``perfbench/bench.py`` in its own process group under a fresh
work directory (``.perfbench/work/<id>``), samples the resident memory
of the whole group (driver, JVM and Python workers) from ``/proc``,
and after the child exits stops every process left in the group and
removes the work directory.  The child's result, with ``peak_rss_mb``
(untraced run) or ``jvm.heap_after_gc_mb`` (traced run) added, is
printed as the last line of standard output.

The environment pinned for the child, and recorded in its output:

- cores: the CPUs this process may run on (what ``nproc`` prints);
- ``SPARK_DRIVER_MEM``: fixed, because the engine otherwise sizes the
  pre-touched driver heap from the host's current free memory;
- ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVM's ``java.io.tmpdir``:
  inside the work directory;
- ``SPARK_GRAFT_SHUFFLE_PARTITIONS`` and ``SPARK_GRAFT_SHM`` unset,
  so the engine's own defaults apply;
- ``PYTHONPATH``: the repository root, so Python workers import the
  engine wherever the benchmark is started from.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import threading
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = os.path.join(ROOT, "pubmed_and_method_spark")
WORKLOADS = ("resolve_supervised", "resolve_dense_blocks", "ingest_assign")
DRIVER_MEM = "2g"
#: a run must end within 180 s; stop the child before that
CHILD_TIMEOUT_S = 170.0
PAGE_KB = os.sysconf("SC_PAGE_SIZE") / 1024


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--size", choices=("bench", "tiny"), default="bench",
        help="input size; 'tiny' is for the smoke test only",
    )
    return p.parse_args(argv)


def group_procs(pgid: int) -> dict[int, int]:
    """pid -> parent pid of every live process in the group."""
    procs = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # fields after the parenthesised command: state ppid pgrp ...
        fields = stat[stat.rindex(")") + 2:].split()
        if int(fields[2]) == pgid and fields[0] != "Z":
            procs[int(entry)] = int(fields[1])
    return procs


def _read(path: str) -> str | None:
    try:
        with open(path) as f:
            return f.read()
    except OSError:
        return None


def group_rss_mb(pgid: int) -> float:
    """Resident memory of the group.  The JVM counts by its resident set
    (from ``statm``; its ``smaps_rollup`` costs tens of milliseconds and
    takes the JVM's memory-map lock), which holds its whole heap from
    start: the engine's session factory sizes the heap with -Xms and
    pre-touches it, so heap growth within ``DRIVER_MEM`` does not show
    here (``heap_after_gc_mb`` measures it).  Python processes count by
    proportional set size, so pages the worker daemon shares with its
    forks count once.  A child still sharing its parent's address space
    (spawned with vfork, not yet exec'd) reads exactly like its parent
    and is skipped."""
    procs = group_procs(pgid)
    statm = {pid: _read(f"/proc/{pid}/statm") for pid in procs}
    total_kb = 0.0
    for pid, ppid in procs.items():
        if statm[pid] is None or statm[pid] == statm.get(ppid):
            continue
        if (_read(f"/proc/{pid}/comm") or "").strip() == "java":
            total_kb += int(statm[pid].split()[1]) * PAGE_KB
            continue
        for line in (_read(f"/proc/{pid}/smaps_rollup") or "").splitlines():
            if line.startswith("Pss:"):
                total_kb += int(line.split()[1])
                break
    return total_kb / 1024


_GC_PAUSE = re.compile(r"Pause .*?\d+[KMG]->(\d+)([KMG])\(")
_UNIT_MB = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}


def heap_after_gc_mb(work: str) -> float:
    """Peak heap occupancy right after a collection, over every GC pause
    the JVM logged (``-Xlog:gc``): live objects plus promoted ones the
    collector has not reclaimed yet.  Occupancy before a collection is
    no measure, as garbage fills the heap to near its size whatever the
    workload."""
    peak = 0.0
    for path in glob.glob(os.path.join(work, "gc-*.log")):
        with open(path) as f:
            for m in _GC_PAUSE.finditer(f.read()):
                peak = max(peak, int(m.group(1)) * _UNIT_MB[m.group(2)])
    return peak


class RssSampler(threading.Thread):
    def __init__(self, pgid: int, interval: float = 0.5):
        super().__init__(daemon=True)
        self.pgid = pgid
        self.interval = interval
        self.peak_mb = 0.0
        self._stop_event = threading.Event()

    def run(self):
        while not self._stop_event.is_set():
            self.peak_mb = max(self.peak_mb, group_rss_mb(self.pgid))
            self._stop_event.wait(self.interval)

    def stop(self):
        self._stop_event.set()
        self.join(timeout=5)


def stop_group(pgid: int, grace_s: float = 15.0) -> None:
    """SIGTERM, then SIGKILL, every process of the group; return once
    none is left."""
    for sig, wait_s in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 30.0)):
        try:
            os.killpg(pgid, sig)
        except ProcessLookupError:
            return
        deadline = time.time() + wait_s
        while time.time() < deadline:
            if not group_procs(pgid):
                return
            time.sleep(0.1)


def child_env(work: str, cores: int) -> dict:
    env = dict(os.environ)
    for sub in ("local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    env.update(
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
        PYTHONPATH=os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # no hsperfdata file in the system temp dir
        JAVA_TOOL_OPTIONS=(
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            f" -Xlog:gc:file={os.path.join(work, 'gc-%p.log')}"
        ),
        PYTHONHASHSEED="0",
    )
    env.pop("SPARK_GRAFT_SHUFFLE_PARTITIONS", None)
    env.pop("SPARK_GRAFT_SHM", None)
    return env


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # run the cleanup in main's finally


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, _terminate)
    if not os.path.isdir(PACKAGE):
        print(f"engine package not found at {PACKAGE}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", "work", uuid.uuid4().hex[:12])
    os.makedirs(work)
    result_path = os.path.join(work, "result.json")
    cmd = [
        sys.executable, os.path.join(ROOT, "perfbench", "bench.py"),
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--size", args.size, "--work", work, "--result", result_path,
    ]
    try:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=child_env(work, cores),
            start_new_session=True, stdin=subprocess.DEVNULL,
        )
        sampler = RssSampler(proc.pid)
        sampler.start()
        try:
            code = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            print(f"benchmark child exceeded {CHILD_TIMEOUT_S:.0f} s",
                  file=sys.stderr)
            code = None
        finally:
            sampler.stop()
            stop_group(proc.pid)
            proc.wait()
        if code != 0 or not os.path.exists(result_path):
            print(f"benchmark child failed (exit {code})", file=sys.stderr)
            return 1
        with open(result_path) as f:
            result = json.load(f)
        heap_mb = heap_after_gc_mb(work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace == 0:
        result["metrics"]["peak_rss_mb"] = {
            "value": sampler.peak_mb, "unit": "MB",
        }
    else:
        result["metrics"]["jvm.heap_after_gc_mb"] = {
            "value": heap_mb, "unit": "MB",
        }
    sys.stdout.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

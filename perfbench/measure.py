"""Measurement primitives: process-tree memory from /proc, spans with Spark
job counts, and output readers for the checks.

Nothing here starts a thread: memory is sampled at span and operation
boundaries, and job counts come from ``SparkContext.statusTracker()``, which
works with ``spark.ui.enabled=false``. The checks read the outputs with
pyarrow in this process, so they add no Spark jobs.
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import time
from dataclasses import asdict, dataclass

import pyarrow.dataset as ds

# ---------------------------------------------------------------------------
# /proc memory of this process's tree (this Python process, the JVM it
# launched, the JVM's Python worker daemon and its forked workers)
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                stat = f.read()
        except OSError:  # the process exited while we listed /proc
            continue
        # comm may hold spaces and parens: the fields after the LAST ')' are
        # "state ppid ..."
        ppid = int(stat.rsplit(b")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """``root`` (default: this process) and all its live descendants."""
    root = os.getpid() if root is None else root
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes that map it."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:  # the process exited, or its memory map is unreadable
        pass
    return 0


class MemorySampler:
    """Peak resident memory of the process tree, sampled on demand.

    One sample is the sum of the proportional set sizes (``Pss``) of the
    live processes, so the pages the forked Python workers share with their
    daemon count once, and the sum is the tree's resident memory at that
    moment. The reported peak is the largest sample; a peak between two
    samples is missed, so samples are taken at every operation boundary.
    """

    def __init__(self) -> None:
        self.peak_kb = 0
        self.samples = 0

    def sample(self) -> int:
        kb = sum(_pss_kb(pid) for pid in process_tree())
        self.peak_kb = max(self.peak_kb, kb)
        self.samples += 1
        return kb

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ---------------------------------------------------------------------------
# spans and job counts
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    jobs: int

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory and written once at exit.

    Each span labels its Spark jobs with its own job group, so the job count
    of a span is the number of jobs the status tracker lists for that group.
    Spans nest: a parent's jobs are only those started outside its children.
    """

    def __init__(self, spark, memory: MemorySampler) -> None:
        self._sc = spark.sparkContext
        self._memory = memory
        self._stack: list[tuple[str, str]] = []  # (span name, job group)
        self.spans: list[Span] = []
        self._ids = itertools.count()

    def run(self, name: str, fn):
        """Call ``fn()`` inside a span named ``name``; return its result."""
        parent = self._stack[-1] if self._stack else None
        group = f"perfbench-{next(self._ids)}-{name}"
        self._sc.setJobGroup(group, name)
        self._stack.append((name, group))
        start = time.perf_counter()
        try:
            result = fn()
        finally:
            end = time.perf_counter()
            self._stack.pop()
            jobs = len(self._sc.statusTracker().getJobIdsForGroup(group))
            self.spans.append(Span(name, start, end,
                                   parent[0] if parent else None, jobs))
            # jobs started after this point belong to the enclosing span
            self._sc.setJobGroup(*(parent[1], parent[0]) if parent
                                 else ("perfbench-untraced", "untraced"))
            self._memory.sample()
        return result

    def get(self, name: str) -> Span:
        return next(s for s in self.spans if s.name == name)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([dict(asdict(s), seconds=s.seconds) for s in self.spans],
                      f, indent=1)


# ---------------------------------------------------------------------------
# output readers for the checks
# ---------------------------------------------------------------------------


def row_digest(rows) -> str:
    """Order-insensitive multiset digest of an iterable of rows: row count
    plus the sum of a 60-bit prefix of each row's sha256. Row order cannot
    change it; a changed, missing or duplicated row does."""
    n = total = 0
    for row in rows:
        key = "\x1f".join("\x00" if v is None else
                          ("true" if v else "false") if isinstance(v, bool)
                          else str(v) for v in row)
        total += int(hashlib.sha256(key.encode()).hexdigest()[:15], 16)
        n += 1
    return f"{n}:{total}"


def read_parquet(path: str, columns: list[str], where=None):
    """A Spark-written parquet directory as a pyarrow Table (hive
    partition columns included; ``_SUCCESS`` and ``.crc`` files skipped)."""
    return ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=columns, filter=where)


def count_lines(path: str) -> int:
    """Newlines in the data files of a Spark-written text directory."""
    n = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if not name.startswith((".", "_")):
                with open(os.path.join(root, name), "rb") as f:
                    n += f.read().count(b"\n")
    return n


def dir_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (Hadoop's ``.crc`` side files
    and markers excluded)."""
    total = 0
    for root, _dirs, files in os.walk(path):
        for name in files:
            if not name.startswith((".", "_")):
                total += os.path.getsize(os.path.join(root, name))
    return total

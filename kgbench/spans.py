"""Spans, Spark job-group accounting and resource sampling for the benchmark.

Spans are recorded by the benchmark around its calls into the package's
layers; the package itself is not instrumented. A span is (name, layer,
start, end, parent, run id), kept in memory and written out as JSON lines
when the run ends. While a span is open its name is the Spark job group,
so the jobs and tasks each layer caused can be read back from the status
tracker.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field
from typing import Dict, Iterator, List, Optional


@dataclass
class Span:
    sid: int
    name: str
    layer: str
    start: float
    end: float = 0.0
    parent: Optional[int] = None
    run: str = ""
    group: str = ""

    @property
    def dur(self) -> float:
        return self.end - self.start


class NullTracer:
    """The untraced run: no spans, no job groups, no boundary caches."""

    enabled = False

    @contextmanager
    def span(self, name: str, layer: Optional[str] = None) -> Iterator[None]:
        yield

    def boundary(self, df):
        """Traced runs materialize a layer's lazy output here so the work
        is charged to that layer; untraced runs leave it lazy."""
        return df


class Tracer(NullTracer):
    enabled = True

    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run = run_id
        self.spans: List[Span] = []
        self._stack: List[Span] = []

    def _set_group(self, group: Optional[str]) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, layer: Optional[str] = None) -> Iterator[None]:
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            sid=len(self.spans),
            name=name,
            layer=layer or name.split(".", 1)[0],
            start=time.perf_counter(),
            parent=parent.sid if parent else None,
            run=self.run,
        )
        sp.group = f"{self.run}#{sp.sid}:{name}"
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp.group)
        try:
            yield
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1].group if self._stack else None)

    def boundary(self, df):
        df = df.cache()
        df.count()
        return df

    @contextmanager
    def aux(self) -> Iterator[None]:
        """Extra counting jobs the traced run needs for its per-layer
        counts; they run outside every layer span and job group."""
        saved = self._stack
        self._stack = []
        self._set_group(f"{self.run}#aux")
        try:
            yield
        finally:
            self._stack = saved
            self._set_group(saved[-1].group if saved else None)

    def jobs_and_tasks(self, spans: List[Span], timeout: float = 10.0) -> Dict[str, List[int]]:
        """layer -> [jobs, completed tasks] from the status tracker. The
        tracker is fed by the listener bus, so wait until every job of
        these groups reports a final status."""
        st = self.sc.statusTracker()
        out: Dict[str, List[int]] = {}
        deadline = time.monotonic() + timeout
        for sp in spans:
            while True:
                ids = list(st.getJobIdsForGroup(sp.group))
                infos = [st.getJobInfo(j) for j in ids]
                done = all(i is not None and i.status in ("SUCCEEDED", "FAILED") for i in infos)
                if done or time.monotonic() > deadline:
                    break
                time.sleep(0.05)
            tasks = 0
            for info in infos:
                for stage_id in (info.stageIds if info else ()):
                    si = st.getStageInfo(stage_id)
                    if si is not None:
                        tasks += si.numCompletedTasks
            acc = out.setdefault(sp.layer, [0, 0])
            acc[0] += len(ids)
            acc[1] += tasks
        return out



def self_times(spans: List[Span]) -> Dict[int, float]:
    """Span duration minus the part its child spans cover (children of one
    parent run one after another, so their durations add)."""
    child = {sp.sid: 0.0 for sp in spans}
    for sp in spans:
        if sp.parent is not None and sp.parent in child:
            child[sp.parent] += sp.dur
    return {sp.sid: sp.dur - child[sp.sid] for sp in spans}


def dump_spans(path: str, spans: List[Span]) -> None:
    """Write spans as JSON lines (the in-memory record, at run end)."""
    with open(path, "w") as fh:
        for sp in spans:
            fh.write(json.dumps(asdict(sp)) + "\n")


# ------------------------------------------------------------ resources
def _children_map() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces: fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> List[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident memory with pages shared between
    processes (forked Python workers) split among them, so a sum over a
    process tree counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class RssSampler:
    """Peak memory (summed PSS) of this process and all its descendants
    (driver JVM, Python workers), sampled from /proc on a thread."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        me = os.getpid()
        total = sum(_pss_bytes(p) for p in [me] + descendants(me))
        self.peak = max(self.peak, total)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()


def steal_seconds() -> float:
    """CPU time the hypervisor has taken from this machine's vCPUs while
    they had work to run (the `steal` column of /proc/stat; 0 on bare
    metal), summed over vCPUs."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def du(path: str) -> int:
    """Bytes in regular files under `path` (0 when it does not exist)."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(root, f)).st_size
            except OSError:
                pass
    return total


@dataclass
class OpRecord:
    """One timed operation: its wall time and what it reported."""

    wall: float
    traced: bool
    steal: float = 0.0
    counts: Dict[str, float] = field(default_factory=dict)
    spans: List[Span] = field(default_factory=list)
    ok: bool = True
    jobs: Dict[str, List[int]] = field(default_factory=dict)

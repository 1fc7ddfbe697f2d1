"""Measurement helpers: process-tree RSS sampling, the Spark REST harvest
and in-memory spans. Standard library only (no psutil)."""

from __future__ import annotations

import json
import os
import sys
import threading
import time
import urllib.request

_PAGE = os.sysconf("SC_PAGE_SIZE")


def children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may contain spaces; ppid follows the closing ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_rss_bytes(root: int) -> int:
    """Summed resident set of `root` and all its descendants: the Python
    driver, the JVM it launched and the JVM's Python workers."""
    kids = children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread tracking the peak of `tree_rss_bytes(pid)`."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class Spans:
    """Spans kept in memory and written out once, at the end."""

    def __init__(self, trace_id: str):
        self.trace_id = trace_id
        self.items: list[dict] = []

    def span(self, name: str, parent: str | None = None, **attrs):
        return _Span(self, name, parent, attrs)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"trace_id": self.trace_id, "spans": self.items}, f, indent=1)


class _Span:
    def __init__(self, owner: Spans, name: str, parent: str | None, attrs: dict):
        self.owner, self.name, self.parent, self.attrs = owner, name, parent, attrs

    def __enter__(self) -> _Span:
        self.start = time.time()
        return self

    def __exit__(self, *exc) -> None:
        self.end = time.time()
        self.owner.items.append(
            {
                "trace_id": self.owner.trace_id,
                "name": self.name,
                "parent": self.parent,
                "start": self.start,
                "end": self.end,
                **self.attrs,
            }
        )

    @property
    def wall(self) -> float:
        return self.end - self.start


# ---------------------------------------------------------------------------
# Spark REST harvest
# ---------------------------------------------------------------------------

# SQL node metrics summed into layer counters. Values arrive as display
# strings ("1234", "12.3 MiB", "total (min, med, max ...)\n1.2 s (...)").
HARVESTED = (
    "time to run Python workers",
    "time to start Python workers",
    "data sent to Python workers",
    "data returned from Python workers",
    "shuffle bytes written",
    "written output",
    "number of written files",
)
_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(value: str) -> float:
    """First number of a Spark SQL metric display string, in base units
    (bytes, seconds, rows). For "total (min, med, max)" metrics that is the
    total."""
    line = value.strip().splitlines()[-1] if "\n" in value else value.strip()
    tok = line.split(" (")[0].replace(",", "").split()
    if not tok:
        return 0.0
    num = float(tok[0])
    unit = tok[1] if len(tok) > 1 else ""
    if unit in _SIZE:
        return num * _SIZE[unit]
    if unit in _TIME:
        return num * _TIME[unit]
    return num


class RestHarvest:
    """Reads per-execution SQL metrics from the session's own UI.

    Pitfalls handled: `/sql` pages at 20 executions unless `length` is
    given; one call can spawn several executions (persist,
    localCheckpoint, collect), so executions are taken from an id
    watermark; node metrics arrive asynchronously, so polling continues
    until every execution is finished and its metrics are filled in.
    """

    def __init__(self, spark):
        self.base = spark.sparkContext.uiWebUrl.rstrip("/") + "/api/v1/applications/"
        self.base += spark.sparkContext.applicationId
        self.mark()

    def mark(self) -> None:
        """Start the next harvest from here: executions and jobs that
        already exist are not counted."""
        self.watermark = self._max_id()
        self.jobs_mark = self._job_count()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=10) as r:
            return json.loads(r.read())

    def _max_id(self) -> int:
        ex = self._get("/sql?details=false&offset=0&length=100000")
        return max((e["id"] for e in ex), default=-1)

    def _job_count(self) -> int:
        return len(self._get("/jobs"))

    def harvest(self, timeout_s: float = 10.0) -> dict:
        """Executions and jobs since the last harvest, summed."""
        deadline = time.time() + timeout_s
        while True:
            ex = [
                e for e in self._get(
                    "/sql?details=true&planDescription=false&offset=0&length=100000"
                )
                if e["id"] > self.watermark
            ]
            done = all(e["status"] != "RUNNING" for e in ex)
            # an execution that ran jobs has node metrics once the
            # listener has aggregated them; one without jobs has none
            filled = all(
                not e.get("successJobIds") or any(
                    m.get("value") for n in e.get("nodes", ()) for m in n.get("metrics", ())
                )
                for e in ex
            )
            if done and filled:
                break
            if time.time() > deadline:
                print(f"# REST harvest: metrics incomplete after {timeout_s:.0f}s",
                      file=sys.stderr, flush=True)
                break
            time.sleep(0.05)
        out = dict.fromkeys(HARVESTED, 0.0)
        out.update({
            "executions": len(ex),
            "exec_s": sum(e.get("duration", 0) for e in ex) / 1000.0,
        })
        for e in ex:
            for node in e.get("nodes", ()):
                for m in node.get("metrics", ()):
                    if m["name"] in HARVESTED:
                        out[m["name"]] = out.get(m["name"], 0.0) + parse_metric(m["value"])
        if ex:
            self.watermark = max(e["id"] for e in ex)
        jobs = self._job_count()
        out["jobs"] = jobs - self.jobs_mark
        self.jobs_mark = jobs
        return out

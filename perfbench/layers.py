"""Measurements around the Spark rounds: driver-side layer probes,
host control rows and the process tree's peak resident memory."""

from __future__ import annotations

import os
import threading
import time

import numpy as np

# -- host controls ---------------------------------------------------------


def cpu_ctl_ms() -> float:
    """Fixed pure-Python integer loop; moves only with the host."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(600_000):
        acc = (acc * 6364136223846793005 + i) & 0xFFFFFFFFFFFFFFFF
    return (time.perf_counter() - t0) * 1e3


def mem_ctl_ms() -> float:
    """Fixed 25 MB memory-stream copy loop."""
    a = np.arange(25_000_000 // 8, dtype=np.float64)
    b = np.empty_like(a)
    t0 = time.perf_counter()
    for _ in range(10):
        np.copyto(b, a)
        np.copyto(a, b)
    return (time.perf_counter() - t0) * 1e3


def host_controls() -> dict:
    return {"cpu_ctl_ms": cpu_ctl_ms(), "mem_ctl_ms": mem_ctl_ms()}


# -- process tree ----------------------------------------------------------


def _ppids() -> dict:
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces and parentheses
        out[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    return out


def descendants(root: int) -> list:
    children: dict = {}
    for pid, ppid in _ppids().items():
        children.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _hwm_bytes(pid: int) -> int:
    """The kernel's record of the process's peak resident set."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


class PeakRss:
    """Peak resident memory of this process tree (driver python, the JVM
    and its python workers): the sum over every process seen of its own
    peak (VmHWM), polled every `every` s so short-lived workers count."""

    def __init__(self, every: float = 0.1):
        self.every = every
        self._hwm: dict = {}  # pid -> peak bytes
        self._jvm: set = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def split_mb(self) -> dict:
        """Peak MB of the whole tree, of the JVM and of the python
        processes (driver and workers)."""
        jvm = sum(v for p, v in self._hwm.items() if p in self._jvm)
        total = sum(self._hwm.values())
        return {"tree": total / 2**20, "jvm": jvm / 2**20, "python": (total - jvm) / 2**20}

    def _run(self):
        me = os.getpid()
        while not self._stop.is_set():
            for p in [me] + descendants(me):
                if p not in self._jvm:  # the launcher script execs java later
                    try:
                        with open(f"/proc/{p}/cmdline", "rb") as f:
                            if b"java" in f.read().split(b"\0")[0]:
                                self._jvm.add(p)
                    except OSError:
                        pass
                self._hwm[p] = max(self._hwm.get(p, 0), _hwm_bytes(p))
            self._stop.wait(self.every)

    def stop(self):
        self._stop.set()
        self._thread.join()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self.stop()


# -- driver-side layer probes ----------------------------------------------


def _median_time(fn, reps: int = 3) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return float(np.median(ts))


def cell_pip_probes(district_rows, x: np.ndarray, y: np.ndarray, level: int) -> dict:
    """Times the cells and geom layers on the driver, over the workload's
    districts and points, at the join level:
      cover  — cover_geometry over every district;
      encode — CellGrid.encode_points, per million points;
      pip    — PreparedPolygon.locate_batch over each polygon's candidate
               points from ops.flagship.build_cell_index, per million
               candidates."""
    from geospark.cells.cellid import DEFAULT_GRID as grid
    from geospark.cells.coverage import cover_geometry
    from geospark.geom import core as gc
    from geospark.geom import predicates as gpred
    from geospark.ops.flagship import build_cell_index

    geoms = [gc.from_wkb(w) for _, w in district_rows]
    cover_s = _median_time(lambda: [cover_geometry(g, grid, level) for g in geoms], reps=1)
    encode_s = _median_time(lambda: grid.encode_points(x, y, level))

    idx = build_cell_index(district_rows, grid, level)
    keys, starts, members = idx["cell_keys"], idx["starts"], idx["members"]
    cells = grid.encode_points(x, y, level)
    order = np.argsort(cells, kind="stable")
    sorted_cells = cells[order]
    lo = np.searchsorted(sorted_cells, keys, "left")
    hi = np.searchsorted(sorted_cells, keys, "right")
    # (index cell, polygon) pairs grouped by polygon
    pair_cell = np.repeat(np.arange(len(keys)), np.diff(starts))
    by_poly = np.argsort(members, kind="stable")
    pair_cell, pair_poly = pair_cell[by_poly], members[by_poly]
    bounds = np.flatnonzero(np.r_[True, pair_poly[1:] != pair_poly[:-1], True])
    prepared = [gpred.PreparedPolygon(g) for g in geoms]
    pip_s, candidates, hits = 0.0, 0, 0
    for s, e in zip(bounds[:-1], bounds[1:]):
        cs = pair_cell[s:e]
        sel = order[np.concatenate([np.arange(a, b) for a, b in zip(lo[cs], hi[cs])])]
        if not len(sel):
            continue
        pp = prepared[int(pair_poly[s])]
        t0 = time.perf_counter()
        loc = pp.locate_batch(x[sel], y[sel])
        pip_s += time.perf_counter() - t0
        candidates += len(sel)
        hits += int((loc != gpred.EXTERIOR).sum())
    return {
        "cells.cover_s": cover_s,
        "cells.encode_mpts_s": encode_s / (len(x) / 1e6),
        "geom.pip_mpts_s": pip_s / (candidates / 1e6) if candidates else 0.0,
        "pip.candidates": candidates,
        "pip.hits": hits,
        "pip.hit_ratio": hits / candidates if candidates else 0.0,
    }

"""geospark benchmark: one workload in a fresh process, one driver client
in a closed loop, at local[nproc] with nproc shuffle partitions, through
the program's own `geospark.session.build_session`.

  python3 perfbench/run.py --workload pages_flagship --seed 1 --seconds 10 --trace 0

Run from the repository root.  Inputs are generated from --seed once
and cached under .perfbench/inputs; each run's Spark local dirs, temp
files and GeoPackages live in .perfbench/run-<pid> and are deleted at
the end.  Set-up (session start, dimension load, warm-up rounds) is
timed separately from the measured rounds, which run for --seconds.
Every round's outputs are checked; the last stdout line is one JSON
object.  --trace 0 reports the end-to-end metrics; --trace 1 alternates
untraced and traced rounds and reports the per-layer metrics and the
tracing overhead.  See perfbench/BASELINE.md for the metric map.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TIME_LIMIT_S = 170

END_TO_END = {"setup_s": "s", "round_s": "s", "rows_per_s": "1/s"}
_JOIN_CALLS = (
    # (span name, wall-time metric, prefix of the call's other metrics)
    ("joins.pip_shuffle", "joins.pip_shuffle_s", "joins.pip_"),
    ("knn", "knn.s", "knn."),
    ("joins.predicate", "joins.predicate_s", "joins.predicate_"),
)
PER_LAYER = {
    "session.start_s": "s",
    "io.pages.districts_s": "s",
    "cells.cover_s": "s",
    "cells.encode_mpts_s": "s/Mpts",
    "geom.pip_mpts_s": "s/Mpts",
    "pip.candidates": "count",
    "pip.hits": "count",
    "pip.hit_ratio": "ratio",
    "flagship.python_s": "s",
    "flagship.to_python_mb": "MB",
    "flagship.from_python_mb": "MB",
    "flagship.scan_s": "s",
    "flagship.scan_mb": "MB",
    "flagship.exec_cpu_s": "s",
    "flagship.exec_gc_s": "s",
    **{
        name: unit
        for _, wall, p in _JOIN_CALLS
        for name, unit in (
            (wall, "s"), (p + "rows", "count"), (p + "shuffle_write_mb", "MB"),
            (p + "shuffle_read_mb", "MB"), (p + "spill_mb", "MB"), (p + "gc_s", "s"),
        )
    },
    "gpkg.write_s": "s",
    "gpkg.read_s": "s",
    "gpkg.bbox_read_s": "s",
    "gpkg.amend_s": "s",
    "gpkg.driver_merge_s": "s",
    "gpkg.bbox_rows": "count",
    "gpkg.bytes_per_feature": "B",
    "host.cpu_ctl_ms": "ms",
    "host.mem_ctl_ms": "ms",
    "mem.peak_rss_mb": "MB",
    "mem.jvm_peak_mb": "MB",
    "mem.python_peak_mb": "MB",
    "trace.overhead_pct": "%",
}


# which end-to-end metric each layer should move, and on which workloads
F, J = "pages_flagship", "joins_gpkg"
MOVES = {
    "session.start_s": f"setup_s on {F}, {J}",
    "io.pages.districts_s": f"setup_s on {F}, {J}",
    "cells.cover_s": f"setup_s on {F}; round_s on {J}",
    "cells.encode_mpts_s": f"round_s on {F}",
    "geom.pip_mpts_s": f"round_s on {F}, {J}",
    "pip.candidates": f"round_s on {F}, {J}",
    "pip.hits": f"round_s on {F}, {J}",
    "pip.hit_ratio": f"round_s on {F}, {J}",
    **{k: f"round_s, rows_per_s on {F}" for k in PER_LAYER if k.startswith("flagship.")},
    **{k: f"round_s on {J}" for k in PER_LAYER if k.startswith(("joins.", "knn.", "gpkg."))},
    "host.cpu_ctl_ms": "nothing: separates host drift from code drift",
    "host.mem_ctl_ms": "nothing: separates host drift from code drift",
    "mem.peak_rss_mb": "nothing bounded: the JVM heap settles bimodally run to run",
    "mem.jvm_peak_mb": "nothing bounded: the JVM heap settles bimodally run to run",
    "mem.python_peak_mb": "nothing bounded: driver and worker python processes",
    "trace.overhead_pct": "nothing: cost of the traced run itself",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: small inputs and one warm-up round, for the smoke test")
    return ap.parse_args(argv)


def configure_env(run_tmp: str, cpus: int) -> None:
    """Keep every file Spark, the JVM and Python write inside run_tmp,
    and make `geospark` importable in the Python workers."""
    os.makedirs(run_tmp)
    os.environ["TMPDIR"] = run_tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_tmp, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(run_tmp, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={run_tmp} -XX:-UsePerfData"


def start_session(cpus: int):
    from geospark.session import build_session

    spark = build_session("perfbench", master=f"local[{cpus}]", shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, the JVM and every process they started, and wait."""
    import layers
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while layers.descendants(os.getpid()):
        if time.time() > deadline:
            for pid in layers.descendants(os.getpid()):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = time.time() + 30
        time.sleep(0.1)


def median(xs):
    return statistics.median(xs) if xs else 0.0


class Run:
    """One benchmark run: set-up, measured rounds, checks, metrics."""

    def __init__(self, workload_cls, data: str, sizes: dict, args, cpus: int, run_tmp: str):
        self.W = workload_cls
        self.data, self.sizes, self.args = data, sizes, args
        self.cpus, self.run_tmp = cpus, run_tmp
        self.rounds: list = []  # (phase, wall seconds, outputs or None)
        self.attempted = self.failed = 0
        self.notes: list = []

    def _round(self, tr, phase: str, i: int) -> None:
        tid = f"{phase}{i}"
        try:
            got, wall = tr.span("round", lambda: self.wl.round(tr, tid), tid, job_group=False)
        except Exception:
            traceback.print_exc()
            got, wall = None, 0.0
        self.rounds.append((phase, wall, got))

    def _timed(self, tr, phase: str, seconds: float, min_rounds: int) -> None:
        start = time.perf_counter()
        i = 0
        while i < min_rounds or time.perf_counter() - start < seconds:
            self._round(tr, phase, i)
            i += 1

    def walls(self, phase: str) -> list:
        return [w for p, w, got in self.rounds if p == phase and got is not None]

    def execute(self) -> None:
        import layers
        from spans import Tracer

        args = self.args
        warmups = 1 if args.scale == "tiny" else self.W.warmups
        with layers.PeakRss() as rss:
            t0 = time.perf_counter()
            spark = start_session(self.cpus)
            self.session_s = time.perf_counter() - t0
            try:
                self.off = off = Tracer(spark, on=False)
                self.wl = self.W(spark, self.data, self.sizes, args.seed, self.run_tmp)
                _, self.load_s = off.span("load", self.wl.load)
                for i in range(warmups):
                    self._round(off, "warmup", i)
                self.setup_s = time.perf_counter() - t0
                if args.trace:
                    self.tracer = Tracer(spark, on=True)
                    # the first status-store reads warm the UI server up
                    self._round(self.tracer, "traced-warmup", 0)
                    # alternate, so that both sides see the same drift
                    start, i = time.perf_counter(), 0
                    while i < 2 or time.perf_counter() - start < args.seconds:
                        self._round(off, "untraced", i)
                        self._round(self.tracer, "traced", i)
                        i += 1
                else:
                    self._timed(off, "measured", args.seconds, self.W.min_rounds)
                rss.stop()
                self.mem = rss.split_mb()
                t_check = time.perf_counter()
                self.verify()
                self.check_s = time.perf_counter() - t_check
                if args.trace:
                    self.probe()
            finally:
                stop_session(spark)

    def verify(self) -> None:
        try:
            exp = self.wl.expectation()
        except Exception:
            traceback.print_exc()
            exp = None
        for phase, _, got in self.rounds:
            for op in self.wl.ops:
                self.attempted += 1
                try:
                    ok = exp is not None and got is not None and op in got and self.wl.check(op, got[op], exp)
                except Exception:
                    traceback.print_exc()
                    ok = False
                if not ok:
                    self.failed += 1
                    self.notes.append(f"{phase}: {op} got {None if got is None else got.get(op)}")

    def probe(self) -> None:
        """Driver-side cells/geom layer probes (flagship and joins)."""
        import layers

        self.probes = {}
        pts = self.wl.probe_points()
        if pts is None:
            return
        from geospark.cells.cellid import DEFAULT_GRID
        from geospark.ops.joins import choose_level

        level = choose_level(self.wl.districts, "geom", DEFAULT_GRID)
        self.probes = layers.cell_pip_probes(self.wl.district_rows(), pts[0], pts[1], level)

    # -- metrics ---------------------------------------------------------
    def end_to_end(self) -> dict:
        round_s = median(self.walls("measured"))
        return {
            "setup_s": self.setup_s,
            "round_s": round_s,
            "rows_per_s": self.wl.rows / round_s if round_s else 0.0,
        }

    def per_layer(self, host: dict) -> dict:
        m = {k: 0.0 for k in PER_LAYER}
        m["session.start_s"] = self.session_s
        if hasattr(self.wl, "districts"):
            m["io.pages.districts_s"] = self.load_s
        m.update(self.probes)
        calls: dict = {}
        for c in self.tracer.calls:
            if c["trace"].rstrip("0123456789") == "traced":
                calls.setdefault(c["name"], []).append(c)

        def med(name, key):
            return median([c[key] for c in calls.get(name, [])])

        def out(op, i=None):
            vals = [got[op] if i is None else got[op][i] for p, _, got in self.rounds
                    if p == "traced" and got is not None and op in got]
            return median(vals)

        if "flagship" in calls:
            for key in ("python_s", "to_python_mb", "from_python_mb", "scan_s", "scan_mb", "exec_cpu_s"):
                m[f"flagship.{key}"] = med("flagship", key)
            m["flagship.exec_gc_s"] = med("flagship", "gc_s")
        for (span, wall, p), op in zip(_JOIN_CALLS, ("pip", "knn", "predicate")):
            if span in calls:
                m[wall] = med(span, "wall_s")
                m[p + "rows"] = out(op, 0)
                for key in ("shuffle_write_mb", "shuffle_read_mb", "spill_mb", "gc_s"):
                    m[p + key] = med(span, key)
        if "gpkg.write" in calls:
            for op in ("write", "read", "bbox_read", "amend"):
                m[f"gpkg.{op}_s"] = med(f"gpkg.{op}", "wall_s")
            m["gpkg.driver_merge_s"] = median([c["wall_s"] - c["job_s"] for c in calls["gpkg.write"]])
            m["gpkg.bbox_rows"] = out("bbox_read")
            m["gpkg.bytes_per_feature"] = out("write") / self.wl.sizes["features"]
        m["mem.peak_rss_mb"] = self.mem["tree"]
        m["mem.jvm_peak_mb"] = self.mem["jvm"]
        m["mem.python_peak_mb"] = self.mem["python"]
        m["host.cpu_ctl_ms"] = host["cpu_ctl_ms"]
        m["host.mem_ctl_ms"] = host["mem_ctl_ms"]
        untraced, traced = median(self.walls("untraced")), median(self.walls("traced"))
        m["trace.overhead_pct"] = (traced - untraced) / untraced * 100 if untraced else 0.0
        return m


def report(run: Run, metrics: dict, units: dict, host_pre: dict, host_post: dict) -> None:
    a = run.args
    print(f"workload {a.workload}  seed {a.seed}  cpus {run.cpus}  sizes {json.dumps(run.sizes)}")
    print(f"set-up: session {run.session_s:.3f} s, dimension load {run.load_s:.3f} s, "
          f"warm-up rounds {[round(w, 3) for w in run.walls('warmup')]}")
    print(f"checks: {run.check_s:.3f} s (expectation computed once per seed, then cached)")
    for phase in ("measured", "untraced", "traced"):
        ws = run.walls(phase)
        if ws:
            print(f"{phase} rounds: {[round(w, 3) for w in ws]}  median {median(ws):.4f} s")
    per_call: dict = {}
    for tid, name, wall in run.off.walls:
        if name not in ("round", "load") and tid.startswith(("measured", "untraced")):
            per_call.setdefault(name, []).append(round(wall, 3))
    for name, ws in per_call.items():
        print(f"  call {name}: {ws}")
    for name, value in metrics.items():
        moves = f"  moves {MOVES[name]}" if name in MOVES else ""
        print(f"  {name:34s} {value:16.6f} {units[name]:7s}{moves}")
    rate = run.failed / run.attempted if run.attempted else 1.0
    print(f"  {'error_rate':34s} {rate:16.6f} failed/attempted ({run.failed}/{run.attempted})")
    print(f"  {'peak_rss_mb':34s} {run.mem['tree']:16.6f} MB       "
          f"(JVM {run.mem['jvm']:.1f} MB, python {run.mem['python']:.1f} MB)")
    for note in run.notes[:20]:
        print(f"  check failed: {note}")
    print(f"host controls before: {json.dumps(host_pre)}  after: {json.dumps(host_post)}")


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "geospark")):
        print(f"perfbench: no geospark package under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench")
    run_tmp = os.path.join(work, f"run-{os.getpid()}")
    # before any import that may cache a temp directory (sqlite3 does)
    configure_env(run_tmp, cpus)
    try:
        return _main(args, cpus, work, run_tmp)
    finally:
        shutil.rmtree(run_tmp, ignore_errors=True)


def _main(args, cpus: int, work: str, run_tmp: str) -> int:
    sys.path.insert(0, ROOT)
    import inputs
    import layers
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2

    def _timeout(signum, frame):
        raise TimeoutError(f"run exceeded {TIME_LIMIT_S} s")

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(TIME_LIMIT_S)
    W = workloads.WORKLOADS[args.workload]
    sizes = dict(W.tiny if args.scale == "tiny" else W.sizes)
    data = inputs.ensure(os.path.join(work, "inputs"), W.name, sizes, args.seed)
    host_pre = layers.host_controls()
    run = Run(W, data, sizes, args, cpus, run_tmp)
    run.execute()
    host_post = layers.host_controls()
    host = {k: (host_pre[k] + host_post[k]) / 2 for k in host_pre}
    signal.alarm(0)
    if args.trace:
        metrics, units = run.per_layer(host), PER_LAYER
        os.makedirs(os.path.join(work, "traces"), exist_ok=True)
        run.tracer.dump(os.path.join(work, "traces", f"{W.name}-s{args.seed}-{os.getpid()}.json"))
    else:
        metrics, units = run.end_to_end(), END_TO_END
    report(run, metrics, units, host_pre, host_post)
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

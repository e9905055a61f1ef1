"""Benchmark entry point: one seeded workload, warmed up, timed, checked.

    python3 perfbench/run.py --workload xe_ingest --seed 1 --seconds 12 --trace 0

Run from the repository root. The run

1. makes the workload's inputs from ``--seed`` (not timed);
2. starts the engine's Spark session and runs the workload's warm-up
   passes, which also check every op's output;
3. runs timed passes over the workload's ops: as many as fit in
   ``--seconds`` at the workload's nominal pass time, so that every run
   times the same passes of the warm-up curve;
4. prints, as the last line of standard output, one JSON object with
   ``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
   metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.

A traced run alternates untraced and traced timed passes (at least three,
untraced first and last). Traced passes put every op phase under its own
Spark job group and write an uncompressed event log, which is parsed
after the session stops. A failed check is printed to standard error
and makes the run exit with status 1.

Everything the run writes goes to a per-run directory under
``.perfbench_work/`` in the working directory, removed at exit. The full
run record (inputs, host facts, warm-up curve, every sample) goes to
standard error as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
from contextlib import contextmanager

_HERE = os.path.dirname(os.path.abspath(__file__))
_TICK = os.sysconf("SC_CLK_TCK")
sys.path.insert(0, _HERE)


def _process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


T_PROC0 = time.monotonic() - _process_age_s()

import metrics  # noqa: E402
import workloads  # noqa: E402


def _tree_pids() -> dict[int, list[str]]:
    """/proc/<pid>/stat fields of this process and all of its descendants:
    the JVM and the Python workers."""
    children: dict[int, list[int]] = {}
    stat: dict[int, list[str]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        stat[pid] = fields
    out, todo = {}, [os.getpid()]
    while todo:
        pid = todo.pop()
        if pid in stat:
            out[pid] = stat[pid]
        todo += children.get(pid, [])
    return out


def tree_cpu_s() -> float:
    """CPU seconds of the process tree, exited descendants included."""
    fields = _tree_pids().values()
    return sum(int(x) for f in fields for x in f[11:15]) / _TICK  # utime stime cutime cstime


def tree_pss_bytes() -> int:
    """Proportional set size of the process tree: pages shared between
    processes, such as forked Python workers, count once in total."""
    total = 0
    for pid in _tree_pids():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def _ended(pid: int, start: str) -> bool:
    """Whether the process ``pid`` that started at clock tick ``start`` has
    ended: its /proc entry is gone, reused, or a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return True
    return fields[19] != start or fields[0] in ("Z", "X")


def _reap() -> None:
    """Collect the exit status of every ended child of this process, so
    that none is left as a zombie."""
    try:
        while os.waitpid(-1, os.WNOHANG)[0]:
            pass
    except ChildProcessError:
        pass


def _adopt_orphans() -> None:
    """Make this process the subreaper of its descendants: a worker whose
    parent ends becomes a child of this process, which waits for it,
    instead of a child of init."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def stop_engine(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, then the JVM and every process the run started,
    and wait until each has ended.

    The JVM only exits when its stdin closes, which without this happens
    after this process exits, and it is nobody's child then. Its Python
    workers may outlive the JVM too, so every descendant seen before the
    stop is waited for; what is still there after ``timeout_s`` / 2 gets
    SIGTERM, after ``timeout_s`` SIGKILL."""
    from pyspark import SparkContext

    me = os.getpid()
    seen = {pid: f[19] for pid, f in _tree_pids().items() if pid != me}
    try:
        if spark is not None:
            spark.stop()
    finally:
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        SparkContext._gateway = SparkContext._jvm = None
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the gateway server exits on EOF
            try:
                proc.wait(timeout_s / 2)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + timeout_s
        sent = None
        while True:
            _reap()
            seen.update({pid: f[19] for pid, f in _tree_pids().items() if pid != me})
            seen = {pid: st for pid, st in seen.items() if not _ended(pid, st)}
            if not seen:
                _reap()
                return
            left = deadline - time.monotonic()
            sig = signal.SIGKILL if left <= 0 else signal.SIGTERM if left <= timeout_s / 2 else None
            if sig is not None and sig != sent:
                for pid in seen:
                    try:
                        os.kill(pid, sig)
                    except OSError:
                        pass
                sent = sig
            if left <= -10:
                print(f"error: processes {sorted(seen)} did not end", file=sys.stderr)
                return
            time.sleep(0.05)


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over cpus."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / _TICK



class MemorySampler(threading.Thread):
    """Samples the memory held by the process tree and keeps the peak."""

    def __init__(self, interval: float = 0.25):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak_bytes = 0
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_pss_bytes())
            self._halt.wait(self.interval)

    def stop(self) -> None:
        self._halt.set()
        self.join()


class Tracer:
    """Puts each op phase under the job group ``p<pass>/<op>:<phase>``,
    times it and counts its jobs through the status tracker."""

    def __init__(self, spark, pass_index: int):
        self.sc = spark.sparkContext
        self.pass_index = pass_index
        self.phases: list[dict] = []

    def group(self, op: str, phase: str) -> str:
        return f"p{self.pass_index}/{op}:{phase}"

    @contextmanager
    def phase(self, op: str, phase: str):
        group = self.group(op, phase)
        self.sc.setJobGroup(group, group)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            wall = time.perf_counter() - t0
            self.sc._jsc.clearJobGroup()
            jobs = len(self.sc.statusTracker().getJobIdsForGroup(group))
            self.phases.append(
                {"op": op, "phase": phase, "group": group, "wall_s": wall, "tracker_jobs": jobs}
            )

    def mark(self, name: str) -> None:
        """A one-task job that places a pass boundary in the event log."""
        with self.phase("_", name):
            self.sc.parallelize([0], 1).count()


def host_facts() -> dict:
    cpus = len(os.sched_getaffinity(0))
    load1 = os.getloadavg()[0]
    return {"cpus": cpus, "loadavg": load1}


def _exit_on_sigterm(signum, frame):
    # Turn SIGTERM into SystemExit, so that the session is stopped and the
    # per-run directory removed on the way out.
    sys.exit(128 + signum)


def main(argv=None) -> int:
    signal.signal(signal.SIGTERM, _exit_on_sigterm)
    _adopt_orphans()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "xeloader_spark", "session.py")):
        print(f"error: {root} holds no xeloader_spark package; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return _run(args, root, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def _spark_conf(work: str, event_dir: str | None) -> dict:
    """Session settings of the benchmark: no console progress, every
    directory Spark writes under the per-run directory, and for traced
    runs an uncompressed, non-rolling event log with block updates."""
    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        # -XX:-UsePerfData: no hsperfdata file in the system temp directory
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "spark.driver.memory": "1g",
    }
    if event_dir:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.logBlockUpdates.enabled": "true",
            }
        )
    return conf


class Passes:
    """Runs passes over a workload's ops and keeps every sample, the
    outputs' digests and the check failures."""

    def __init__(self, wl, ctx: workloads.Ctx, work: str):
        self.wl, self.ctx, self.work = wl, ctx, work
        self.curve: list[dict] = []
        self.errors: list[str] = []
        self.digests: dict[str, set] = {}
        self.attempted = self.failed = 0

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg[:600])

    def run(self, label: str, check: bool, tracer: Tracer | None = None) -> dict:
        ctx = self.ctx
        ctx.pass_dir = os.path.join(self.work, label)
        os.makedirs(ctx.pass_dir)
        ctx.trace = tracer.phase if tracer else None
        if tracer:
            tracer.mark("start")
        times = {}
        cpu0, steal0 = tree_cpu_s(), host_steal_s()
        for op in self.wl.ops:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                result = op.run(ctx)
                times[op.name] = time.perf_counter() - t0
                if hasattr(result, "columns"):
                    self.digests.setdefault(op.name, set()).add(workloads.frame_digest(result))
                if check and op.check:
                    out = op.readback(ctx, result) if op.readback else result
                    err = op.check(ctx, out)
                    if err:
                        self.fail(f"{label} {op.name}: {err}")
            except Exception as e:  # an op that raises counts as failed
                self.fail(f"{label} {op.name}: {type(e).__name__}: {e}")
        cpu_s, steal_s = tree_cpu_s() - cpu0, host_steal_s() - steal0
        if tracer:
            tracer.mark("end")
        ctx.trace = None
        extra = self.wl.extra(ctx)
        shutil.rmtree(ctx.pass_dir, ignore_errors=True)
        rec = {
            "pass": label, "s": sum(times.values()), "cpu_s": cpu_s, "host_steal_s": steal_s,
            "ops": times, "extra": extra,
        }
        self.curve.append(rec)
        return rec

    def warmup(self) -> float:
        """Warm-up passes, which also check every output; returns the
        engine's time in them."""
        return sum(self.run(f"warm{i}", check=True)["s"] for i in range(self.wl.warmup_passes))

    def check_repeatable(self) -> None:
        for name, ds in self.digests.items():
            if len(ds) > 1:
                self.fail(f"{name}: output differs between passes")

    def timed(self, n_passes: int, trace: bool):
        """``n_passes`` timed passes. A traced run alternates untraced and
        traced passes. Returns (untraced records, traced records, tracers)
        of the passes in which every op ran."""
        untraced, traced, tracers = [], [], []
        for k in range(n_passes):
            tracer = Tracer(self.ctx.spark, k) if trace and k % 2 == 1 else None
            rec = self.run(f"p{k}", check=False, tracer=tracer)
            if len(rec["ops"]) < len(self.wl.ops):
                continue
            if tracer:
                traced.append(rec)
                tracers.append(tracer)
            else:
                untraced.append(rec)
        return untraced, traced, tracers


def _run(args, root: str, work: str) -> int:
    wl = workloads.WORKLOADS[args.workload]
    host_start = host_facts()

    # Run hygiene: every file the run makes lives under the per-run
    # directory; one Spark core per host cpu; workers import the engine.
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(host_start["cpus"])
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root, _HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )

    t = time.monotonic()
    inputs = wl.make_inputs(args.seed, os.path.join(work, "inputs"))
    gen_s = time.monotonic() - t

    event_dir = os.path.join(work, "eventlog") if args.trace else None
    if event_dir:
        os.makedirs(event_dir)
    sampler = MemorySampler()
    sampler.start()
    t = time.monotonic()
    from xeloader_spark.session import get_spark

    spark = None
    try:
        spark = get_spark(app_name=f"perfbench-{wl.name}", extra_conf=_spark_conf(work, event_dir))
        spark.sparkContext.setLogLevel("ERROR")
        session_ready = time.monotonic()
        session_start_s = session_ready - t
        passes = Passes(wl, workloads.Ctx(spark=spark, inputs=inputs), work)
        warm_s = passes.warmup()
        # A traced run needs untraced passes on both sides of a traced one,
        # so that the warm-up drift between passes cancels in the overhead.
        n_passes = max(wl.timed_passes(args.seconds), 1 + 2 * args.trace)
        untraced, traced, tracers = passes.timed(n_passes, bool(args.trace))
        passes.check_repeatable()
    finally:
        sampler.stop()
        stop_engine(spark)
    setup_s = (session_ready - T_PROC0) - gen_s + warm_s
    host_end = host_facts()

    record = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "inputs": metrics.input_sizes(inputs),
        "host": {
            "cpus": host_start["cpus"],
            "loadavg_start": host_start["loadavg"],
            "loadavg_end": host_end["loadavg"],
            "contended": max(host_start["loadavg"], host_end["loadavg"]) > host_start["cpus"],
        },
        "gen_s": gen_s,
        "session_start_s": session_start_s,
        "warmup_passes": wl.warmup_passes,
        "samples": {"untraced_passes": len(untraced), "traced_passes": len(traced)},
        "curve": passes.curve,
        "errors": passes.errors,
    }
    if args.trace:
        log = metrics.read_event_log(event_dir)
        values = metrics.per_layer(wl, inputs, traced, tracers, log, untraced, session_start_s)
        units = metrics.PER_LAYER_UNITS
        record["tracker_vs_log_jobs"] = metrics.tracker_check(tracers, log)
    else:
        values = metrics.end_to_end(untraced, setup_s, sampler.peak_bytes, passes.attempted, passes.failed)
        units = metrics.END_TO_END_UNITS
    record["metrics"] = values
    print(json.dumps(record, default=str), file=sys.stderr)
    for e in passes.errors:
        print("CHECK FAILED: " + e, file=sys.stderr)
    correct = passes.failed == 0 and bool(untraced or traced)
    result = {
        "correct": correct,
        "attempted": passes.attempted,
        "failed": passes.failed,
        "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
    }
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

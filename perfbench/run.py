"""sketchlib benchmark: one workload, one seed, one driver process.

    python3 perfbench/run.py --workload pages_ingest --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  The last line of standard output is one
JSON object ``{"correct", "attempted", "failed", "metrics"}``: end-to-end
metrics with ``--trace 0``, per-layer metrics with ``--trace 1``.  The lines
before it name every metric with its unit, the operation sample count, the
input fingerprint, the oracle errors and every oracle breach.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

PREP_REPS = 3  # set-up is timed as the median of this many input builds
MIN_BEYOND_TAIL = 10  # the tail percentile keeps this many samples above it


class TreeRss:
    """Peak resident memory of this process and all its descendants (the
    JVM and Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_kb = 0
        self.seen: dict[int, str] = {}  # pid -> start time, to tell a reused pid
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def _stat(pid) -> list[str] | None:
        """Fields of /proc/<pid>/stat after the command name: [0] state,
        [1] ppid, [11:15] utime stime cutime cstime, [19] start time."""
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()
        except OSError:
            return None

    @classmethod
    def _tree(cls, root: int) -> dict[int, list[str]]:
        """Stat fields of ``root`` and all its descendants."""
        stats = {int(e): cls._stat(e) for e in os.listdir("/proc") if e.isdigit()}
        children: dict[int, list[int]] = {}
        for pid, fields in stats.items():
            if fields:
                children.setdefault(int(fields[1]), []).append(pid)
        out, todo = {}, [root]
        while todo:
            pid = todo.pop()
            if stats.get(pid):
                out[pid] = stats[pid]
            todo.extend(children.get(pid, ()))
        return out

    @staticmethod
    def _rss_kb(pid: int) -> int:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmRSS:"):
                        return int(line.split()[1])
        except OSError:
            pass
        return 0

    def cpu_s(self) -> float:
        """User + system CPU seconds of the process tree so far, including
        children it has reaped."""
        ticks = sum(sum(map(int, f[11:15])) for f in self._tree(os.getpid()).values())
        return ticks / os.sysconf("SC_CLK_TCK")

    def sample(self) -> None:
        tree = self._tree(os.getpid())
        self.seen.update((pid, f[19]) for pid, f in tree.items())
        self.peak_kb = max(self.peak_kb, sum(self._rss_kb(p) for p in tree))

    def still_running(self) -> list[int]:
        """Processes seen in the tree that still exist, other than this one."""
        return [pid for pid, start in self.seen.items()
                if pid != os.getpid() and (self._stat(pid) or [None] * 20)[19] == start]

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def tail_note(samples: list[float]) -> str:
    """The highest percentile that keeps MIN_BEYOND_TAIL samples above it.
    Runs here hold too few operations for that percentile to lie above the
    median, so it is printed for reference and not reported as a metric."""
    s = sorted(samples)
    i = len(s) - MIN_BEYOND_TAIL - 1
    if i < 0:
        return f"{len(s)} samples, fewer than {MIN_BEYOND_TAIL + 1}"
    return f"p{100.0 * (i + 1) / len(s):.0f} of n={len(s)} is {s[i]:.4f} s"


class Run:
    """Timed operations of one loop: samples, rows, failures."""

    def __init__(self) -> None:
        self.samples: list[float] = []
        self.rows = 0
        self.attempted = 0
        self.failed = 0
        self.wall = 0.0

    @property
    def rows_per_s(self) -> float:
        return self.rows / self.wall


def run_cycle(ops, tracer, workload: str, run: Run) -> None:
    for name, fn in ops:
        with tracer.span(f"{workload}.{name}", op=name) as span:
            start = time.perf_counter()
            try:
                out = fn()
            except Exception:  # a failing op is counted and reported, the run goes on
                traceback.print_exc()
                run.samples.append(time.perf_counter() - start)
                run.attempted += 1
                run.failed += 1
                continue
            wall = time.perf_counter() - start
            span["stream_run_id"] = out.run_id
        samples = out.batch_s or [wall]
        run.samples.extend(samples)
        run.attempted += len(samples)
        run.failed += 0 if out.ok else 1
        run.rows += out.rows


def measure(ops, tracer, workload: str, seconds: float, alternate: bool = False) -> list[Run]:
    """Repeat whole cycles until ``seconds`` have passed.  With
    ``alternate``, cycles switch tracing off and on in turn and are
    accounted to two runs (untraced, traced), so both see the same JVM
    warm-up state."""
    runs = [Run(), Run()] if alternate else [Run()]
    start = time.perf_counter()
    i = 0
    while time.perf_counter() - start < seconds or i < len(runs):
        run = runs[i % len(runs)]
        tracer.enabled = alternate and i % 2 == 1
        t = time.perf_counter()
        run_cycle(ops, tracer, workload, run)
        run.wall += time.perf_counter() - t
        i += 1
    return runs


def stop_spark(spark, rss: TreeRss) -> None:
    """Stop the session, end the JVM and wait for every process it started."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    rss.sample()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    while rss.still_running() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in rss.still_running():
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


def emit(label: str, value, unit: str, note: str = "") -> None:
    print(f"  {label:<34} {value:>14.6g} {unit:<8} {note}".rstrip())


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    try:
        import sketchlib  # noqa: F401  the program under test, from this checkout
    except ImportError as e:
        print(f"perfbench: cannot import sketchlib from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import layers
    from perfbench.spark_env import CORES, build_session
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Checker

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    event_dir = os.path.join(work, "eventlog") if args.trace else None
    try:
        with TreeRss() as rss:
            t0 = time.perf_counter()
            spark = build_session(os.path.join(work, "spark"), event_dir)
            session_s = time.perf_counter() - t0
            try:
                checker = Checker()
                wl = WORKLOADS[args.workload](spark, args.seed, os.path.join(work, "data"), checker)
                prep = []
                for _ in range(PREP_REPS):
                    t = time.perf_counter()
                    fingerprint = wl.prepare()
                    prep.append(time.perf_counter() - t)
                t = time.perf_counter()
                wl.warm_up()
                warm_s = time.perf_counter() - t
                setup_s = session_s + statistics.median(prep) + warm_s
                ops = wl.cycle()
                tracer = Tracer(spark, enabled=False)
                cpu0 = rss.cpu_s()
                runs = measure(ops, tracer, wl.name, args.seconds, alternate=bool(args.trace))
                loop_cpu_s = rss.cpu_s() - cpu0
                if args.trace:
                    tracer.enabled = True
                    layer = layers.probe(spark, wl, tracer)
            finally:
                stop_spark(spark, rss)

        print(f"workload {wl.name}  seed {args.seed}  input {fingerprint}  local[{CORES}]")
        if args.trace:
            plain, run = runs
            metrics = layers.report(wl, tracer, run, plain, event_dir, layer,
                                    os.path.join(ROOT, ".perfbench_out"))
        else:
            [run] = runs
            metrics = {
                "setup_s": (setup_s, "s"),
                "rows_per_cpu_s": (run.rows / loop_cpu_s, "rows/cpu-s"),
                "peak_rss_mb": (rss.peak_kb / 1024, "MB"),
            }
            notes = {"setup_s": f"session {session_s:.2f} + median prep "
                                f"{statistics.median(prep):.2f} (of {PREP_REPS}) + "
                                f"warm-up {warm_s:.2f}",
                     "rows_per_cpu_s": f"{run.rows} rows / {loop_cpu_s:.1f} CPU s of the "
                                       f"process tree"}
            for name, (value, unit) in metrics.items():
                emit(name, value, unit, notes.get(name, ""))
            # wall clock on a shared box spreads wider than any bound the
            # benchmark may set, so these are printed and not reported
            emit("rows_per_s (wall, printed)", run.rows_per_s, "rows/s",
                 f"{run.rows} rows / {run.wall:.2f} s")
            emit("op_s.p50 (wall, printed)", statistics.median(run.samples), "s",
                 f"n={len(run.samples)}")
            print(f"  op_s.tail not reported: {tail_note(run.samples)}")
    finally:
        shutil.rmtree(work, ignore_errors=True)

    attempted = sum(r.attempted for r in runs)
    failed = sum(r.failed for r in runs)
    emit("failed_frac", failed / attempted, "ratio", f"{failed} / {attempted} ops")
    for name, value in sorted(checker.worst.items()):
        note = f"{checker.fp} / {checker.absent} absent rows" if name == "err.bloom_fpr" else ""
        emit(name, value, "ratio", note)
    for line in checker.breaches:
        print(f"  BREACH {line}")
    print(json.dumps({
        "correct": failed == 0 and not checker.breaches,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload evm_day --seed 1 --seconds 10 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` (and
cached by seed and size under ``.perfbench_cache/``); the program sees
only the generated files. One process drives all load: Spark
``local[<cores>]``. After set-up and a warm-up, iterations run until
``--seconds`` of measured time have passed (at least one), then the
outputs of the last iteration are checked.

With ``--trace 1`` two more iterations follow the measured ones: an
untraced one, then one inside spans. The per-layer metrics come from the
traced one, the tracing overhead from the difference of the two, and the
spans go to ``.perfbench_out/``.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. The exit code is 0
only when every output check passed. On every way out, the JVM and each
process started under this one (Spark's Python workers too) are stopped,
and the benchmark waits until all have ended before it exits.
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

HERE = os.path.dirname(os.path.abspath(__file__))


def process_start_time() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(ln.split()[1]) for ln in f if ln.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def descendants(include_zombies: bool = False) -> list[int]:
    """Process ids of every descendant of this process, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            state, ppid = fields[0], int(fields[1])
        except (OSError, ValueError, IndexError):
            continue
        if include_zombies or state != "Z":
            children.setdefault(ppid, []).append(int(d))
    out: list[int] = []
    todo = [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), ())
        out.extend(kids)
        todo.extend(kids)
    return out


def become_subreaper() -> None:
    """Make descendants that lose their parent (Spark's Python workers
    once the JVM has ended) children of this process, so that
    ``stop_engine`` can wait for them too."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _reap() -> None:
    """Collect every child of this process that has ended."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def stop_engine(spark, grace: float = 20.0) -> None:
    """Stop the Spark session, then the JVM behind it, then every other
    process started under this one, and wait until each has ended.

    The JVM exits when its standard input closes; what is still running
    ``grace`` seconds later gets SIGTERM, and SIGKILL after as long
    again."""
    if spark is not None:
        try:
            spark.stop()
        except Exception:  # noqa: BLE001 - the JVM is stopped below anyway
            traceback.print_exc()
    gateway = None
    if "pyspark" in sys.modules:
        from pyspark import SparkContext

        gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=grace)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + grace
    sig = None
    while True:
        _reap()
        pids = descendants()
        if not pids:
            break
        if time.monotonic() > deadline:
            sig = signal.SIGKILL if sig else signal.SIGTERM
            deadline = time.monotonic() + grace
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)
    _reap()


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the JVM
    and the Python workers), sampled from /proc on a background thread.

    Only ``java`` and ``python*`` processes count. The JVM also spawns
    short-lived helpers (``chmod`` for every file Hadoop writes): between
    fork and exec such a child reports the JVM's whole memory under a
    thread name, and counting it added a JVM to some samples. RSS comes
    from ``statm``, which is cheap; PSS from ``smaps_rollup`` was not
    used because walking the JVM's page tables ten times a second
    (10-40 ms per read) slowed the JVM down."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        #: RSS per process name at the peak, for the stderr report
        self.peak_parts: dict[str, int] = {}
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _tree_rss(self) -> dict[str, int]:
        parts: dict[str, int] = {}
        for pid in [os.getpid(), *descendants()]:
            try:
                with open(f"/proc/{pid}/comm") as f:
                    name = f.read().strip()
                if name != "java" and not name.startswith("python"):
                    continue
                with open(f"/proc/{pid}/statm") as f:
                    rss = int(f.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                continue
            parts[name] = parts.get(name, 0) + rss
        return parts

    def _loop(self) -> None:
        while not self._stop.is_set():
            parts = self._tree_rss()
            if sum(parts.values()) > self.peak:
                self.peak = sum(parts.values())
                self.peak_parts = parts
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_spark(root: str, work: str):
    """The engine session (``session.get_spark``) with every temporary
    location inside ``work``. The status-store retention is raised so
    a traced run keeps every job; nothing else changes."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # the environment variable overrides spark.local.dir when set
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    from datawaves_etl_airflow_spark.session import get_spark

    spark = get_spark(
        "perfbench",
        master=f"local[{cores()}]",
        warehouse_dir=os.path.join(work, "spark-warehouse"),
        conf={
            "spark.local.dir": local,
            # no hsperfdata file in /tmp: nothing is written outside `work`
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def inputs_for(workload, root: str, seed: int) -> tuple[str, dict]:
    """Generated inputs for (workload, seed, size), cached on disk. Only
    the two most recent entries per workload are kept."""
    key = "-".join(f"{k}{v}" for k, v in sorted(workload.SIZE.items()))
    cache = os.path.join(root, ".perfbench_cache")
    base = os.path.join(cache, f"{workload.name}-s{seed}-{key}")
    marker = os.path.join(base, ".complete")
    if not os.path.exists(marker):
        shutil.rmtree(base, ignore_errors=True)
        old = sorted(
            (os.path.getmtime(os.path.join(cache, d)), d)
            for d in (os.listdir(cache) if os.path.isdir(cache) else [])
            if d.startswith(workload.name + "-")
        )
        for _t, d in old[:-1]:
            shutil.rmtree(os.path.join(cache, d), ignore_errors=True)
        os.makedirs(base)
        workload.generate(base, seed)
        open(marker, "w").close()
    with open(os.path.join(base, "manifest.json")) as f:
        return base, json.load(f)


def end_to_end_metrics(wall_s, setup_s, peak_rss_mb, recall) -> dict:
    return {
        "wall_s": (wall_s, "s"),
        "setup_s": (setup_s, "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "recall": (recall, "fraction"),
    }


def trace_overhead_metrics(traced_s, untraced_s) -> dict:
    """The traced iteration's time, and its excess over the untraced
    iteration run just before it."""
    return {
        "trace.traced_s": (traced_s, "s"),
        "trace.overhead_s": (traced_s - untraced_s, "s"),
    }


def main(argv=None) -> int:
    t_proc = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path[:0] = [HERE, root]
    try:
        import workloads
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    wl_cls = workloads.WORKLOADS[args.workload]

    # a SIGTERM (e.g. a timeout) still runs the clean-up below
    signal.signal(signal.SIGTERM, lambda *_a: sys.exit(143))
    become_subreaper()
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    spark = None
    try:
        with RssSampler() as rss:
            t = time.time()
            inputs, manifest = inputs_for(wl_cls, root, args.seed)
            gen_s = time.time() - t

            spark = start_spark(root, work)
            spark.range(1000).selectExpr("sum(id)").collect()
            setup_s = time.time() - t_proc - gen_s
            wl = wl_cls(spark, inputs, work, manifest)
            t = time.time()
            wl.prepare()
            prepare_s = time.time() - t

            from spans import NullTracer, Tracer

            walls: list[float] = []
            started, raised = 0, False
            try:
                while not walls or sum(walls) < args.seconds:
                    wl.reset()
                    started += 1
                    t = time.perf_counter()
                    wl.run(NullTracer())
                    walls.append(time.perf_counter() - t)
                if args.trace:
                    # an untraced iteration right before the traced one is
                    # the overhead reference: both equally warm
                    wl.reset()
                    started += 1
                    t = time.perf_counter()
                    wl.run(NullTracer())
                    ref_s = time.perf_counter() - t
                    wl.reset()
                    started += 1
                    tr = Tracer(spark, f"{args.workload}-s{args.seed}")
                    with tr.span("iteration", "run"):
                        wl.run(tr)
            except Exception:  # noqa: BLE001 - reported as failed operations
                traceback.print_exc()
                raised = True
            t = time.time()
            per_layer = None
            if raised:
                # every operation of the iteration that raised failed
                report = workloads.Report(ops=wl.n_ops())
                report.failed = set(range(report.ops))
            else:
                report = wl.check()
            wall_s = statistics.median(walls) if walls else 0.0
            if args.trace and not raised:
                tr.collect_spark_counters()
                traced_s = tr.spans[0].duration
                import layers

                per_layer = layers.compute(tr, report, wl.cores)
                per_layer.update(trace_overhead_metrics(traced_s, ref_s))
                out_dir = os.path.join(root, ".perfbench_out")
                os.makedirs(out_dir, exist_ok=True)
                span_file = os.path.join(
                    out_dir, f"spans-{args.workload}-s{args.seed}.json")
                tr.write(span_file)
                print(f"perfbench: spans written to {span_file}",
                      file=sys.stderr)
            check_s = time.time() - t
        peak_rss_mb = rss.peak / 2**20
    finally:
        stop_engine(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted = report.ops * started
    failed = len(report.failed)
    for msg in report.messages[:20]:
        print(f"perfbench: CHECK FAILED: {msg}", file=sys.stderr)
    print(
        f"perfbench: {args.workload} seed={args.seed} iterations={len(walls)} "
        f"walls={[round(w, 3) for w in walls]} gen_s={gen_s:.2f} "
        f"setup_s={setup_s:.2f} prepare_s={prepare_s:.2f} "
        f"check_s={check_s:.2f} peak_rss_parts_mb="
        f"{ {k: round(v / 2**20) for k, v in rss.peak_parts.items()} } "
        f"failed_frac={failed / attempted:.4f} recall={report.recall:.4f}",
        file=sys.stderr,
    )
    metrics = per_layer or end_to_end_metrics(
        wall_s, setup_s, peak_rss_mb, report.recall)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())

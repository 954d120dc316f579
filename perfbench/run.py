"""Benchmark entry point.

    python3 perfbench/run.py --workload steady_ticks --seed 1 --seconds 8 --trace 0

Run from the root of a checkout of the repository. Generates the
workload's inputs from the seed, starts a Spark session, runs the
workload's first operation cold, then times operations for --seconds
(and at least MIN_OPS of them) and checks every output. The last line
of stdout is one JSON object: ``{"correct", "attempted", "failed",
"metrics"}``. With ``--trace 0`` the
metrics are the end-to-end ones; with ``--trace 1`` every other timed
operation is traced and the metrics are the per-layer ones (spans are
also written to ``.perfbench_out/``).

Everything the run writes stays under ``.perfbench_work/`` (removed at
the end) and ``.perfbench_out/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "airflow_loan_etl_pipeline_spark"
# The timed window lasts --seconds and holds at least this many of the
# workload's operations: with two, the median is the mean of the window's
# first (still warming) operation and the next, which moved op_p50_s by
# up to 30% between runs; the median of three is the middle one.
MIN_OPS = 3


def _children(pid: int) -> list[int]:
    """Every live descendant of ``pid`` (from /proc)."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    out, todo = [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of (JVM + its Python worker tree) resident memory, sampled."""

    def __init__(self, jvm_pid: int | None, interval: float = 0.25):
        """``jvm_pid=None`` samples nothing."""
        self.pid, self.interval, self.peak_kb = jvm_pid, interval, 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        total = sum(_rss_kb(p) for p in [self.pid, *_children(self.pid)])
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def __enter__(self):
        if self.pid is not None:
            self.sample()
            self._thread.start()
        return self

    def __exit__(self, *exc):
        if self.pid is not None:
            self._stop.set()
            self._thread.join(timeout=10)
            self.sample()


class Context:
    """What a workload needs: the session, the seed, its work dir and
    the tracer (None unless --trace 1)."""

    def __init__(self, seed: int, work: str, cores: int, tracer):
        self.seed, self.work, self.cores, self.tracer = seed, work, cores, tracer
        self.spark = None

    def start_session(self) -> float:
        """Cold session: get_spark until the first job completes."""
        from airflow_loan_etl_pipeline_spark import session

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            # no hsperfdata files under /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')} -XX:-UsePerfData",
        }
        t0 = time.perf_counter()
        if self.tracer is None:
            self.spark = session.get_spark(extra_conf=conf)
            self.spark.range(1).count()
            return time.perf_counter() - t0
        self.tracer.active = True
        with self.tracer.span("driver", "setup", trace="setup"):
            with self.tracer.span("session", "first_job"):
                self.spark = session.get_spark(extra_conf=conf)
                self.tracer.attach(self.spark)
                self.spark.range(1).count()
        seconds = time.perf_counter() - t0
        self.tracer.collect_jobs()
        self.tracer.active = False
        return seconds

    def stop_session(self) -> None:
        """Stop Spark and the JVM it launched, and wait for both."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:  # still alive after a minute
                proc.kill()
                proc.wait(timeout=30)


def _stop_strays() -> None:
    """Kill and reap any process this run left behind."""
    import signal

    for pid in _children(os.getpid()):
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass
    for pid in _children(os.getpid()):
        try:
            os.waitpid(pid, 0)
        except OSError:
            pass


def _percentile_report(name: str, values: list[float]) -> str:
    """Sample count, median, the highest percentile with >= 10 samples
    beyond it (when there is one) and every sample in order."""
    n = len(values)
    line = f"{name}: n={n} p50={statistics.median(values):.3f}s"
    if n >= 20:
        pct = int(100 * (1 - 10 / n))
        line += f" p{pct}={sorted(values)[int(n * pct / 100)]:.3f}s"
    return line + " samples=" + ",".join(f"{v:.3f}" for v in values)


def run(workload: str, seed: int, seconds: float, trace: bool, work: str) -> dict:
    from perfbench import layers
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS, Op

    cores = len(os.sched_getaffinity(0))
    tracer = Tracer() if trace else None
    if tracer is not None:
        tracer.install()
    ctx = Context(seed, work, cores, tracer)
    ops: list[Op] = []
    errors: list[str] = []

    def attempt(kind: str, fn, *args) -> Op:
        t0 = time.perf_counter()
        try:
            op = fn(*args)
        except Exception as exc:  # count it and keep going
            traceback.print_exc()
            op = Op(kind, time.perf_counter() - t0, [f"{type(exc).__name__}: {exc}"])
        ops.append(op)
        errors.extend(op.errors)
        return op

    try:
        setup_s = ctx.start_session()
        from pyspark import SparkContext

        # memory is sampled in the traced run only: the untraced run
        # reports no memory metric, and sampling costs it CPU
        rss = RssSampler(SparkContext._gateway.proc.pid if trace else None)
        with rss:
            wl = WORKLOADS[workload](ctx)
            first = attempt("op", wl.prepare)
            timed: list[Op] = []
            traced_n = {"op": 0, "idle": 0}
            deadline = time.perf_counter() + seconds
            i = 0
            while (time.perf_counter() < deadline
                   or sum(o.kind == "op" for o in timed) < MIN_OPS):
                kind = wl.next_kind()
                traced = trace and traced_n[kind] % 2 == 0
                if tracer is not None:
                    tracer.active = traced
                op = attempt(kind, wl.step, i, traced)
                if tracer is not None:
                    tracer.active = False
                    tracer.collect_jobs()
                    if traced:
                        layers.add_op_counts(op, tracer, cores)
                traced_n[kind] += 1
                timed.append(op)
                i += 1
            final = wl.finish()
            if final:
                errors.extend(final)
    finally:
        ctx.stop_session()
        if tracer is not None:
            tracer.uninstall()
        _stop_strays()

    primary = [o.seconds for o in timed if o.kind == "op"]
    idle = [o.seconds for o in timed if o.kind == "idle"]
    print(_percentile_report(f"{workload} op", primary), file=sys.stderr)
    if idle:
        print(_percentile_report(f"{workload} idle tick", idle), file=sys.stderr)
    failed = sum(1 for o in ops if o.errors) + (1 if final else 0)
    for e in errors[:20]:
        print(f"check failed: {e}", file=sys.stderr)
    if tracer is None:
        metrics = {
            "op_p50_s": (statistics.median(primary), "s"),
            "setup_s": (setup_s, "s"),
        }
    else:
        out = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out, exist_ok=True)
        tracer.dump(os.path.join(out, f"trace-{workload}-{seed}.json"))
        metrics = layers.per_layer(timed, tracer, cores, first.seconds,
                                   rss.peak_kb / 1024.0, wl.WRITES)
    print(f"{workload}: first operation (cold) {first.seconds:.3f}s", file=sys.stderr)
    return {
        "correct": not errors,
        "attempted": len(ops),
        "failed": min(failed, len(ops)),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PKG, "__init__.py")):
        print(f"perfbench: no {PKG} package under {ROOT}; run it from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work_root = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    # Set before the package is imported (the session reads the core
    # count at import) and before the JVM exists: workers import the
    # package (the file_listing data source fails with
    # ModuleNotFoundError without it), local[<cores>] instead of the
    # session's local[32] default, scratch space inside the checkout,
    # and a heap that fits a shared machine.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        path for path in (ROOT, os.environ.get("PYTHONPATH")) if path
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    try:
        from perfbench.workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}; "
                  f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        result = run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if os.path.isdir(work_root) and not os.listdir(work_root):
            os.rmdir(work_root)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

"""The repository benchmark: one workload per invocation, in a fresh process.

    python3 perfbench/run.py --workload xml_ingest --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The benchmark generates its inputs from
``--seed`` (cached under ``.perfbench/inputs``), starts the engine on
``local[<nproc>]``, warms up, then runs the workload's operations as a closed
loop with one client for ``--seconds`` and at least the workload's reported
passes (``Workload.reported_passes``), checks every output and prints, as
the last line of stdout, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` repeats the run with spans, counted driver actions and Spark's
event log, and reports the per-layer metrics. Each run gets its own fresh
TMPDIR under ``.perfbench/runs``, so the program's fixture-keyed caches
start cold in the same way every time; it is removed at exit.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()  # set-up is measured from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import threading  # noqa: E402
import traceback  # noqa: E402
from datetime import datetime  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
sys.path.insert(0, str(HERE))

import metrics as M  # noqa: E402
import workloads as W  # noqa: E402
from stats import geomean, tail  # noqa: E402

WORK = ROOT / ".perfbench"


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# -- process-tree memory ----------------------------------------------------


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants, from
    /proc. Each Python process counts its proportional share (PSS) of the
    pages it shares, so the forked Python workers' common pages are counted
    once. The JVM counts its resident set: it shares next to nothing with the
    other processes, and reading its PSS walks its page tables under its
    memory-map lock (35-85 ms for a 2.8 GB JVM on 4 cores), which slowed and
    jittered the very timings the benchmark takes."""

    def __init__(self, period: float = 0.25):
        super().__init__(daemon=True)
        self.period = period
        self.peak_kb = 0
        self.peak_by_process: dict[str, int] = {}
        self._seen: set[int] = set()
        self._halt = threading.Event()

    def run(self) -> None:
        while not self._halt.wait(self.period):
            self.sample()

    def sample(self) -> None:
        tree = process_tree(proc_stats())
        # a child caught between vfork and exec (the JVM forks helpers such as
        # chmod) still shares its parent's address space and would count it
        # twice; such children are gone by the next sample, so count only
        # processes that were already there at the previous one
        seen, self._seen = self._seen, tree
        kb = {p: _resident_kb(p) for p in tree if p in seen or p == os.getpid()}
        if sum(kb.values()) > self.peak_kb:
            self.peak_kb = sum(kb.values())
            self.peak_by_process = {f"{p}:{_comm(p)}": v for p, v in kb.items() if v}

    def stop(self) -> None:
        self._halt.set()
        self.join()
        self.sample()


def proc_stats() -> dict[int, list[str]]:
    """The fields after the command name of every process's /proc stat line
    (index 0 is field 3, the state)."""
    stats = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stats[int(d)] = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue  # the process ended between listing and reading
    return stats


def process_tree(stats: dict[int, list[str]]) -> set[int]:
    """This process and all its descendants."""
    children: dict[int, list[int]] = {}
    for pid, f in stats.items():
        children.setdefault(int(f[1]), []).append(pid)
    tree, frontier = {os.getpid()}, [os.getpid()]
    while frontier:
        for c in children.get(frontier.pop(), ()):
            if c not in tree:
                tree.add(c)
                frontier.append(c)
    return tree


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds used so far by this process and its descendants: each
    one's user and system time plus that of the children it has reaped, so a
    Python worker that exits still counts, in its parent's total."""
    stats = proc_stats()
    return sum(sum(map(int, stats[p][11:15])) for p in process_tree(stats) if p in stats) / _TICK


def jit_cpu_s() -> float:
    """CPU seconds used so far by the JIT compiler threads of the JVMs in
    this process tree (the JVM is started with a fixed set of them)."""
    ticks = 0
    for p in process_tree(proc_stats()):
        if _comm(p) != "java":
            continue
        try:
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tids:
            try:
                with open(f"/proc/{p}/task/{t}/stat") as f:
                    name, rest = f.read().rsplit(")", 1)
            except (OSError, ValueError):
                continue
            if "CompilerThre" in name:
                ticks += sum(map(int, rest.split()[11:13]))
    return ticks / _TICK


def cpu_ticks() -> list[int]:
    """The machine's CPU time counters (first line of /proc/stat)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cpu_share(before: list[int], after: list[int]) -> dict[str, float]:
    """Busy and stolen shares of the machine's CPU time between two readings.
    On a shared host, steal (time the hypervisor ran someone else) is a main
    reason runs of the same code disagree: the slowest runs had the most."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d[:8]) or 1  # user..steal; guest time is already in user
    return {"busy": 1 - (d[3] + d[4]) / total, "steal": d[7] / total}


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


def _resident_kb(pid: int) -> int:
    path, key = (f"/proc/{pid}/status", "VmRSS:") if _comm(pid) == "java" else (f"/proc/{pid}/smaps_rollup", "Pss:")
    try:
        with open(path) as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except (OSError, ValueError):
        pass  # the process ended between listing and reading
    return 0


# -- streaming progress -----------------------------------------------------


def make_listener():
    from pyspark.sql.streaming import StreamingQueryListener

    class BatchListener(StreamingQueryListener):
        """Collects every micro-batch's progress (durations, rows, state)."""

        def __init__(self):
            self.batches: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators or []
            row = {
                "start": datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp(),
                "durations": dict(p.durationMs or {}),
                "rows": p.numInputRows,
                "state_rows": sum(o.numRowsTotal for o in ops),
                "state_bytes": sum(o.memoryUsedBytes for o in ops),
                "state_commit_ms": sum(o.commitTimeMs for o in ops),
            }
            with self._lock:
                self.batches.append(row)

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def settle(self, quiet: float = 0.3, limit: float = 8.0) -> None:
            """Wait until no progress event has arrived for ``quiet`` seconds."""
            t_end = time.monotonic() + limit
            n = -1
            while time.monotonic() < t_end:
                if len(self.batches) == n:
                    return
                n = len(self.batches)
                time.sleep(quiet)

    return BatchListener()


# -- the run ------------------------------------------------------------------


class Run:
    def __init__(self, args):
        self.args = args
        self.workload = W.WORKLOADS[args.workload]
        self.cpus = len(os.sched_getaffinity(0))
        self.run_dir = WORK / "runs" / f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
        self.tmp = self.run_dir / "tmp"
        self.results_dir = WORK / "results"
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.unchecked: list[str] = []
        self.samples: dict[str, list[float]] = {}  # op name -> timed latencies
        self.cpu_samples: dict[str, list[float]] = {}  # op name -> CPU seconds of the timed calls
        self.jit_samples: dict[str, list[float]] = {}  # op name -> of which JIT compiler threads
        self.op_windows: list[tuple[str, float, float]] = []  # (op, epoch start, end), timed
        self.tracer = None
        self.listener = None
        self.spark = None
        self.gen_seconds = 0.0

    # environment: everything the program writes lands in this run's tmp dir
    def prepare_env(self) -> None:
        self.tmp.mkdir(parents=True)
        t = str(self.tmp)
        os.environ.update({
            "TMPDIR": t,
            "SPARK_LOCAL_DIRS": f"{t}/spark-local",
            "SPARK_GRAFT_CPUS": str(self.cpus),
            "SPARK_DRIVER_MEMORY": W.DRIVER_MEMORY,
            "SPARK_GRAFT_SIG_INDEX_DIR": f"{t}/sig_index",
            "SPARK_GRAFT_CDC_INDEX_DIR": f"{t}/cdc_index",
            "SPARK_GRAFT_EMB_INDEX_DIR": f"{t}/emb_index",
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            # every JVM (launcher and driver): temp files in this run's dir,
            # and no hsperfdata, which the JVM always writes under /tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={t} -XX:-UsePerfData",
        })
        tempfile.tempdir = None  # re-read TMPDIR
        os.chdir(self.run_dir)  # spark-warehouse, derby.log, metastore_db land here
        sys.path.insert(0, str(ROOT))

    def fail(self, what: str, err: str) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {err}"[:2000])
        log(f"FAILED {what}: {err[:2000]}")

    def span(self, name: str):
        if self.tracer is None:
            return _null_span()
        return self.tracer.span(name)

    def start_spark(self) -> None:
        from discogs_load_spark.session import get_spark

        extra = {
            "spark.sql.warehouse.dir": str(self.run_dir / "spark-warehouse"),
            # the whole heap resident from the start: how far G1 happens to
            # grow a lazily committed heap moved peak memory by +-20% between
            # runs of the same code
            "spark.driver.extraJavaOptions": f"-Xms{W.DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UseDynamicNumberOfCompilerThreads",
        }
        if self.args.trace:
            (self.run_dir / "eventlog").mkdir()
            extra.update({
                "spark.eventLog.enabled": "true",
                # one plain, uncompressed JSON-lines file
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": (self.run_dir / "eventlog").as_uri(),
            })
        with self.span("session.get_spark"):
            self.spark = get_spark(app_name=f"perfbench_{self.args.workload}", extra_conf=extra)
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer is not None:
            self.tracer.spark = self.spark
        self.listener = make_listener()
        self.spark.streams.addListener(self.listener)

    def run_op(self, op, timed: bool, check: bool) -> None:
        """One operation of the closed loop; timed ops record their latency."""
        self.attempted += 1
        j0, c0, t0, e0 = jit_cpu_s(), tree_cpu_s(), time.monotonic(), time.time()
        try:
            with self.span(f"op.{op.name}"):
                result = op.run(self, collect=check)
            dt = time.monotonic() - t0
            dc = tree_cpu_s() - c0
            dj = jit_cpu_s() - j0
        except Exception:  # one op failing must not lose the rest of the run
            self.fail(op.name, traceback.format_exc())
            return
        finally:
            # untimed: queries persist shared frames for the app's lifetime
            self.spark.catalog.clearCache()
        if timed:
            self.samples.setdefault(op.name, []).append(dt)
            self.cpu_samples.setdefault(op.name, []).append(dc)
            self.jit_samples.setdefault(op.name, []).append(dj)
            self.op_windows.append((op.name, e0, time.time()))
        if check:
            self.attempted += 1
            try:
                verdict = op.check(self, result)
            except Exception:
                self.fail(f"{op.name} check", traceback.format_exc())
                return
            if verdict == "unchecked":
                self.unchecked.append(op.name)
            elif verdict is not True:
                self.fail(f"{op.name} check", str(verdict))

    def main(self) -> dict:
        args = self.args
        self.prepare_env()
        if args.trace:
            from spans import Tracer

            self.tracer = Tracer(self.run_dir.name)
        rss = RssSampler()
        rss.start()
        try:
            t_gen, c_gen = time.monotonic(), tree_cpu_s()
            self.workload.generate(self, WORK / "inputs")
            self.gen_seconds = time.monotonic() - t_gen
            gen_cpu = tree_cpu_s() - c_gen
            with self.span("setup"):
                self.start_spark()
                if self.tracer is not None:
                    self.tracer.count_actions(self.spark)
                    self.workload.instrument(self)
                self.workload.setup(self)
            # set-up time as CPU seconds, less the JIT's and the inputs', for
            # the reason pass_cpu_s is: the wall time of the same set-up moved
            # by a fifth between a calm and a busy hour of the shared host
            self.setup_s = tree_cpu_s() - jit_cpu_s() - gen_cpu
            self.setup_wall_s = time.monotonic() - T_PROCESS - self.gen_seconds
            log(f"set up in {self.setup_wall_s:.1f} s, {self.setup_s:.1f} CPU s (inputs {self.gen_seconds:.1f} s)")

            ops = self.workload.ops(self)
            self.ops_per_pass = len(ops)
            with self.span("warmup"):
                for i in range(self.workload.warmup_passes):
                    for op in ops:
                        self.run_op(op, timed=False, check=i == 0)
            self.listener.settle()
            log(f"warmed up at {time.monotonic() - T_PROCESS:.1f} s")
            n_warm = len(self.listener.batches)

            # closed loop, one client: passes in the declared order until the
            # time is up and the reported passes are done. The order is fixed:
            # an operation's cost depends on which ran before it (seed-shuffled
            # passes moved the pass wall by up to 20%)
            self.reported_passes = self.workload.reported_passes(args.seconds)
            cpu0 = cpu_ticks()
            with self.span("window") as window:
                t_end = time.monotonic() + args.seconds
                passes = 0
                while passes < self.reported_passes or time.monotonic() < t_end:
                    for op in ops:
                        self.run_op(op, timed=True, check=False)
                        if passes >= self.reported_passes and time.monotonic() >= t_end:
                            break
                    passes += 1
            self.window_cpu = cpu_share(cpu0, cpu_ticks())
            log(f"window done at {time.monotonic() - T_PROCESS:.1f} s")
            self.listener.settle()
            self.workload.final_check(self)
            self.batches = self.listener.batches[n_warm:]
            self.java_version = self.spark.sparkContext._jvm.System.getProperty("java.version")
        finally:
            if self.spark is not None:
                self.spark.stop()
                stop_jvm()
            rss.stop()
            log(f"stopped at {time.monotonic() - T_PROCESS:.1f} s")
        self.peak_rss_mb = rss.peak_kb / 1024
        self.peak_by_process = rss.peak_by_process
        result = self.result(window if self.tracer is not None else None)
        return result

    # -- results -----------------------------------------------------------

    def result(self, window) -> dict:
        self.figures = self.summary()
        e2e = {name: self.figures[name] for name, *_ in M.END_TO_END}
        record = {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "seconds": self.args.seconds,
            "trace": self.args.trace,
            "machine": machine_record(self),
            "samples": self.samples,
            "cpu_samples": self.cpu_samples,
            "jit_samples": self.jit_samples,
            "ops_done": sum(len(v) for v in self.samples.values()),
            "reported_passes": self.reported_passes,
            "unchecked": self.unchecked,
            "errors": self.errors,
            "end_to_end": e2e,
            "summary": self.figures,
            "peak_kb_by_process": self.peak_by_process,
        }
        if self.tracer is not None:
            from layers import per_layer

            self.tracer.uninstrument()
            self.tracer.write(self.run_dir / "spans.json")
            record["per_layer"] = per_layer(self, window)
            metrics = record["per_layer"]
        else:
            metrics = e2e
        record["tail"] = self.tail_info
        self.results_dir.mkdir(parents=True, exist_ok=True)
        (self.results_dir / f"{self.args.workload}-s{self.args.seed}-t{self.args.trace}.json").write_text(
            json.dumps(record, indent=1, default=str)
        )
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": v, "unit": M.UNITS[k]} for k, v in metrics.items()},
        }

    def op_at(self, epoch: float) -> str | None:
        for name, s, e in self.op_windows:
            if s - 0.05 <= epoch <= e:
                return name
        return None

    def summary(self) -> dict[str, float]:
        """The run's figures: the end-to-end metrics, and the wall-clock and
        JIT ones the traced run reports per layer."""
        # the JIT speeds passes up for minutes: report the same passes of
        # every run, the first ``reported_passes`` of the window, so a slower
        # run is not also measured at an earlier point of that curve
        n = self.reported_passes
        wall = [statistics.median(v[:n]) for v in self.samples.values()]
        op_tail_s, pct, beyond = tail([x for v in self.samples.values() for x in v])
        self.tail_info = {"op_tail_s": op_tail_s, "op_tail_percentile": pct,
                          "samples": sum(map(len, self.samples.values())), "samples_beyond": beyond}
        print(json.dumps({"op_tail": self.tail_info}), flush=True)
        # CPU time less the JIT compiler's (reported per layer): its threads
        # work through a queue beside the program, so how much of that work
        # lands in a given pass moves with the host's load
        return {
            "setup_s": self.setup_s,
            "pass_cpu_s": sum(statistics.median([c - j for c, j in zip(self.cpu_samples[op][:n], jit[:n])])
                              for op, jit in self.jit_samples.items()),
            "peak_rss_mb": self.peak_rss_mb,
            "pass_jit_cpu_s": sum(statistics.median(v[:n]) for v in self.jit_samples.values()),
            "setup_wall_s": self.setup_wall_s,
            "pass_wall_s": sum(wall),
            "op_geomean_s": geomean(wall),
            "op_tail_s": op_tail_s,
        }


def stop_jvm() -> None:
    """End the Spark JVM this process launched and wait until it has exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the launcher exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class _null_span:
    def __enter__(self):
        return None

    def __exit__(self, *exc):
        return False


def machine_record(run: Run) -> dict:
    import hashlib
    import platform

    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    digest = hashlib.sha1()
    for p in sorted((ROOT / "discogs_load_spark").rglob("*.py")):
        digest.update(p.read_bytes())
    return {
        "nproc": run.cpus,
        "mem_total_mb": mem_kb // 1024,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "java": getattr(run, "java_version", None),
        "git_commit": git_commit(),
        "program_digest": digest.hexdigest()[:16],
        "seed": run.args.seed,
        "tmpdir": str(run.tmp),
        "tmpdir_state": "fresh-empty",
        "input_generation_s": run.gen_seconds,
        "window_cpu_share": run.window_cpu,
    }


def git_commit() -> str | None:
    head = ROOT / ".git" / "HEAD"
    if not head.exists():
        return None
    ref = head.read_text().strip()
    if ref.startswith("ref: "):
        p = ROOT / ".git" / ref[5:]
        return p.read_text().strip() if p.exists() else None
    return ref


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "discogs_load_spark" / "__init__.py").is_file():
        log(f"no discogs_load_spark package under {ROOT}: run from the root of a checkout")
        return 2
    run = Run(args)
    try:
        out = run.main()
    finally:
        shutil.rmtree(run.tmp, ignore_errors=True)
        os.chdir(ROOT)
    print(json.dumps(out), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())

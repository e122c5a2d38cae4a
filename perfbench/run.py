#!/usr/bin/env python3
"""One run of the layered gate benchmark.

    python3 perfbench/run.py --workload ingest --seed 3 --seconds 40 --trace 0

A run is one fresh process on one Spark session, local[nproc]: set-up
(imports, session, a warm-up that runs no gate), one cold pass over
the workload's gates, then a fixed number of warm passes, so that a
faster build is never measured over more (and more JIT-warmed) passes
than a slower one.  ``--seconds`` names the nominal length of the
measured passes (``run_seconds`` in BENCHMARK.json); a run does not
stretch or cut its passes to meet it.  Gates run one at a time, each
built and then written to the noop sink; ``--seed`` only shuffles the
gate order inside each pass.  Right after each gate of the cold pass
its output is compared with its DuckDB oracle.  The inputs are the
seed-42 sf0.1 tables under ``perfbench/data``.

``--trace 0`` reports setup_s, cold_s and warm_s.  ``--trace 1``
enables Spark's event log, wraps the layer functions named in
``workloads.LAYER_TARGETS``, and reports the per-layer metrics of
``workloads.PER_LAYER``; its warm passes come in adjacent
untraced/traced pairs, the order flipping from pair to pair, and the
tracing overhead is the median of the pairs' time ratios.  A traced
run leaves its spans and event log in ``.perfbench_run/trace-<pid>``.

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``.  A gate call that raises or
whose output differs from its oracle counts as failed.
"""

from __future__ import annotations

import os
import time


def _process_age() -> float:
    """Seconds since this process started (0.0 where /proc is absent)."""
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
    except (OSError, ValueError, IndexError):
        return 0.0
    return max(0.0, uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


_T0 = time.perf_counter() - _process_age()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import zipfile  # noqa: E402
from contextlib import contextmanager, nullcontext  # noqa: E402
from pathlib import Path  # noqa: E402

from eventlog import pass_metrics, read_event_log  # noqa: E402
from workloads import END_TO_END, LAYER_TARGETS, PER_LAYER, WORKLOADS, check_coverage  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data" / "sf0.1"
RUNS = ROOT / ".perfbench_run"
# driver heap; one workload's gates use well under this
DRIVER_MEMORY = "4g"
# Warm passes get faster as the JIT compiles more, so every run takes
# the median over the same number of them; two keep a run near a minute
WARM_PASSES = 2
# a traced run's warm passes: this many untraced/traced pairs (traced
# runs report no end-to-end metric, so they may run longer)
WARM_PAIRS = 3
# PYTHONHASHSEED of every run and of the Python workers its session starts
HASH_SEED = "0"


class BenchError(RuntimeError):
    """The run cannot produce a trustworthy result."""


def _sha256(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def verify_data() -> None:
    """The vendored tables must be byte-identical to the recorded ones."""
    for line in (DATA / "SHA256SUMS").read_text().splitlines():
        digest, name = line.split()
        if _sha256((DATA / name).read_bytes()) != digest:
            raise BenchError(f"{DATA / name} does not match SHA256SUMS")


def verify_shipped(sc) -> None:
    """The package zip shipped to the Python workers must hold exactly
    the checkout's ``smashed_spark`` sources."""
    import smashed_spark

    pkg = ROOT / "smashed_spark"
    if Path(smashed_spark.__file__).resolve().parent != pkg:
        raise BenchError(f"smashed_spark imported from {smashed_spark.__file__}, not {pkg}")
    zip_path = Path(tempfile.gettempdir()) / "smashed_spark_pyfiles.zip"
    if not zip_path.is_file():
        raise BenchError(f"no shipped package zip at {zip_path}")
    want = {
        f"smashed_spark/{p.relative_to(pkg).as_posix()}": _sha256(p.read_bytes())
        for p in pkg.rglob("*.py")
    }
    with zipfile.ZipFile(zip_path) as zf:
        got = {n: _sha256(zf.read(n)) for n in zf.namelist()}
    if got != want:
        diff = sorted(set(got.items()) ^ set(want.items()))[:5]
        raise BenchError(f"shipped zip differs from the checkout: {diff}")
    registered = sc._jsc.sc().listFiles().mkString("\n").splitlines()
    if not any(uri.endswith(str(zip_path)) for uri in registered):
        raise BenchError(f"Spark ships {registered}, not {zip_path}")


@contextmanager
def private_dir(data_dir: Path):
    """A fresh directory for everything this process and its Spark
    session write, removed on exit.  Must be entered before
    smashed_spark is imported: some gates bind temp paths at import."""
    missing = [p for p in (ROOT / "smashed_spark" / "__init__.py", ROOT / "__spark_entry__.py")
               if not p.is_file()]
    if missing:
        raise BenchError(f"the package under test is missing: {missing}")
    run_dir = RUNS / str(os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["SMASHED_SPARK_CACHE"] = str(run_dir / "cache")
    # oracles that replay the gate's corpus read it from here
    os.environ["SPARK_GRAFT_ORACLE_SF_DIR"] = str(data_dir)
    tempfile.tempdir = None
    sys.path.insert(0, str(ROOT))
    try:
        yield run_dir
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            RUNS.rmdir()
        except OSError:
            pass


def start_session(run_dir: Path, cores: int, event_log: Path | None = None):
    from pyspark.sql import SparkSession

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.sql.shuffle.partitions": str(max(2 * cores, 8)),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        # a fixed-size heap and a collector without concurrent threads:
        # heap resizing and background marking compete with the tasks
        # for the cores and made warm passes vary from run to run
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={run_dir / 'tmp'} -Xms{DRIVER_MEMORY} -XX:+UseParallelGC"
        ),
    }
    if event_log is not None:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    builder = SparkSession.builder.master(f"local[{cores}]").appName("perfbench")
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def tail(values: list[float]) -> str:
    """Median plus the highest percentile with at least ten samples
    beyond it, and the sample count."""
    n = len(values)
    if n == 0:
        return "n=0"
    out = f"n={n} median={statistics.median(values):.3f}"
    if n > 10:
        q = (n - 10) * 100 // n
        out += f" p{q}={statistics.quantiles(values, n=100, method='inclusive')[q - 1]:.3f}"
    return out


class Run:
    def __init__(self, workload: str, seed: int, trace: bool, run_dir: Path):
        self.gates = WORKLOADS[workload][0]
        self.rng = random.Random(seed)
        self.trace = trace
        self.run_dir = run_dir
        self.trace_dir = RUNS / f"trace-{os.getpid()}" if trace else None
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = 0
        self.failures: list[str] = []
        self.gate_times: dict[str, list[float]] = {}
        self.check_s: dict[str, float] = {}
        self.passes: list[tuple[int, bool, object]] = []
        self.tracer = None
        self.spark = None

    def setup(self) -> dict[str, float]:
        import __spark_entry__
        from smashed_spark.plans import registry

        self.queries = __spark_entry__.queries()
        self.registry = registry
        check_coverage(self.queries)
        t_import = time.perf_counter()
        if self.trace_dir is not None:
            shutil.rmtree(self.trace_dir, ignore_errors=True)
            self.trace_dir.mkdir(parents=True)
        self.spark = start_session(self.run_dir, self.cores, self.trace_dir)
        t_session = time.perf_counter()
        # the first job's one-time engine costs (scheduler, codegen, the
        # parquet reader) are no gate's; the Python worker pool is left
        # to the cold pass, as only some gates start one
        self.spark.read.parquet(str(DATA / "documents.parquet")).selectExpr(
            "sum(length(text))"
        ).collect()
        t_ready = time.perf_counter()
        jvm_pid = self.spark.sparkContext._gateway.proc.pid
        return {
            "setup_s": t_ready - _T0,
            "setup.import_s": t_import - _T0,
            "setup.session_s": t_session - t_import,
            "setup.warmup_s": t_ready - t_session,
            "setup.rss_mb": _rss_mb(os.getpid()) + _rss_mb(jvm_pid),
        }

    def _span(self, name: str, traced: bool):
        return self.tracer.span(name) if traced else nullcontext()

    def run_pass(self, index: int, traced: bool, oracles=None) -> float:
        order = list(self.gates)
        self.rng.shuffle(order)
        total = 0.0
        with self._span("pass", traced) as pass_id:
            self.passes.append((index, traced, pass_id))
            for name in order:
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    with self._span(f"gate.{name}", traced):
                        with self._span("build", traced):
                            df = self.queries[name](self.spark, str(DATA))
                        with self._span("exec", traced):
                            df.write.format("noop").mode("overwrite").save()
                except Exception as e:  # a failed gate is counted, not fatal
                    self.failures.append(f"pass {index} {name}: {type(e).__name__}: {e}")
                    total += time.perf_counter() - t0
                    continue
                dt = time.perf_counter() - t0
                total += dt
                self.gate_times.setdefault(name, []).append(dt)
                if oracles is not None:
                    t1 = time.perf_counter()
                    try:
                        with self._span("check", traced):
                            msg = oracles.check(name, df)
                    except Exception as e:
                        msg = f"{type(e).__name__}: {e}"
                    self.check_s[name] = time.perf_counter() - t1
                    if msg:
                        self.failures.append(f"pass {index} {name}: oracle mismatch: {msg}")
        return total

    def between_passes(self) -> None:
        for q in self.spark.streams.active:
            q.stop()
        self.spark.catalog.clearCache()
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()

    def measure(self) -> tuple[float, list[float], list[bool]]:
        from oracle import Oracles

        if self.trace:
            from spans import Tracer

            self.tracer = Tracer(self.spark.sparkContext, f"r{os.getpid()}")
            self.tracer.wrap_layers(LAYER_TARGETS)
        oracles = Oracles(str(DATA), self.registry)
        try:
            cold = self.run_pass(0, self.trace, oracles)
        finally:
            oracles.close()
        verify_shipped(self.spark.sparkContext)
        if self.trace:
            plan = []
            for i in range(WARM_PAIRS):
                plan += [False, True] if i % 2 == 0 else [True, False]
        else:
            plan = [False] * WARM_PASSES
        warm: list[float] = []
        traced: list[bool] = []
        for t in plan:
            self.between_passes()
            if self.trace:
                self.tracer.unwrap()
                if t:
                    self.tracer.wrap_layers(LAYER_TARGETS)
            warm.append(self.run_pass(len(warm) + 1, t))
            traced.append(t)
        if self.trace:
            self.tracer.unwrap()
        return cold, warm, traced

    def layer_metrics(self, setup: dict, warm: list[float], traced: list[bool]) -> dict:
        """Per-layer metrics; call after the session stopped, so that
        the event log is complete."""
        logs = [p for p in self.trace_dir.iterdir() if p.is_file()]
        if len(logs) != 1:
            raise BenchError(f"expected one event log in {self.trace_dir}, found {logs}")
        jobs, tasks = read_event_log(str(logs[0]))
        self.tracer.dump(str(self.trace_dir / "spans.jsonl"))
        spans = self.tracer.spans
        per_pass = {
            index: pass_metrics(pid, spans, jobs, tasks, self.cores)
            for index, t, pid in self.passes
            if t
        }
        cold = per_pass.pop(0)
        out = {}
        for name, *_ in PER_LAYER:
            out[name] = setup[name] if name.startswith("setup.") else statistics.median(
                p.get(name, 0.0) for p in per_pass.values()
            )
        out.update({
            "plans.cold_build_s": cold.get("plans.build_s", 0.0),
            "plans.cold_exec_s": cold.get("plans.exec_s", 0.0),
            "core.ship.cold_s": cold.get("core.ship.s", 0.0),
            "functions.fit.cold_calls": cold.get("functions.fit.calls", 0.0),
            "functions.fit.cold_s": cold.get("functions.fit.s", 0.0),
        })
        # each pair of adjacent passes holds one traced, one untraced
        ratios = [
            (a if ta else b) / (b if ta else a)
            for (a, ta), (b, _) in zip(
                zip(warm[0::2], traced[0::2]), zip(warm[1::2], traced[1::2])
            )
        ]
        out["trace.overhead_share"] = statistics.median(ratios) - 1.0
        return out


def _run(args, run_dir: Path) -> dict:
    run = Run(args.workload, args.seed, bool(args.trace), run_dir)
    try:
        setup = run.setup()
        cold, warm, traced = run.measure()
    finally:
        if run.spark is not None:
            stop_session(run.spark)

    for name, times in sorted(run.gate_times.items()):
        print(f"# {name}: cold {times[0]:.3f}s warm {tail(times[1:])} "
              f"output check {run.check_s.get(name, 0.0):.3f}s")
    warm_calls = [t for times in run.gate_times.values() for t in times[1:]]
    print(f"# warm gate calls: {tail(warm_calls)}")
    print(f"# passes: cold {cold:.3f}s, warm {tail(warm)} "
          f"({' '.join(f'{w:.3f}' for w in warm)}); "
          f"output checks {sum(run.check_s.values()):.3f}s")
    for f in run.failures:
        print(f"# FAILED {f}")
    print(f"# fail_share {len(run.failures) / run.attempted:.4f} "
          f"({len(run.failures)} of {run.attempted} gate calls)")

    if args.trace:
        metrics = run.layer_metrics(setup, warm, traced)
        units = {name: unit for name, unit, *_ in PER_LAYER}
        print(f"# spans and event log: {run.trace_dir}")
    else:
        metrics = {"setup_s": setup["setup_s"], "cold_s": cold,
                   "warm_s": statistics.median(warm)}
        units = dict(END_TO_END)
    return {
        "correct": not run.failures,
        "attempted": run.attempted,
        "failed": len(run.failures),
        "metrics": {n: {"value": metrics[n], "unit": units[n]} for n in units},
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        verify_data()
        with private_dir(DATA) as run_dir:
            result = _run(args, run_dir)
    except (OSError, BenchError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    if os.environ.get("PYTHONHASHSEED") != HASH_SEED:
        # the same set and dict order in every run
        os.environ["PYTHONHASHSEED"] = HASH_SEED
        os.execv(sys.executable, [sys.executable, *sys.argv])
    sys.exit(main())

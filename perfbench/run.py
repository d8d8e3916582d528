"""Benchmark of the engine: one workload of registered catalog entries,
run in one Spark driver process at ``local[nproc]``.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

Run it from the repository root. One run:

1. makes a fresh run directory under ``.perfbench_run/`` and points
   ``TMPDIR``, Spark's local dirs, the JVM's temp dir and the SQL
   warehouse there, so no run inherits on-disk caches from another;
2. set-up (``setup_s``): interpreter start, session start and the
   workload's untimed warm-up passes at the measured scale, the first of
   which also builds the on-disk caches the entries make on first use;
3. timed passes until ``--seconds`` have elapsed, and at least
   ``MIN_PASSES`` of them. Each pass runs every
   entry once, in an order drawn from ``--seed``; each entry is timed from
   its call through its terminal ``count()``. ``release_caches`` and a
   Python plus JVM garbage collection run between entries, untimed;
4. checks, outside every timed region: each execution's row count against
   the DuckDB oracle's count (or a pinned count where an entry has no
   oracle SQL), and that ``release_caches`` left no persisted RDD behind.

With ``--trace 0`` the last stdout line reports the end-to-end metrics:
``pass_s`` (median wall seconds of a timed pass), ``setup_s``, ``cpu_s``
(median CPU seconds of a pass, inside the timed regions, over the driver's
Python, the JVM without its JIT-compiler and GC threads, and the Python
workers; see ``host.CpuSample``),
``peak_rss_mb`` (peak resident memory of the JVM plus the Python workers)
and ``ok_frac`` (entry executions that passed every check, over those
attempted). With ``--trace 1`` untraced and traced passes alternate; the traced ones
collect the per-layer ledger (``perfbench/ledger.py``) and the line
reports it, with the tracing overhead as the difference between the two
kinds of pass. Each pass also prints one line with its load average and
hypervisor steal ticks, so a noisy window can be spotted afterwards.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import host  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    PINNED_ROWS,
    SF_DIR,
    TARGET_ENTRIES,
    WORKLOADS,
)

PACKAGE = "mlb_win_predictor_spark"
# A run reports the median of at least this many timed passes (in a
# traced run, half of them are traced).
MIN_PASSES = 2
ORACLE_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def driver_mem_mb() -> int:
    """A quarter of physical RAM, at most 4 GiB: the driver JVM shares the
    box with the Python workers and DuckDB."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return min(4096, total_kb // 4096)


def start_spark(run_dir: Path, cpus: int):
    """Start the driver with every on-disk location inside ``run_dir``,
    then let the package's own factory apply the engine's SQL confs."""
    tmp = run_dir / "tmp"
    mem = f"{driver_mem_mb()}m"
    # inherited by the JVM and, through it, by every Python worker
    os.environ.update(
        TMPDIR=str(tmp),
        SPARK_LOCAL_DIRS=str(run_dir / "spark-local"),
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=mem,
        # for the launcher JVM too: no hsperfdata under /tmp, and the JIT
        # compiler threads stay alive so their CPU stays attributable
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        " -XX:-UseDynamicNumberOfCompilerThreads",
    )
    tempfile.tempdir = None  # re-read TMPDIR

    from pyspark.sql import SparkSession

    from mlb_win_predictor_spark.session import get_spark

    # JVM-level settings only take effect on the first builder, so the
    # session is created here with the run's locations (get_spark pins the
    # warehouse under /tmp) and get_spark then reuses it.
    (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.driver.memory", mem)
        .config("spark.sql.warehouse.dir", str(run_dir / "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, the gateway JVM and every process under it, and
    wait until each has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    jvm_proc = gateway.proc
    children = host.descendants(host.process_table(), jvm_proc.pid)
    spark.stop()
    gateway.shutdown()
    jvm_proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
    try:
        jvm_proc.wait(timeout=30)
    except Exception:
        jvm_proc.kill()
        jvm_proc.wait()
    deadline = time.monotonic() + 10
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


def pass_orders(entries, seed: int):
    """The entry order of each successive pass, drawn from ``seed``: the
    seed varies only the order, never the entries or their inputs."""
    rng = random.Random(seed)
    while True:
        yield rng.sample(entries, len(entries))


class Runner:
    """Runs entries and passes of one workload on one session."""

    def __init__(self, spark, entries, sf_dir: str, tmp_dir: Path, seed: int):
        from mlb_win_predictor_spark.queries import QUERIES
        from mlb_win_predictor_spark.session import (
            persistent_rdd_count,
            release_caches,
        )

        self.spark = spark
        self.queries = QUERIES
        self.release_caches = release_caches
        self.persistent_rdd_count = persistent_rdd_count
        self.sf_dir = sf_dir
        self.tmp_dir = tmp_dir
        self.orders = pass_orders(entries, seed)
        self.jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        # (entry, row count or None, error or None) per execution
        self.executions: list[tuple[str, int | None, str | None]] = []
        self.ledger = None

    def run_entry(self, name: str, traced: bool) -> dict:
        fn = self.queries[name].fn
        rec: dict = {"name": name, "trace": None}
        n, err = None, None
        cpu0 = host.cpu_sample(self.jvm_pid)
        t0 = time.perf_counter()
        try:
            if traced:
                n, rec["trace"] = self.ledger.run(fn, self.spark, self.sf_dir)
            else:
                n = fn(self.spark, self.sf_dir).count()
        except Exception as ex:  # a failing entry is counted, not fatal
            err = f"{type(ex).__name__}: {str(ex).splitlines()[0][:200]}"
        rec["s"] = time.perf_counter() - t0
        rec["cpu_s"] = (host.cpu_sample(self.jvm_pid) - cpu0).total
        t1 = time.perf_counter()
        self.release_caches(self.spark)
        gc.collect()
        self.spark.sparkContext._jvm.System.gc()
        rec["release_s"] = time.perf_counter() - t1
        if err is None and self.persistent_rdd_count(self.spark):
            err = "persisted RDDs left after release_caches"
        self.executions.append((name, n, err))
        return rec

    def run_pass(self, traced: bool = False) -> dict:
        order = next(self.orders)
        tmp0 = host.tree_bytes(str(self.tmp_dir))
        steal0 = host.steal_ticks()
        recs = [self.run_entry(name, traced) for name in order]
        return {
            "traced": traced,
            "pass_s": sum(r["s"] for r in recs),
            "cpu_s": sum(r["cpu_s"] for r in recs),
            "release_s": sum(r["release_s"] for r in recs),
            "tmp_left_mb": (host.tree_bytes(str(self.tmp_dir)) - tmp0) / (1 << 20),
            "steal_ticks": host.steal_ticks() - steal0,
            "loadavg": host.loadavg(),
            "entries": recs,
        }


def expected_rows(names, sf_dir: str) -> dict[str, int]:
    """The DuckDB oracle's row count for entries with oracle SQL, the
    pinned count for the rest."""
    import duckdb

    from mlb_win_predictor_spark.queries import QUERIES

    out = {}
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in ORACLE_TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )
        for name in names:
            sql = QUERIES[name].sql
            if sql is None:
                out[name] = PINNED_ROWS[name]
            else:
                q = f"SELECT COUNT(*) FROM ({sql.strip().rstrip(';')}) AS oracle"
                out[name] = con.execute(q).fetchone()[0]
    finally:
        con.close()
    return out


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def end_to_end_metrics(runner: Runner, passes, setup_s: float) -> dict:
    return {
        "pass_s": (median([p["pass_s"] for p in passes]), "s"),
        "setup_s": (setup_s, "s"),
        "cpu_s": (median([p["cpu_s"] for p in passes]), "s"),
        "peak_rss_mb": (host.peak_rss_mb(runner.jvm_pid), "MB"),
    }


def layer_metrics(passes) -> dict:
    from perfbench.ledger import ENTRY_METRICS, LAYER_METRICS

    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    out = {}
    for m in LAYER_METRICS:
        unit = "MB" if m.endswith("_mb") else "s" if m.endswith("_s") else "count"
        per_pass = [
            sum(r["trace"].metrics[m] for r in p["entries"] if r["trace"])
            for p in traced
        ]
        out[m] = (median(per_pass), unit)
    out["session.release_s"] = (median([p["release_s"] for p in traced]), "s")
    out["storage.tmp_left_mb"] = (median([p["tmp_left_mb"] for p in traced]), "MB")
    out["trace.overhead_s"] = (
        median([p["pass_s"] for p in traced]) - median([p["pass_s"] for p in plain]),
        "s",
    )
    for entry in TARGET_ENTRIES:
        for m in ENTRY_METRICS:
            unit = "count" if m == "spark.jobs" else "s"
            vals = [
                r["trace"].metrics[m]
                for p in traced
                for r in p["entries"]
                if r["name"] == entry and r["trace"]
            ]
            out[f"{entry}.{m}"] = (median(vals), unit)
    return out


def bench(args: argparse.Namespace, run_dir: Path) -> dict:
    workload = WORKLOADS[args.workload]
    entries = list(workload.entries)
    sf_dir = str(ROOT / SF_DIR)
    cpus = len(os.sched_getaffinity(0))
    spark = start_spark(run_dir, cpus)
    try:
        runner = Runner(spark, entries, sf_dir, run_dir / "tmp", args.seed)
        warm = [runner.run_pass()["pass_s"] for _ in range(workload.warmup_passes)]
        setup_s = time.perf_counter() - T_START
        print(json.dumps({"setup_s": setup_s, "warmup_pass_s": warm}))
        if args.trace:
            from perfbench.ledger import Ledger

            runner.ledger = Ledger(spark, runner.jvm_pid)
        passes = []
        deadline = time.perf_counter() + args.seconds
        while True:
            traced = bool(args.trace) and len(passes) % 2 == 1
            p = runner.run_pass(traced)
            passes.append(p)
            print(
                json.dumps(
                    {k: p[k] for k in ("traced", "pass_s", "cpu_s", "loadavg", "steal_ticks")}
                )
            )
            if time.perf_counter() >= deadline and len(passes) >= MIN_PASSES:
                break
        if runner.ledger is not None:
            runner.ledger.close()
        t_window = time.perf_counter()
        e2e = end_to_end_metrics(runner, passes, setup_s)
        layers = layer_metrics(passes) if args.trace else None
    finally:
        stop_spark(spark)

    want = expected_rows(entries, sf_dir)
    print(json.dumps({"stop_and_check_s": time.perf_counter() - t_window}))
    errors = [
        (name, err or f"{n} rows, expected {want[name]}")
        for name, n, err in runner.executions
        if err is not None or n != want[name]
    ]
    for name, why in errors:
        print(f"FAILED {name}: {why}", file=sys.stderr)
    attempted = len(runner.executions)
    e2e["ok_frac"] = ((attempted - len(errors)) / attempted, "frac")
    metrics = layers if args.trace else e2e
    return {
        "correct": not errors,
        "attempted": attempted,
        "failed": len(errors),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    # run the cleanup below (stop Spark, remove the run directory) on SIGTERM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    if not (ROOT / PACKAGE).is_dir():
        print(f"{PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    run_dir = ROOT / ".perfbench_run" / str(os.getpid())
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    try:
        result = bench(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            run_dir.parent.rmdir()
        except OSError:  # another run is still using it
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

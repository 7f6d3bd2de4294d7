"""What every workload shares: the Spark session, the DuckDB oracle,
and small statistics helpers."""

from __future__ import annotations

import importlib.util
import os
import resource
import statistics
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: Set-ups measured per run, after the timed passes; ``setup_s`` is
#: their median.
SETUPS = 3


def cpu_ticks() -> tuple[int, int]:
    """(all, steal) CPU ticks of the host since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields), fields[7]


def process_cpu_s(pid: int | str = "self") -> float:
    """User plus system CPU seconds of one process (all its threads)."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def host_conditions() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_1m": os.getloadavg()[0],
    }


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile with at least ten samples beyond it, as
    (percentile, value); (None, None) while that sample is not above the
    median one (21 samples or fewer)."""
    s = sorted(values)
    if len(s) <= 21:
        return None, None
    return 100.0 * (len(s) - 10) / len(s), s[len(s) - 11]


def metric(value, unit: str, n: int | None = None) -> dict:
    """One reported number with its unit and, for a timing, its sample count."""
    out = {"value": value, "unit": unit}
    if n is not None:
        out["n"] = n
    return out


def configure_env(run_dir: str) -> None:
    """Keep Spark's and Python's temporary files inside the run directory."""
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = run_dir
    tempfile.tempdir = run_dir
    opts = os.environ.get("JAVA_TOOL_OPTIONS", "")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"{opts} -Djava.io.tmpdir={run_dir} -XX:-UsePerfData".strip())


class Context:
    """The Spark session and what every workload shares."""

    def __init__(self, data_dir: str, run_dir: str, seed: int, trace: bool):
        self.data_dir = data_dir
        self.run_dir = run_dir
        self.seed = seed
        self.trace = trace
        self.spark = None
        self._oracle = None

    def start_session(self):
        """(Re)start the session with the program's own configuration.
        Restarts reuse the JVM, so only the first start launches it."""
        from andl_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench")
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def set_job_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process and the JVM."""
        proc = self.spark.sparkContext._gateway.proc
        return process_cpu_s() + process_cpu_s(proc.pid)

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this process plus the JVM."""
        kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        if proc is not None:
            with open(f"/proc/{proc.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        return kb / 1024.0

    @property
    def oracle(self) -> "Oracle":
        if self._oracle is None:
            self._oracle = Oracle(self.data_dir)
        return self._oracle

    def close(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def _load_compare():
    """``compare`` from tools/oracle_check.py, imported unchanged."""
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(ROOT, "tools", "oracle_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


class Oracle:
    """DuckDB answers for ``workload.ORACLE`` over the same tables."""

    def __init__(self, data_dir: str):
        import duckdb

        self.con = duckdb.connect()
        for f in sorted(os.listdir(data_dir)):
            if f.endswith(".parquet"):
                self.con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, f)}')")
        self.compare = _load_compare()
        self._answers: dict[str, object] = {}

    def answer(self, name: str):
        if name not in self._answers:
            from andl_spark import workload

            self._answers[name] = self.con.execute(workload.ORACLE[name]).df()
        return self._answers[name]

    def sql(self, query: str):
        return self.con.execute(query).df()

    def check(self, name: str, table) -> str | None:
        return self.compare(table.to_pandas(), self.answer(name))


def warm_setups(ctx: Context, setup) -> dict:
    """Run ``setup(i)`` for i = 1..SETUPS and summarize.

    These set-ups run after the timed passes, in the JVM that the run
    has already warmed: each restarts the Spark session and repeats the
    workload's set-up from there. The run's first set-up also launches
    the JVM; that cold time is reported apart, because it swings with
    JIT compilation far more than the program's own set-up does. In a
    traced run each set-up runs under job group ``pb:setup:<i>``, and
    ``footer_jobs`` counts the jobs of the last one."""
    from tracing import JobCounters

    runs = [setup(i) for i in range(1, SETUPS + 1)]
    out = {"setup_s": statistics.median(s for s, _ in runs),
           "load_tables_ms": statistics.median(h for _, h in runs) * 1e3,
           "samples": [s for s, _ in runs], "footer_jobs": 0}
    if ctx.trace:
        counters = JobCounters(ctx.spark)
        counters.drain()
        out["footer_jobs"] = counters.read(f"pb:setup:{SETUPS}")["jobs"]
    return out

"""Session, set-up timing, the per-op runner and the result record."""

from __future__ import annotations

import os
import platform
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field

from perfbench import stats
from perfbench.tracing import OpProbe, Py4jCounter, SparkCounters, Spans

MASTER = "local[4]"
#: set-ups per run; setup_s is their median
SETUPS = 5
#: rows of the reference job: a fixed Spark aggregate that runs none of the
#: package's code, timed between ops to track how fast the shared host runs
#: at that moment
REF_ROWS = 2_000_000
#: seconds between reference jobs (``Run.reference_due``)
REF_EVERY_S = 1.0
#: the normalized metrics read as times on a host where the reference job
#: takes this long
REF_SCALE_MS = 100.0


@dataclass
class Sample:
    kind: str
    ok: bool
    #: the op completed but its answer was wrong
    wrong: bool = False
    total_ms: float | None = None
    plan_ms: float | None = None
    exec_ms: float | None = None
    error: str | None = None
    counts: dict = field(default_factory=dict)


def _peak_rss_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class Run:
    """One benchmark run: a Spark session in this process, the work
    directory inside the checkout, the op samples and, when tracing, the
    spans and counters."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = work
        self.spans = Spans(trace)
        self.samples: list[Sample] = []
        self.spark = None
        self.counters: SparkCounters | None = None
        self.py4j: Py4jCounter | None = None
        self.setup_times: list[float] = []
        self.detail: dict = {}
        self.layer_metrics: dict[str, dict] = {}
        #: JVM GC time over the timed part, set by the workload when tracing
        self.gc_ms: float | None = None
        #: ms of every reference job in the timed window
        self.refs: list[float] = []
        self._ref_at = float("-inf")
        #: the workload's batch job (plan_s, exec_s, jobs), set when tracing
        self.batch: dict = {}
        self._lock = threading.Lock()

    # -- session ------------------------------------------------------------

    def conf(self) -> dict[str, str]:
        return {
            # shared machine: a bounded heap, and nothing written outside
            # the checkout
            "spark.driver.memory": "2g",
            "spark.local.dir": f"{self.work}/spark-local",
            "spark.sql.warehouse.dir": f"{self.work}/warehouse",
            "spark.sql.streaming.checkpointLocation": f"{self.work}/checkpoints",
            "spark.ui.showConsoleProgress": "false",
        }

    def start_session(self):
        from feature_store_fraud_detection_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark(app_name=f"perfbench-{self.workload}",
                               master=MASTER, extra_conf=self.conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def setup(self, prepare) -> None:
        """Run ``prepare(i)`` after a fresh session start, ``SETUPS`` times;
        the first also launches the JVM. Tracing counters attach to the
        last session."""
        for i in range(SETUPS):
            t0 = time.perf_counter()
            self.start_session()
            print(f"session {i}: {time.perf_counter() - t0:.2f} s", file=sys.stderr)
            prepare(i)
            self.setup_times.append(time.perf_counter() - t0)
            print(f"setup {i}: {self.setup_times[-1]:.2f} s", file=sys.stderr)
        if self.trace:
            self.counters = SparkCounters(self.spark)
            self.py4j = Py4jCounter(self.spark.sparkContext)

    def close(self) -> None:
        """Stop the session, then the JVM, and wait until it has exited."""
        if self.py4j is not None:
            self.py4j.close()
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        proc = gateway.proc
        # the JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    # -- ops ----------------------------------------------------------------

    def op(self, kind: str, op_id: str, plan_layer: str, plan, exec_layer: str,
           execute, check) -> Sample:
        """Time one op as plan (the call that returns a DataFrame) plus
        exec (the action); ``check(result)`` runs after the clock stops.
        An exception or a wrong answer makes the op failed."""
        sample = Sample(kind, ok=False)
        probe = OpProbe(self.counters, self.py4j, op_id) if self.trace else None
        try:
            with self.spans.span(f"op.{kind}", op=op_id):
                t0 = time.perf_counter()
                with self.spans.span(plan_layer):
                    df = plan()
                t1 = time.perf_counter()
                py4j_plan = probe.py4j_calls() if probe else None
                with self.spans.span(exec_layer):
                    result = execute(df)
                t2 = time.perf_counter()
            sample.plan_ms, sample.exec_ms = (t1 - t0) * 1e3, (t2 - t1) * 1e3
            sample.total_ms = (t2 - t0) * 1e3
            if probe:
                sample.counts = probe.finish()
                sample.counts["py4j_plan"] = py4j_plan
                sample.counts["rows_returned"] = len(result)
            problem = check(result)
            sample.ok, sample.wrong, sample.error = problem is None, problem is not None, problem
        except Exception as e:  # noqa: BLE001 - a failed op is a result
            sample.error = f"{type(e).__name__}: {str(e).splitlines()[0][:200]}"
        with self._lock:
            self.samples.append(sample)
        return sample

    def reference_ms(self) -> float:
        """Time the reference job once and keep the sample."""
        t0 = time.perf_counter()
        (self.spark.range(0, REF_ROWS, 1, 4).selectExpr("sum(id % 97)", "max(id)")
         .write.format("noop").mode("overwrite").save())
        self._ref_at = time.perf_counter()
        self.refs.append((self._ref_at - t0) * 1e3)
        return self.refs[-1]

    def reference_due(self) -> None:
        """Time the reference job unless one ended in the last
        ``REF_EVERY_S`` seconds."""
        if time.perf_counter() - self._ref_at >= REF_EVERY_S:
            self.reference_ms()

    def normalized(self, e2e: dict) -> dict:
        """The raw ``op_ms`` and ``batch_s`` of a run plus their values on
        a host where the reference job takes ``REF_SCALE_MS``: each divided
        by the median reference time of the window."""
        ref_ms = stats.median(self.refs)
        scaled = {k: None if e2e[k] is None else e2e[k] * REF_SCALE_MS / ref_ms
                  for k in ("op_ms", "batch_s")}
        return {**e2e, "ref_job_ms": ref_ms,
                "op_norm_ms": scaled["op_ms"], "batch_norm_s": scaled["batch_s"]}

    # -- summary ------------------------------------------------------------

    def peak_rss_mb(self) -> float:
        jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        py, jvm = _peak_rss_kb("self"), _peak_rss_kb(jvm_pid)
        self.detail["peak_rss_mb_python_jvm"] = [py / 1024.0, jvm / 1024.0]
        return (py + jvm) / 1024.0

    def latency_summary(self) -> dict:
        """Median and supported tail of the op latencies, per kind and over
        all ops. Failed ops have no latency and are listed as missing."""
        out = {}
        groups: dict[str, list[Sample]] = {}
        for s in self.samples:
            groups.setdefault(s.kind, []).append(s)
        groups["all"] = list(self.samples)
        for kind, ss in groups.items():
            lat = [s.total_ms for s in ss if s.ok]
            row = {"n": len(ss), "failed": sum(not s.ok for s in ss)}
            if lat:
                row["p50_ms"] = stats.median(lat)
                row["plan_p50_ms"] = stats.median([s.plan_ms for s in ss if s.ok])
                row["exec_p50_ms"] = stats.median([s.exec_ms for s in ss if s.ok])
                # a failed op counts as missing every latency limit
                t = stats.tail([*lat, *[float("inf")] * row["failed"]])
                if t:
                    row[f"p{t[0]}_ms"] = t[1]
            out[kind] = row
        return out

    def mix_op_ms(self, shares: dict[str, float]) -> float | None:
        """Latency of one op drawn from the workload's mix: each kind's
        median weighted by its share of the mix. Unlike the median over all
        ops, it does not move with how many ops of each kind fit in a run's
        window. None when a kind has no completed op."""
        lat = self.latency_summary()
        p50 = [lat.get(kind, {}).get("p50_ms") for kind in shares]
        if None in p50:
            return None
        return sum(w * p for w, p in zip(shares.values(), p50))

    def environment(self) -> dict:
        import pyspark

        sc = self.spark.sparkContext
        return {
            "nproc": os.cpu_count(),
            "master": sc.master,
            "default_parallelism": sc.defaultParallelism,
            "spark_version": pyspark.__version__,
            "python_version": platform.python_version(),
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": self.trace,
        }

    def generic_per_layer(self) -> dict[str, float]:
        """The per-layer metrics every workload reports: medians over the
        completed ops of plan and exec time and of the counters, the plan
        and exec split of the batch job, GC time, peak RSS and what the
        session still caches at the end."""
        ss = [s for s in self.samples if s.ok]
        if not ss:
            return {}
        med = lambda key: stats.median([s.counts.get(key, 0) for s in ss])  # noqa: E731
        return {
            "plan_ms_p50": stats.median([s.plan_ms for s in ss]),
            "exec_ms_p50": stats.median([s.exec_ms for s in ss]),
            "py4j_calls_per_op": med("py4j_calls"),
            "jobs_per_op": med("jobs"),
            "tasks_per_op": med("tasks"),
            "files_read_per_op": med("files_read"),
            "rows_scanned_per_op": med("rows_scanned"),
            "batch_plan_s": self.batch.get("plan_s"),
            "batch_exec_s": self.batch.get("exec_s"),
            "batch_jobs": self.batch.get("jobs"),
            "jvm_gc_ms": self.gc_ms,
            "peak_rss_mb": self.detail["workload_metrics"]["peak_rss_mb"]["value"],
            "cache_entries_left": self.counters.cache_entries(),
            "persisted_rdds_left": self.counters.persisted_rdds(),
        }

    def report(self, name: str, value, unit: str) -> None:
        """Record one of the workload's own end-to-end figures, printed by
        name with its unit in the run record."""
        self.detail.setdefault("workload_metrics", {})[name] = {"value": value, "unit": unit}

    def layer(self, name: str, metrics: dict, moves: str) -> None:
        """Record per-layer numbers, tagged with the end-to-end metric and
        workload they should move."""
        self.layer_metrics[name] = {**metrics, "moves": moves}

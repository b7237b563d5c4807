"""One benchmark run: an isolated environment, a Spark session, set-up,
a closed loop of timed operations, correctness checks and the result.

Everything a run writes (warehouse, Spark local dirs, JVM and Python temp
files, generated inputs) lives in one fresh directory under
``<checkout>/.perfbench/`` that is removed when the run ends.
"""

from __future__ import annotations

import contextlib
import math
import os
import resource
import shutil
import statistics
import sys
import tempfile
import time
import traceback

from spans import Tracer

PROBE_ROWS = 1_000_000  # the reference job takes 50-80 ms on a 4-CPU VM


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    """State shared by a workload's set-up, loop and checks."""

    def __init__(self, root: str, workload: str, seed: int, seconds: int, trace: bool):
        self.root = root
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        base = os.path.join(root, ".perfbench")
        os.makedirs(base, exist_ok=True)
        self.dir = tempfile.mkdtemp(prefix=f"{workload}-{seed}-", dir=base)
        self.tracer = Tracer(os.path.basename(self.dir), trace)
        self.spark = None
        self.ops: list[tuple[str, float]] = []  # (class, seconds) of ops that succeeded
        self.attempted = 0
        self.failed = 0
        self.checks: list[tuple[str, bool, str]] = []
        self.setup_parts: dict[str, float] = {}
        self.loop_s = 0.0
        self.probe_s: list[float] = []  # reference-job times, one after each op

    # -- isolation -----------------------------------------------------------

    def path(self, *parts: str) -> str:
        p = os.path.join(self.dir, *parts)
        os.makedirs(os.path.dirname(p), exist_ok=True)
        return p

    def isolate_env(self) -> None:
        """Point every temp, local and warehouse directory into the run dir
        before the JVM starts."""
        tmp = self.path("tmp", "")
        local = self.path("spark-local", "")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = None
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
        os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (self.root, os.environ.get("PYTHONPATH")) if p
        )
        confs = {
            "spark.sql.warehouse.dir": self.path("spark-warehouse"),
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.ui.showConsoleProgress": "false",
        }
        # every JVM, the launcher's included: temp files in the run dir, no
        # hsperfdata under /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
            [f"--conf {k}={v}" for k, v in confs.items()] + ["pyspark-shell"]
        )

    def start_session(self) -> None:
        from paimon_presto_spark import session
        from paimon_presto_spark.sources import register_datasource

        t0 = time.perf_counter()
        with self.tracer.span("session.start"):
            self.spark = session.get_spark(f"perfbench-{self.workload}")
            register_datasource(self.spark)
        self.setup_parts["session_s"] = time.perf_counter() - t0
        self.tracer.sc = self.spark.sparkContext

    def cleanup(self) -> None:
        if self.spark is not None:
            gateway = self.spark.sparkContext._gateway
            self.spark.stop()
            self.spark = None
            # the gateway JVM exits when its stdin closes; wait for it
            gateway.shutdown()
            gateway.proc.stdin.close()
            gateway.proc.wait(timeout=60)
        shutil.rmtree(self.dir, ignore_errors=True)
        with contextlib.suppress(OSError):  # the base dir, once no run uses it
            os.rmdir(os.path.dirname(self.dir))

    # -- timing ----------------------------------------------------------------

    def timed(self, cls: str, fn, *args):
        """Run one operation of class `cls`; returns (ok, result). An
        exception counts the operation as failed."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.span(f"op.{cls}"):
                out = fn(*args)
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return False, None
        finally:
            self.probe()
        self.ops.append((cls, time.perf_counter() - t0))
        return True, out

    def probe(self) -> None:
        """Time one fixed Spark SQL job that runs no engine code. Its median
        tracks how fast the host runs Spark during this run."""
        t0 = time.perf_counter()
        self.spark.range(0, PROBE_ROWS, 1, nproc()).selectExpr("sum(hash(id))").collect()
        self.probe_s.append(time.perf_counter() - t0)

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """Record one correctness check; a mismatch counts as a failed op."""
        self.checks.append((name, bool(ok), detail))
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)

    # -- measurements ----------------------------------------------------------

    def peak_rss_mb(self) -> float:
        """Peak resident set of the Spark JVM plus this Python process."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        proc = getattr(self.spark.sparkContext._gateway, "proc", None) if self.spark else None
        if proc is not None:
            with open(f"/proc/{proc.pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024.0

    def op_gmean_ms(self) -> float:
        """Geometric mean of the loop's operation latencies. The loop runs
        whole blocks, so every run has the same mix of operation classes;
        a fast class counts as much as a slow one."""
        return math.exp(statistics.fmean(math.log(dt) for _, dt in self.ops)) * 1000.0

    def probe_ms(self) -> float:
        return statistics.median(self.probe_s) * 1000.0

    def end_to_end(self) -> dict[str, float]:
        return {
            "setup_s": self.setup_parts["session_s"]
            + self.setup_parts.get("warmup_s", 0.0)
            + statistics.median(self.setup_parts["loads_s"]),
            # in units of the reference job: the host's speed drifts by
            # 20-30% between runs and the job's time follows most of it
            "op_gmean_rel": self.op_gmean_ms() / self.probe_ms(),
        }

"""Shared pieces of the benchmark: host pinning, the Spark session, the
tracer that times calls into the engine's layers, host drift markers
and the result record.

Nothing here starts a process or touches the file system at import
time; :func:`pin_host` and :func:`start_spark` do, and
:func:`stop_spark` ends what they started.
"""

from __future__ import annotations

import contextlib
import json
import os
import shlex
import shutil
import statistics
import sys
import time


# -- host pinning ------------------------------------------------------


def host_cpus() -> int:
    """CPUs this process may run on (``nproc``)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # non-Linux
        return os.cpu_count() or 1


def physical_mem_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)


def driver_mem_mb() -> int:
    """Driver heap: a quarter of physical memory, between 1 and 4 GiB.
    The engine's 24g default exceeds small hosts, and the machine's
    memory is shared with other work."""
    return max(1024, min(4096, physical_mem_mb() // 4))


def pin_host(run_dir: str) -> dict:
    """Fix the engine's environment for one run before the JVM starts:
    Spark ``local[nproc]``, a driver heap below physical memory, and
    temp/local/spill directories under ``run_dir`` (removed by the
    caller at exit). Returns the settings, for the run record."""
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TZ"] = "UTC"
    time.tzset()
    cpus = host_cpus()
    mem = f"{driver_mem_mb()}m"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = mem
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    # status-store retention raised so every job of a run stays
    # attributable to its span; the console progress bar is off
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    # every JVM the run starts (the launcher too) keeps its files inside
    # the run directory: no hsperfdata under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    args = []
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(shlex.quote(a) for a in args + ["pyspark-shell"])
    return {"cpus": cpus, "driver_mem": mem, "phys_mem_mb": physical_mem_mb()}


def start_spark():
    """``get_spark`` timed; returns (spark, seconds)."""
    t0 = time.perf_counter()
    from dataworks_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.range(1).count()  # the context is usable only once an action ran
    return spark, time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the context and the gateway JVM, and wait for the JVM (and
    with it the Python workers it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    with contextlib.suppress(Exception):
        spark.stop()
    if gw is not None:
        with contextlib.suppress(Exception):
            gw.shutdown()
    if proc is not None:
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 — last resort: the JVM ignored its stdin
            proc.kill()
            proc.wait(timeout=10)
    SparkContext._gateway = None
    SparkContext._jvm = None


def remove_dir(path: str) -> None:
    """Remove a run directory, and its parent if that is left empty."""
    shutil.rmtree(path, ignore_errors=True)
    with contextlib.suppress(OSError):
        os.rmdir(os.path.dirname(path))


# -- host drift markers ------------------------------------------------


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    try:
        with open("/proc/stat") as f:
            vals = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return 0, 0
    steal = vals[7] if len(vals) > 7 else 0
    return steal, sum(vals[:8])


def _proc_tree_cpu_s(root: int) -> float:
    """utime+stime (and reaped children's) of ``root`` and every live
    descendant, read from /proc."""
    hz = os.sysconf("SC_CLK_TCK")
    stats = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rfind(")") + 2:].split()
        stats[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    total, stack = 0, [root]
    while stack:
        pid = stack.pop()
        if pid in stats:
            total += stats[pid][1]
        stack.extend(children.get(pid, ()))
    return total / hz


class HostProbe:
    """Steal %, load average, JVM GC time and process-tree CPU over a
    measured window, plus the per-action floor."""

    def __init__(self, spark):
        self.spark = spark
        jvm = spark._jvm
        self._beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        try:
            self._jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())
        except Exception:  # noqa: BLE001
            self._jvm_pid = None

    def gc_ms(self) -> float:
        return float(sum(max(b.getCollectionTime(), 0) for b in self._beans))

    def cpu_s(self) -> float:
        t = os.times()
        own = t.user + t.system
        return own + (_proc_tree_cpu_s(self._jvm_pid) if self._jvm_pid else 0.0)

    def floor_ms(self, n: int = 5) -> float:
        """Median wall time of a trivial one-row action (a fresh plan
        each time, so no stage is skipped)."""
        ts = []
        for i in range(n):
            t0 = time.perf_counter()
            self.spark.range(1).selectExpr(f"id + {i} AS x").collect()
            ts.append((time.perf_counter() - t0) * 1000)
        return statistics.median(ts)

    def begin(self) -> None:
        self._t0 = (_cpu_ticks(), self.gc_ms(), self.cpu_s(), time.perf_counter())

    def end(self) -> dict:
        (s0, tot0), gc0, cpu0, w0 = self._t0
        s1, tot1 = _cpu_ticks()
        return {
            "steal_pct": 100.0 * (s1 - s0) / max(tot1 - tot0, 1),
            "loadavg_1m": os.getloadavg()[0],
            "gc_ms": self.gc_ms() - gc0,
            "cpu_s": self.cpu_s() - cpu0,
            "wall_s": time.perf_counter() - w0,
        }


# -- tracing -------------------------------------------------------------


class Tracer:
    """Times calls into the engine's layers.

    With ``enabled`` false it only measures durations (the untraced run
    that end-to-end metrics come from). With ``enabled`` true every
    :meth:`span` also records (id, name, parent, start, end) in memory
    and makes its id the Spark job group of the calls made inside it,
    so jobs, stages and tasks are attributed per call afterwards by
    :meth:`attribute` from ``statusTracker()``."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()
        self.bookkeeping_s = 0.0

    def _set_group(self, sid: int | None) -> None:
        sc = self.spark.sparkContext
        if sid is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(str(sid), self.spans[sid]["name"])

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Yields a dict the caller may add attributes to; its
        ``seconds`` key holds the duration after the block."""
        rec = {"name": name, **attrs}
        if not self.enabled:
            t0 = time.perf_counter()
            try:
                yield rec
            finally:
                rec["seconds"] = time.perf_counter() - t0
            return
        b0 = time.perf_counter()
        sid = len(self.spans)
        rec.update(id=sid, parent=self._stack[-1] if self._stack else None)
        self.spans.append(rec)
        self._stack.append(sid)
        self._set_group(sid)
        t0 = time.perf_counter()
        self.bookkeeping_s += t0 - b0
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec["start"] = t0 - self._t0
            rec["end"] = t1 - self._t0
            rec["seconds"] = t1 - t0
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.bookkeeping_s += time.perf_counter() - t1

    def attribute(self) -> None:
        """Attach jobs/stages/tasks (and per-job task counts) to every
        span from the status tracker. Runs after the measured work."""
        if not self.enabled:
            return
        time.sleep(0.5)  # let the listener bus deliver the last events
        st = self.spark.sparkContext.statusTracker()
        for rec in self.spans:
            jobs = sorted(st.getJobIdsForGroup(str(rec["id"])))
            per_job, per_stage = [], []
            for j in jobs:
                info = st.getJobInfo(j)
                if info is None:
                    continue
                tasks = 0
                for s in info.stageIds:
                    si = st.getStageInfo(s)
                    # stages skipped because their shuffle output was
                    # reused report no attempt; they ran no tasks
                    if si is not None and si.numTasks and si.currentAttemptId >= 0:
                        per_stage.append(si.numTasks)
                        tasks += si.numTasks
                per_job.append(tasks)
            rec["jobs"] = len(jobs)
            rec["stages"] = len(per_stage)
            rec["tasks"] = sum(per_job)
            rec["job_tasks"] = per_job
            rec["stage_tasks"] = per_stage

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def children(self, rec: dict) -> list[dict]:
        return [s for s in self.spans if s.get("parent") == rec["id"]]

    def total(self, rec: dict, key: str) -> int:
        """``key`` summed over a span and all its descendants."""
        out = rec.get(key, 0)
        for c in self.children(rec):
            out += self.total(c, key)
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f)


# -- statistics and the result record -------------------------------------


def mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def summary_ms(seconds: list[float]) -> dict:
    """Mean (the metric), median and p90 (diagnostics) in ms."""
    ms = sorted(s * 1000 for s in seconds)
    if not ms:
        return {"n": 0}
    return {
        "n": len(ms),
        "mean": mean(ms),
        "median": statistics.median(ms),
        "p90": ms[min(len(ms) - 1, int(0.9 * len(ms)))],
    }


class Checker:
    """Counts operations attempted and failed. An operation fails when
    it raises, or when its output disagrees with the oracle — the
    latter also makes the run incorrect. An operation counts as failed
    once, however many of its checks disagree."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.correct = True
        self.errors: list[str] = []
        self._counted = False

    def _fail(self, msg: str) -> None:
        self.errors.append(msg)
        if not self._counted:
            self.failed += 1
            self._counted = True

    def op(self, what: str, fn):
        """Run one operation; returns its value, or None if it raised."""
        self.attempted += 1
        self._counted = False
        try:
            return fn()
        except Exception as e:  # noqa: BLE001 — a failing op is counted, the run goes on
            self._fail(f"{what}: {type(e).__name__}: {str(e)[:300]}")
            return None

    def check(self, what: str, ok: bool, detail: str = "") -> bool:
        """Record an oracle comparison for the last operation."""
        if not ok:
            self.correct = False
            self._fail(f"{what}: mismatch {detail[:300]}")
        return ok


def emit(checker: Checker, metrics: dict, diagnostics: dict) -> None:
    """Diagnostics first (one JSON line), the result object last."""
    print(json.dumps({"diagnostics": diagnostics, "errors": checker.errors[:20]}, default=str))
    for line in checker.errors[:20]:
        print(f"error: {line}", file=sys.stderr)
    out = {
        "correct": checker.correct,
        "attempted": checker.attempted,
        "failed": checker.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    print(json.dumps(out), flush=True)

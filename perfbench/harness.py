"""Session lifecycle, process accounting and Spark counters for one run.

``Harness`` owns everything a run starts: the SparkSession (restarted
for every set-up repetition inside one JVM), the JVM and the Python
workers under it (stopped and waited for at the end), a sampler thread
that records the peak resident memory of this process plus its JVM, and
the host-contention evidence of ``bench.contention_probe``, sampled by
``bench.ProbeSampler``. All files go under the run's work directory
inside the checkout.
"""

from __future__ import annotations

import os
import signal
import threading
import time

#: Spark confs the benchmark adds on top of the package's tuned profile:
#: quiet console, no UI, and every scratch path inside the work directory.
def bench_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "local"),
        # keep every job/stage of a run in the status store for the counters
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_times() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _become_subreaper() -> None:
    """Make this process adopt the descendants whose parents exit
    (Linux ``PR_SET_CHILD_SUBREAPER``), so that the Python workers the
    JVM started can be waited for once the JVM is gone."""
    import ctypes

    ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)


def _children() -> list[int]:
    me = str(os.getpid())
    out = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                if fh.read().rpartition(")")[2].split()[1] == me:
                    out.append(int(d))
        except (OSError, IndexError):
            continue
    return out


def _reap_children(timeout: float) -> None:
    """Wait until this process has no children left; kill those still
    alive after ``timeout`` seconds (their own children are then
    adopted and handled the same way)."""
    deadline = time.monotonic() + timeout
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for child in _children():
                try:
                    os.kill(child, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


class Harness:
    def __init__(self, work: str, cpus: int):
        from bench import ProbeSampler, contention_probe

        _become_subreaper()
        self.work = work
        self.cpus = cpus
        self.spark = None
        self._probe = contention_probe
        self.probes: list[dict] = [contention_probe()]
        self._probe_sampler = ProbeSampler(self.probes, interval=5.0).__enter__()
        self._cpu0 = _cpu_times()
        self.peak_rss_kb = 0
        self._stop = threading.Event()
        self._sampler: threading.Thread | None = None

    # -- session ---------------------------------------------------------
    def start_session(self):
        from datawarehouse_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{self.cpus}]",
            extra_conf=bench_conf(self.work),
        )
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        return gw.proc.pid if gw is not None and gw.proc is not None else None

    def start_sampling(self) -> None:
        """Start the peak-RSS sampling of this process plus its JVM."""
        self._sampler = threading.Thread(target=self._sample, daemon=True)
        self._sampler.start()

    def stop_sampling(self) -> None:
        """End the peak-RSS sampling, so that the checker's own memory
        does not count."""
        self._stop.set()
        if self._sampler is not None:
            self._sampler.join(timeout=5)

    def shutdown(self) -> None:
        """Stop the session, the JVM and every process under it, and
        wait for each to end."""
        from pyspark import SparkContext

        self.stop_sampling()
        self._probe_sampler.__exit__(None, None, None)
        self.stop_session()
        gw = SparkContext._gateway
        if gw is not None:
            proc = gw.proc
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)
        _reap_children(timeout=15)

    # -- sampling ----------------------------------------------------------
    def _sample(self) -> None:
        me = os.getpid()
        while not self._stop.wait(0.1):
            jvm = self.jvm_pid()
            rss = _rss_kb(me) + (_rss_kb(jvm) if jvm else 0)
            self.peak_rss_kb = max(self.peak_rss_kb, rss)

    def contention(self) -> dict:
        self.probes.append(self._probe())
        delta = [b - a for a, b in zip(self._cpu0, _cpu_times())]
        return {
            # share of CPU time the hypervisor gave to other guests
            "steal_share": round(delta[7] / max(1, sum(delta)), 4),
            "load1_max": max(p["load1"] for p in self.probes),
            "foreign": sorted({f for p in self.probes for f in p["foreign"]}),
            "probes": len(self.probes),
        }

    # -- per-request hygiene -------------------------------------------------
    def drop_persisted(self) -> int:
        """Count the RDDs a call left persisted, then drop them and the
        SQL cache, so one request cannot warm the next."""
        sc = self.spark.sparkContext
        n = len(sc._jsc.getPersistentRDDs())
        if n:
            self.spark.catalog.clearCache()
            for rdd in list(sc._jsc.getPersistentRDDs().values()):
                rdd.unpersist(False)
        return n

    # -- Spark status counters -----------------------------------------------
    def stage_counters(self) -> dict[str, dict[str, float]]:
        """Jobs, stages, tasks, failed tasks, shuffle-write bytes and
        input records of the current session, summed per job-group
        prefix (the part before ``:``), from the status store."""
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        group_of_stage: dict[int, str] = {}
        out: dict[str, dict[str, float]] = {}
        it = store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            g = j.jobGroup()
            group = g.get().split(":")[0] if g.isDefined() else "other"
            c = out.setdefault(group, dict.fromkeys(
                ("jobs", "stages", "tasks", "failed_tasks", "shuffle_bytes",
                 "input_records"), 0))
            c["jobs"] += 1
            sit = j.stageIds().iterator()
            while sit.hasNext():
                group_of_stage[sit.next()] = group
        empty = sc._gateway.new_array(sc._jvm.double, 0)
        it = store.stageList(None, False, False, empty, None).iterator()
        while it.hasNext():
            s = it.next()
            if str(s.status()) == "SKIPPED":
                continue
            c = out.get(group_of_stage.get(s.stageId(), "other"))
            if c is None:
                continue
            c["stages"] += 1
            c["tasks"] += s.numTasks()
            c["failed_tasks"] += s.numFailedTasks()
            c["shuffle_bytes"] += s.shuffleWriteBytes()
            c["input_records"] += s.inputRecords()
        return out

"""What every workload shares: the curate configs and the Spark session."""

from __future__ import annotations

import os
import signal
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "4g"


def curate_config(workload: str):
    from scripts_spark.plans.pipeline import CurateConfig

    if workload == "curate_default":
        # 16 buckets (4 x cores): 64 add ~14 s of per-task cost to a
        # cold 1.5k-page iteration, which a full benchmark pass cannot afford
        return CurateConfig(num_buckets=16)
    if workload == "curate_para":
        return CurateConfig(num_buckets=16, para_dedup=True, text_from_html=True)
    if workload == "curate_dedup":
        # component mode is the CLI default for --near-dedup
        return CurateConfig(num_buckets=16, para_dedup=True, near_dedup=True,
                            text_from_html=True)
    return CurateConfig(para_dedup=True, near_dedup=True,
                        near_dedup_mode="neighbor")


def descendants() -> list[int]:
    """Pids of every live descendant of this process."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(os.getpid(), []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def end_descendants(timeout: float = 30.0) -> None:
    """Terminate every process this run started that is still alive —
    a JVM whose session start was interrupted has no session to stop —
    and wait until each has ended (SIGKILL after ``timeout``)."""
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while True:
        while True:  # reap children that have exited
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        pids = descendants()
        if not pids:
            return
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def start_spark(work: str, extra: dict[str, str] | None = None):
    """The session every CLI command uses (session.get_spark), with
    scratch space kept inside the run's work directory."""
    cores = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    from scripts_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        **(extra or {}),
    }
    spark = get_spark(app_name="perfbench", master=f"local[{cores}]",
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session and end every process it started: the gateway
    JVM exits when its stdin closes, and the pyspark daemon and workers
    when the JVM is gone. Waits for all of them."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None and gateway.proc is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=timeout)
    # the next get_spark launches a fresh JVM
    SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout
    while descendants() and time.monotonic() < deadline:
        time.sleep(0.1)


def timed_start(work: str, extra: dict[str, str] | None):
    """Start the session (a fresh JVM). Returns it and the start time.
    One start per run: a second, for a median, would add ~8 s to each
    of a full benchmark pass's 48 runs, which on a slow host takes the
    pass past its time limit."""
    t = time.perf_counter()
    spark = start_spark(work, extra)
    start_s = time.perf_counter() - t
    print(f"setup_s={start_s:.3f}", flush=True)
    return spark, start_s

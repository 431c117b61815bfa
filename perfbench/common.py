"""Paths, host sizing, cache keys and small helpers shared by the
benchmark's processes."""

from __future__ import annotations

import json
import os
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = os.path.join(ROOT, "search_engine_spark")
CACHE = os.path.join(ROOT, ".perfbench")

# Corpus sizes. Both corpora come from one fixed corpus seed (the small
# one is a prefix of the large one); the run's seed picks the queries.
# The serve corpus is large enough that head terms span up to ~200
# posting blocks; the small corpus keeps Spark builds and fuzzy
# vocabulary scans short enough to repeat inside one run.
CORPUS_SEED = 20240501
SERVE_PAGES = 25_000
SMALL_PAGES = 3_000
WARMUP_PAGES = 500


def cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def heap_mb() -> int:
    """Spark driver heap: an eighth of MemTotal, at most 2 GiB."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return max(1024, min(2048, int(line.split()[1]) // 8192))
    return 2048


def engine_config():
    """EngineConfig sized to this host: two range partitions per core
    instead of the default 32, whose per-task cost doubles a small build."""
    from search_engine_spark.config import EngineConfig

    return EngineConfig(index_partitions=2 * cores(), shuffle_partitions=2 * cores())


def child_env() -> dict:
    """Environment for every process the benchmark starts: program on the
    path, and Spark's scratch, temp and warehouse dirs inside the cache."""
    tmp = os.path.join(CACHE, "tmp")
    local = os.path.join(CACHE, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ)
    env["PYTHONPATH"] = ROOT + (os.pathsep + env["PYTHONPATH"] if env.get("PYTHONPATH") else "")
    env["SPARK_LOCAL_DIRS"] = local
    env["TMPDIR"] = tmp
    # no hsperfdata files under /tmp from the Spark JVMs
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    env["PYTHONHASHSEED"] = "0"
    env.pop("SPARK_GRAFT_MASTER", None)
    return env


def spark_session(event_log: str | None = None):
    from search_engine_spark import get_spark

    tmp = os.path.join(CACHE, "tmp")
    conf = {
        "spark.driver.memory": f"{heap_mb()}m",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + event_log
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    n = cores()
    spark = get_spark(app_name="perfbench", master=f"local[{n}]", shuffle_partitions=2 * n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def tree_digest(paths: list[str]) -> str:
    """sha256 over every regular file under ``paths`` (sorted), skipping
    bytecode caches."""
    import hashlib

    h = hashlib.sha256()
    files = []
    for p in paths:
        if os.path.isfile(p):
            files.append(p)
            continue
        for d, subdirs, names in os.walk(p):
            subdirs[:] = sorted(s for s in subdirs if s != "__pycache__")
            files += [os.path.join(d, n) for n in names if not n.endswith((".pyc", ".pyo"))]
    for f in sorted(files):
        with open(f, "rb") as fh:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0" + fh.read())
    return h.hexdigest()[:16]


def engine_digest() -> str:
    return tree_digest([PKG])


def oracle_digest() -> str:
    return tree_digest(
        [
            os.path.join(PKG, "oracle", "pyref.py"),
            os.path.join(PKG, "config.py"),
            os.path.join(PKG, "data", "stopwords.txt"),
        ]
    )


def process_start_time() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb(pid: int | None = None) -> float:
    """Sum of VmHWM (peak resident set) over a process and all its live
    descendants: the Python driver, the Spark JVM and its Python workers."""
    pid = pid or os.getpid()
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except OSError:
            continue
        children.setdefault(ppid, []).append(int(name))
    total_kb, todo = 0, [pid]
    while todo:
        p = todo.pop()
        todo += children.get(p, [])
        try:
            with open(f"/proc/{p}/status") as f:
                total_kb += next((int(l.split()[1]) for l in f if l.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return total_kb / 1024.0


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, names in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, n)) for n in names if not n.startswith((".", "_")))
    return total


def index_bytes(path: str) -> int:
    """Bytes of the index tables a reader loads: postings, doc_dim, term_stats."""
    return sum(dir_bytes(os.path.join(path, t)) for t in ("postings", "doc_dim", "term_stats"))


def index_shape(path: str, queries: list[str]) -> dict:
    """Postings, blocks and vocabulary of a built index, and the df of the
    terms the queries use."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as papq

    m = read_json(os.path.join(path, "_MANIFEST.json"))["stages"]
    shape = {"postings": m["postings"]["postings"], "blocks": m["postings"]["blocks"], "vocabulary": m["term_stats"]["rows"]}
    ts = papq.read_table(os.path.join(path, "term_stats"), columns=["term", "df"])
    terms = pa.array(sorted({t for q in queries for t in q.split()}))
    dfs = sorted(ts.filter(pc.is_in(ts.column("term"), value_set=terms)).column("df").to_pylist())
    if dfs:
        shape["queried_df"] = {"min": dfs[0], "median": median(dfs), "max": dfs[-1], "terms": len(dfs)}
    return shape


def percentile(xs: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))]


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else 0.5 * (s[n // 2 - 1] + s[n // 2])


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def read_json(path: str):
    with open(path) as f:
        return json.load(f)


class CoreRotor:
    """Moves the calling thread to the next allowed core every ``DWELL_S``
    seconds. On a host whose cores suffer different, slowly changing
    interference from other tenants, a single-threaded client otherwise
    stays on one core for a whole run and inherits that core's speed; a
    client that visits every core samples them alike."""

    DWELL_S = 0.25

    def __init__(self):
        self.cpus = sorted(os.sched_getaffinity(0))
        self.i = 0
        self.t = time.perf_counter()

    def tick(self) -> None:
        now = time.perf_counter()
        if now - self.t >= self.DWELL_S:
            self.i = (self.i + 1) % len(self.cpus)
            os.sched_setaffinity(0, {self.cpus[self.i]})
            self.t = now


class Clock:
    """Monotonic deadline helper."""

    def __init__(self, seconds: float):
        self.t0 = time.perf_counter()
        self.seconds = seconds

    def left(self) -> bool:
        return time.perf_counter() - self.t0 < self.seconds


def _group_alive(pgid: int) -> bool:
    """True while any non-zombie process is in process group ``pgid``."""
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid and fields[0] != "Z":
            return True
    return False


def run_group(cmd: list[str], timeout: float) -> int:
    """Run ``cmd`` in its own process group with stdout sent to our stderr.
    Whatever happens, every process of the group has ended on return: on
    timeout the group is killed, and stragglers (a JVM outliving its
    Python parent) get a grace period before SIGKILL."""
    import signal
    import subprocess
    import sys

    p = subprocess.Popen(cmd, env=child_env(), cwd=ROOT, start_new_session=True, stdout=sys.stderr)
    try:
        rc = p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        rc = -signal.SIGKILL
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
    deadline = time.time() + 20
    while _group_alive(p.pid):
        if time.time() > deadline:
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                break
        time.sleep(0.1)
    return rc

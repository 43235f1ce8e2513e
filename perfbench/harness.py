"""Shared plumbing for the osprey_spark benchmark.

Session lifecycle (including stopping the JVM and its Python workers),
the seeded input/reference cache, RSS sampling, the correctness gate
and the small statistics helpers every workload uses. Nothing here is
timed by itself; the workloads decide what sits inside a timed window.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time
import uuid

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
# driver heap unless SPARK_DRIVER_MEMORY is set (see Sessions)
DRIVER_MEMORY = "2g"

# The fused three-mechanism ruleset: the production-scale BENCH_SML plus
# two window counters and a tool-sequence CEP pattern on one key, which
# the compiler fuses into a single applyInPandasWithState pass.
FUSED_EXTRA = (
    "\nWcKey: str = JsonData(path='$.conv_id')"
    "\nTurnRate = IncrementWindow(key=WcKey, window_seconds=600.0)"
    "\nHourRate = IncrementWindow(key=WcKey, window_seconds=3600.0)"
    "\nRoleSym: str = JsonData(path='$.role')"
    "\nToolLoop = SequenceMatches(key=WcKey, symbol=RoleSym, pattern='tooltool', last_k=24)"
    "\nBurstConv = TurnRate >= 20\n"
)

# Sink bookkeeping columns that are not part of a turn's result.
SINK_COLUMNS = ("_batch_id", "_bucket")
KEY = ("conv_id", "turn_idx")


def fused_sml() -> str:
    from osprey_spark.rulesets import BENCH_SML

    return BENCH_SML + FUSED_EXTRA


def host_cpus() -> int:
    """The cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


# ----------------------------------------------------------------------
# statistics
# ----------------------------------------------------------------------


def quantile(values, q: float) -> float:
    """Linear-interpolated quantile of a non-empty sample."""
    xs = sorted(values)
    if len(xs) == 1:
        return float(xs[0])
    pos = q * (len(xs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return float(xs[lo] + (xs[hi] - xs[lo]) * (pos - lo))


def weighted_quantile(pairs, q: float) -> float:
    """Quantile of values given as (value, weight) pairs, weight = the
    number of turns that share the value (one file's turns share one
    due time and one commit time)."""
    pairs = sorted(pairs)
    total = sum(w for _, w in pairs)
    target = q * total
    acc = 0
    for v, w in pairs:
        acc += w
        if acc >= target:
            return float(v)
    return float(pairs[-1][0])


def summary(values) -> dict:
    """Median, quartiles and sample count of a sample."""
    values = list(values)
    if not values:
        return {"n": 0}
    return {
        "median": statistics.median(values),
        "q1": quantile(values, 0.25),
        "q3": quantile(values, 0.75),
        "n": len(values),
    }


# ----------------------------------------------------------------------
# process tree and RSS
# ----------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command field may hold spaces; ppid is the 2nd field after ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(pid: int) -> list[int]:
    """``pid`` and all its descendants."""
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: pages shared between the forked Python
    workers are split between them, so a sum over processes counts each
    page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


class RssSampler:
    """Samples the memory of a process tree (the driver JVM and the
    Python workers it forks) from /proc while ``active`` is set: the sum
    of proportional set sizes, with the JVM's share at the peak."""

    def __init__(self, root_pid: int, period_s: float = 0.2):
        self.root_pid = root_pid
        self.period_s = period_s
        self.peak_kb = 0
        self.peak_split = {}
        self.active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self):
        while not self._stop.wait(self.period_s):
            if self.active.is_set():
                pids = process_tree(self.root_pid)
                kb = {p: _pss_kb(p) for p in pids}
                total = sum(kb.values())
                if total > self.peak_kb:
                    self.peak_kb = total
                    self.peak_split = {
                        "jvm_mb": kb.get(self.root_pid, 0) / 1024.0,
                        "python_mb": (total - kb.get(self.root_pid, 0)) / 1024.0,
                        "processes": len(pids),
                    }

    def close(self):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ----------------------------------------------------------------------
# session lifecycle
# ----------------------------------------------------------------------


class Sessions:
    """Owns the SparkSession(s) of one benchmark run.

    All temporary space (Spark local dirs, the JVM's and Python's temp
    dirs, event logs) lives under ``run_dir`` inside the checkout.
    ``close()`` stops the session, closes the JVM's stdin (the gateway
    exits on EOF) and waits until the JVM and every process it forked
    has ended."""

    def __init__(self, run_dir: str, cpus: int):
        self.run_dir = run_dir
        self.cpus = cpus
        self.spark = None
        self.event_log_dir = os.path.join(run_dir, "eventlog")
        self.tmp = os.path.join(run_dir, "tmp")
        os.makedirs(self.tmp, exist_ok=True)
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
        # build_session's default heap is 8g. On a host whose memory is
        # shared, the driver then grows to 3-4 GB and its peak swings by
        # a quarter from run to run; 2g holds these inputs with little GC.
        os.environ.setdefault("SPARK_DRIVER_MEMORY", DRIVER_MEMORY)
        # the Python workers import osprey_spark from the checkout too
        os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH"))))
        self.jvm_pid = None
        self._running = None

    def start(self, cores: int | None = None, event_log: bool = False):
        """``build_session`` at ``local[cores]``. A running application
        with the same cores and event logging is kept (``build_session``
        returns its session); otherwise it is stopped first and a new one
        starts on the same JVM."""
        from osprey_spark.session import build_session

        cores = cores or self.cpus
        if self._running != (cores, event_log):
            self.stop()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.eventLog.enabled": "true" if event_log else "false",
        }
        if event_log:
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf["spark.eventLog.dir"] = "file://" + self.event_log_dir
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        self.spark = build_session(
            "osprey_perfbench",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            extra_conf=conf,
        )
        self._running = (cores, event_log)
        if self.jvm_pid is None:
            from pyspark import SparkContext

            self.jvm_pid = SparkContext._gateway.proc.pid
        return self.spark

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        self._running = None

    def close(self, timeout_s: float = 60.0):
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        pids = process_tree(proc.pid) if proc is not None else []
        with contextlib.suppress(Exception):
            gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is None:
            return
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=timeout_s)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
        deadline = time.time() + timeout_s
        while any(_alive(p) for p in pids) and time.time() < deadline:
            time.sleep(0.05)
        for p in pids:
            if _alive(p):
                with contextlib.suppress(OSError):
                    os.kill(p, 9)


# ----------------------------------------------------------------------
# seeded inputs and batch references (harness cost, cached)
# ----------------------------------------------------------------------


# bump when the cached layout changes, so stale caches are not read
CACHE_LAYOUT = 6


def cache_dir(workload: str, seed: int, shape: dict) -> str:
    key = json.dumps({"layout": CACHE_LAYOUT, **shape}, sort_keys=True)
    tag = hashlib.sha1(key.encode()).hexdigest()[:10]
    return os.path.join(WORK, "cache", f"{workload}-s{seed}-{tag}")


def build_cached(path: str, build) -> dict:
    """Run ``build(tmp_dir) -> manifest`` once per path; the directory
    appears atomically, so an interrupted build is redone next time."""
    manifest = os.path.join(path, "manifest.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return json.load(f)
    tmp = f"{path}.tmp-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    try:
        meta = build(tmp)
        with open(os.path.join(tmp, "manifest.json"), "w") as f:
            json.dump(meta, f)
        shutil.rmtree(path, ignore_errors=True)
        os.replace(tmp, path)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return meta


def write_turn_files(spark, turns, out_dir: str, n_files: int, by: str) -> list[dict]:
    """Write ``turns`` as exactly ``n_files`` parquet files named
    ``00000.parquet``, ``00001.parquet``, ... and return
    ``[{"name", "rows"}]`` in name order.

    ``by="conv"`` clusters files by murmur3 hash(conv_id) (a conversation
    lives in one file). The state buckets hash the key with xxhash64, so
    every file holds keys of every bucket and every micro-batch touches
    all the state; ``by="time"`` cuts files in event-time order (file k
    holds the k-th slice of turns ordered by ts). The inputs are small,
    so the slices are cut from one Arrow table in this process."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    if by == "conv":
        sliced = turns.withColumn("_slice", F.pmod(F.hash("conv_id"), F.lit(n_files)))
    else:
        total = turns.count()
        rank = F.row_number().over(Window.orderBy("ts", "conv_id", "turn_idx")) - 1
        sliced = turns.withColumn("_slice", (rank * n_files / total).cast("int"))
    table = sliced.toArrow()
    slices = table.column("_slice")
    table = table.drop_columns(["_slice"])
    os.makedirs(out_dir, exist_ok=True)
    files = []
    for k in range(n_files):
        part = table.filter(pc.equal(slices, k))
        name = f"{k:05d}.parquet"
        pq.write_table(part, os.path.join(out_dir, name))
        files.append({"name": name, "rows": part.num_rows})
    return files


def write_reference(spark, ruleset, input_dir: str, ref_dir: str, passthrough) -> None:
    """Batch ``CompiledRuleset.apply`` over the same input the stream
    reads: the row-for-row reference of the correctness gate."""
    from osprey_spark.sources import read_turns
    from osprey_spark.turns import with_envelope

    ruleset.apply(
        with_envelope(read_turns(spark, input_dir)), passthrough=list(passthrough)
    ).write.parquet(ref_dir)


# ----------------------------------------------------------------------
# correctness gate
# ----------------------------------------------------------------------


def result_columns(df) -> list[str]:
    return [c for c in df.columns if c not in SINK_COLUMNS]


def check_turns(spark, committed, ref_dir: str) -> tuple[int, int]:
    """Join the committed rows to the batch reference on (conv_id,
    turn_idx) and compare a hash over every feature plus ``__verdicts``.
    Returns (expected turns, failed turns): a turn missing, written more
    than once, differing, or present without a reference row fails."""
    from pyspark.sql import functions as F

    ref = spark.read.parquet(ref_dir)
    cols = result_columns(ref)
    h = F.xxhash64(*[F.col(c) for c in cols]).alias("h")
    got = committed.groupBy(*KEY).agg(
        F.count(F.lit(1)).alias("n"), F.first(F.xxhash64(*[F.col(c) for c in cols])).alias("h")
    )
    want = ref.select(*KEY, h)
    joined = want.alias("w").join(got.alias("g"), list(KEY), "full_outer")
    bad = (
        F.col("w.h").isNull()
        | F.col("g.h").isNull()
        | (F.col("g.n") != 1)
        | (F.col("w.h") != F.col("g.h"))
    )
    row = joined.agg(
        F.sum(F.when(F.col("w.h").isNotNull(), 1).otherwise(0)).alias("expected"),
        F.sum(F.when(bad, 1).otherwise(0)).alias("failed"),
    ).collect()[0]
    return int(row["expected"] or 0), int(row["failed"] or 0)


def rows_digest(rows) -> str:
    """Order-insensitive digest of collected rows."""
    reprs = sorted(repr(tuple(r)) for r in rows)
    return hashlib.sha1("\n".join(reprs).encode()).hexdigest()


# ----------------------------------------------------------------------
# streaming bookkeeping read back from disk
# ----------------------------------------------------------------------


def file_batches(checkpoint_dir: str) -> dict[str, int]:
    """File name → micro-batch id, from the file source's metadata log
    (``<checkpoint>/sources/0/<batch>`` and its ``.compact`` files)."""
    d = os.path.join(checkpoint_dir, "sources", "0")
    out: dict[str, int] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith(".") or name.endswith(".tmp"):
            continue
        with contextlib.suppress(OSError), open(os.path.join(d, name)) as f:
            for line in f:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                with contextlib.suppress(ValueError):
                    rec = json.loads(line)
                    out[os.path.basename(rec["path"])] = int(rec["batchId"])
    return out


def commit_markers(output_dir: str) -> dict[int, dict]:
    """Batch id → commit marker of the exactly-once sink."""
    d = os.path.join(output_dir, "_commits")
    out: dict[int, dict] = {}
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.endswith(".json"):
            with contextlib.suppress(OSError, ValueError), open(os.path.join(d, name)) as f:
                out[int(name[:-5])] = json.load(f)
    return out


def host_record(spark, cpus: int, seed: int, turns: int) -> dict:
    from osprey_spark.streaming.buckets import state_bucket_count

    return {
        "cpus": cpus,
        "state_buckets": state_bucket_count(),
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "spark": spark.version,
        "python": platform.python_version(),
        "machine": platform.machine(),
        "input_turns": turns,
        "seed": seed,
        "argv": sys.argv[1:],
    }

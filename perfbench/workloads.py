"""The four benchmark workloads and the phases they share.

Every run has the same shape:

1. cold start: launch the JVM and the Spark application (reported, not
   in ``setup_s``);
2. inputs: generate the seeded turns once per (workload, seed, shape)
   and cache them — a harness cost, untimed;
3. set-up: ``build_session`` (the running application is kept),
   ``compile_ruleset``, engine construction, the ``transform(source())``
   plan build, a warm-up drain of the input's head and the query
   filters, compiled against the table that drain wrote;
4. ingest: the workload's stream through the exactly-once sink
   (closed-loop drains after an untimed drain of the first batch, or
   the open-loop ``live`` schedule);
5. query (``investigate`` and traced runs): the analyst's seeded
   osprey-UI query sequence over ``read_committed()`` of the table the
   ingest wrote;
6. untraced runs: ``SETUPS - 1`` more set-ups. ``setup_s`` is the median
   of all ``SETUPS``. The first one is the JVM's first streaming work
   and pays JIT compilation, so the median leaves it out; the later
   ones run after the ingest, where the JIT has settled and they do not
   disturb the timed window;
7. the correctness gate over phases 4 and 5, against the batch
   reference (also cached). It is built here, after the timed phases,
   so that whether it was cached changes nothing that is timed.

``backlog`` and ``wide_state`` spend their window in phase 4;
``investigate`` ingests once in small batches and spends its window in
phase 5; ``live`` is open loop in phase 4.
"""

from __future__ import annotations

import copy
import json
import os
import random
import shutil
import statistics
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone

from perfbench import harness as H

# live: constant arrival schedule (never derived at run time)
LIVE_RATE_TURNS_PER_S = 1200
LIVE_PERIOD_S = 0.25
# live: the latency limit verdict_p90_s is held to, and the sanity limits
# on the generator and on backlog growth that decide whether a run counts
VERDICT_P90_LIMIT_S = 6.0
GEN_LATE_LIMIT_S = 0.1
BACKLOG_GROWTH_LIMIT_FILES = 4

SETUPS = 3
# The analyst's query sequence has its own fixed seed: the run's --seed
# reaches generate_turns only, so every run asks the same questions.
ANALYST_SEED = 7
ANALYST_SEQUENCE = 100
TRACED_QUERIES = 30

# Input shapes at full size; ``--size tiny`` (self-tests) shrinks them.
# A micro-batch pays about a second of fixed cost on 4 cores (listing,
# WAL, planning, state dispatch, sink commit), so the closed-loop shapes
# drain in two batches of 40-50k turns each, where per-turn work leads.
SHAPES = {
    "backlog": {
        "gen": {"n_convs": 8000, "turns_per_conv": 10, "text_repeat": 16},
        "n_files": 16,
        "files_per_trigger": 8,
        "by": "conv",
    },
    "wide_state": {
        "gen": {"n_convs": 100000, "turns_per_conv": 1, "text_repeat": 1},
        "n_files": 16,
        "files_per_trigger": 8,
        "by": "conv",
    },
    "live": {
        "gen": {"turns_per_conv": 10, "text_repeat": 8},
        "by": "time",
    },
    "investigate": {
        "gen": {"n_convs": 1500, "turns_per_conv": 10, "text_repeat": 4},
        "n_files": 8,
        "files_per_trigger": 1,
        "by": "conv",
    },
}
TINY = {"n_convs": 60, "turns_per_conv": 4}

# UI filters, in the SML query language, over the results table.
FILTERS = (
    None,
    "HasUrl",
    "Role == 'user'",
    "TextLen > 60",
    "HasHello and not IsAssistant",
    "NumTokens >= 12 or HasEmail",
    "TurnRate >= 3",
    "MentionsMoney or HasShout",
    "BurstConv or ToolLoop",
)
QUERY_KINDS = ("topn", "topn_pop", "timeseries", "paginated_scan", "count_distinct", "approx_distinct")
DIMS = ("Role", "Cohort", "ToolName", "__verdicts", "NumUrls", "TurnRate")
_SML_TYPES = {"string": "str", "int": "int", "bigint": "int", "double": "float", "boolean": "bool"}


def _epoch(iso: str) -> float:
    return datetime.strptime(iso, "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc).timestamp()


def analyst_sequence(seed: int) -> list[dict]:
    """The seeded osprey-UI query sequence (same seed, same queries);
    the kinds cycle, so any prefix mixes them evenly."""
    rnd = random.Random(seed)
    seq = []
    for i in range(ANALYST_SEQUENCE):
        kind = QUERY_KINDS[i % len(QUERY_KINDS)]
        q = {"kind": kind, "filter": rnd.choice(FILTERS)}
        if kind in ("topn", "topn_pop"):
            q["dim"] = rnd.choice(DIMS)
            q["limit"] = rnd.choice((5, 10, 20))
        if kind == "topn_pop":
            start = rnd.randrange(1, 20)
            q["period"] = (
                f"2024-01-01 {start:02d}:00:00",
                f"2024-01-01 {min(start + rnd.choice((1, 2, 4)), 23):02d}:59:59",
            )
        if kind == "timeseries":
            q["granularity"] = rnd.choice(("hour", "minute"))
            q["agg_dim"] = rnd.choice((None, "Role"))
        if kind == "paginated_scan":
            q["cursor"] = f"2024-01-01 {rnd.randrange(0, 24):02d}:{rnd.randrange(60):02d}:00"
            q["limit"] = rnd.choice((50, 100))
        if kind in ("count_distinct", "approx_distinct"):
            q["dim"] = rnd.choice(("conv_id", "TextMd5"))
            q["group_by"] = rnd.choice((None, "Role"))
        seq.append(q)
    return seq


def build_query(df, q: dict, filters: dict):
    """The analytics plan for one sequence entry (plan build only)."""
    from osprey_spark.plans import analytics as A

    where = filters[q["filter"]] if q["filter"] else None
    kind = q["kind"]
    if kind == "topn":
        return A.topn(df, q["dim"], q["limit"], where=where)
    if kind == "topn_pop":
        return A.topn_pop(df, q["dim"], "ts", *q["period"], limit=q["limit"], where=where)
    if kind == "timeseries":
        return A.timeseries(df, "ts", q["granularity"], agg_dim=q["agg_dim"], where=where)
    if kind == "paginated_scan":
        # only ts is selected: rows tied on ts are interchangeable, so
        # the page is deterministic across file layouts
        return A.paginated_scan(df, "ts", cursor=q["cursor"], limit=q["limit"], columns=["ts"], where=where)
    if kind == "count_distinct":
        return A.count_distinct(df.filter(where) if where is not None else df, q["dim"], q["group_by"])
    return A.approx_distinct(df.filter(where) if where is not None else df, q["dim"], group_by=q["group_by"])


class Run:
    """One benchmark run of one workload."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, size: str = "full"):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.size = size
        self.cpus = H.host_cpus()
        self.run_dir = os.path.join(H.WORK, "runs", f"{workload}-{os.getpid()}")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        self.sessions = H.Sessions(self.run_dir, self.cpus)
        self.spans: list[tuple[str, float, float]] = []
        self.attempted = 0
        self.failed = 0
        self.inputs_s = None
        self.settle_turns_per_s = None
        self._n = 0
        self.rss = None

    # -- helpers ---------------------------------------------------------

    @property
    def spark(self):
        return self.sessions.spark

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        d = os.path.join(self.run_dir, f"{tag}{self._n}")
        shutil.rmtree(d, ignore_errors=True)
        return d

    def shape(self) -> dict:
        s = copy.deepcopy(SHAPES[self.workload])
        if self.workload == "live":
            n_files = max(int(round(self.seconds / LIVE_PERIOD_S)), 4)
            turns = LIVE_RATE_TURNS_PER_S * LIVE_PERIOD_S * n_files
            tpc = s["gen"]["turns_per_conv"]
            # generate_turns adds 10 hot conversations with 49x extra turns
            s["gen"]["n_convs"] = max(int((turns - 10 * tpc * 49) / tpc), 10)
            s["n_files"] = n_files
        if self.size == "tiny":
            s["gen"].update(TINY)
            s["n_files"] = min(s["n_files"], 8)
            s["files_per_trigger"] = min(s.get("files_per_trigger", 1), 4)
        return s

    # -- inputs ------------------------------------------------------------

    def ensure_inputs(self) -> dict:
        """Seeded input files, cached per (workload, seed, shape). Only
        ``generate_turns`` receives the seed. Two prefixes of the files
        are also kept apart: ``head`` (the first sixteenth), the
        set-up's warm-up input, and ``settle`` (the first batch), the
        closed-loop settle drain's input."""
        from osprey_spark.turns import generate_turns

        shape = self.shape()
        spark = self.spark

        def build(tmp):
            turns = generate_turns(spark, seed=self.seed, **shape["gen"])
            files = H.write_turn_files(spark, turns, os.path.join(tmp, "in"), shape["n_files"], shape["by"])
            for sub, part in (("head", head_files(files)), ("settle", files[: self.files_per_trigger()])):
                os.makedirs(os.path.join(tmp, sub))
                for f in part:
                    shutil.copyfile(os.path.join(tmp, "in", f["name"]), os.path.join(tmp, sub, f["name"]))
            return {"files": files, "turns": sum(f["rows"] for f in files), "shape": shape}

        t0 = time.time()
        path = H.cache_dir(self.workload, self.seed, shape)
        meta = H.build_cached(path, build)
        self.inputs_s = time.time() - t0
        meta.update(dir=path, **{k: os.path.join(path, k) for k in ("in", "head", "settle", "ref")})
        meta["head_files"] = head_files(meta["files"])
        return meta

    def ensure_reference(self, meta: dict) -> None:
        """The batch reference of the inputs, cached beside them."""
        from osprey_spark.compiler import compile_ruleset
        from osprey_spark.turns import TURN_BINDINGS

        if os.path.isdir(meta["ref"]):
            return
        rs = compile_ruleset({"main.sml": H.fused_sml()}, bindings=TURN_BINDINGS)
        tmp = f"{meta['ref']}.tmp-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        H.write_reference(self.spark, rs, meta["in"], tmp, ("conv_id", "turn_idx", "ts"))
        os.replace(tmp, meta["ref"])

    def reference_digests(self, meta: dict, indices: list[int]) -> dict[int, str]:
        """Digest of each analyst query over the batch reference table."""
        ref_df = self.spark.read.parquet(meta["ref"])

        def digest(i):
            return H.rows_digest(build_query(ref_df, self.sequence[i], self.filters).collect())

        # small jobs: run them side by side (harness cost, untimed)
        with ThreadPoolExecutor(self.cpus) as pool:
            return dict(zip(indices, pool.map(digest, indices)))

    # -- set-up --------------------------------------------------------------

    def setup_once(self, meta: dict) -> dict:
        """One set-up as a job pays it at start: session, compile,
        engine construction, plan build, the warm-up drain of the
        input's head and the UI filters."""
        from osprey_spark.compiler import compile_query_filter, compile_ruleset
        from osprey_spark.streaming.sink import ExactlyOnceParquetSink
        from osprey_spark.turns import TURN_BINDINGS

        t0 = time.time()
        self.sessions.start(event_log=self.trace)
        t1 = time.time()
        self.ruleset = compile_ruleset({"main.sml": H.fused_sml()}, bindings=TURN_BINDINGS)
        t2 = time.time()
        d = self.drain(meta["head"], meta["head_files"], self.files_per_trigger())
        schema = ExactlyOnceParquetSink(d["out"]).read_committed(self.spark).schema
        ftypes = {
            f.name: _SML_TYPES[f.dataType.simpleString()]
            for f in schema.fields
            if f.dataType.simpleString() in _SML_TYPES
        }
        self.filters = {f: compile_query_filter(f, ftypes) for f in FILTERS if f}
        t3 = time.time()
        self.spans.append(("setup", t0, t3))
        return {
            "setup_s": t3 - t0,
            "session_s": t1 - t0,
            "compile_s": t2 - t1,
            "plan_build_s": d["plan_s"],
            "warm_drain_s": d["wall"],
        }

    def files_per_trigger(self) -> int:
        """Closed-loop batch size; ``live`` drains its files four per
        batch when it runs closed loop (warm-up, ladder)."""
        return self.shape().get("files_per_trigger") or 4

    # -- closed-loop drain -----------------------------------------------------

    def drain(self, input_dir: str, files: list[dict], files_per_trigger: int, stage: str = "sink", ruleset=None) -> dict:
        """Queue ``input_dir`` and drain it with ``availableNow``.

        ``stage`` picks how much of the pipeline runs (the traced layer
        ladder): ``scan`` → ``envelope`` → ``stateless`` → ``fused`` write
        to a noop ``foreachBatch``; ``sink`` is the full engine with the
        exactly-once sink, timed per batch in the ``foreachBatch`` wrapper."""
        from osprey_spark.streaming.pipeline import StreamingRuleEngine

        out = self.fresh_dir("out")
        engine = StreamingRuleEngine(
            self.spark,
            ruleset or self.ruleset,
            input_dir=input_dir,
            output_dir=out,
            max_files_per_trigger=files_per_trigger,
            repartition_buckets=self.shape()["by"] != "conv",
        )
        tp = time.time()
        if stage == "scan":
            df = engine.source()
        elif stage == "envelope":
            df = engine.envelope_fn(engine.source())
        else:
            df = engine.transform(engine.source())
        plan_s = time.time() - tp
        sink_times: list[tuple[int, float, float]] = []
        if stage == "sink":
            fn = timed_sink(engine.sink, sink_times)
        else:
            fn = _noop_batch
        writer = (
            df.writeStream.outputMode("append")
            .option("checkpointLocation", engine.checkpoint_dir)
            .foreachBatch(fn)
            .trigger(availableNow=True)
        )
        t0 = time.time()
        q = writer.start()
        q.awaitTermination()
        t1 = time.time()
        progress = [json.loads(p.json) for p in q.recentProgress]
        rec = {
            "out": out,
            "engine": engine,
            "t0": t0,
            "t1": t1,
            "wall": t1 - t0,
            "plan_s": plan_s,
            "progress": [p for p in progress if p.get("numInputRows")],
            "sink_times": sink_times,
            "turns": sum(f["rows"] for f in files),
        }
        if stage == "sink":
            rec["latency"], rec["queue_wait"] = closed_loop_latency(rec, files)
        return rec

    # -- phases ------------------------------------------------------------------

    def ingest_closed(self, meta: dict, seconds: float, settle: bool = False) -> list[dict]:
        """Drain the full backlog, each time into a fresh table, while
        another drain is expected to end within half a drain of
        ``seconds`` (at least once). With ``settle``, an untimed drain of
        the input's first batch comes first: the first batches after
        set-up run slower than the ones after them, and only the steady
        ones are timed."""
        if settle:
            fpt = self.files_per_trigger()
            d = self.drain(meta["settle"], meta["files"][:fpt], fpt)
            self.settle_turns_per_s = d["turns"] / d["wall"]
        drains = []
        start = time.time()
        while True:
            d = self.drain(meta["in"], meta["files"], self.files_per_trigger())
            self.spans.append(("ingest", d["t0"], d["t1"]))
            drains.append(d)
            if time.time() - start + d["wall"] / 2 >= seconds:
                return drains

    def ingest_live(self, meta: dict) -> dict:
        """Open loop: a generator thread renames the pre-staged files
        (cut in event-time order) into the watched directory, one every
        ``LIVE_PERIOD_S``, while the engine runs on its default trigger."""
        from osprey_spark.streaming.pipeline import StreamingRuleEngine

        files = meta["files"]
        staged = self.fresh_dir("staged")
        shutil.copytree(meta["in"], staged)
        watch = self.fresh_dir("watch")
        os.makedirs(watch)
        out = self.fresh_dir("out")
        engine = StreamingRuleEngine(self.spark, self.ruleset, input_dir=watch, output_dir=out)
        ckpt = engine.checkpoint_dir
        sink_times: list = []
        q = (
            engine.transform(engine.source())
            .writeStream.outputMode("append")
            .option("checkpointLocation", ckpt)
            .foreachBatch(timed_sink(engine.sink, sink_times))
            .start()
        )
        deadline = time.time() + 60
        while "Waiting for data" not in q.status["message"] and time.time() < deadline:
            time.sleep(0.05)

        t0 = time.time() + 0.1
        due = [t0 + k * LIVE_PERIOD_S for k in range(len(files))]
        late: list[float] = []
        backlog: list[tuple[float, int]] = []

        def generate():
            for k, f in enumerate(files):
                delay = due[k] - time.time()
                if delay > 0:
                    time.sleep(delay)
                src = os.path.join(staged, f["name"])
                now = time.time()
                os.utime(src, (now, now))
                os.replace(src, os.path.join(watch, f["name"]))
                late.append(time.time() - due[k])
                backlog.append((due[k] - t0, k + 1 - committed_files(ckpt, out)))

        gen = threading.Thread(target=generate, daemon=True)
        gen.start()
        gen.join(timeout=len(files) * LIVE_PERIOD_S + 60)
        drained_by = time.time() + 60
        while committed_files(ckpt, out) < len(files) and time.time() < drained_by:
            time.sleep(0.02)
        t1 = time.time()
        q.stop()
        q.awaitTermination(timeout=60)
        self.spans.append(("ingest", t0, t1))

        fb = H.file_batches(ckpt)
        markers = H.commit_markers(out)
        starts = {p["batchId"]: _epoch(p["timestamp"]) for p in (json.loads(x.json) for x in q.recentProgress)}
        latency, queue_wait, missing = [], [], 0
        for k, f in enumerate(files):
            b = fb.get(f["name"])
            if b is None or b not in markers:
                missing += f["rows"]
                continue
            latency.append((markers[b]["committed_at_unix"] - due[k], f["rows"]))
            if b in starts:
                queue_wait.append((starts[b] - due[k], f["rows"]))
        half = len(files) * LIVE_PERIOD_S / 2
        third = [b for t, b in backlog if half <= t < 1.5 * half]
        fourth = [b for t, b in backlog if t >= 1.5 * half]
        growth = (statistics.mean(fourth) - statistics.mean(third)) if third and fourth else 0.0
        gen_late_p90 = H.quantile(late, 0.9) if late else float("inf")
        last_commit = max((m["committed_at_unix"] for m in markers.values()), default=t1)
        turns = sum(f["rows"] for f in files)
        rec = {
            "out": out,
            "engine": engine,
            "t0": t0,
            "t1": t1,
            "wall": last_commit - t0,
            "turns": turns,
            "latency": latency,
            "queue_wait": queue_wait,
            "missing": missing,
            "gen_late_p90_s": gen_late_p90,
            "backlog_growth_files": growth,
            "progress": [json.loads(x.json) for x in q.recentProgress if x.numInputRows],
            "sink_times": sink_times,
            "void": gen_late_p90 > GEN_LATE_LIMIT_S or growth > BACKLOG_GROWTH_LIMIT_FILES or missing > 0,
        }
        return rec

    def query_phase(self, table_out: str, until: float | None, count: int) -> list[dict]:
        """Run the analyst sequence over ``read_committed()`` of the
        table at ``table_out``: ``count`` queries, or until ``until``."""
        from osprey_spark.streaming.sink import ExactlyOnceParquetSink

        table = ExactlyOnceParquetSink(table_out).read_committed(self.spark)
        results = []
        i = 0
        while True:
            q = self.sequence[i % len(self.sequence)]
            t0 = time.time()
            rec = {"index": i % len(self.sequence), "kind": q["kind"]}
            try:
                df = build_query(table, q, self.filters)
                t1 = time.time()
                rows = df.collect()
                t2 = time.time()
                rec.update(plan_s=t1 - t0, exec_s=t2 - t1, wall=t2 - t0, digest=H.rows_digest(rows))
            except Exception as e:  # a failing query is counted, not fatal
                rec.update(wall=time.time() - t0, error=repr(e)[:200])
            self.spans.append(("query", t0, time.time()))
            results.append(rec)
            i += 1
            if (until is not None and time.time() >= until) or (until is None and i >= count):
                return results

    def check_drain(self, meta: dict, d: dict) -> None:
        from osprey_spark.streaming.sink import ExactlyOnceParquetSink

        committed = ExactlyOnceParquetSink(d["out"]).read_committed(self.spark)
        expected, failed = H.check_turns(self.spark, committed, meta["ref"])
        if d.get("void"):
            failed = expected
        self.attempted += expected
        self.failed += failed

    def check_queries(self, meta: dict, results: list[dict]) -> None:
        refs = self.reference_digests(meta, sorted({r["index"] for r in results}))
        for r in results:
            self.attempted += 1
            if "error" in r or r["digest"] != refs[r["index"]]:
                self.failed += 1

    # -- the run -------------------------------------------------------------------

    def execute(self) -> dict:
        """Phases 1–7; returns the raw records the reporters read."""
        phases = {}
        t = time.time()

        def lap(name):
            nonlocal t
            now = time.time()
            phases[name] = now - t
            t = now

        self.sessions.start(event_log=self.trace)
        lap("cold_start")
        meta = self.ensure_inputs()
        lap("inputs")
        setups = [self.setup_once(meta)]
        self.sequence = analyst_sequence(ANALYST_SEED)
        lap("setup")

        shape = self.shape()
        self.rss = H.RssSampler(self.sessions.jvm_pid)
        self.rss.active.set()
        # the traced run does a fixed amount of work, so its counts compare
        if self.workload == "live":
            drains = [self.ingest_live(meta)]
        elif self.workload == "investigate" or self.trace:
            drains = self.ingest_closed(meta, 0)
        else:
            drains = self.ingest_closed(meta, self.seconds, settle=True)
        lap("ingest")
        queries = []
        if self.workload == "investigate" or self.trace:
            # analytics warm-up: the first query of each kind, untimed
            self.query_phase(drains[-1]["out"], None, len(QUERY_KINDS))
            timed = self.workload == "investigate" and not self.trace
            until = time.time() + self.seconds if timed else None
            queries = self.query_phase(drains[-1]["out"], until, TRACED_QUERIES)
        self.rss.active.clear()
        self.rss.close()
        lap("query")
        if not self.trace:
            setups += [self.setup_once(meta) for _ in range(SETUPS - 1)]
        lap("setup_warm")

        self.ensure_reference(meta)
        lap("reference")
        for d in drains:
            self.check_drain(meta, d)
        self.check_queries(meta, queries)
        lap("check")
        return {
            "meta": meta,
            "shape": shape,
            "cold_start_s": phases["cold_start"],
            "phase_s": phases,
            "setups": setups,
            "drains": drains,
            "queries": queries,
            "host": H.host_record(self.spark, self.cpus, self.seed, meta["turns"]),
        }

    def close(self) -> None:
        if self.rss is not None:
            self.rss.close()
        self.sessions.close()
        shutil.rmtree(self.run_dir, ignore_errors=True)


def head_files(files: list[dict]) -> list[dict]:
    """The set-up's warm-up input: the first sixteenth of the files."""
    return files[: max(len(files) // 16, 1)]


def committed_files(ckpt: str, out: str) -> int:
    """Input files whose micro-batch has a sink commit marker."""
    fb = H.file_batches(ckpt)
    d = os.path.join(out, "_commits")
    done = {int(n[:-5]) for n in os.listdir(d) if n.endswith(".json")} if os.path.isdir(d) else set()
    return sum(1 for b in fb.values() if b in done)


def closed_loop_latency(d: dict, files: list[dict]):
    """Per-file (latency, turns) for a drain: the whole backlog is due
    when the drain starts, a turn's verdict lands with its batch's sink
    commit. Also the queue wait from due time to its batch's start."""
    fb = H.file_batches(d["engine"].checkpoint_dir)
    markers = H.commit_markers(d["out"])
    starts = {p["batchId"]: _epoch(p["timestamp"]) for p in d["progress"]}
    latency, wait = [], []
    for f in files:
        b = fb.get(f["name"])
        if b is None or b not in markers:
            continue
        latency.append((markers[b]["committed_at_unix"] - d["t0"], f["rows"]))
        if b in starts:
            wait.append((max(starts[b] - d["t0"], 0.0), f["rows"]))
    return latency, wait


def timed_sink(sink, times: list):
    """foreachBatch body that times ``write_data`` and ``mark_commit``."""

    def write(df, batch_id):
        t0 = time.time()
        stats = sink.write_data(df, batch_id)
        t1 = time.time()
        sink.mark_commit(batch_id, stats)
        times.append((int(batch_id), t1 - t0, time.time() - t1))

    return write


def _noop_batch(df, batch_id):
    df.write.format("noop").mode("overwrite").save()

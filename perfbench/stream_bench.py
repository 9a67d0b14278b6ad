"""One run of a streaming workload: set up the reference topology, feed it
generated files open-loop and then closed-loop, check every sink against
the batch topology, and print the metrics.

Start it through ``run.py``, which sets the environment (Python-worker
import path, core count, scratch directories) and reaps the process tree.

Phases, in order:

1. set-up (``setup_s``): ``get_spark``, a first Python-worker job,
   ``build_streaming_topology`` over a file source, one memory-sink query
   per topology node, a warm-up file every sink must commit, and a wait
   until every query is idle;
2. open loop: ``--seconds`` worth of files placed at the workload's fixed
   rate whatever the queries are doing. One latency sample per
   (sink, file) is the commit wall time of the micro-batch that consumed
   the file minus the time the file was due;
3. closed loop: ``DRAIN_FILES`` more files, each placed only after every
   live sink committed the previous one and is idle; ``drain_rows_per_s``
   is the median over these steps of rows committed / step wall time;
4. a sentinel file closes every window; the sinks are stopped;
5. checks (untimed): each sink against batch ``build_topology`` over the
   same lines; in a traced run also the windowed reference registry
   queries over the same messages against their DuckDB oracles.

A crashed sink query counts every (sink, file) pair it did not commit as
a failed operation; a sink whose output mismatches counts all its pairs.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager
from datetime import datetime

from pyspark.errors import StreamingQueryException

import checks
import ckpt
import gen
import procs
import spans

HERE = os.path.dirname(os.path.abspath(__file__))

# where each sink's addBatch time is spent
SINK_LAYER = {
    "sentimentStream": "nlp",
    "parsedStream": "streaming.ops",
    "entityStream": "streaming.ops",
    "topicStream": "streaming.ops",
    "entityOpinionStream": "streaming.ops",
    "channelMoodStream": "streaming.ops",
    "toxicUserStream": "streaming.count_window",
    "toxicUserStreamIntent": "streaming.count_window",
}
# durationMs parts in execution order, with the layer each belongs to
PARTS = (
    ("latestOffset", "streaming.sources"),
    ("walCommit", "streaming.sinks"),
    ("getBatch", "streaming.sources"),
    ("queryPlanning", "topology"),
    ("addBatch", None),  # the sink's own layer
    ("commitOffsets", "streaming.sinks"),
)
TRACE_LAYERS = (
    "bench", "session", "topology", "streaming.trigger", "streaming.sources",
    "streaming.sinks", "nlp", "streaming.ops", "streaming.count_window",
    "registry", "checks",
)
REGISTRY_QUERIES = (
    "trending_10s", "channel_mood_sliding_90_60",
    "toxic_channel_literal_cw50", "entity_opinion_30s",
)
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
DRAIN_FILES = 4  # closed-loop steps; each costs about one trigger per sink

END_TO_END = {
    "setup_s": "s",
    "drain_rows_per_s": "rows/s",
    "emit_latency_p50_ms": "ms",
    "emit_latency_tail_ms": "ms",
    "peak_rss_mb": "MB",
}
# sinks with per-sink layer metrics: topicStream and entityOpinionStream
# are left out while they crash on their second micro-batch
SINK_METRICS = ("sentimentStream", "parsedStream", "entityStream",
                "channelMoodStream", "toxicUserStream", "toxicUserStreamIntent")
STATE_OPS = ("parsedStream", "entityStream", "channelMoodStream")
COUNT_WINDOWS = ("toxicUserStream", "toxicUserStreamIntent")


def layer_unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("state_rows_total", "rows_dropped_by_watermark", "state_rows_removed")):
        return "rows"
    return "count"


def per_layer_names() -> list[str]:
    """Every per-layer metric a traced run prints, in order."""
    names = [
        "session.start_s", "session.py_workers_s", "topology.build_ms",
        "topology.query_planning_ms", "streaming.sources.latest_offset_ms",
        "streaming.sources.get_batch_ms", "streaming.sources.backlog_files_max",
        "streaming.sources.generator_late_ms", "streaming.sources.reads_per_file",
    ]
    for s in SINK_METRICS:
        names += [f"streaming.sinks.{s}.{m}" for m in ("wal_commit_ms", "commit_offsets_ms", "add_batch_ms")]
    names.append("nlp.add_batch_ms")
    for s in STATE_OPS:
        names += [f"streaming.ops.{s}.{m}" for m in (
            "state_rows_total", "state_memory_bytes", "state_commit_ms",
            "rows_dropped_by_watermark", "state_rows_removed")]
    for s in COUNT_WINDOWS:
        names += [f"streaming.count_window.{s}.{m}" for m in ("add_batch_ms", "state_rows_total")]
    for q in REGISTRY_QUERIES:
        names += [f"registry.{q}.{m}" for m in (
            "construct_s", "execute_s", "jobs", "stages", "tasks", "failed_tasks")]
    names += [f"trace.{layer}.self_s" for layer in TRACE_LAYERS]
    return names


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """(p, value): the highest listed percentile with at least ten
    samples above it, by nearest rank."""
    xs = sorted(samples)
    n = len(xs)
    for p in TAIL_PERCENTILES:
        rank = max(1, math.ceil(p / 100.0 * n))
        if n - rank >= 10:
            return p, xs[rank - 1]
    return 50.0, xs[max(1, math.ceil(n / 2)) - 1]


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


def _median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


class StreamRun:
    def __init__(self, workload: str, cfg: dict, seed: int, seconds: int,
                 work: str, trace: bool):
        self.workload, self.cfg, self.seed = workload, cfg, seed
        self.seconds, self.work = seconds, work
        self.tracer = spans.Tracer(trace)
        self.spec = gen.Spec.from_dict(cfg["spec"])
        self.gen = gen.Generator(self.spec, seed)
        self.stage = os.path.join(work, "stage")
        self.indir = os.path.join(work, "in")
        for d in (self.stage, self.indir):
            os.makedirs(d, exist_ok=True)
        self.rows: dict[str, dict] = {}  # file name -> generated columns
        self.queries: dict = {}
        self.crashed: dict[str, str] = {}
        self.ckpts: dict[str, ckpt.Checkpoint] = {}
        self.phase_s: dict[str, float] = {}

    @contextmanager
    def phase(self, name: str):
        """Time one benchmark phase (and trace it as a bench span)."""
        t0 = time.time()
        with self.tracer.span("bench", name):
            yield
        self.phase_s[name] = time.time() - t0

    # -- inputs -----------------------------------------------------------

    def prepare(self) -> None:
        n_open = max(1, round(self.cfg["open_rate_files_per_s"] * self.seconds))
        n_drain = DRAIN_FILES
        self.warm = ["f00000.parquet"]
        self.open = [f"f{i:05d}.parquet" for i in range(1, n_open + 1)]
        self.drain = [f"f{i:05d}.parquet" for i in range(n_open + 1, n_open + n_drain + 1)]
        for i, name in enumerate(self.warm + self.open + self.drain):
            self.rows[name] = self.gen.write(i, os.path.join(self.stage, name))
        self.sentinel = "zz_sentinel.parquet"
        self.rows[self.sentinel] = gen.sentinel_rows()
        gen.write_lines(self.rows[self.sentinel], os.path.join(self.stage, self.sentinel))
        lex, ent, n = gen.hit_shares([self.rows[f] for f in self.open + self.drain])
        if lex == 0.0 or ent == 0.0:
            raise RuntimeError(f"generated text has no lexicon ({lex}) or entity ({ent}) hits")
        self.hit_lexicon, self.hit_entity, self.n_messages = lex, ent, n

    def place(self, name: str) -> float:
        """Publish one staged file into the watched directory (atomic
        rename, mtime set to now so the source orders by arrival)."""
        src = os.path.join(self.stage, name)
        os.utime(src)
        os.rename(src, os.path.join(self.indir, name))
        return time.time()

    # -- waiting ----------------------------------------------------------

    def live(self) -> list[str]:
        return [s for s in self.queries if s not in self.crashed]

    def _reap(self) -> None:
        for s in self.live():
            q = self.queries[s]
            if not q.isActive:
                exc = q.exception()
                self.crashed[s] = str(exc).splitlines()[0] if exc else "stopped"

    def wait_until(self, done, timeout: float) -> None:
        """Poll until ``done(sink)`` holds for every live sink; a sink that
        dies meanwhile leaves the live set."""
        deadline = time.time() + timeout
        last_reap = 0.0
        while True:
            pending = [s for s in self.live() if not done(s)]
            if not pending:
                return
            now = time.time()
            if now - last_reap > 0.25:
                self._reap()
                last_reap = now
            if now > deadline:
                raise TimeoutError(f"sinks {pending} did not commit within {timeout}s")
            time.sleep(0.02)

    def wait_files(self, names: list[str], timeout: float) -> None:
        def done(s: str) -> bool:
            c = self.ckpts[s]
            offs = c.file_log_offsets()
            if any(n not in offs for n in names):
                return False
            return c.committed_log_offset() >= max(offs[n] for n in names)
        self.wait_until(done, timeout)

    # -- phases -----------------------------------------------------------

    def setup(self) -> None:
        from pyspark.sql import types as T

        from sparksent.session import get_spark
        from sparksent.topology import build_streaming_topology

        tr = self.tracer
        t0 = time.time()
        with self.phase("setup"):
            with tr.span("session", "get_spark"):
                spark = get_spark(f"perfbench-{self.workload}")
            self.session_start_s = time.time() - t0
            t1 = time.time()
            with tr.span("session", "first_python_job"):
                n = spark.sparkContext.defaultParallelism
                spark.range(n, numPartitions=n).mapInPandas(lambda it: it, "id long").collect()
            self.py_workers_s = time.time() - t1
            spark.sparkContext.setLogLevel("ERROR")
            spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
            schema = T.StructType([
                T.StructField("line", T.StringType()),
                T.StructField("ts", T.TimestampType()),
                T.StructField("event_id", T.LongType()),
            ])
            t2 = time.time()
            with tr.span("topology", "build_streaming_topology"):
                stream = spark.readStream.schema(schema).parquet(self.indir)
                nodes = build_streaming_topology(stream)
            self.build_ms = (time.time() - t2) * 1000.0
            for sink, df in nodes.items():
                ck = os.path.join(self.work, "ck", sink)
                with tr.span("streaming.sinks", "writeStream.start", sink=sink):
                    self.queries[sink] = (
                        df.writeStream.outputMode("append").format("memory")
                        .queryName(sink).option("checkpointLocation", ck).start()
                    )
                self.ckpts[sink] = ckpt.Checkpoint(ck)
            self.place(self.warm[0])
            self.wait_files(self.warm, timeout=120)
            self.quiesce()
        self.spark = spark
        self.setup_s = time.time() - t0

    def open_loop(self) -> None:
        rate = self.cfg["open_rate_files_per_s"]
        self.due: dict[str, float] = {}
        self.placed: dict[str, float] = {}
        with self.phase("open_loop"):
            t0 = time.time() + 0.05
            self.open_start = t0
            for k, name in enumerate(self.open):
                due = t0 + k / rate
                delay = due - time.time()
                if delay > 0:
                    time.sleep(delay)
                self.placed[name] = self.place(name)
                self.due[name] = due
            self.wait_files(self.open, timeout=120)

    def quiesce(self) -> None:
        """Wait until every live query ran a trigger that found nothing to
        do, so no-data batches (watermark eviction) are over."""
        for s in self.live():
            try:
                self.queries[s].processAllAvailable()
            except StreamingQueryException:
                pass

    def closed_loop(self) -> None:
        # a drained backlog runs no no-data batch between its files: start
        # each step from quiet queries, so a step times one trigger per sink
        with self.phase("closed_loop"):
            for name in self.drain:
                self.quiesce()
                self.placed[name] = self.place(name)
                self.wait_files([name], timeout=120)
        self.drain_end = time.time()

    def close_windows(self) -> None:
        with self.phase("sentinel"):
            self.place(self.sentinel)
            self.wait_files([self.sentinel], timeout=120)
            # the advanced watermark emits every closed window in the
            # no-data batch that follows; wait until each query is idle
            self.quiesce()
        self._reap()
        self.progress = {
            s: [json.loads(p.json) for p in q.recentProgress] for s, q in self.queries.items()
        }
        with self.phase("stop_queries"):
            for q in self.queries.values():
                q.stop()

    # -- metrics ----------------------------------------------------------

    def end_to_end(self, peak_rss: int) -> dict:
        rows_per_file = self.spec.rows_per_file
        self.commits = {s: c.commit_times() for s, c in self.ckpts.items()}
        lat = []
        for s in self.queries:
            for name in self.open:
                if name in self.commits[s]:
                    lat.append((self.commits[s][name][1] - self.due[name]) * 1000.0)
        # per closed-loop step: rows committed over all sinks / (last
        # commit - placement); the median step, so one slow step does not
        # move the run's value
        step_rates = []
        self.step_s = []
        for name in self.drain:
            done = [self.commits[s][name][1] for s in self.queries if name in self.commits[s]]
            if not done:
                continue
            self.step_s.append(max(done) - self.placed[name])
            step_rates.append(rows_per_file * len(done) / self.step_s[-1])
        measured = self.open + self.drain
        self.attempted = len(self.queries) * len(measured)
        self.uncommitted = sum(1 for s in self.queries for n in measured if n not in self.commits[s])
        self.latency_n = len(lat)
        if not lat or not step_rates:
            raise RuntimeError("no sink committed any open-loop or closed-loop file")
        self.tail_p, tail = tail_percentile(lat)
        values = {
            "setup_s": self.setup_s,
            "drain_rows_per_s": _median(step_rates),
            "emit_latency_p50_ms": _median(lat),
            "emit_latency_tail_ms": tail,
            "peak_rss_mb": peak_rss / 2**20,
        }
        return {k: (values[k], u) for k, u in END_TO_END.items()}

    def _measured_batches(self, sink: str) -> list[dict]:
        return [
            p for p in self.progress[sink]
            if p["numInputRows"] > 0 and self.open_start <= _epoch(p["timestamp"]) <= self.drain_end
        ]

    def per_layer(self) -> dict[str, float]:
        m: dict[str, float] = {
            "session.start_s": self.session_start_s,
            "session.py_workers_s": self.py_workers_s,
            "topology.build_ms": self.build_ms,
        }
        batches = {s: self._measured_batches(s) for s in self.queries}
        every = [p for bs in batches.values() for p in bs]

        def part(bs, key):
            return _median([p["durationMs"].get(key, 0) for p in bs])

        m["topology.query_planning_ms"] = part(every, "queryPlanning")
        m["streaming.sources.latest_offset_ms"] = part(every, "latestOffset")
        m["streaming.sources.get_batch_ms"] = part(every, "getBatch")
        backlog = 0
        for s in self.live():
            for t in self.placed.values():
                waiting = sum(
                    1 for n, placed in self.placed.items()
                    if placed <= t and self.commits[s].get(n, (0, math.inf))[1] > t
                )
                backlog = max(backlog, waiting)
        m["streaming.sources.backlog_files_max"] = backlog
        late = [(self.placed[n] - self.due[n]) * 1000.0 for n in self.open]
        m["streaming.sources.generator_late_ms"] = max(late)
        reads = [len(c.file_log_offsets()) for c in self.ckpts.values()]
        files = len(self.warm) + len(self.open) + len(self.drain) + 1
        m["streaming.sources.reads_per_file"] = sum(reads) / files
        for s in SINK_METRICS:
            bs = batches[s]
            m[f"streaming.sinks.{s}.wal_commit_ms"] = part(bs, "walCommit")
            m[f"streaming.sinks.{s}.commit_offsets_ms"] = part(bs, "commitOffsets")
            m[f"streaming.sinks.{s}.add_batch_ms"] = part(bs, "addBatch")
        m["nlp.add_batch_ms"] = part(batches["sentimentStream"], "addBatch")
        for s in STATE_OPS:
            bs = batches[s]
            ops = [o for p in bs for o in p["stateOperators"]]
            last = bs[-1]["stateOperators"] if bs else []
            m[f"streaming.ops.{s}.state_rows_total"] = sum(o["numRowsTotal"] for o in last)
            m[f"streaming.ops.{s}.state_memory_bytes"] = sum(o["memoryUsedBytes"] for o in last)
            m[f"streaming.ops.{s}.state_commit_ms"] = _median(
                [sum(o["commitTimeMs"] for o in p["stateOperators"]) for p in bs])
            m[f"streaming.ops.{s}.rows_dropped_by_watermark"] = sum(
                o["numRowsDroppedByWatermark"] for o in ops)
            m[f"streaming.ops.{s}.state_rows_removed"] = sum(o["numRowsRemoved"] for o in ops)
        for s in COUNT_WINDOWS:
            bs = batches[s]
            last = bs[-1]["stateOperators"] if bs else []
            m[f"streaming.count_window.{s}.add_batch_ms"] = part(bs, "addBatch")
            m[f"streaming.count_window.{s}.state_rows_total"] = sum(
                o["numRowsTotal"] for o in last)
        return m

    def trace_batches(self) -> None:
        """One span per (query, batchId), children from durationMs parts
        laid out in execution order from the trigger start."""
        phases = [s for s in self.tracer.spans if s.layer == "bench"]
        for sink, ps in self.progress.items():
            for p in ps:
                start = _epoch(p["timestamp"])
                d = p["durationMs"]
                end = start + d.get("triggerExecution", 0) / 1000.0
                parent = next((s.id for s in phases if s.start <= start <= s.end
                               and s.name != "setup"), None)
                if parent is None:
                    parent = next((s.id for s in phases if s.start <= start <= s.end), None)
                tid = self.tracer.add("streaming.trigger", "trigger", start, end, parent,
                                      sink=sink, batch_id=p["batchId"],
                                      rows=p["numInputRows"])
                t = start
                for key, layer in PARTS:
                    ms = d.get(key, 0)
                    if ms:
                        self.tracer.add(layer or SINK_LAYER[sink], key, t, t + ms / 1000.0,
                                        tid, sink=sink, batch_id=p["batchId"])
                        t += ms / 1000.0

    # -- checks -----------------------------------------------------------

    def check_sinks(self) -> dict[str, str]:
        """sink -> mismatch reason, for every sink that did not crash."""
        from sparksent.topology import build_topology

        files = [os.path.join(self.indir, n) for n in sorted(os.listdir(self.indir))]
        lines = self.spark.read.parquet(*files).cache()
        batch = build_topology(lines)
        sinks = [s for s in self.queries if s not in self.crashed]

        def frames(sink: str):
            return self.spark.table(sink).toPandas(), batch[sink].toPandas()

        # small independent jobs: run them concurrently
        with self.tracer.span("checks", "stream_vs_batch"):
            with ThreadPoolExecutor(max_workers=4) as pool:
                got_want = dict(zip(sinks, pool.map(frames, sinks)))
        bad: dict[str, str] = {}
        for sink, (got, want) in got_want.items():
            why = checks.sink_mismatch(sink, got, want)
            if why:
                bad[sink] = why
        return bad

    def registry_pass(self) -> tuple[dict, dict[str, str]]:
        """Windowed reference registry queries over the run's messages:
        builder call and noop write timed apart, job/stage/task counts
        from the status tracker, then the DuckDB oracle check."""
        import duckdb
        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        from sparksent.registry import oracle_sql, queries

        sf = os.path.join(self.work, "sf")
        os.makedirs(sf, exist_ok=True)
        parts = [self.rows[n] for n in self.warm + self.open + self.drain]
        col = {k: np.concatenate([r[k] for r in parts]) for k in parts[0]}
        value = (col["event_id"] % 1000) / 100.0
        pq.write_table(pa.table({
            "event_id": pa.array(col["event_id"], pa.int64()),
            "ts": pa.array(col["ts_us"], pa.timestamp("us")),
            "user_id": pa.array(col["user"], pa.int64()),
            "event_type": pa.array(col["channel"], pa.string()),
            "value": pa.array(value, pa.float64()),
            "props": pa.array(col["text"], pa.string()),
        }), os.path.join(sf, "events.parquet"))
        # entity_opinion_30s joins events to documents on event_id % 500
        pq.write_table(pa.table({
            "doc_id": pa.array(np.arange(500), pa.int64()),
            "text": pa.array(col["text"][np.arange(500) % len(col["text"])], pa.string()),
        }), os.path.join(sf, "documents.parquet"))
        qs, oracles = queries(), oracle_sql()
        con = duckdb.connect()
        for t in ("events", "documents"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf}/{t}.parquet')")
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        m: dict[str, float] = {}
        bad: dict[str, str] = {}
        for name in REGISTRY_QUERIES:
            group = f"perfbench-{name}"
            sc.setJobGroup(group, name)
            with self.tracer.span("registry", "builder", query=name):
                t0 = time.time()
                df = qs[name](self.spark, sf)
                t1 = time.time()
            with self.tracer.span("registry", "noop_write", query=name):
                df.write.format("noop").mode("overwrite").save()
                t2 = time.time()
            sc.setJobGroup("perfbench-checks", "checks")
            jobs = [tracker.getJobInfo(j) for j in tracker.getJobIdsForGroup(group)]
            stages = [tracker.getStageInfo(s) for j in jobs if j for s in j.stageIds]
            stages = [s for s in stages if s]
            m[f"registry.{name}.construct_s"] = t1 - t0
            m[f"registry.{name}.execute_s"] = t2 - t1
            m[f"registry.{name}.jobs"] = len(jobs)
            m[f"registry.{name}.stages"] = len(stages)
            m[f"registry.{name}.tasks"] = sum(s.numTasks for s in stages)
            m[f"registry.{name}.failed_tasks"] = sum(s.numFailedTasks for s in stages)
            with self.tracer.span("checks", "registry_vs_oracle", query=name):
                why = checks.oracle_mismatch(df.toPandas(), con.execute(oracles[name]).fetchdf())
            if why:
                bad[name] = why
        con.close()
        return m, bad


def load_all_configs() -> dict:
    with open(os.path.join(HERE, "workloads.json")) as f:
        return json.load(f)


def declared_names(trace: bool) -> list[str]:
    """Metric names BENCHMARK.json declares for this kind of run."""
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    return [m["name"] for m in bench["per_layer" if trace else "end_to_end"]]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)
    cfgs = load_all_configs()
    if a.workload not in cfgs:
        raise SystemExit(f"unknown workload {a.workload!r}; known: {sorted(cfgs)}")
    run = StreamRun(a.workload, cfgs[a.workload], a.seed, a.seconds, a.work, bool(a.trace))
    run.prepare()
    with procs.PeakRss(os.getpid()) as rss:
        run.setup()
        run.open_loop()
        run.closed_loop()
    run.close_windows()
    e2e = run.end_to_end(rss.peak)
    with run.phase("checks"):
        bad = run.check_sinks()
    attempted = run.attempted
    failed = run.uncommitted + len(bad) * (len(run.open) + len(run.drain))
    metrics = e2e
    if a.trace:
        reg, reg_bad = run.registry_pass()
        attempted += len(REGISTRY_QUERIES)
        failed += len(reg_bad)
        bad.update(reg_bad)
        run.trace_batches()
        selfs = spans.self_times(run.tracer.spans)
        layers = {**run.per_layer(), **reg}
        for layer in TRACE_LAYERS:
            layers[f"trace.{layer}.self_s"] = selfs.get(layer, 0.0)
        metrics = {k: (v, layer_unit(k)) for k, v in layers.items()}
    report = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
        "latency_samples": run.latency_n, "latency_tail_percentile": run.tail_p,
        "open_files": len(run.open), "drain_files": len(run.drain),
        "drain_step_s": run.step_s,
        "rows_per_file": run.spec.rows_per_file,
        "messages_with_lexicon_hit": run.hit_lexicon,
        "messages_with_entity_hit": run.hit_entity, "messages": run.n_messages,
        "crashed_sinks": run.crashed, "mismatched": bad,
        "attempted": attempted, "failed": failed, "ops_failed_share": failed / attempted,
    }
    if a.trace:
        tag = f"{a.workload}-seed{a.seed}"
        run.tracer.write(os.path.join(a.out, f"trace-{tag}.json"))
        report["tracing_overhead"] = tracing_overhead(a.out, a.workload, e2e)
        write_layer_table(os.path.join(a.out, f"layers-{tag}.md"), metrics, selfs,
                          run.tracer.spans, report)
    else:
        with open(os.path.join(a.out, f"untraced-{a.workload}.json"), "w") as f:
            json.dump(report, f, indent=1)

    print(f"workload {a.workload} seed {a.seed}: {run.n_messages} messages, "
          f"{run.hit_lexicon:.1%} with a lexicon hit, {run.hit_entity:.1%} with an entity hit")
    print(f"latency samples {run.latency_n}, tail percentile p{run.tail_p:g}")
    print("at peak memory: " + ", ".join(
        f"{comm} {b / 2**20:.0f} MB" for comm, b in sorted(rss.at_peak.values(), key=lambda x: -x[1])))
    print("phase seconds: " + ", ".join(f"{k} {v:.1f}" for k, v in run.phase_s.items()))
    print("closed-loop step seconds: " + ", ".join(f"{v:.2f}" for v in run.step_s))
    for s, why in run.crashed.items():
        print(f"crashed sink {s}: {why}")
    for s, why in bad.items():
        print(f"MISMATCH {s}: {why}")
    print(f"ops_failed_share = {failed}/{attempted} = {failed / attempted:.4f}")
    if a.trace:
        print(f"tracing overhead: {json.dumps(report['tracing_overhead'])}")
    for k, (v, u) in metrics.items():
        print(f"{k} = {v} {u}")
    if list(metrics) != declared_names(bool(a.trace)):
        raise SystemExit("printed metric names differ from BENCHMARK.json")
    print(json.dumps({
        "correct": not bad,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def tracing_overhead(out: str, workload: str, traced: dict) -> dict:
    """Relative change of each end-to-end metric in this traced run
    against the newest untraced run of the workload in this checkout."""
    path = os.path.join(out, f"untraced-{workload}.json")
    if not os.path.exists(path):
        return {"note": "no untraced run of this workload in this checkout yet"}
    with open(path) as f:
        base = json.load(f)["end_to_end"]
    return {
        k: {"traced": v, "untraced": base[k]["value"],
            "change": (v - base[k]["value"]) / base[k]["value"]}
        for k, (v, _) in traced.items() if base.get(k, {}).get("value")
    }


def write_layer_table(path: str, layers: dict, selfs: dict, all_spans, report: dict) -> None:
    counts: dict[str, int] = {}
    total: dict[str, float] = {}
    for s in all_spans:
        counts[s.layer] = counts.get(s.layer, 0) + 1
        total[s.layer] = total.get(s.layer, 0.0) + (s.end - s.start)
    lines = [
        f"# Per-layer trace: {report['workload']} seed {report['seed']}", "",
        "| layer | spans | span time s | self time s |", "|---|---:|---:|---:|",
    ]
    for layer in TRACE_LAYERS:
        lines.append(f"| {layer} | {counts.get(layer, 0)} | {total.get(layer, 0.0):.3f} "
                     f"| {selfs.get(layer, 0.0):.3f} |")
    lines += ["", "| metric | value | unit |", "|---|---:|---|"]
    lines += [f"| {k} | {v:.6g} | {u} |" for k, (v, u) in layers.items()]
    lines += ["", "Tracing overhead vs the newest untraced run:", "",
              "```", json.dumps(report["tracing_overhead"], indent=1), "```", ""]
    with open(path, "w") as f:
        f.write("\n".join(lines))


if __name__ == "__main__":
    sys.exit(main())

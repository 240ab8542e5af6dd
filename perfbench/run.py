"""Benchmark for the transcript pipeline. One run = one workload:

    python3 perfbench/run.py --workload forward_edge --seed 1 --seconds 14 --trace 0

Workloads (see README.md for sizes and why each was chosen):

* forward_edge - one generator process drives the fluent-forward edge daemon
  over closed-loop connections; the landed spool is read through the
  fluent-file source into TranscriptPipeline.run() to partitioned sinks
  plus checkpoint commit, then aggregates().
* curate_docs  - exact dedup -> minhash LSH + connected components ->
  perplexity band -> cluster-safe split write.

A run generates its seeded inputs, starts Spark (and the edge daemon), runs
a fixed number of warm-up passes, then timed passes for --seconds; each
timed pass's outputs are checked, and a pass with a problem ends the run. The last stdout line is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The line before it is the
ambient stamp (steal ticks, CPU-speed probe), which is not a metric.
"""

from __future__ import annotations

import argparse
import gzip
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402
import msgpack_lite as mp  # noqa: E402
import spans  # noqa: E402

# the program under test; a checkout without it fails here, before any result
from fluent_server_spark.functions.parse import parse_turns  # noqa: E402
from fluent_server_spark.operators.dedup import (  # noqa: E402
    connected_components, dedup_keep_first, minhash_lsh_pairs)
from fluent_server_spark.operators.lm_quality import perplexity_band_filter  # noqa: E402
from fluent_server_spark.operators.sampling import cluster_safe_splits  # noqa: E402
from fluent_server_spark.plans import PipelineConfig, TranscriptPipeline  # noqa: E402
from fluent_server_spark.session import get_spark  # noqa: E402
from fluent_server_spark.sources import load_turns  # noqa: E402

# Spark task threads: one core fewer than the box, so the load generator,
# the JVM's GC/JIT threads and the OS keep a core.
TASK_THREADS = max(1, (os.cpu_count() or 2) - 1)


# The JVM compiles with C1 only. With the default tiered C2 a pass spent as
# much compile-thread time as wall time for as long as a run lasted (Spark's
# planner code kept reaching C2 thresholds), and the same pass took 6.2-9.3 s
# (curate_docs) or 4.7-7.4 s (forward_edge) from one run to the next. With C1
# the compile time per pass settles after the first pass and runs agree within
# a few percent (README: noise). The code cache is sized so C1 never flushes it.
JIT_OPTS = "-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=400m"
WARM = 1  # warm-up passes before the timed ones


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _heap() -> str:
    """A driver heap that fits the machine: a quarter of RAM, 1-3 GiB."""
    with open("/proc/meminfo") as f:
        kb = int(f.readline().split()[1])
    return f"{max(1, min(3, kb // (4 << 20)))}g"


def start_spark(out: str, event_log: str | None):
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_CPUS"):
        os.environ.pop(k, None)
    os.environ.update({
        "SPARK_DRIVER_MEMORY": _heap(),
        "SPARK_LOCAL_DIRS": os.path.join(out, "spark-local"),
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
    })
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(out, "warehouse"),
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData {JIT_OPTS} -Djava.io.tmpdir={tmp}",
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark("perfbench", cpus=TASK_THREADS, extra_conf=conf)


class Workload:
    """A workload: `generate` inputs, `start` its services, then passes.
    `pass_` returns a dict with at least wall_s and output_bytes."""

    def start(self):
        pass

    def stop(self):
        pass

    def failed(self, res) -> int:
        return 0

    def attempted(self, res) -> int:
        return 1

    def pids(self) -> list[int]:
        """Program processes outside the JVM tree."""
        return []


class ForwardEdge(Workload):
    """Generator process -> edge daemon (acked chunks) -> landed spool ->
    fluent-file source -> run() to sinks plus checkpoint -> aggregates().

    Per pass, each agent connection sends SMALL_CHUNKS chunks of
    SMALL_EVENTS events (modes cycling through SMALL_MODES) and one chunk of
    LARGE_EVENTS events (about 1 MB, so it spans many 64 KiB reads): agent 0
    in Forward mode, agent 1 as PackedForward. A logger connection sends
    LOGGER_EVENTS Message-mode events, one per frame."""

    AGENTS, TAGS = 2, 8
    SMALL_CHUNKS, SMALL_EVENTS = 24, 150
    SMALL_MODES = ("packed", "compressed", "forward", "packed")
    LARGE_EVENTS, LARGE_MODES = 8192, ("forward", "packed")
    LOGGER_EVENTS = 500
    LOAD_TIMEOUT_S = 120

    def generate(self):
        n = self.AGENTS * (self.SMALL_CHUNKS * self.SMALL_EVENTS + self.LARGE_EVENTS) + self.LOGGER_EVENTS
        df = gen.turns(self.seed, n, 400, conv_prefix="e")
        ts_ns = df["ts"].astype("int64").to_numpy()
        recs = [
            {"conv_id": c, "turn_idx": int(t), "role": r, "text": x, "tool": o}
            for c, t, r, x, o in zip(df.conv_id, df.turn_idx, df.role, df.text, df.tool)
        ]
        times = [mp.event_time(int(v // 10**9), int(v % 10**9)) for v in ts_ns]
        conns, sent = [], []
        i = 0

        def chunk(a: int, j: int, tag: str, mode: str, n_events: int) -> list:
            nonlocal i
            entries = [[times[x], recs[x]] for x in range(i, i + n_events)]
            i += n_events
            cid = f"a{a}-{j}"
            if mode == "forward":
                frame = mp.pack([tag, entries, {"chunk": cid}])
            else:
                blob = b"".join(mp.pack(e) for e in entries)
                opt = {"chunk": cid, "size": n_events}
                if mode == "compressed":
                    blob = gzip.compress(blob, mtime=0)
                    opt["compressed"] = "gzip"
                frame = mp.pack([tag, blob, opt])
            sent.append((tag, entries))
            return [cid, mode, n_events, frame]

        for a in range(self.AGENTS):
            frames = [chunk(a, j, f"agent{a}.app{j % self.TAGS}",
                            self.SMALL_MODES[j % len(self.SMALL_MODES)], self.SMALL_EVENTS)
                      for j in range(self.SMALL_CHUNKS)]
            frames.append(chunk(a, self.SMALL_CHUNKS, f"agent{a}.app0",
                                self.LARGE_MODES[a % len(self.LARGE_MODES)], self.LARGE_EVENTS))
            conns.append(frames)
        frames = []
        for j in range(self.LOGGER_EVENTS):  # fluent-logger style, Message mode
            sec = int(ts_ns[i] // 10**9)
            cid = f"l-{j}"
            frames.append([cid, "message", 1, mp.pack(["logger.app", sec, recs[i], {"chunk": cid}])])
            sent.append(("logger.app", [[sec, recs[i]]]))
            i += 1
        conns.append(frames)
        self.plan = os.path.join(self.out, "plan.msgpack")
        with open(self.plan, "wb") as f:
            f.write(mp.pack({"conns": conns}))
        self.n_chunks = sum(len(c) for c in conns)
        self.sent = checks.sent_entries(sent)
        self.expected = df
        self.rows = len(df)

    def start(self):
        self.spool = os.path.join(self.out, "spool")
        self.edge = subprocess.Popen(
            [sys.executable, "-m", "fluent_server_spark", "--forward-server", self.spool,
             "--host", "127.0.0.1", "--port", "0", "--rotate-seconds", "86400"],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        line = self.edge.stdout.readline()
        if not line:
            raise RuntimeError("edge daemon exited before reporting its port")
        self.port = json.loads(line)["forward_server"]["port"]

    def _send(self) -> dict:
        """One round of the plan through the load generator; a generator
        that hangs or dies reports every chunk as unacked."""
        t0 = time.perf_counter()
        try:
            load = subprocess.run([sys.executable, os.path.join(HERE, "edge_load.py"),
                                   str(self.port), self.plan],
                                  capture_output=True, text=True, timeout=self.LOAD_TIMEOUT_S)
            return json.loads(load.stdout)
        except (subprocess.TimeoutExpired, ValueError) as e:
            return {"chunks": self.n_chunks, "acked": 0, "bad_ack": 0,
                    "errors": [f"load generator: {type(e).__name__}"], "lat_ms": {},
                    "events": {}, "bytes_in": 0, "wall_s": time.perf_counter() - t0}

    def pass_(self, k: int) -> dict:
        cpu0 = spans.cpu_s(self.edge.pid)
        with self.tracer.span(k, "edge"):
            report = self._send()
        res = {"report": report, "edge_cpu_s": spans.cpu_s(self.edge.pid) - cpu0,
               "wall_s": report["wall_s"], "output_bytes": 0}
        if self.failed(res):
            return res  # chunks were lost: check() reports them; no pipeline pass
        # every chunk is acked only after its segment write, so the segment
        # is complete: move it to this pass's landing dir (the daemon opens a
        # fresh segment dir on its next append)
        land = os.path.join(self.out, f"land{k}")
        os.makedirs(land)
        os.rename(os.path.join(self.spool, "000000"), os.path.join(land, "000000"))
        self._land = land
        d = os.path.join(self.out, f"p{k}")
        pipe = TranscriptPipeline(self.spark, PipelineConfig(
            sinks_path=os.path.join(d, "sinks"), checkpoint_path=os.path.join(d, "ckpt.jsonl")))
        tr = self.tracer
        t0 = time.perf_counter()
        with tr.span(k, "run"):
            run_id = pipe.run(self._source())
        t1 = time.perf_counter()
        with tr.span(k, "aggregate"):
            aggs = pipe.aggregates()
            rc = aggs["routed_counts"].collect()
            aggs["tool_histogram"].collect()
            aggs["conversation_stats"].collect()
        t2 = time.perf_counter()
        res.update(dir=d, land=land, pipe=pipe, run_id=run_id, routed_counts=rc,
                   run_s=t1 - t0, aggregate_s=t2 - t1, wall_s=report["wall_s"] + t2 - t0,
                   output_bytes=checks.dir_bytes(land) + checks.dir_bytes(os.path.join(d, "sinks")))
        return res

    def _source(self):
        return load_turns(self.spark, "fluent-file", os.path.join(self._land, "000000"))

    def layers(self, k, res):
        """Traced only: load / +parse / +enrich+route as noop actions, so each
        layer's time is a difference of whole passes over the same input."""
        tr = self.tracer
        with tr.span(k, "load"):
            _noop(self._source())
        with tr.span(k, "parse"):
            _noop(parse_turns(self._source()))
        with tr.span(k, "transform"):
            _noop(res["pipe"].transform(self._source()))
        load, parse, transform = (tr.seconds(k, n) for n in ("load", "parse", "transform"))
        rep = res["report"]
        lat = sorted(x for v in rep["lat_ms"].values() for x in v)
        out = {
            "sources.load_s": load,
            "functions.parse_s": parse - load,
            "operators.enrich_route_s": transform - parse,
            "plans.pipeline.write_s": res["run_s"] - transform,
            "plans.pipeline.aggregate_s": res["aggregate_s"],
            "plans.pipeline.files_written": float(sum(
                f.endswith(".parquet") for _, _, fs in os.walk(os.path.join(res["dir"], "sinks"))
                for f in fs)),
            "edge.ack_ms_p50": float(np.percentile(lat, 50)),
            "edge.ack_ms_p90": float(np.percentile(lat, 90)),
            "edge.server_cpu_s": res["edge_cpu_s"],
            "edge.frames": float(rep["chunks"]),
            "edge.bytes_in": float(rep["bytes_in"]),
            "edge.events_per_s": sum(rep["events"].values()) / rep["wall_s"],
        }
        for mode in ("packed", "compressed", "forward", "message"):
            out[f"edge.{mode}_events_per_s"] = rep["events"][mode] / (sum(rep["lat_ms"][mode]) / 1e3)
        return out

    def check(self, con, res):
        problems = checks.check_acks(res["report"])
        if "land" not in res:
            return problems
        problems += checks.check_spool(res["land"], self.sent)
        sink_problems, per_sink = checks.check_sinks(con, os.path.join(res["dir"], "sinks"),
                                                     self.expected)
        return (problems + sink_problems
                + checks.check_checkpoint(os.path.join(res["dir"], "ckpt.jsonl"),
                                          res["run_id"], per_sink)
                + checks.check_routed_counts(res["routed_counts"], per_sink))

    def failed(self, res) -> int:
        return res["report"]["chunks"] - res["report"]["acked"]

    def attempted(self, res) -> int:
        return 1 + res["report"]["chunks"]

    def pids(self) -> list[int]:
        return [self.edge.pid]

    def stop(self):
        edge = getattr(self, "edge", None)
        if edge is None:
            return
        if edge.poll() is None:
            edge.terminate()
        try:
            edge.wait(timeout=20)
        except subprocess.TimeoutExpired:
            edge.kill()
            edge.wait()
        edge.stdout.close()


class CurateDocs(Workload):
    """The curation chain over a planted corpus; no transcript pipeline."""

    SINGLES = 700

    def generate(self):
        self.plants = gen.docs(self.seed, self.SINGLES)
        os.makedirs(os.path.join(self.out, "docs"))
        pq.write_table(pa.Table.from_pandas(self.plants["frame"], preserve_index=False),
                       os.path.join(self.out, "docs", "part-0.parquet"))
        self.rows = len(self.plants["frame"])

    def _docs(self):
        return self.spark.read.parquet(os.path.join(self.out, "docs"))

    def pass_(self, k: int) -> dict:
        tr, d = self.tracer, os.path.join(self.out, f"p{k}")
        t0 = time.perf_counter()
        with tr.span(k, "exact"):
            exact = dedup_keep_first(self._docs())
            n_exact = exact.count()
        with tr.span(k, "neardup"):
            comp = connected_components(minhash_lsh_pairs(exact, threshold=gen.DEDUP_THRESHOLD))
            drop = comp.filter(F.col("id") != F.col("component")).select(F.col("id").alias("doc_id"))
            kept = exact.join(drop, "doc_id", "left_anti")
            kept_ids = [r[0] for r in kept.select("doc_id").collect()]
        with tr.span(k, "band"):
            band = perplexity_band_filter(kept)
            band_ids = [r[0] for r in band.select("doc_id").collect()]
        with tr.span(k, "split_write"):
            clusters = comp.select(F.col("id").alias("doc_id"), F.col("component").alias("cluster_id"))
            cluster_safe_splits(band, clusters, "doc_id", checks.SPLITS).write.mode(
                "overwrite").partitionBy("split").parquet(d)
        wall = time.perf_counter() - t0
        return {"dir": d, "n_exact": n_exact, "kept_ids": kept_ids, "band_ids": band_ids,
                "exact": exact, "wall_s": wall, "output_bytes": checks.dir_bytes(d)}

    def layers(self, k, res):
        """Traced only: the pair search alone, and again at threshold 0 to
        count every LSH candidate (confirmed/candidates is the useful share)."""
        tr = self.tracer
        with tr.span(k, "minhash_pairs"):
            confirmed = minhash_lsh_pairs(res["exact"], threshold=gen.DEDUP_THRESHOLD).count()
        with tr.span(k, "candidates"):
            candidates = minhash_lsh_pairs(res["exact"], threshold=0.0).count()
        pairs_s = tr.seconds(k, "minhash_pairs")
        return {
            "dedup.exact_s": tr.seconds(k, "exact"),
            "dedup.minhash_pairs_s": pairs_s,
            "dedup.components_s": tr.seconds(k, "neardup") - pairs_s,
            "dedup.candidate_pairs": float(candidates),
            "dedup.confirmed_pairs": float(confirmed),
            "lm_quality.band_s": tr.seconds(k, "band"),
            "sampling.split_write_s": tr.seconds(k, "split_write"),
        }

    def check(self, con, res):
        return (checks.check_exact(res["n_exact"], self.plants)
                + checks.check_neardup(res["kept_ids"], self.plants)
                + checks.check_band(res["band_ids"], res["kept_ids"], self.plants["words"])
                + checks.check_splits(con, res["dir"], res["band_ids"])[0])


WORKLOADS = {"forward_edge": ForwardEdge, "curate_docs": CurateDocs}

END_TO_END = {"setup_s": "s", "rows_per_s": "rows/s", "output_bytes": "bytes"}
PER_LAYER = [
    "traced.rows_per_s", "jvm.jit_ms", "spark.peak_rss_mb",
    "sources.load_s", "sources.python_worker_s", "functions.parse_s", "operators.enrich_route_s",
    "plans.pipeline.write_s", "plans.pipeline.shuffle_write_bytes", "plans.pipeline.spill_bytes",
    "plans.pipeline.task_skew", "plans.pipeline.files_written", "plans.pipeline.aggregate_s",
    "edge.ack_ms_p50", "edge.ack_ms_p90", "edge.server_cpu_s", "edge.frames", "edge.bytes_in",
    "edge.events_per_s", "edge.packed_events_per_s", "edge.compressed_events_per_s",
    "edge.forward_events_per_s", "edge.message_events_per_s",
    "dedup.exact_s", "dedup.minhash_pairs_s", "dedup.components_s", "dedup.candidate_pairs",
    "dedup.confirmed_pairs", "lm_quality.band_s", "sampling.split_write_s",
    "spark.peak_task_memory_bytes", "spark.python_worker_s",
]
LAYER_UNITS = {"traced.rows_per_s": "rows/s", "jvm.jit_ms": "ms", "spark.peak_rss_mb": "MiB", "edge.ack_ms_p50": "ms",
               "edge.ack_ms_p90": "ms", "edge.frames": "count", "edge.bytes_in": "bytes",
               "plans.pipeline.task_skew": "ratio", "plans.pipeline.files_written": "count",
               "dedup.candidate_pairs": "count", "dedup.confirmed_pairs": "count"}


def layer_unit(name: str) -> str:
    if name in LAYER_UNITS:
        return LAYER_UNITS[name]
    if name.endswith("_bytes"):
        return "bytes"
    return "events/s" if name.endswith("_per_s") else "s"


def event_log_layers(table: dict, workload: str, timed: list[int]) -> dict[int, dict]:
    """Per timed pass: the event-log columns of the layer table (README)."""
    out = {}
    for k in timed:
        rows = {d.split(":", 2)[2]: r for d, r in table.items()
                if d.startswith(f"{workload}:{k}:")}
        run = rows.get("run", {})
        out[k] = {
            "sources.python_worker_s": rows.get("load", {}).get("python_worker_s", 0.0),
            "plans.pipeline.shuffle_write_bytes": float(run.get("shuffle_write_bytes", 0)),
            "plans.pipeline.spill_bytes": float(run.get("spill_bytes", 0)),
            "plans.pipeline.task_skew": run.get("write_stage_skew", 0.0),
            "spark.peak_task_memory_bytes": float(max(
                [r["peak_task_memory_bytes"] for r in rows.values()] or [0])),
            "spark.python_worker_s": sum(r["python_worker_s"] for r in rows.values()),
        }
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops the edge daemon and Spark (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    stamp0 = spans.ambient()
    out_root = os.path.join(HERE, "out")
    out = os.path.join(out_root, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    traced = bool(args.trace)
    event_log = os.path.join(out_root, f"eventlog-{args.workload}-s{args.seed}") if traced else None
    if event_log:
        shutil.rmtree(event_log, ignore_errors=True)

    w = WORKLOADS[args.workload]()
    w.seed, w.out = args.seed, out
    t = time.perf_counter()
    w.generate()
    gen_s = time.perf_counter() - t

    spark = start_spark(out, event_log)
    w.spark = spark
    w.tracer = spans.Tracer(spark.sparkContext, args.workload, traced)
    jvm = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    jit, jvm_pid = jvm.getCompilationMXBean(), int(jvm.getRuntimeMXBean().getPid())
    con = duckdb.connect()
    problems: list[str] = []
    passes: list[dict] = []

    def record(k: int, res: dict) -> None:
        """Check a finished pass and keep what the result needs."""
        res["k"] = k
        if traced and not w.failed(res):
            res["layers"] = w.layers(k, res)
        problems.extend(w.check(con, res))
        res["attempted"], res["failed"] = w.attempted(res), w.failed(res)
        passes.append({key: v for key, v in res.items() if key in (
            "k", "wall_s", "output_bytes", "jit_ms", "layers", "attempted", "failed")})

    try:
        w.start()
        # warm-up: a fixed number of passes (WARM). With C1 the JIT compile
        # time per pass drops from 5.5-11 s in the first pass to 1-2 s and
        # stays there (README: noise); both are kept in the stamp
        warm_jit_ms, warm_s = [], []
        for k in range(WARM):
            j0 = jit.getTotalCompilationTime()
            res = w.pass_(k)
            warm_jit_ms.append(jit.getTotalCompilationTime() - j0)
            warm_s.append(res["wall_s"])
            if w.failed(res):  # a lost chunk: report it and time nothing
                record(k, res)
                break
        setup_s = spans.process_age_s() - gen_s

        t_timed = time.perf_counter()
        k = WARM
        while not problems:
            j0 = jit.getTotalCompilationTime()
            res = w.pass_(k)
            res["jit_ms"] = jit.getTotalCompilationTime() - j0
            record(k, res)
            if k > WARM:
                shutil.rmtree(os.path.join(out, f"p{k - 1}"), ignore_errors=True)
            k += 1
            if time.perf_counter() - t_timed >= args.seconds:
                break
        rss = spans.peak_rss_mb(spans.descendants(jvm_pid) + w.pids())
    finally:
        w.stop()
        spark.stop()
        con.close()

    failed = sum(p["failed"] for p in passes)
    attempted = sum(p["attempted"] for p in passes)
    rows_per_s = [w.rows / p["wall_s"] for p in passes]
    if traced:
        table = spans.reduce_event_log(event_log)
        ev = event_log_layers(table, args.workload, [p["k"] for p in passes])
        per_pass = [{**p.get("layers", {}), **ev[p["k"]], "traced.rows_per_s": w.rows / p["wall_s"],
                     "jvm.jit_ms": p.get("jit_ms", 0.0), "spark.peak_rss_mb": rss} for p in passes]
        metrics = {name: {"value": statistics.median([pp.get(name, 0.0) for pp in per_pass]),
                          "unit": layer_unit(name)} for name in PER_LAYER}
        with open(os.path.join(out_root, f"trace-{args.workload}-s{args.seed}.json"), "w") as f:
            json.dump({"spans": w.tracer.spans, "event_log": table,
                       "passes": per_pass}, f, indent=1)
    else:
        values = {
            "setup_s": setup_s,
            "rows_per_s": statistics.median(rows_per_s),
            "output_bytes": statistics.median(p["output_bytes"] for p in passes),
        }
        metrics = {n: {"value": values[n], "unit": u} for n, u in END_TO_END.items()}
    shutil.rmtree(out, ignore_errors=True)
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    print(json.dumps({"ambient": {"before": stamp0, "after": spans.ambient(),
                                  "warmup_jit_ms": warm_jit_ms, "warmup_s": warm_s, "gen_s": gen_s,
                                  "pass_s": [p["wall_s"] for p in passes],
                                  "pass_jit_ms": [p.get("jit_ms") for p in passes]}}))
    print(json.dumps({"correct": not problems, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())

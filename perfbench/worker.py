"""One benchmark run in a fresh process; started by ``run.py``.

A run has three parts: set-up (session start plus input preparation), one
cold pass on the fresh session, then warm-up passes and a fixed number of
timed warm passes. One closed-loop client, this process's main thread,
sends the next engine call only when the last has returned. Outputs are
checked after timing. The last stdout line is the result JSON.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import pkgutil
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field
from datetime import datetime

import inputs
from gate import check_query, check_store, oracle_connection
from spans import JobStats, SparkCounters, Tracer, union_length

import lets_talk_cdc_change_feed_playground_spark as engine
from lets_talk_cdc_change_feed_playground_spark import registry
from lets_talk_cdc_change_feed_playground_spark.session import get_spark
from lets_talk_cdc_change_feed_playground_spark.streaming.apply import UpsertSink
from lets_talk_cdc_change_feed_playground_spark.streaming.capture import (
    OPS_SCHEMA,
    log_capture_stream,
)

SETUP_REPEATS = 3
# sources/testdata._spread fans a scanned file this big or bigger out over
# every core; the timed batch inputs must take that path, as sf0.1 data does
SPREAD_MIN_BYTES = 250_000


@dataclass(frozen=True)
class BatchWorkload:
    layer: str  # engine subpackage that owns every query
    queries: tuple[str, ...]
    size: inputs.BatchSize
    smoke_size: inputs.BatchSize  # for the smoke test
    warmup: int  # untimed warm passes before the timed ones
    pass_s: float  # nominal warm-pass wall; sets the timed pass count
    min_timed: int = 3  # fewest timed passes


@dataclass(frozen=True)
class StreamWorkload:
    size: inputs.StreamSize
    smoke_size: inputs.StreamSize
    warmup: int
    pass_s: float
    min_timed: int


WORKLOADS = {
    # The reference's main path: log-lane capture, the verdict over all
    # three lanes (it stages the polling and trigger captures and every
    # lane's diff), then the playground consumer's apply-on-commit ledger.
    # No streams, no functions/*. With these three the pooled median is the
    # consumer query, which repeats within about 10%; a median over the
    # 50-100 ms staged-frame reads of a larger set moved by 30% run to run.
    "cdc_comparator": BatchWorkload(
        layer="operators",
        queries=(
            "cdc_log_capture",
            "cdc_verdict",
            "cdc_apply_on_commit",
        ),
        # the testdata's shape (about 66 events per user) at sf0.0125
        size=inputs.BatchSize(events=12_500, users=190),
        smoke_size=inputs.BatchSize(events=1000, users=15),
        warmup=2,
        pass_s=1.5,
    ),
    # Dedup and similarity in functions/*: a session-staged normalised
    # corpus, a pandas UDF over Arrow batches (Python workers) and
    # brute-force cosine top-k over the corpus. No capture lanes, no
    # streams, so a CDC-only change must leave it flat.
    "llm_dedup": BatchWorkload(
        layer="functions",
        queries=(
            "docs_exact_dedup",
            "docs_chunk_dedup",
            "emb_topk_similarity",
        ),
        size=inputs.BatchSize(documents=5000, embeddings=2000),  # sf0.1 rows
        smoke_size=inputs.BatchSize(documents=300, embeddings=200),
        warmup=3,
        pass_s=1.7,
    ),
    # The write side the batch workloads never touch: keyed capture state,
    # micro-batches, per-batch store rewrite and rename commit, draining a
    # backlog of files (catch-up after pause) rather than an open-loop rate
    # sweep, which on a few shared cores would measure the scheduler.
    "stream_apply": StreamWorkload(
        size=inputs.StreamSize(ops=20_000, keys=2_000, files=3),
        smoke_size=inputs.StreamSize(ops=600, keys=50, files=3),
        warmup=1,
        pass_s=5.2,
        # a fourth timed pass pools 12 micro-batches; over ten runs it
        # steadied the medians more than a second warm-up did
        min_timed=4,
    ),
}


def p90(samples: list[float]) -> float:
    """p90 interpolated between the two nearest ranks; with few samples it
    lies between the two highest, so no single sample sets it."""
    return statistics.quantiles(samples, n=10, method="inclusive")[8]


def canary(spark) -> dict:
    """A fixed CPU fold and a small shuffle: their walls read the host, not
    the engine."""
    t0 = time.perf_counter()
    spark.range(2_000_000).selectExpr("sum(id % 1000003)").collect()
    cpu = time.perf_counter() - t0
    t0 = time.perf_counter()
    (
        spark.range(200_000)
        .selectExpr("id % 1000 AS k")
        .groupBy("k")
        .count()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return {"cpu_s": round(cpu, 4), "shuffle_s": round(time.perf_counter() - t0, 4)}


def query_layers() -> dict[str, str]:
    """Query name -> engine subpackage whose module declares it."""
    out = {}
    for sub in pkgutil.iter_modules(engine.__path__):
        if not sub.ispkg:
            continue
        pkg = importlib.import_module(f"{engine.__name__}.{sub.name}")
        for mod in pkgutil.iter_modules(pkg.__path__):
            m = importlib.import_module(f"{pkg.__name__}.{mod.name}")
            for name in getattr(m, "QUERIES", {}):
                out[name] = sub.name
    return out


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6


@dataclass
class Pass:
    pass_id: str
    wall: float
    traced: bool
    samples: list[float] = field(default_factory=list)
    failed: int = 0
    attempted: int = 0
    layer: dict = field(default_factory=dict)
    mem_mb: float = 0.0
    cpu_s: float = 0.0  # driver JVM CPU time over the pass


class Run:
    def __init__(self, args, run_dir: str, wl):
        self.args = args
        self.wl = wl
        self.size = wl.smoke_size if args.smoke else wl.size
        self.run_dir = run_dir
        self.tracer = Tracer() if args.trace else None
        self.passes: list[Pass] = []
        self.failures: list[str] = []
        self.gate_attempted = 0
        self.detail: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}

    # -- set-up ---------------------------------------------------------

    def setup(self, t_proc: float) -> float:
        t0 = time.time()
        self.spark = get_spark(
            "perfbench",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.streaming.numRecentProgressUpdates": "1000",
            },
        )
        t1 = time.time()
        if self.tracer:
            self.tracer.add("get_spark", "session", t0, t1)
        self.counters = SparkCounters(self.spark)
        preps = []
        for i in range(SETUP_REPEATS):
            a = time.time()
            self.prepare(os.path.join(self.run_dir, f"input{i}"))
            b = time.time()
            preps.append(b - a)
            if self.tracer:
                self.tracer.add(f"prepare{i}", "inputs", a, b)
        for i in range(1, SETUP_REPEATS):
            shutil.rmtree(os.path.join(self.run_dir, f"input{i}"))
        self.input_dir = os.path.join(self.run_dir, "input0")
        self.detail["setup"] = {"session_s": t1 - t_proc, "prepare_s": preps}
        return (t1 - t_proc) + statistics.median(preps)

    # -- metrics ---------------------------------------------------------

    def warm(self) -> list[Pass]:
        return [
            p for p in self.passes if p.pass_id.startswith("timed") and not p.traced and not p.failed
        ]

    def end_to_end(self, setup_s: float, n_inputs: int, mem_mb: float) -> dict:
        warm = self.warm()
        steady = statistics.median(p.wall for p in warm)
        samples = sorted(s for p in warm for s in p.samples)
        self.detail["samples"] = len(samples)
        cold = next(p for p in self.passes if p.pass_id == "cold")
        return {
            "setup_s": (setup_s, "s"),
            "cold_s": (cold.wall, "s"),
            "steady_s": (steady, "s"),
            "p50_s": (statistics.median(samples), "s"),
            "p90_s": (p90(samples), "s"),
            "events_per_s": (n_inputs / steady, "ops/s"),
            "mem_mb": (mem_mb, "MB"),
        }

    def traced_layers(self) -> dict:
        traced = [p for p in self.passes if p.traced and p.pass_id.startswith("timed") and p.layer]
        keys = traced[0].layer.keys()
        out = {k: statistics.median(p.layer[k] for p in traced) for k in keys}
        untraced = self.warm()
        out["trace.overhead_s"] = statistics.median(p.wall for p in traced) - statistics.median(
            p.wall for p in untraced
        )
        out["driver.drift"] = untraced[-1].wall / untraced[0].wall
        return out

    def attempted_failed(self) -> tuple[int, int]:
        attempted = sum(p.attempted for p in self.passes) + self.gate_attempted
        return attempted, len(self.failures)


# -- batch workloads ---------------------------------------------------


class BatchRun(Run):
    def __init__(self, args, run_dir, wl: BatchWorkload):
        super().__init__(args, run_dir, wl)
        all_queries = registry.queries()
        layers = query_layers()
        for name in wl.queries:
            if layers.get(name) != wl.layer:
                raise SystemExit(f"{name} is not a query of {wl.layer}/ ({layers.get(name)})")
        self.fns = {n: all_queries[n] for n in wl.queries}

    def prepare(self, out_dir: str) -> None:
        self.n_inputs = inputs.write_tables(out_dir, self.args.seed, self.size)
        for t in self.size.tables():
            nbytes = os.path.getsize(os.path.join(out_dir, f"{t}.parquet"))
            if nbytes < SPREAD_MIN_BYTES and not self.args.smoke:
                raise SystemExit(f"{t}.parquet is {nbytes} bytes, under the spread threshold")

    def run_pass(self, pass_id: str, traced: bool) -> Pass:
        spark, sc = self.spark, self.spark.sparkContext
        p = Pass(pass_id, 0.0, traced)
        spans = []
        self.last_frames = {}
        gc0 = self.counters.gc_s() if traced else 0.0
        cpu0 = self.counters.jvm_cpu_s()
        t_start, c0 = time.time(), time.perf_counter()
        for name, fn in self.fns.items():
            p.attempted += 1
            a = time.time()
            try:
                if traced:
                    sc.setJobGroup(f"{pass_id}|{name}|build", name)
                df = fn(spark, self.input_dir)
                b = time.time()
                if traced:
                    sc.setJobGroup(f"{pass_id}|{name}|exec", name)
                df.write.format("noop").mode("overwrite").save()
                self.last_frames[name] = df
            except Exception as e:  # a failing query must not end the run
                p.failed += 1
                self.failures.append(f"{pass_id} {name}: {type(e).__name__}: {str(e)[:200]}")
                continue
            c = time.time()
            p.samples.append(c - a)
            spans.append((name, a, b, c))
        p.wall = time.perf_counter() - c0
        p.cpu_s = self.counters.jvm_cpu_s() - cpu0
        t_end = time.time()
        if traced:
            sc.setLocalProperty("spark.jobGroup.id", None)
            p.layer = self.layer_stats(p, spans, t_start, t_end, gc0)
        return p

    def layer_stats(self, p: Pass, spans, t_start, t_end, gc0) -> dict:
        self.counters.drain()
        m = self.wl.layer
        tr = self.tracer
        ps = tr.add(p.pass_id, "driver", t_start, t_end, pass_id=p.pass_id)
        total, build = JobStats(), JobStats()
        seen: set[int] = set()
        build_s = exec_s = 0.0
        for name, a, b, c in spans:
            item = tr.add(name, "client", a, c, ps.id, p.pass_id)
            for kind, lo, hi in (("build", a, b), ("exec", b, c)):
                span = tr.add(f"{name}.{kind}", m if kind == "build" else "spark.exec", lo, hi, item.id, p.pass_id)
                ids = self.counters.job_ids(f"{p.pass_id}|{name}|{kind}")
                st = self.counters.stats(ids, seen)
                for j, (ja, jb) in zip(ids, st.intervals):
                    tr.add(f"job{j}", "spark.job", ja, jb, span.id, p.pass_id)
                total.add(st)
                if kind == "build":
                    build.add(st)
                    build_s += hi - lo
                else:
                    exec_s += hi - lo
        busy = union_length([(max(a, t_start), min(b, t_end)) for a, b in total.intervals])
        return {
            f"{m}.build_s": build_s,
            f"{m}.build_jobs": build.jobs,
            f"{m}.exec_s": exec_s,
            f"{m}.jobs": total.jobs,
            f"{m}.stages": total.stages,
            f"{m}.tasks": total.tasks,
            f"{m}.task_s": total.task_s,
            f"{m}.driver_gap_s": (t_end - t_start) - busy,
            f"{m}.shuffle_mb": total.shuffle_mb,
            "jvm.gc_s": self.counters.gc_s() - gc0,
        }

    def gate(self) -> None:
        """Check the frames of the last timed pass against their oracles."""
        con = oracle_connection(self.input_dir, self.size.tables())
        oracle = registry.oracle_sql()
        for name, df in self.last_frames.items():
            self.gate_attempted += 1
            try:
                a = time.time()
                rows = [tuple(r) for r in df.collect()]
                b = time.time()
                why = check_query(list(df.columns), rows, con, oracle[name])
                self.detail.setdefault("gate_s", {})[name] = (round(b - a, 3), round(time.time() - b, 3))
            except Exception as e:  # reported as a failed check
                why = f"{type(e).__name__}: {str(e)[:200]}"
            if why:
                self.failures.append(f"gate {name}: {why}")
        con.close()

    def mem_mb(self) -> float:
        return self.counters.cached()[1]


# -- stream workload ---------------------------------------------------


class StreamRun(Run):
    def __init__(self, args, run_dir, wl: StreamWorkload):
        super().__init__(args, run_dir, wl)
        self.n_inputs = self.size.ops

    def prepare(self, out_dir: str) -> None:
        self.feed = inputs.stream_feed(self.args.seed, self.size)
        inputs.write_stream_files(out_dir, self.feed, self.size.files)

    def run_pass(self, pass_id: str, traced: bool, spark=None) -> Pass:
        spark = spark or self.spark
        p = Pass(pass_id, 0.0, traced, attempted=1)
        ckpt = os.path.join(self.run_dir, "ckpt", pass_id)
        store = os.path.join(self.run_dir, "store", pass_id)
        sink = UpsertSink(spark, store)
        calls: list[tuple[int, float, float, float]] = []

        def traced_sink(batch_df, batch_id):
            # an extra count materialises the capture batch on its own; the
            # sink then runs the same plan as in an untraced pass
            a = time.time()
            batch_df.count()
            b = time.time()
            sink(batch_df, batch_id)
            calls.append((batch_id, a, b, time.time()))

        gc0 = self.counters.gc_s() if traced else 0.0
        cpu0 = self.counters.jvm_cpu_s()
        t_start, c0 = time.time(), time.perf_counter()
        try:
            src = (
                spark.readStream.schema(OPS_SCHEMA)
                .option("maxFilesPerTrigger", 1)
                .parquet(self.input_dir)
            )
            query = (
                log_capture_stream(src)
                .writeStream.foreachBatch(traced_sink if traced else sink)
                .option("checkpointLocation", ckpt)
                .start()
            )
            try:
                query.processAllAvailable()
            finally:
                query.stop()
        except Exception as e:  # a failing pass must not end the run
            p.failed = 1
            self.failures.append(f"{pass_id}: {type(e).__name__}: {str(e)[:200]}")
            return p
        p.wall = time.perf_counter() - c0
        p.cpu_s = self.counters.jvm_cpu_s() - cpu0
        t_end = time.time()
        progress = query.recentProgress
        p.samples = [pr.durationMs.get("triggerExecution", 0) / 1000.0 for pr in progress]
        last = sink.current()
        state = progress[-1].stateOperators[0] if progress and progress[-1].stateOperators else None
        live_mb = sum(os.path.getsize(f.removeprefix("file:")) for f in last.inputFiles()) / 1e6 if last is not None else 0.0
        p.mem_mb = (state.memoryUsedBytes / 1e6 if state else 0.0) + live_mb
        if traced:
            p.layer = self.layer_stats(p, progress, calls, store, state, t_start, t_end, str(query.runId), gc0)
        why = "no store version committed" if last is None else check_store(last, self.expected)
        if why:
            self.failures.append(f"gate {pass_id}: {why}")
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(store, ignore_errors=True)
        return p

    def layer_stats(self, p, progress, calls, store, state, t_start, t_end, run_id, gc0) -> dict:
        self.counters.drain()
        tr = self.tracer
        ps = tr.add(p.pass_id, "driver", t_start, t_end, pass_id=p.pass_id)
        batch_span = {}
        for pr in progress:
            start = _iso_epoch(pr.timestamp)
            dur = pr.durationMs.get("triggerExecution", 0) / 1000.0
            batch_span[pr.batchId] = tr.add(
                f"batch{pr.batchId}", "streaming", start, start + dur, ps.id, p.pass_id,
                rows=pr.numInputRows, durationMs=dict(pr.durationMs),
            )
        windows = []
        for batch_id, a, b, c in calls:
            parent = batch_span.get(batch_id, ps).id
            sink_span = tr.add(f"sink{batch_id}", "streaming.sink", a, c, parent, p.pass_id)
            tr.add(f"capture{batch_id}", "streaming.capture", a, b, sink_span.id, p.pass_id)
            tr.add(f"apply{batch_id}", "streaming.apply", b, c, sink_span.id, p.pass_id)
            windows.append((b, c))
        # micro-batch jobs, the sink's included, run under the query's runId
        ids = self.counters.job_ids(run_id)
        apply_jobs = 0
        for j in ids:
            iv = self.counters.job_interval(j)
            if iv and any(lo <= iv[0] <= hi for lo, hi in windows):
                apply_jobs += 1

        def dur(*keys):
            return sum(pr.durationMs.get(k, 0) for pr in progress for k in keys) / 1000.0

        return {
            "streaming.batches": len(progress),
            "streaming.trigger_s": dur("triggerExecution"),
            "streaming.planning_s": dur("queryPlanning"),
            "streaming.commit_s": dur("walCommit", "commitOffsets"),
            "streaming.capture_s": sum(b - a for _i, a, b, _c in calls),
            "streaming.apply_s": sum(c - b for _i, _a, b, c in calls),
            "streaming.apply_jobs": apply_jobs,
            "streaming.store_write_mb": dir_mb(store),
            "streaming.state_rows": state.numRowsTotal if state else 0,
            "streaming.state_mb": state.memoryUsedBytes / 1e6 if state else 0.0,
            "jvm.gc_s": self.counters.gc_s() - gc0,
        }

    def gate(self) -> None:
        pass  # every pass's store is checked as the pass ends

    def mem_mb(self) -> float:
        return self.warm()[-1].mem_mb

    def single_thread_s(self) -> float:
        """One pass on a fresh ``local[1]`` session: the single-thread
        baseline. Ends the multi-core session."""
        self.spark.stop()
        spark1 = get_spark("perfbench-local1", master="local[1]", shuffle_partitions=1,
                           extra_conf={"spark.ui.showConsoleProgress": "false"})
        try:
            p = self.run_pass("single-thread", False, spark1)
        finally:
            spark1.stop()
        self.detail["single_thread"] = {"wall": p.wall, "batches": len(p.samples)}
        return p.wall


def _iso_epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--t-proc", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    run_dir = os.environ["PERFBENCH_RUN_DIR"]

    wl = WORKLOADS[args.workload]
    run = BatchRun(args, run_dir, wl) if isinstance(wl, BatchWorkload) else StreamRun(args, run_dir, wl)
    phases = run.detail["phases_s"] = {}

    def mark(name: str) -> None:
        phases[name] = round(time.time() - args.t_proc, 3)  # since process start

    setup_s = run.setup(args.t_proc)
    if isinstance(run, StreamRun):
        run.expected = inputs.last_write_wins(run.feed)
    mark("setup")
    canary_before = canary(run.spark)
    mark("canary_before")

    # at least three timed passes, so the median can reject one disturbed pass
    n_warm = max(wl.min_timed, round(args.seconds / wl.pass_s))
    run.passes.append(run.run_pass("cold", bool(args.trace)))
    frames_cold = run.counters.cached() if isinstance(run, BatchRun) else (0, 0.0)
    mark("cold")
    for i in range(wl.warmup):
        run.passes.append(run.run_pass(f"warmup{i}", False))
    # a traced run interleaves untraced and traced passes in ABBA order, so
    # warm-up drift does not bias the overhead estimate
    for i in range(2 * n_warm if args.trace else n_warm):
        traced = bool(args.trace) and i % 4 in (1, 2)
        run.passes.append(run.run_pass(f"timed{i}" + (".traced" if traced else ""), traced))
    mark("timed")
    run.gate()
    mark("gate")
    canary_after = canary(run.spark)
    mark("canary_after")
    mem_mb = run.mem_mb()

    metrics = run.end_to_end(setup_s, run.n_inputs, mem_mb)
    if args.trace:
        with open(os.path.join(os.path.dirname(__file__), "..", "BENCHMARK.json")) as f:
            declared = json.load(f)
        unit_of = {m["name"]: m["unit"] for m in declared["per_layer"]}
        # a layer the workload does not touch reads 0
        layers = dict.fromkeys(unit_of, 0)
        layers.update(run.traced_layers())
        frames_end = run.counters.cached() if isinstance(run, BatchRun) else (0, 0.0)
        layers["shared.frames.cold"], layers["shared.cache_mb.cold"] = frames_cold
        layers["shared.frames.end"], layers["shared.cache_mb.end"] = frames_end
        if isinstance(run, StreamRun):
            layers["streaming.single_thread_s"] = run.single_thread_s()
        metrics = {k: (v, unit_of[k]) for k, v in layers.items()}
        trace_path = os.path.join(args.out, f"trace-{args.workload}-s{args.seed}.json")
        run.tracer.write(trace_path, {"workload": args.workload, "seed": args.seed})
        run.detail["trace_file"] = trace_path

    attempted, failed = run.attempted_failed()
    run.detail.update(
        passes=[
            {"id": p.pass_id, "wall_s": round(p.wall, 4), "cpu_s": round(p.cpu_s, 3),
             "items_s": [round(x, 4) for x in p.samples]}
            for p in run.passes
        ],
        canary={"before": canary_before, "after": canary_after},
        failed_frac=failed / attempted,
        failures=run.failures,
    )
    with open(os.path.join(args.out, f"detail-{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(run.detail, f, indent=1)
    print("canary " + json.dumps(run.detail["canary"]))
    print("passes " + " ".join(f"{p['id']}={p['wall_s']}" for p in run.detail["passes"]))
    for msg in run.failures:
        print("FAILED " + msg)
    run.spark.stop()
    mark("stop")
    print("phases " + json.dumps(phases))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    code = main()
    sys.stderr.flush()
    # run.py ends the process group (the Spark JVM included) once this exits
    os._exit(code)

"""Medallion lakehouse benchmark: batch backfill and stream replay.

Usage, from the repository root:

    python3 perfbench/run.py --workload medallion_backfill --seed 1 \
        --seconds 20 --trace 0

Workloads (see BENCHMARK.json for why each exists):

- ``medallion_backfill``: generated bronze → ``transforms.bronze_to_silver``
  + ``transforms.dedup_trades`` → silver parquet by ``event_date`` →
  ``operators.bars.ohlcv_bars`` → gold parquet by (``bar_date``, ``symbol``),
  then one closed-loop analyst client over gold. Iterations repeat until
  ``--seconds`` have passed, and at least twice.
- ``medallion_stream``: the same generator's bronze replayed through
  ``streaming.pipeline.start_silver_job`` (``availableNow``, one file per
  micro-batch), then ``start_gold_job`` drains the silver it wrote. Replays
  repeat until ``--seconds`` have passed, and at least once.

One Spark driver process at ``local[nproc]`` does all the work. Inputs come
from ``--seed``; every output is checked against DuckDB outside the timed
regions. The last stdout line is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Each run also
writes a record (per-run details, spans, tracing overhead, a hash of the
sources it ran) to ``.bench_results/``. Scratch files live in
``.bench_work/<run>`` and are deleted at exit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from datetime import datetime  # noqa: E402

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
# The package under test sits at the checkout root; without it the imports
# below fail and the run exits non-zero before printing a result.
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import gen  # noqa: E402
import medallion  # noqa: E402
from spans import NullTracer, Tracer, self_counters, self_times, stage_counters  # noqa: E402

BACKFILL, STREAM = "medallion_backfill", "medallion_stream"
#: Rows per bronze file is the stream's micro-batch size; the backfill
#: reads its bronze in fewer, larger files.
TRAFFIC = {
    BACKFILL: dict(rows=100_000, rows_per_file=20_000),
    STREAM: dict(rows=81_000, rows_per_file=3_000),
}
#: The tail percentile of each workload: the highest one with at least ten
#: samples beyond it at the smallest sample count a run can have
#: (2 iterations x 7 rounds x 3 queries; 27 micro-batches).
TAIL = {BACKFILL: 0.75, STREAM: 0.60}
ROUNDS = 7
#: Analyst rounds in the warm-up: after one build, the query latencies of
#: a fresh process level off within two or three rounds.
WARM_ROUNDS = 4
#: Full builds in the backfill warm-up: after only one, the first timed
#: build ran 5-30% slower than the second (a partial build leaves even more
#: still compiling).
WARM_BUILDS = 2
MIN_ITERATIONS = {BACKFILL: 2, STREAM: 1}
#: Bronze files a warm-up stream replay reads: after a 3-file warm-up the
#: micro-batch times kept falling for another ten batches.
WARM_FILES = 12

BATCH_LAYERS = (
    "transforms.bronze_to_silver",
    "transforms.dedup_trades",
    "sources.silver_write",
    "operators.bars",
    "operators.analysis",
)
STAGE_UNITS = {
    "tasks": "count",
    "executor_run_s": "s",
    "shuffle_write_bytes": "B",
    "spill_bytes": "B",
    "peak_exec_mem_bytes": "B",
}
OVERHEAD_KEYS = ("rows_per_s", "latency_p50_ms", "latency_tail_ms")
DURATION_KEYS = {
    "add_batch_ms_p50": "addBatch",
    "query_planning_ms_p50": "queryPlanning",
    "latest_offset_ms_p50": "latestOffset",
    "wal_commit_ms_p50": "walCommit",
    "commit_offsets_ms_p50": "commitOffsets",
}


def pin_dirs(work: str) -> None:
    """Point every scratch path of this process and its children (Python
    temp files, Spark local dirs, the JVM temp dir) into ``work``, and drop
    operator overrides of the engine's session knobs, so the session runs
    with the engine's own defaults (driver heap included)."""
    tmp = os.path.join(work, "tmp")
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ.update(
        {
            "TMPDIR": tmp,
            "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
            # -XX:-UsePerfData: no hsperfdata files in the system /tmp.
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        }
    )
    tempfile.tempdir = tmp


def sources_hash() -> str:
    """Hash of the package and benchmark sources: run records of other
    code are not pooled with this code's."""
    h = hashlib.sha256()
    for pattern in ("crypto_streaming_lakehouse_spark/**/*.py", "perfbench/*.py"):
        for path in sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()[:16]


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(p * len(s)) - 1)]


def tree_stats(path: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``path`` whose names end with ``suffix``."""
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def steal_s() -> float:
    """CPU time the hypervisor gave to other guests since boot, in seconds:
    the run record keeps it so host contention can be told from a slow
    program."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(spark) -> tuple[float, float]:
    """Driver JVM high-water RSS and this Python process's max RSS, in MB."""
    pid = spark.sparkContext._gateway.proc.pid
    with open(f"/proc/{pid}/status") as f:
        hwm_kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
    return hwm_kb / 1024.0, resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


class Tally:
    """Operations attempted and failed; a failed output check counts too."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def ops(self, n: int) -> None:
        self.attempted += n

    def check(self, name: str, mismatches: int) -> None:
        self.attempted += 1
        if mismatches:
            self.failed += 1
            self.failures.append(f"{name}: {mismatches} mismatching rows")


class Bench:
    """One run's generated inputs, DuckDB oracle and measured passes."""

    def __init__(self, spark, work: str, workload: str, seed: int, tally: Tally):
        self.spark, self.work, self.workload, self.tally = spark, work, workload, tally
        self.rng = random.Random(seed)
        t0 = time.perf_counter()
        self.info = gen.generate(f"{work}/in", gen.Traffic(**TRAFFIC[workload]), seed)
        self.gen_s = time.perf_counter() - t0
        self.bronze = f"{work}/in/bronze"
        self.oracle = checks.Oracle(f"{work}/in/trades.parquet")
        self.dates = [
            r[0]
            for r in self.oracle.con.execute(
                "SELECT DISTINCT make_timestamp(start_us)::DATE::VARCHAR FROM ref_bars ORDER BY 1"
            ).fetchall()
        ]
        self._n = 0
        self.ref = None
        self.check_s = 0.0

    def fresh(self, tag: str) -> str:
        """A new output directory for one iteration or replay."""
        self._n += 1
        path = os.path.join(self.work, f"{tag}{self._n}")
        os.makedirs(path)
        return path

    # -- batch backfill ---------------------------------------------------

    def backfill(self, tracer, seconds: float, min_iterations: int) -> dict:
        builds, latencies = [], []
        deadline = time.perf_counter() + seconds
        while len(builds) < min_iterations or time.perf_counter() < deadline:
            out = self.fresh("backfill")
            rounds = [
                (self.rng.choice(self.info["symbols"]), self.rng.choice(self.dates))
                for _ in range(ROUNDS)
            ]
            with tracer.span("medallion_backfill.iteration"):
                builds.append(
                    medallion.build(
                        self.spark,
                        tracer,
                        self.bronze,
                        f"{out}/silver",
                        f"{out}/gold",
                        layers=tracer.enabled,
                    )
                )
                self.tally.ops(2)
                lat, answers = medallion.query_mix(self.spark, tracer, f"{out}/gold", rounds)
                self.tally.ops(len(lat))
            latencies += lat
            t0 = time.perf_counter()
            self.check_backfill(out, answers)
            self.check_s += time.perf_counter() - t0
        return {
            "rows_per_s": self.info["rows"] * len(builds) / sum(builds),
            "latency_p50_ms": statistics.median(latencies),
            "latency_tail_ms": percentile(latencies, TAIL[BACKFILL]),
            "builds_s": builds,
            "latencies_ms": latencies,
        }

    def check_backfill(self, out: str, answers: list) -> None:
        self.check_batch(out, "bf")
        for symbol, bar_date, top, n in answers:
            self.tally.check(
                "top_k_recent", top != self.oracle.top_k("bf_gold", symbol, medallion.TOP_K)
            )
            self.tally.check(
                "bar lookup", n != self.oracle.lookup_count("bf_gold", bar_date, symbol)
            )
        if self.ref is None:
            flags = medallion.anomaly_flags(self.spark, f"{out}/gold")
            self.tally.check("anomaly flags", self.oracle.flag_mismatches("bf_gold", flags))
            self.ref = out
        self.last_backfill = out

    def check_batch(self, out: str, prefix: str) -> None:
        """Silver holds each distinct trade once; gold equals DuckDB's bars.
        Loads both as the oracle's ``<prefix>_silver`` and ``<prefix>_gold``."""
        silver_rows = self.oracle.load_silver(f"{prefix}_silver", f"{out}/silver")
        self.tally.check("silver rows = distinct trades", silver_rows != self.info["distinct"])
        self.oracle.load_gold(f"{prefix}_gold", f"{out}/gold")
        self.tally.check("gold = DuckDB bars", self.oracle.gold_mismatches(f"{prefix}_gold"))

    def reference(self) -> str:
        """A checked batch backfill of this run's bronze: what the stream
        must equal. Built after the timed region when no iteration made one."""
        if self.ref is None:
            out = self.fresh("reference")
            medallion.build(self.spark, NullTracer(), self.bronze, f"{out}/silver", f"{out}/gold")
            self.tally.ops(2)
            self.ref = out
        self.check_batch(self.ref, "ref")
        return self.ref

    # -- stream replay ----------------------------------------------------

    def stream(self, tracer, seconds: float, min_replays: int) -> dict:
        walls, latencies, replays = [], [], []
        deadline = time.perf_counter() + seconds
        while len(walls) < min_replays or time.perf_counter() < deadline:
            out = self.fresh("stream")
            with tracer.span("medallion_stream.replay"):
                wall, ps, pg, queries = medallion.replay(self.spark, tracer, self.bronze, out)
            self.tally.ops(2)
            walls.append(wall)
            latencies += [p.durationMs["triggerExecution"] for p in ps if p.numInputRows > 0]
            replays.append((out, ps, pg, queries))
        t0 = time.perf_counter()
        self.reference()
        for out, ps, pg, _ in replays:
            self.check_stream(out, ps, pg)
        self.check_s += time.perf_counter() - t0
        self.last_stream = replays[-1]
        return {
            "rows_per_s": self.info["rows"] * len(walls) / sum(walls),
            "latency_p50_ms": statistics.median(latencies),
            "latency_tail_ms": percentile(latencies, TAIL[STREAM]),
            "replays_s": walls,
            "latencies_ms": latencies,
            "state_commit_ms": [
                sum(so.commitTimeMs for so in p.stateOperators)
                for _, ps, _, _ in replays
                for p in ps
                if p.numInputRows > 0
            ],
        }

    def check_stream(self, out: str, ps: list, pg: list) -> None:
        n = self.oracle.load_silver("stream_silver", f"{out}/silver")
        self.tally.check("stream silver rows = distinct trades", n != self.info["distinct"])
        self.tally.check(
            "stream silver = batch silver",
            self.oracle.silver_mismatches("ref_silver", "stream_silver"),
        )
        dropped = sum(so.numRowsDroppedByWatermark for p in ps + pg for so in p.stateOperators)
        self.tally.check("rows dropped by watermark", dropped)
        self.oracle.load_gold("stream_gold", f"{out}/gold")
        wm = datetime.fromisoformat(pg[-1].eventTime["watermark"])
        wm_us = int(wm.timestamp()) * 1_000_000 + wm.microsecond
        self.tally.check(
            "stream gold = batch gold on closed windows",
            self.oracle.stream_gold_mismatches("ref_gold", "stream_gold", wm_us),
        )

    # -- set-up ---------------------------------------------------------------

    def warm_up(self, trace: bool) -> None:
        """Untimed passes that compile and load what the timed passes use:
        the workload's own, and in a traced run the other workload's too."""
        few = os.path.join(self.work, "warm_bronze")
        os.makedirs(few)
        for name in sorted(os.listdir(self.bronze))[:WARM_FILES]:
            os.link(os.path.join(self.bronze, name), os.path.join(few, name))
        tracer = NullTracer()
        if self.workload == BACKFILL or trace:
            bronze = self.bronze if self.workload == BACKFILL else few
            for _ in range(WARM_BUILDS):
                out = self.fresh("warm")
                medallion.build(
                    self.spark, tracer, bronze, f"{out}/silver", f"{out}/gold", layers=trace
                )
            symbols, dates = self.info["symbols"], self.dates
            rounds = [
                (symbols[i % len(symbols)], dates[i % len(dates)]) for i in range(WARM_ROUNDS)
            ]
            medallion.query_mix(self.spark, tracer, f"{out}/gold", rounds)
        if self.workload == STREAM or trace:
            medallion.replay(self.spark, tracer, few, self.fresh("warm"))

    # -- traced run -----------------------------------------------------------

    def one_core_build_s(self) -> float:
        """The silver and gold builds at local[1], in a separate process.
        Its heap is capped at 2 GB, which holds these inputs many times over,
        so a traced run does not hold two full-size driver heaps at once."""
        out = self.fresh("onecore")
        proc = subprocess.run(
            [sys.executable, os.path.join(BENCH, "onecore.py"), self.bronze, out],
            env={**os.environ, "SPARK_GRAFT_DRIVER_MEM": "2g"},
            capture_output=True,
            text=True,
            timeout=150,
            check=True,
        )
        return json.loads(proc.stdout.strip().splitlines()[-1])["build_s"]

    def layer_metrics(self, tracer, session_s: float) -> dict:
        m = {}
        times, counters = self_times(tracer.spans), self_counters(tracer.spans)
        for layer in BATCH_LAYERS:
            ids = [s["id"] for s in tracer.spans if s["name"] == layer]
            m[f"{layer}.s"] = (statistics.median(times[i] for i in ids), "s")
            for key, unit in STAGE_UNITS.items():
                m[f"{layer}.{key}"] = (statistics.median(counters[i][key] for i in ids), unit)

        out = self.last_backfill
        dropped = self.info["rows"] - checks.count_rows(f"{out}/silver")
        m["transforms.dedup_trades.rows_dropped"] = (dropped, "count")
        m["transforms.dedup_trades.dup_recall"] = (dropped / self.info["duplicates"], "ratio")
        silver_files, silver_bytes = tree_stats(f"{out}/silver", ".parquet")
        m["sources.silver.files"] = (silver_files, "count")
        m["sources.gold.files"] = (tree_stats(f"{out}/gold", ".parquet")[0], "count")
        m["sources.silver.bytes_per_bronze_byte"] = (silver_bytes / self.info["bronze_bytes"], "ratio")
        m["session.get_spark_s"] = (session_s, "s")

        out, ps, pg, (qs, qg) = self.last_stream
        for name, prog, query, sub in (
            ("streaming.silver", ps, qs, "silver"),
            ("streaming.gold", pg, qg, "gold"),
        ):
            m[f"{name}.batches"] = (len(prog), "count")
            for key, duration in DURATION_KEYS.items():
                m[f"{name}.{key}"] = (statistics.median(p.durationMs.get(duration, 0) for p in prog), "ms")
            m[f"{name}.fixed_ms_p50"] = (
                statistics.median(
                    p.durationMs["triggerExecution"] - p.durationMs.get("addBatch", 0) for p in prog
                ),
                "ms",
            )
            ops = [[so for so in p.stateOperators] for p in prog]
            m[f"{name}.state_rows"] = (sum(so.numRowsTotal for so in ops[-1]), "count")
            m[f"{name}.state_memory_bytes"] = (
                max(sum(so.memoryUsedBytes for so in o) for o in ops),
                "B",
            )
            m[f"{name}.state_commit_ms_p50"] = (
                statistics.median(sum(so.commitTimeMs for so in o) for o in ops),
                "ms",
            )
            m[f"{name}.rows_dropped_by_watermark"] = (
                sum(so.numRowsDroppedByWatermark for o in ops for so in o),
                "count",
            )
            m[f"{name}.rows_out"] = (checks.count_rows(f"{out}/{sub}"), "count")
            c = stage_counters(self.spark, str(query.runId))
            m[f"{name}.tasks"] = (c["tasks"], "count")
            m[f"{name}.shuffle_write_bytes"] = (c["shuffle_write_bytes"], "B")
        m["streaming.checkpoint_bytes"] = (
            tree_stats(f"{out}/ckpt_silver")[1] + tree_stats(f"{out}/ckpt_gold")[1],
            "B",
        )
        return m


def untraced_medians(workload: str, sources: str) -> tuple[int, dict]:
    """How many earlier correct untraced runs of ``workload`` on the same
    ``sources`` this checkout holds, and the medians of their end-to-end
    numbers."""
    runs = []
    for path in glob.glob(os.path.join(ROOT, ".bench_results", f"{workload}-*-t0-*.json")):
        with open(path) as f:
            rec = json.load(f)
        if rec["result"]["correct"] and rec.get("sources") == sources:
            runs.append(rec["untraced"])
    if not runs:
        return 0, {}
    return len(runs), {k: statistics.median(r[k] for r in runs) for k in OVERHEAD_KEYS}


def traced_run(bench: Bench, spark, run_id: str, session_s: float, record: dict) -> dict:
    """One traced pass of the workload, one traced pass of the other
    workload's layers over the same bronze, and the one-core baseline.
    Returns the per-layer metrics; the record gets the spans and the
    tracing overhead against this checkout's untraced runs of the same
    sources."""
    tracer = Tracer(spark, run_id)
    try:
        if bench.workload == BACKFILL:
            traced = bench.backfill(tracer, 0, 1)
            bench.stream(tracer, 0, 1)
        else:
            traced = bench.stream(tracer, 0, 1)
            bench.backfill(tracer, 0, 1)
    finally:
        tracer.close()
    record["traced"] = traced
    record["spans"] = tracer.spans
    n, base = untraced_medians(bench.workload, record["sources"])
    record["tracing_overhead"] = {
        "bookkeeping_s": tracer.bookkeeping_s,
        "untraced_runs": n,
        **{k: traced[k] - v for k, v in base.items()},
    }

    metrics = bench.layer_metrics(tracer, session_s)
    by_name = {}
    for s in tracer.spans:
        by_name.setdefault(s["name"], []).append(s["end"] - s["start"])
    four_core = statistics.median(
        a + b for a, b in zip(by_name["sources.silver_write"], by_name["operators.bars"])
    )
    record["one_core_build_s"] = bench.one_core_build_s()
    metrics["medallion_backfill.speedup_vs_1core"] = (record["one_core_build_s"] / four_core, "x")
    return metrics


def run(args, work: str, run_id: str) -> tuple[dict, dict]:
    tally = Tally()
    phases = {"imports": time.perf_counter() - T_START}
    record: dict = {
        "run": run_id,
        "workload": args.workload,
        "seed": args.seed,
        "sources": sources_hash(),
        "phases": phases,
    }
    t0 = time.perf_counter()
    nproc = len(os.sched_getaffinity(0))
    spark = medallion.start_spark(nproc, work)
    session_s = time.perf_counter() - t0
    bench = None
    try:
        bench = Bench(spark, work, args.workload, args.seed, tally)
        phases["inputs"] = time.perf_counter() - T_START
        bench.warm_up(bool(args.trace))
        phases["warm_up"] = time.perf_counter() - T_START
        setup_s = time.perf_counter() - T_START
        record["setup"] = {
            "session_s": session_s,
            "gen_s": bench.gen_s,
            "span_h": bench.info["span_h"],
            "setup_s": setup_s,
        }

        steal0 = steal_s()
        if args.trace:
            metrics = traced_run(bench, spark, run_id, session_s, record)
        else:
            measure = bench.backfill if args.workload == BACKFILL else bench.stream
            e2e = measure(NullTracer(), args.seconds, MIN_ITERATIONS[args.workload])
            record["untraced"] = e2e
            record["rss_mb"] = dict(zip(("jvm", "python"), peak_rss_mb(spark)))
            metrics = {
                "setup_s": (setup_s, "s"),
                "rows_per_s": (e2e["rows_per_s"], "rows/s"),
                "latency_p50_ms": (e2e["latency_p50_ms"], "ms"),
                "latency_tail_ms": (e2e["latency_tail_ms"], "ms"),
                "peak_rss_mb": (sum(record["rss_mb"].values()), "MB"),
            }
        phases["measured"] = time.perf_counter() - T_START
        phases["measured_steal_s"] = steal_s() - steal0
    except Exception:
        traceback.print_exc()
        tally.attempted += 1
        tally.failed += 1
        tally.failures.append(traceback.format_exc(limit=1).strip().splitlines()[-1])
        metrics = {}
    finally:
        if bench is not None:
            bench.oracle.close()
        phases["checks_s"] = bench.check_s if bench else 0.0
        medallion.stop_spark(spark)
        phases["stopped"] = time.perf_counter() - T_START
    record["failures"] = tally.failures
    result = {
        "correct": tally.failed == 0,
        "attempted": max(tally.attempted, 1),
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return result, record


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=[BACKFILL, STREAM])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    work = os.path.join(ROOT, ".bench_work", run_id)
    pin_dirs(work)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        result, record = run(args, work, run_id)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    results = os.path.join(ROOT, ".bench_results")
    os.makedirs(results, exist_ok=True)
    record["result"] = result
    with open(os.path.join(results, f"{run_id}.json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

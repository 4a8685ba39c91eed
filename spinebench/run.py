#!/usr/bin/env python3
"""Spine benchmark: pages/sec, F1, memory and stored bytes of the ER spine.

Usage (from the repository root):

    python3 spinebench/run.py --workload crawl --seed 1 --seconds 10 --trace 0
    python3 spinebench/run.py --smoke          # all workloads, tiny, traced

One process, one Spark session on local[nproc].  The benchmark calls only
the public entry points ``plans.pipeline.run_pipeline`` and
``streaming.ingest.start_incremental_er_stream``.  A run stages its
inputs from the seed (set-up), runs one warm-up, then repeats the timed
unit until ``--seconds`` have passed: one ``run_pipeline`` call (crawl)
or one drain of the stream backlog (stream).  End-to-end metrics
come from these untraced units.  With ``--trace 1`` one more unit runs
traced (see spans.py) and the per-layer metrics are printed instead.

Every unit is gated on correctness: batch clusters must carry the same
fingerprint as the warm-up's; the stream's final snapshot must equal
connected components over the batch bucket-join pairs; pairwise F1 must
reach the floor in design.json.  The last stdout line is the result
JSON; the line before it holds the details (host facts, every unit's
wall, spans).  Scratch files live under ``.spinebench/`` in the
repository root and are removed on exit, after Spark, its JVM and its
Python workers have stopped.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time
import traceback

from metrics import END_TO_END, per_layer_spec

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("crawl", "stream")


# ------------------------------------------------------------------ host
def spin_s() -> float:
    """Wall of a fixed single-thread pure-Python loop, taken while idle."""
    t0 = time.perf_counter()
    x = 0
    for i in range(5_000_000):
        x += i
    return time.perf_counter() - t0


def host_facts(spark, spin: float) -> dict:
    import pyarrow

    with open("/proc/meminfo") as f:
        mem_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_mb": mem_kb // 1024,
        "spark": spark.version,
        "python": platform.python_version(),
        "pyarrow": pyarrow.__version__,
        "spin_5m_adds_s": round(spin, 4),
    }


class PeakMemory:
    """Peak memory of the JVM and its Python workers while the block runs.

    JVM: VmHWM after ``clear_refs`` = 5 resets it.  Python workers (the
    pyspark daemon and its forks): their PSS summed, sampled every 0.2 s.  Workers are forked from the pyspark
    daemon and share most pages with it, so summing their VmHWM would count
    those pages once per live worker, and the number of live workers (idle
    ones exit after a minute) would decide the result."""

    INTERVAL_S = 0.2

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.py_peak_kb = 0
        self.jvm_mb = self.mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample, name="peak-memory")

    def _sample(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            workers = [p for p in process_tree(self.jvm_pid)[1:] if _is_pyspark(p)]
            total = sum(_status_kb(p, "Pss:", "smaps_rollup") for p in workers)
            self.py_peak_kb = max(self.py_peak_kb, total)

    def __enter__(self):
        with open(f"/proc/{self.jvm_pid}/clear_refs", "w") as f:
            f.write("5")
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.jvm_mb = _status_kb(self.jvm_pid, "VmHWM:", "status") / 1024
        self.mb = self.jvm_mb + self.py_peak_kb / 1024


def process_tree(root: int) -> list[int]:
    """``root`` and every process below it."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):  # process ended meanwhile
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _is_pyspark(pid: int) -> bool:
    """A pyspark daemon or worker (not a helper the JVM forks and execs)."""
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark" in f.read()
    except OSError:
        return False


def _status_kb(pid: int, key: str, table: str) -> int:
    """One ``key`` line (in kB) of /proc/<pid>/<table>; 0 once it ended."""
    try:
        with open(f"/proc/{pid}/{table}") as f:
            return next((int(line.split()[1]) for line in f if line.startswith(key)), 0)
    except OSError:
        return 0


# --------------------------------------------------------------- session
def start_session(work: str, cores: int):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    from berkeley_entity_spark.session import get_spark

    spark = get_spark(
        app_name="spinebench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            # a fixed, pre-touched heap: G1 grows a heap from -Xms in steps
            # whose timing varies run to run, and each step moved the JVM's
            # peak RSS by ~0.5 GB; fixed, the peak moves only with memory
            # outside the heap (native, direct buffers, Python workers)
            "spark.driver.memory": "3g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": (
                f"-Xms3g -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}"
            ),
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of a traced unit in the status store
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, pids: list[int]) -> None:
    """Stop Spark, close the gateway (the JVM exits when its stdin closes)
    and wait until the JVM and every Python worker in ``pids`` ended."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def timed_loop(unit, seconds: float) -> tuple[list, int, int]:
    """Run ``unit`` until ``seconds`` have passed (the unit in flight
    completes).  Returns (walls of correct units, attempted, failed)."""
    walls, attempted, failed = [], 0, 0
    t0 = time.monotonic()
    while True:
        attempted += 1
        try:
            wall, ok = unit()
        except Exception:  # a failed unit is counted, the run goes on
            traceback.print_exc()
            ok = False
        if ok:
            walls.append(wall)
        else:
            failed += 1
        if time.monotonic() - t0 >= seconds:
            return walls, attempted, failed


# ------------------------------------------------------------------ batch
def bench_batch(spark, name, seed, seconds, trace, size, work, cores, ctx) -> dict:
    from berkeley_entity_spark.evaluate import (
        blocking_recall,
        pairwise_f1_combinatorial,
    )
    from berkeley_entity_spark.operators.blocking import distinct_surfaces
    from berkeley_entity_spark.operators.scoring import match_edges
    from berkeley_entity_spark.plans.checkpoint import CheckpointStore
    from berkeley_entity_spark.synth import gold_pair_table

    import workloads as W
    from spans import SpineTrace, TimingStore, Tracer, layer_counters

    tracer = Tracer(spark, f"sb-{name}")
    t0 = time.monotonic()
    with tracer.span("stage", "session"):
        inputs = W.stage_batch(os.path.join(work, "in"), seed, size, files=2 * cores)
    stage_s = time.monotonic() - t0
    gold = W.read_gold(spark, inputs)
    ckpt = os.path.join(work, "ckpt")

    def unit(store):
        pages = spark.read.parquet(inputs.pages_dir)
        wall, res = W.run_batch(spark, pages, ckpt, store)
        return wall, res, W.fingerprint(res.clusters, "mention_id", "cluster_id")

    warm_s, res, fp0 = unit(CheckpointStore(ckpt))
    f1 = pairwise_f1_combinatorial(res.clusters, gold.select("mention_id", "entity_id"))["f1"]
    stored = W.stage_bytes(ckpt)
    setup_s = ctx["session_s"] + stage_s + warm_s

    def timed():
        wall, _, fp = unit(CheckpointStore(ckpt))
        return wall, fp == fp0

    with PeakMemory(ctx["jvm_pid"]) as memory:
        walls, attempted, failed = timed_loop(timed, seconds)
    peak = memory.mb
    floor = ctx["design"]["pairwise_f1_floor"][name]
    correct = failed == 0 and f1 >= floor
    e2e = {
        "pages_per_s": inputs.n_pages / statistics.median(walls),
        "batch_p50_s": statistics.median(walls),
        "pairwise_f1": f1,
        "peak_rss_mb": peak,
        "stored_bytes_per_page": stored / inputs.n_pages,
        "setup_s": setup_s,
    }
    detail = {
        "n_pages": inputs.n_pages,
        "stage_s": stage_s,
        "warmup_s": warm_s,
        "unit_walls_s": walls,
        "peak_jvm_mb": memory.jvm_mb,
        "fingerprint": list(fp0),
        "pairwise_f1_floor": floor,
    }
    layers = {}
    if trace:
        traced = Tracer(spark, f"sb-{name}-traced")
        st = SpineTrace(traced)
        with st.run():
            wall_t, res, fp_t = unit(TimingStore(ckpt, trace=st))
        attempted += 1
        if fp_t != fp0:
            failed += 1
            correct = False
        counters = layer_counters(spark, tracer.spans + traced.spans, cores)
        counters["session"]["wall_s"] += ctx["session_s"]
        # the store's own metrics table: rows and write wall per stage
        stage_rows = [r.asDict() for r in CheckpointStore(ckpt).metrics(spark).collect()]
        rows = {r["stage"]: r["rows_out"] for r in stage_rows}
        write_s = sum(r["wall_ms"] for r in stage_rows) / 1e3
        for table, layer in (
            ("mentions", "extract"),
            ("candidate_pairs", "blocking"),
            ("scored_pairs", "scoring"),
            ("clusters", "clustering"),
        ):
            counters[layer]["rows_out"] = rows[table]
        counters["checkpoint"]["rows_out"] = sum(rows.values())
        counters["session"]["rows_out"] = inputs.n_pages
        materialize_s = sum(
            s.seconds for s in traced.spans if s.name.endswith((":write", ":recount"))
        )
        n_surfaces = distinct_surfaces(res.mentions).count()
        layers = {f"{layer}.{c}": v for layer, cs in counters.items() for c, v in cs.items()}
        layers.update(
            {
                "extract.props_keys_s": st.child_seconds("with_number_gender"),
                "blocking.pairs_per_surface": rows["candidate_pairs"] / n_surfaces,
                "blocking.recall": blocking_recall(
                    gold_pair_table(gold), res.mentions, res.pairs
                ),
                "scoring.match_rate": match_edges(
                    res.scored, W.pipeline_config(ckpt).score_threshold
                ).count()
                / rows["scored_pairs"],
                "checkpoint.write_s": write_s,
                "checkpoint.recount_s": materialize_s - write_s,
                "trace.uncovered_s": st.uncovered_s(),
                "trace.overhead_s": wall_t - statistics.median(walls),
            }
        )
        detail["traced_wall_s"] = wall_t
        detail["spans"] = span_rows(traced.spans)
    return finish(e2e, layers, attempted, failed, correct, detail)


def span_rows(spans) -> list:
    t0 = min(s.t0 for s in spans)
    return [
        {
            "name": s.name,
            "layer": s.layer,
            "parent": s.parent.name if s.parent else None,
            "start_s": round(s.t0 - t0, 4),
            "seconds": round(s.seconds, 4),
        }
        for s in spans
    ]


# ----------------------------------------------------------------- stream
def bench_stream(spark, name, seed, seconds, trace, size, work, cores, ctx) -> dict:
    from pyspark.sql import functions as F

    from berkeley_entity_spark.evaluate import pairwise_f1_combinatorial

    import workloads as W
    from spans import StreamTrace, Tracer, layer_counters

    tracer = Tracer(spark, f"sb-{name}")
    t0 = time.monotonic()
    with tracer.span("stage", "session"):
        inputs = W.stage_stream(os.path.join(work, "in"), seed, size)
    stage_s = time.monotonic() - t0
    out = os.path.join(work, "out")
    gold = W.stream_gold(spark, inputs)

    # checking, not set-up: every drain's final snapshot must equal this
    t0 = time.monotonic()
    reference = W.stream_reference(spark, inputs)
    reference_s = time.monotonic() - t0
    warm_s, _ = W.run_stream(spark, inputs.warm_dir, out)
    setup_s = ctx["session_s"] + stage_s + warm_s

    def drain():
        wall, progress = W.run_stream(spark, inputs.backlog_dir, out)
        snap = W.final_snapshot(spark, out)
        ok = len(progress) == inputs.n_batches and {
            (r[0], r[1]) for r in snap.collect()
        } == reference
        return wall, progress, snap, ok

    triggers: list[float] = []
    first: dict = {}

    def timed():
        wall, progress, snap, ok = drain()
        triggers.extend(p.durationMs["triggerExecution"] / 1e3 for p in progress)
        if not first:
            pred = gold.join(snap, "doc_id", "left").select(
                "doc_id", F.coalesce("cluster_id", "doc_id").alias("cluster_id")
            )
            first["f1"] = pairwise_f1_combinatorial(pred, gold, key="doc_id")["f1"]
            first["stored"] = W.stream_bytes(out)
        return wall, ok

    with PeakMemory(ctx["jvm_pid"]) as memory:
        walls, attempted, failed = timed_loop(timed, seconds)
    peak = memory.mb
    f1 = first["f1"]
    floor = ctx["design"]["pairwise_f1_floor"][name]
    correct = failed == 0 and f1 >= floor
    e2e = {
        "pages_per_s": inputs.n_pages / statistics.median(walls),
        "batch_p50_s": statistics.median(triggers),
        "pairwise_f1": f1,
        "peak_rss_mb": peak,
        "stored_bytes_per_page": first["stored"] / inputs.n_pages,
        "setup_s": setup_s,
    }
    detail = {
        "n_pages": inputs.n_pages,
        "n_batches": inputs.n_batches,
        "stage_s": stage_s,
        "reference_s": reference_s,
        "warmup_s": warm_s,
        "unit_walls_s": walls,
        "peak_jvm_mb": memory.jvm_mb,
        "trigger_s": triggers,
        "pairwise_f1_floor": floor,
    }
    layers = {}
    if trace:
        traced = Tracer(spark, f"sb-{name}-traced")
        stt = StreamTrace(traced)
        with stt.run():
            wall_t, progress, snap, ok = drain()
        attempted += 1
        if not ok:
            failed += 1
            correct = False
        stt.check(len(progress))
        run_group = str(progress[0].runId)
        counters = layer_counters(
            spark, tracer.spans + traced.spans, cores, extra_groups=[(run_group, "streaming")]
        )
        counters["session"]["wall_s"] += ctx["session_s"]
        trigger_s = sum(p.durationMs["triggerExecution"] for p in progress) / 1e3
        streaming = counters["streaming"]
        streaming["wall_s"] = trigger_s - traced.top_level_seconds()
        streaming["slot_util"] = streaming["exec_run_s"] / (streaming["wall_s"] * cores)
        streaming["rows_out"] = sum(p.numInputRows for p in progress)
        counters["session"]["rows_out"] = inputs.n_pages
        counters["blocking"]["rows_out"] = spark.read.parquet(os.path.join(out, "pairs")).count()
        counters["clustering"]["rows_out"] = snap.count()
        counters["checkpoint"]["rows_out"] = spark.read.parquet(os.path.join(out, "assign")).count()

        def dur(*keys):
            return sum(p.durationMs.get(k, 0) for p in progress for k in keys) / 1e3

        layers = {f"{layer}.{c}": v for layer, cs in counters.items() for c, v in cs.items()}
        layers.update(
            {
                "streaming.add_batch_s": dur("addBatch"),
                "streaming.planning_s": dur("queryPlanning"),
                "streaming.commit_s": dur("walCommit", "commitOffsets"),
                "trace.uncovered_s": wall_t - trigger_s,
                "trace.overhead_s": wall_t - statistics.median(walls),
            }
        )
        detail["traced_wall_s"] = wall_t
        detail["spans"] = span_rows(traced.spans)
    return finish(e2e, layers, attempted, failed, correct, detail)


def finish(e2e, layers, attempted, failed, correct, detail) -> dict:
    return {
        "correct": bool(correct),
        "attempted": attempted,
        "failed": failed,
        "end_to_end": e2e,
        "per_layer": layers,
        "detail": detail,
    }


def result_line(res: dict, trace: bool) -> dict:
    """The contract line: every end-to-end metric, or with trace every
    per-layer metric (0 where a layer does not run on the workload)."""
    if trace:
        spec = per_layer_spec()
        values = res["per_layer"]
    else:
        spec, values = END_TO_END, res["end_to_end"]
    return {
        "correct": res["correct"],
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {
            k: {"value": float(values.get(k, 0.0)), "unit": unit} for k, (unit, _) in spec.items()
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="every workload, tiny inputs, traced")
    args = ap.parse_args(argv)
    if not args.smoke and args.workload is None:
        ap.error("--workload is required unless --smoke")
    if not os.path.isdir(os.path.join(ROOT, "berkeley_entity_spark")):
        print(f"no berkeley_entity_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import workloads as W

    with open(os.path.join(HERE, "design.json")) as f:
        design = json.load(f)
    names = WORKLOADS if args.smoke else (args.workload,)
    sizes = W.SMOKE_SIZES if args.smoke else W.SIZES
    trace = bool(args.trace) or args.smoke
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".spinebench", f"{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    spin = spin_s()
    spark = jvm_pid = None
    try:
        t0 = time.monotonic()
        spark = start_session(work, cores)
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        ctx = {"session_s": time.monotonic() - t0, "jvm_pid": jvm_pid, "design": design}
        host = host_facts(spark, spin)
        results = {}
        for name in names:
            bench = bench_stream if name == "stream" else bench_batch
            wdir = os.path.join(work, name)
            results[name] = bench(
                spark, name, args.seed, args.seconds, trace, sizes[name], wdir, cores, ctx
            )
            shutil.rmtree(wdir, ignore_errors=True)
    finally:
        if spark is not None:
            stop_session(spark, process_tree(jvm_pid) if jvm_pid else [])
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass
    for name, res in results.items():
        print(json.dumps({"workload": name, "seed": args.seed, "host": host, **res}))
    if args.smoke:
        lines = {
            name: {**result_line(res, False), "per_layer": result_line(res, True)["metrics"]}
            for name, res in results.items()
        }
        ok = all(r["correct"] for r in results.values())
        print(json.dumps({"correct": ok, "workloads": lines}))
        return 0 if ok else 1
    print(json.dumps(result_line(results[args.workload], trace)))
    return 0


if __name__ == "__main__":
    sys.exit(main())

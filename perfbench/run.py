"""Symbolication benchmark: times the symspark pipeline from outside, through
its public functions, on seeded workloads, and checks every output.

    python3 perfbench/run.py --workload large_stores --seed 1 --seconds 10 --trace 0

Run from the repository root.  The last line of stdout is the result
(``correct``, ``attempted``, ``failed``, ``metrics``); the line before it is
the context (host, inputs, per-op detail).  ``--trace 1`` reports the
per-layer metrics instead of the end-to-end ones, and writes the spans
under ``.perfbench_work/results/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")

# Workload sizes at --scale 1.  Chosen so that every run of every workload
# fits the benchmark's time budget on a 4-core host (perfbench/README.md).
WORKLOADS = {
    "batch_mixed": {"turns": 12_000, "files": 8, "buckets": 4},
    "large_stores": {
        "turns": 600, "files": 8, "buckets": 4,
        "stores": {"sm_tokens": 10_000, "pg_ranges": 2_000, "dsym_symbols": 50_000},
    },
    "microbatch": {"batch_turns": 1200, "files_per_trigger": 8, "batches": 2},
}
SETUP_REPS = 3
OP_TIMEOUT_S = 120.0

END_TO_END = {
    "turns_per_s": "1/s", "cold_run_s": "s", "batch_p50_s": "s", "setup_s": "s", "live_heap_mb": "MB",
}
LAYERS = (
    "route", "parse", "explode", "sourcemap", "proguard", "dsym",
    "assemble.regroup", "assemble.records",
)


def per_layer_names() -> dict[str, str]:
    names = {}
    for layer in LAYERS:
        for m in ("build_s", "self_s", "cpu_s", "gc_s"):
            names[f"{layer}.{m}"] = "s"
    names.update({
        "route.rows_out": "count", "explode.rows_out": "count", "assemble.records.rows_out": "count",
        "assemble.regroup.shuffle_bytes": "bytes",
        "sinks.write_s": "s", "sinks.counters_s": "s", "sinks.bytes_written": "bytes", "sinks.self_s": "s",
        "plan.optimize_s": "s", "plan.self_s": "s", "plan.exchange": "count",
        "plan.broadcast_hash_join": "count", "plan.sort_merge_join": "count",
        "plan.arrow_eval_python": "count",
        "streaming.query_planning_s": "s", "streaming.add_batch_s": "s", "streaming.wal_commit_s": "s",
        "sources.build_s": "s",
        "route.trace_share": "ratio", "route.turns_in": "count",
        "parse.udf_share": "ratio", "parse.rows_traced": "count",
        "sourcemap.hit_ratio": "ratio", "sourcemap.frames_attempted": "count",
        "proguard.hit_ratio": "ratio", "proguard.frames_attempted": "count",
        "dsym.hit_ratio": "ratio", "dsym.frames_attempted": "count",
        "trace.overhead": "ratio", "trace.coverage": "ratio",
        "peak_rss_mb": "MB",
    })
    return names


# ---------------------------------------------------------------------------
# inputs and set-up
# ---------------------------------------------------------------------------

def scaled(workload: str, scale: float) -> dict:
    spec = json.loads(json.dumps(WORKLOADS[workload]))
    for k in ("turns", "batch_turns"):
        if k in spec:
            spec[k] = max(64, int(spec[k] * scale))
    if "stores" in spec:
        spec["stores"] = {k: max(16, int(v * scale)) for k, v in spec["stores"].items()}
    return spec


def generate(workload: str, seed: int, spec: dict, work: str) -> dict:
    """Write the seeded transcripts (and large-store artifacts) under
    ``work``; returns their properties."""
    import gen

    t0 = time.time()
    if workload == "microbatch":
        n = spec["batch_turns"] * spec["batches"]
        rows_per_file = spec["batch_turns"] // spec["files_per_trigger"]
    else:
        n = spec["turns"]
        rows_per_file = -(-n // spec["files"])
    table, props = gen.gen_transcripts(seed, n, large=spec.get("stores"))
    props["files"] = gen.write_transcripts(table, os.path.join(work, "input"), rows_per_file)
    if "stores" in spec:
        props["artifacts"] = gen.write_large_artifacts(seed, os.path.join(work, "artifacts"), spec["stores"])
    props["gen_s"] = time.time() - t0
    return props


def setup_stores_and_input(spark, props: dict, work: str, rep: int, tracer):
    """One set-up: build the stores through symspark.sources, load them and
    the input, and warm the session up.  Returns (input df, lookups, store
    build seconds)."""
    import gen
    from symspark.pipeline import load_lookups
    from symspark.schemas import TRANSCRIPTS_SCHEMA

    with tracer.span("sources.build", rep=rep) as sp:
        tables = (
            gen.large_store_tables(props["artifacts"]) if "artifacts" in props
            else gen.fixture_store_tables()
        )
        store_dir = os.path.join(work, f"stores-{rep}")
        gen.write_store_tables(tables, store_dir)
    build_s = time.time() - sp["start"]
    with tracer.span("sources.load", rep=rep):
        lookups = load_lookups(spark, store_dir)
        transcripts = spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(os.path.join(work, "input"))
        for df in (transcripts, *vars(lookups).values()):
            df.count()
    if rep == 0:
        props["stores"] = gen.store_properties(tables)
    return transcripts, lookups, build_s


# ---------------------------------------------------------------------------
# operations
# ---------------------------------------------------------------------------

class Ops:
    """Counts operations (one run or one micro-batch) and their failures."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.detail: list[dict] = []

    def record(self, label: str, seconds: float, ok: bool, error: str | None = None):
        ok = ok and seconds <= OP_TIMEOUT_S
        self.attempted += 1
        self.failed += not ok
        self.detail.append({"op": label, "s": round(seconds, 4), "ok": ok, **({"error": error} if error else {})})

    def fail_all(self, error: str):
        self.failed = self.attempted
        for d in self.detail:
            d["ok"] = False
            d.setdefault("error", error)


def batch_runs(spark, transcripts, lookups, spec, seconds, work, checker, ops, tracer):
    """A cold ``sinks.run_checkpointed`` into a fresh directory, then warm
    ones, each into a fresh directory, until ``seconds`` have passed since
    the cold one started, and at least one warm one.  A run still going
    after ``OP_TIMEOUT_S`` has its jobs cancelled, fails, and ends the
    loop.  Returns run times."""
    from symspark import sinks
    from harness import output_summary, read_sinks, watchdog

    times = []
    t_end = time.time() + seconds
    while len(times) < 2 or (time.time() < t_end and len(times) < 40):
        base = os.path.join(work, f"out-{len(times)}")
        label = "cold" if not times else f"warm-{len(times)}"
        err = None
        try:
            with tracer.span("run_checkpointed", op=label) as sp, \
                    watchdog(OP_TIMEOUT_S, spark.sparkContext.cancelAllJobs) as wd:
                sinks.run_checkpointed(spark, transcripts, lookups, base, n_buckets=spec["buckets"])
            dt = sp["end"] - sp["start"]
            with tracer.span("check", op=label):
                ok = checker.check(label, output_summary(read_sinks(spark, base)), sinks.aggregate_manifests(base))
        except Exception as e:  # an operation that raises is a failed op, not a crashed benchmark
            dt, ok, err = time.time() - sp["start"], False, f"{type(e).__name__}: {e}"[:500]
        if wd["fired"]:
            ok, err = False, f"timed out after {OP_TIMEOUT_S:g} s"
        ops.record(label, dt, ok, err)
        times.append(dt)
        if wd["fired"]:
            break
        if len(times) > 1:
            shutil.rmtree(os.path.join(work, f"out-{len(times) - 2}"), ignore_errors=True)
    return times


def _progress(q) -> list[dict]:
    return [p if isinstance(p, dict) else json.loads(p.json) for p in q.recentProgress]


def stream_run(spark, lookups, spec, work, checker, ops, tracer):
    """``streaming.run_streaming(available_now=True)`` over the input files:
    one stream, 8 files per trigger, stopped if it has not ended after
    ``OP_TIMEOUT_S``.  Returns (wall seconds, progress of the batches that
    read input)."""
    from symspark.streaming.stream import run_streaming
    from harness import output_summary, read_sinks

    out = os.path.join(work, "stream-out")
    with tracer.span("run_streaming") as sp:
        q = run_streaming(
            spark, os.path.join(work, "input"), lookups, out, os.path.join(work, "checkpoint"),
            available_now=True,
        )
        try:
            ended = q.awaitTermination(OP_TIMEOUT_S)
        except Exception:  # the stream failed: q.exception() says why
            ended = True
        if not ended:
            q.stop()
    wall = sp["end"] - sp["start"]
    err = None if q.exception() is None else str(q.exception())[:500]
    if not ended:
        err = f"stream timed out after {OP_TIMEOUT_S:g} s"
    batches = [p for p in _progress(q) if p.get("numInputRows", 0) > 0]
    with tracer.span("check"):
        summary = output_summary(read_sinks(spark, out), group="batch")
        ok_union = checker.check("union", summary)
    for p in batches:
        rows_out = summary["groups"].get(str(p["batchId"]), 0)
        ok = ok_union and err is None and rows_out == p["numInputRows"]
        ops.record(f"batch-{p['batchId']}", p["durationMs"]["triggerExecution"] / 1e3, ok, err)
    if not batches:
        ops.record("stream", wall, False, err or "no micro-batch read input")
    return wall, batches


def batch_reference(transcripts, lookups) -> dict:
    """Summary of the batch pipeline's output (``run_pipeline``, no sink)
    for the given input: what every workload's output must equal."""
    from symspark.pipeline import run_pipeline
    from harness import output_summary

    return output_summary(run_pipeline(transcripts, lookups))


# ---------------------------------------------------------------------------
# traced layer chain
# ---------------------------------------------------------------------------

def layer_chain(lookups, cfg):
    from symspark.operators import assemble, dsym, frames, proguard, route, sourcemap

    lk = lookups
    return [
        ("route", lambda df: route.gate_and_route(df, cfg)),
        ("parse", lambda df: frames.attach_parsed(df, cfg)),
        ("explode", lambda df: frames.explode_frames(df, cfg)),
        ("sourcemap", lambda df: sourcemap.enrich_js(df, lk.sourcemap_tokens, lk.sourcemap_store, cfg)),
        ("proguard", lambda df: proguard.enrich_jvm(df, lk.proguard_mapping, lk.proguard_store, cfg)),
        ("dsym", lambda df: dsym.enrich_apple(df, lk.dsym_symbols, lk.dsym_store, cfg)),
        ("assemble.regroup", assemble.regroup),
        ("assemble.records", lambda df: assemble.assemble_records(df, cfg)),
    ]


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def trace_layers(spark, transcripts, lookups, spec, work, tracer) -> dict:
    """Chain the layer functions as ``run_pipeline`` does, timing each call
    (build_s) and a noop action on each cumulative prefix (self_s = this
    prefix minus the one before), with executor CPU/GC and shuffle bytes
    per prefix from the status API.  Each prefix runs once, so its time
    includes generating that plan's code."""
    from pyspark.sql import functions as F

    from harness import StatusApi, dir_bytes
    from symspark import sinks
    from symspark.config import DEFAULT_CONFIG as cfg
    from symspark.pipeline import sink_aggregates

    api = StatusApi(spark)
    sc = spark.sparkContext
    m: dict[str, float] = {}
    prefixes = []
    df = transcripts
    with tracer.span("plan.build"):
        for name, fn in layer_chain(lookups, cfg):
            with tracer.span(f"{name}.build") as sp:
                df = fn(df)
            m[f"{name}.build_s"] = sp["end"] - sp["start"]
            prefixes.append((name, df))
    qe = df._jdf.queryExecution()
    with tracer.span("plan.optimize") as sp:
        qe.optimizedPlan()
        qe.executedPlan()
    m["plan.optimize_s"] = sp["end"] - sp["start"]
    m["plan.self_s"] = sum(m[f"{n}.build_s"] for n in LAYERS) + m["plan.optimize_s"]

    prev = {"t": 0.0, "cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0}
    for name, pdf in prefixes:
        group = f"prefix:{name}"
        sc.setJobGroup(group, group)
        with tracer.span(f"{name}.noop") as sp:
            noop(pdf)
        sc.setJobGroup("", "")
        g = api.group_metrics(group)
        cur = {"t": sp["end"] - sp["start"], **{k: g[k] for k in ("cpu_s", "gc_s", "shuffle_bytes")}}
        m[f"{name}.self_s"] = cur["t"] - prev["t"]
        m[f"{name}.cpu_s"] = cur["cpu_s"] - prev["cpu_s"]
        m[f"{name}.gc_s"] = cur["gc_s"] - prev["gc_s"]
        if name == "assemble.regroup":
            m["assemble.regroup.shuffle_bytes"] = cur["shuffle_bytes"] - prev["shuffle_bytes"]
        prev = cur
    nodes = api.plan_nodes("prefix:assemble.records")
    m["plan.exchange"] = nodes.get("Exchange", 0)
    m["plan.broadcast_hash_join"] = nodes.get("BroadcastHashJoin", 0)
    m["plan.sort_merge_join"] = nodes.get("SortMergeJoin", 0)
    m["plan.arrow_eval_python"] = nodes.get("ArrowEvalPython", 0)

    routed = dict(prefixes)["route"].groupBy(cfg.route_col).count().collect()
    m["route.turns_in"] = sum(r["count"] for r in routed)
    m["route.rows_out"] = m["route.turns_in"]
    m["route.trace_share"] = sum(r["count"] for r in routed if r[cfg.route_col] != "skip") / m["route.turns_in"]
    m["explode.rows_out"] = dict(prefixes)["explode"].count()

    # sinks: the routed fan-out write of the full chain, laid out as the
    # workload's own writer lays it out (conv_id buckets for
    # run_checkpointed, route/outcome only for a micro-batch)
    out = os.path.join(work, "trace-sinks")
    keys = sinks.DEFAULT_PARTITION_KEYS
    if "buckets" in spec:
        bucket_id = F.pmod(F.xxhash64(cfg.conv_id_col), F.lit(spec["buckets"])).cast("int")
        df, keys = df.withColumn("bucket", F.format_string("%05d", bucket_id)), ("bucket", *keys)
    with tracer.span("sinks.write") as sp:
        sinks.write_fanout(df, out, partition_keys=keys)
    m["sinks.write_s"] = sp["end"] - sp["start"]
    with tracer.span("sinks.counters") as sp:
        written = spark.read.option("basePath", os.path.join(out, "sinks")).parquet(os.path.join(out, "sinks"))
        counters = sink_aggregates(written).collect()
    m["sinks.counters_s"] = sp["end"] - sp["start"]
    m["sinks.bytes_written"] = dir_bytes(out)
    m["sinks.self_s"] = m["sinks.write_s"] - prev["t"] + m["sinks.counters_s"]
    m["assemble.records.rows_out"] = sum(r["rows"] for r in counters)
    return m


def hit_ratios(per_sink: dict) -> dict:
    m = {}
    for layer, routes in (("sourcemap", ("js", "js_structured")), ("proguard", ("jvm", "jvm_structured")),
                          ("dsym", ("apple", "mk"))):
        c = [v for k, v in per_sink.items() if k.split("/")[0] in routes]
        attempted = sum(v["frames_processed"] for v in c)
        failed = sum(v["frames_failed"] for v in c)
        m[f"{layer}.frames_attempted"] = attempted
        m[f"{layer}.hit_ratio"] = (attempted - failed) / attempted if attempted else 0.0
    return m


def fingerprint_key(workload: str, seed: int, scale: float) -> str:
    return f"{workload}|{seed}|{scale:g}"


def record_seeds(args, seeds: list[int]) -> None:
    """Record, for each seed, the fingerprint of the batch pipeline's output
    on the workload's input in perfbench/digests.json.  Runs of that seed
    must then produce exactly this output."""
    from harness import Tracer, fingerprint, record_fingerprints, start_session, stop_session

    spec = scaled(args.workload, args.scale)
    work = os.path.join(WORK_ROOT, f"{args.workload}-record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    spark = start_session(work, ui=False)
    entries = {}
    for seed in seeds:
        seed_work = os.path.join(work, str(seed))
        props = generate(args.workload, seed, spec, seed_work)
        transcripts, lookups, _ = setup_stores_and_input(spark, props, seed_work, 0, Tracer("record"))
        summary = batch_reference(transcripts, lookups)
        if summary["key_digest"] != props["key_digest"] or summary["rows_with_sink"] != summary["rows"]:
            raise RuntimeError(f"seed {seed}: the batch pipeline lost or duplicated turns")
        entries[fingerprint_key(args.workload, seed, args.scale)] = fingerprint(summary)
        print(f"seed {seed}: {entries[fingerprint_key(args.workload, seed, args.scale)]}", file=sys.stderr)
    stop_session(spark)
    shutil.rmtree(work, ignore_errors=True)
    record_fingerprints(entries)


# ---------------------------------------------------------------------------
# main
# ---------------------------------------------------------------------------

def run(args) -> tuple[dict, dict]:
    from harness import (
        Checker, HostContext, RssSampler, Tracer, fingerprint, live_heap_mb, median,
        start_session, stop_session,
    )

    spec = scaled(args.workload, args.scale)
    work = os.path.join(WORK_ROOT, f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run_id = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    tracer = Tracer(run_id)
    # a traced run makes one set-up and, on a batch workload, one warm run
    short = bool(args.trace)
    host = HostContext()

    props = generate(args.workload, args.seed, spec, work)
    checker = Checker(fingerprint_key(args.workload, args.seed, args.scale), props["key_digest"])
    ops = Ops()
    m: dict[str, float] = {}

    with tracer.span("setup"):
        with tracer.span("session.start") as ss:
            spark = start_session(work, ui=bool(args.trace))
        session_s = ss["end"] - ss["start"]
        reps, builds = [], []
        for rep in range(1 if short else SETUP_REPS):
            t0 = time.time()
            transcripts, lookups, build_s = setup_stores_and_input(spark, props, work, rep, tracer)
            reps.append(time.time() - t0)
            builds.append(build_s)
    m["setup_s"] = session_s + median(reps)
    m["sources.build_s"] = median(builds)
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

    with RssSampler(jvm_pid) as rss:
        with tracer.span("measure"):
            if args.workload == "microbatch":
                wall, batches = stream_run(spark, lookups, spec, work, checker, ops, tracer)
                durs = [p["durationMs"]["triggerExecution"] / 1e3 for p in batches]
                n_turns = sum(p["numInputRows"] for p in batches)
                warm = durs[1:] or durs
                m["turns_per_s"] = n_turns / wall
                m["cold_run_s"] = durs[0] if durs else wall
                for key, src in (("query_planning_s", "queryPlanning"), ("add_batch_s", "addBatch"),
                                 ("wal_commit_s", "walCommit")):
                    m[f"streaming.{key}"] = median([p["durationMs"].get(src, 0) / 1e3 for p in batches[1:]])
            else:
                durs = batch_runs(spark, transcripts, lookups, spec, 0 if short else args.seconds,
                                  work, checker, ops, tracer)
                warm = durs[1:]
                m["turns_per_s"] = median([props["turns"] / d for d in warm])
                m["cold_run_s"] = durs[0]
            m["batch_p50_s"] = median(warm)
        m["peak_rss_mb"] = rss.peak_mb
        m["peak_rss_jvm_mb"] = rss.peak_jvm_mb
        with tracer.span("live_heap"):
            m["live_heap_mb"] = live_heap_mb(spark)
        if args.trace:
            with tracer.span("trace.layers") as tl:
                if args.workload == "microbatch":
                    from symspark.schemas import TRANSCRIPTS_SCHEMA

                    files = sorted(os.listdir(os.path.join(work, "input")))[: spec["files_per_trigger"]]
                    layer_input = spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(
                        *[os.path.join(work, "input", f) for f in files])
                else:
                    layer_input = transcripts
                m.update(trace_layers(spark, layer_input, lookups, spec, work, tracer))
            # of the whole input, or of the first trigger's files (microbatch)
            props["frame_rows"] = m["explode.rows_out"]
    if checker.recorded is None:
        # no recorded fingerprint of the batch pipeline's output for this
        # seed: compute it now, after everything that is timed
        with tracer.span("check.batch_reference"):
            ref = fingerprint(batch_reference(transcripts, lookups))
        if not checker.check_reference(ref):
            ops.fail_all("output differs from the batch pipeline")

    if args.trace:
        m.update(hit_ratios(checker.last["per_sink"]))
        m["parse.udf_share"] = props["udf_share"]
        m["parse.rows_traced"] = props["turns"] - props["kinds"].get("prose", 0)
        # the traced pass and the warm operation it is paired with run the
        # same turns through the same chain, seconds apart in one process
        m["trace.overhead"] = m["batch_p50_s"] / (tl["end"] - tl["start"])
        m["trace.coverage"] = sum(m[f"{n}.self_s"] for n in LAYERS + ("plan", "sinks")) / m["batch_p50_s"]
    context = {
        "workload": args.workload, "seed": args.seed, "scale": args.scale, "trace": args.trace,
        "seconds": args.seconds, "correct": ops.failed == 0 and not checker.failures,
        "spec": spec, "host": host.finish(spark),
        "inputs": {k: v for k, v in props.items() if k not in ("artifacts", "key_digest")},
        "fingerprint": sorted(checker.seen), "fingerprint_recorded": checker.recorded is not None,
        "check_failures": checker.failures, "ops": ops.detail, "metrics_all": m,
    }
    stop_session(spark)
    results = os.path.join(WORK_ROOT, "results")
    tracer.dump(os.path.join(results, f"spans-{args.workload}-seed{args.seed}-trace{args.trace}.json"))
    with open(os.path.join(results, f"result-{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(context, f, indent=1, default=str)
    shutil.rmtree(work, ignore_errors=True)

    names = per_layer_names() if args.trace else END_TO_END
    metrics = {k: {"value": float(m.get(k, 0.0)), "unit": u} for k, u in names.items()}
    result = {
        "correct": context["correct"],
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": metrics,
    }
    return context, result


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size multiplier (tests use small scales)")
    p.add_argument("--record-seeds", metavar="A-B",
                   help="instead of measuring, record the batch pipeline's output fingerprint for seeds A..B")
    args = p.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "symspark", "pipeline.py")):
        print(f"symspark package not found under {ROOT}; run from the repository root", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    if args.record_seeds:
        lo, _, hi = args.record_seeds.partition("-")
        record_seeds(args, list(range(int(lo), int(hi or lo) + 1)))
        return 0
    context, result = run(args)
    print(json.dumps(context, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

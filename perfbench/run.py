"""Benchmark of the paper's commands over a seeded synthetic chain.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0

Run from the repository root. A run starts a local[nproc] Spark session,
writes the seeded raw chain to Parquet SETUP_REPS times (set-up; the
median write counts), then runs the session's first batch extract,
which writes all 10 tables (see phases.py), and:

  extract  measures that extract of the history blocks, as a user of the
           command runs it;
  stream   fills the sink with it (untraced: only the tables the stream
           maintains), then measures closed-loop micro-batches of the
           blocks after the history for at least --seconds, and at least
           phases.MIN_BATCHES of them.

Every output is checked; the last line of stdout is one JSON object
{"correct", "attempted", "failed", "metrics"}. `--trace 0` reports the
end-to-end metrics of the measured command's operations. `--trace 1` does
the same work with a span and a Spark job group around each layer call and
the Spark event log on. It adds the phases whose layers the measured
command does not run: the analysis suite over the extract's output and,
on the extract workload, one replay of the history's last batch (a reorg).
It reports per-layer metrics. Everything a run writes lives under
.perfbench/ in the working directory and is removed at exit.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
SETUP_REPS = 3  # set-up runs this many times, so that setup_s is a median
CORES = len(os.sched_getaffinity(0))

# The end-to-end metrics are per operation of the measured command, so that
# every workload reports all of them; SPECIFIED_NAMES maps the names the
# benchmark was specified with onto them, DROPPED says why others are not
# reported.
END_TO_END = {
    "setup_s": "s",
    "batch_p50_s": "s",
    "batch_tail_s": "s",
    "blocks_per_s": "1/s",
    "peak_rss_mb": "MB",
}
# top-level phases: the span that is one operation of each, and the layer
# spans inside it
PHASES = {
    "extract": ("extract", ("traces.propagate", "extract.enrich", "extract.skeleton_tables",
                            "extract.accounts", "transfers.decode", "blocks.enrich",
                            "sources.write")),
    "stream": ("batch", ("live.commit", "live.sink_dedup")),
    "analyse": ("analyse", ("ngrams", "similarity.cosine", "similarity.jaccard", "lifetimes",
                            "graph.cc", "graph.pagerank", "graph.sssp")),
}
PHASE_FIELDS = ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes", "executor_run_s", "gc_s",
                "busy_share")
# fewer fields per layer keep the metric count under the format's 128; a
# short span's task count follows its jobs, and its spill and GC read 0
LAYER_FIELDS = ("jobs", "shuffle_write_bytes", "executor_run_s", "busy_share")
SPARK_UNITS = {"jobs": "count", "tasks": "count", "shuffle_write_bytes": "B", "spill_bytes": "B",
               "executor_run_s": "s", "gc_s": "s", "busy_share": "ratio"}
SPECIFIED_NAMES = {
    "extract_s": "batch_p50_s on the extract workload",
    "stream_batch_p50_s": "batch_p50_s on the stream workload",
    "stream_batch_tail_s": "batch_tail_s on the stream workload: the slowest of its "
                           "micro-batches, as no percentile has 10 samples beyond it",
    "stream_blocks_per_s": "blocks_per_s on the stream workload",
    "traces.shuffle_bytes": "spark.traces.propagate.shuffle_write_bytes",
    **{
        f"spark.{f}": f"spark.<phase>.{f} for every phase"
        + (" and spark.<layer>.{f} for every layer span" if f in LAYER_FIELDS else "")
        for f in PHASE_FIELDS
    },
}
DROPPED = {
    "analyse_s": "an untraced analyse run does not fit the run budget; the traced run of "
                 "each workload runs the analysis suite and reports traced.analyse_s",
    "failed_share": "end-to-end metrics must never be 0; the result line's failed / "
                    "attempted is this share, and every run prints it",
}

WORKLOADS = ("extract", "stream")


def _parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="least time the stream workload sends micro-batches for")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _session(work: str, trace: bool):
    from eth2dgraph_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
    }
    if trace:
        os.makedirs(f"{work}/events")
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/events",
            "spark.eventLog.compress": "false",
        })
    spark = get_spark("perfbench", master=f"local[{CORES}]", shuffle_partitions=CORES,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for them."""
    from pyspark import SparkContext

    from spans import descendants

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.terminate()
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 60
    while descendants(os.getpid()):
        if time.monotonic() > deadline:
            for pid in descendants(os.getpid()):
                os.kill(pid, 9)
            break
        time.sleep(0.2)


def _data_files(path: str) -> int:
    return sum(
        1 for _, _, files in os.walk(path) for f in files if not f.startswith((".", "_"))
    )


def end_to_end(command: str, res) -> dict:
    """The end-to-end metrics (name -> (value, unit)) of the measured
    command: its operations are the batch extract or the micro-batches."""
    ops = res.ops[command]
    lat = [t for t, _ in ops]
    m = {
        "setup_s": res.metrics["setup_s"],
        "batch_p50_s": statistics.median(lat),
        "batch_tail_s": max(lat),
        "blocks_per_s": sum(b for _, b in ops) / sum(lat),
        "peak_rss_mb": res.metrics["peak_rss_mb"],
    }
    return {k: (v, END_TO_END[k]) for k, v in m.items()}


def _layer_time_name(layer: str) -> str:
    return f"{layer}_s" if "." in layer else f"{layer}.s"


def per_layer(tr, groups: dict, res, command: str) -> dict:
    """The traced run's per-layer metrics (name -> (value, unit)). Times
    and Spark totals are per operation of a phase: one extract, one
    micro-batch, one analysis suite. A layer is taken from the measured
    command where it runs there, else from the phase it belongs to."""
    from spans import spark_by_span

    c = tr.counts
    ops = {phase: len(tr.named(op, phase)) for phase, (op, _) in PHASES.items()}

    def per_op(spans, fields, phase):
        tot = spark_by_span(groups, spans, CORES)
        return {f: tot[f] if f == "busy_share" else tot[f] / ops[phase] for f in fields}

    m = {"session.start_s": (res.metrics["session_start_s"], "s")}
    source = {}
    for home, (op, layers) in PHASES.items():
        # an operation's own time: outside any layer span
        m[f"{op}.self_s"] = (tr.self_time(op, home) / ops[home], "s")
        for f, v in per_op(tr.named(op, home), PHASE_FIELDS, home).items():
            m[f"spark.{home}.{f}"] = (v, SPARK_UNITS[f])
        for layer in layers:
            phase = source[layer] = command if tr.named(layer, command) else home
            # a layer's time is its self time: nested count spans excluded
            m[_layer_time_name(layer)] = (tr.self_time(layer, phase) / ops[phase], "s")
            for f, v in per_op(tr.named(layer, phase), LAYER_FIELDS, phase).items():
                m[f"spark.{layer}.{f}"] = (v, SPARK_UNITS[f])

    def rows(phase, table=""):
        return sum(v for k, v in c.items() if k.startswith(f"{phase}/rows/{table}"))

    p = source["extract.enrich"]
    m["functions.udf_rows"] = (c[f"{p}/udf_rows"] / ops[p], "count")
    m["extract.dedup_ratio"] = (c[f"{p}/udf_rows"] / rows(p, "deployments"), "ratio")
    p = source["sources.write"]
    m["sources.bytes_written"] = (per_op(tr.named("sources.write", p), ("output_bytes",), p)["output_bytes"], "B")
    m["sources.rows_written"] = (rows(p) / ops[p], "count")
    m["sources.files_written"] = (res.counts["extract_files"], "count")
    new_rows = rows("stream") / ops["stream"]
    rewritten = per_op(tr.named("live.commit", "stream"), ("output_records",), "stream")["output_records"] - new_rows
    m["live.rows_rewritten"] = (rewritten, "count")
    m["live.rewrite_ratio"] = (rewritten / new_rows, "ratio")
    m["ngrams.rows"] = (c["analyse/ngrams.rows"], "count")
    m["similarity.pairs"] = (res.counts["cosine_pairs"], "count")
    m["graph.pagerank_iters"] = (res.counts["pagerank_iters"], "count")
    m["graph.sssp_iters"] = (res.counts["sssp_iters"], "count")
    m["traced.analyse_s"] = (sum(s.end - s.start for s in tr.named("analyse", "analyse")), "s")
    return m


def run(args, work: str) -> tuple:
    import phases
    from spans import RssSampler, Tracer, read_event_log

    command = args.workload
    spec = phases.chain_spec(args.seed)
    raw, sink = f"{work}/raw0", f"{work}/sink"
    res = phases.Outcome()
    spark = None
    try:
        t0 = time.monotonic()
        spark = _session(work, args.trace)
        res.metrics["session_start_s"] = time.monotonic() - t0
        reps = []
        for k in range(SETUP_REPS):
            t = time.monotonic()
            phases.write_raw_chain(spark, spec, f"{work}/raw{k}")
            reps.append(time.monotonic() - t)
        res.metrics["setup_s"] = res.metrics["session_start_s"] + statistics.median(reps)
        print(f"perfbench: inputs {spec.properties(phases.HISTORY_LAST)}", file=sys.stderr)
        print(f"perfbench: session {res.metrics['session_start_s']:.1f} s, raw chain writes "
              + ", ".join(f"{t:.1f}" for t in reps) + " s", file=sys.stderr)

        tr = Tracer(spark.sparkContext if args.trace else None)
        # the layer wrappers are on only while a command runs, never
        # while its output is checked
        layers = (lambda: phases.layer_spans(tr)) if args.trace else contextlib.nullcontext
        # peak RSS is sampled only while the measured command runs
        rss = RssSampler()
        # the session's first extract: the extract workload's measured
        # command. On stream it is the fill: it also covers the stream's
        # blocks, whose rows stay out of the sink, so that it gives
        # check_stream its reference at no second extract.
        # The analysis suite of a traced run reads every table; an
        # untraced stream run fills only the tables the stream maintains.
        hi, cut = (phases.HISTORY_LAST, None) if command == "extract" else (spec.last_block, phases.HISTORY_LAST)
        tables = None if command == "extract" or args.trace else phases.STREAM_TABLES
        with rss if command == "extract" else contextlib.nullcontext(), layers():
            took, out = phases.run_extract(spark, raw, sink, hi, tr, cut, tables)
        res.counts["extract_files"] = _data_files(sink)
        tr.collect_observed()
        ref = phases.reference(out, spark, sink) if command == "stream" or args.trace else None
        out.release()
        if command == "extract":
            res.op("extract", took, phases.HISTORY_BLOCKS)
            with tr.span("check"):
                phases.check_extract(spec, sink, phases.HISTORY_LAST, res)
        if args.trace:
            got = phases.run_analyse(spark, sink, tr, res)
            res.counts["cosine_pairs"] = len(got["cosine"])
            res.counts["pagerank_iters"] = got["pagerank_stats"]["iterations"]
            res.counts["sssp_iters"] = got["sssp_stats"]["iterations"]
            with tr.span("check"):
                phases.check_analyse(spark, spec, sink, phases.HISTORY_LAST, got, res)
        if command == "stream" or args.trace:
            if command == "stream":
                with rss, layers():
                    last = phases.run_stream(
                        spark, raw, sink,
                        phases.batch_ranges(phases.HISTORY_LAST + 1, spec.last_block),
                        args.seconds, phases.MIN_BATCHES, tr, res)
            else:
                # the traced extract run replays the history's last batch
                # (a reorg), so that it reports the live layers too
                replay = (phases.HISTORY_LAST - phases.BLOCKS_PER_BATCH + 1, phases.HISTORY_LAST)
                with layers():
                    last = phases.run_stream(spark, raw, sink, [replay], 0, 1, tr, res, replay=True)
            with tr.span("check"):
                phases.check_stream(spark, sink, ref, last, res)
        res.metrics["peak_rss_mb"] = rss.peak / 2**20
        _shutdown(spark)
        spark = None
        print("perfbench: " + ", ".join(f"{s.name} {s.end - s.start:.1f} s" for s in tr.spans
                                        if s.parent is None), file=sys.stderr)
    finally:
        if spark is not None:
            _shutdown(spark)
    if not args.trace:
        return res, end_to_end(command, res)
    tr.dump(os.path.join(os.path.dirname(work), f"{command}-{args.seed}.spans.jsonl"))
    m = per_layer(tr, read_event_log(f"{work}/events"), res, command)
    m["traced.batch_p50_s"] = end_to_end(command, res)["batch_p50_s"]
    return res, m


def main(argv=None) -> int:
    args = _parse(argv)
    root = os.getcwd()
    sys.path[:0] = [root, HERE]
    try:
        import eth2dgraph_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the package from {root}: {e}", file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(f"{work}/tmp")
    # Spark's scratch, the JVM's and Python's temp files all stay in `work`;
    # the Python workers import this directory's modules by name
    os.environ.update({
        # a fixed heap, not get_spark's half-of-RAM default, so peak RSS
        # does not depend on the machine's memory
        "SPARK_DRIVER_MEM": "2g",
        "SPARK_LOCAL_DIRS": f"{work}/local",
        "TMPDIR": f"{work}/tmp",
        "PYTHONPATH": os.pathsep.join([root, HERE, os.environ.get("PYTHONPATH", "")]).rstrip(os.pathsep),
    })
    try:
        res, metrics = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for note in res.notes:
        print(f"FAILED {note}")
    for name, (value, unit) in metrics.items():
        print(f"{name:40s} {value:>16.6f} {unit}")
    print(f"{'failed_share':40s} {res.failed / res.attempted:>16.6f} ratio"
          f" ({res.failed} of {res.attempted} operations and checks)")
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())

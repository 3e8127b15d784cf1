"""Tests of the benchmark's own code.

    python -m pytest perfbench -q          # from the repository root

The Spark test builds one small chain (about 30 s at local[2]).
"""

from __future__ import annotations

import itertools
import json
import math
import os
import re
from dataclasses import replace

import pytest

import chain
import phases
import run
from chain import FIRST_BLOCK, ChainSpec, bytecode_hex, selector
from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME = re.compile(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}")
UNIT = re.compile(r"[A-Za-z0-9_/%.-]{1,16}")
SMALL = ChainSpec(seed=5, n_blocks=64, families=2, family_size=4, body_ops=600, n_eoa=40)

# every metric the benchmark was specified with
SPECIFIED_END_TO_END = (
    "setup_s", "extract_s", "analyse_s", "stream_batch_p50_s", "stream_batch_tail_s",
    "stream_blocks_per_s", "peak_rss_mb", "failed_share",
)
SPECIFIED_PER_LAYER = (
    "session.start_s", "traces.propagate_s", "traces.shuffle_bytes", "extract.enrich_s",
    "extract.skeleton_tables_s", "extract.accounts_s", "functions.udf_rows",
    "extract.dedup_ratio", "transfers.decode_s", "blocks.enrich_s", "sources.write_s",
    "sources.bytes_written", "sources.files_written", "live.commit_s", "live.rows_rewritten",
    "live.rewrite_ratio", "live.sink_dedup_s", "ngrams.rows", "ngrams.s",
    "similarity.cosine_s", "similarity.jaccard_s", "similarity.pairs", "lifetimes.s",
    "graph.cc_s", "graph.pagerank_s", "graph.pagerank_iters", "graph.sssp_s",
    "graph.sssp_iters", "spark.jobs", "spark.tasks", "spark.shuffle_write_bytes",
    "spark.spill_bytes", "spark.executor_run_s", "spark.gc_s", "spark.busy_share",
)


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_count_formula_matches_enumeration():
    for lo, hi, m in itertools.product(range(0, 30, 7), range(30, 75, 11), (4, 12, 20, 100)):
        residues = range(m // 3 + 1)
        assert ChainSpec._count(lo, hi, m, residues) == sum(
            1 for i in range(lo, hi) if i % m in residues
        )


def test_codes_have_family_selectors_and_distinct_skeletons():
    from eth2dgraph_spark.functions.decompile import lift_selectors
    from eth2dgraph_spark.functions.skeleton import skeletonize

    skeletons = set()
    for code_id in range(SMALL.n_distinct):
        code = bytes.fromhex(bytecode_hex(SMALL, code_id)[2:])
        family = code_id // SMALL.family_size
        want = [format(selector(SMALL, family, j), "08x") for j in range(SMALL.selectors)]
        assert lift_selectors(code) == want
        skeletons.add(skeletonize(code))
    assert len(skeletons) == SMALL.n_distinct


def test_similar_pairs_are_exactly_the_same_family_pairs():
    from eth2dgraph_spark.functions.skeleton import skeletonize
    from eth2dgraph_spark.operators.similarity import DEFAULT_COSINE_THRESHOLD

    grams = [
        phases._opcode_ngrams(skeletonize(bytes.fromhex(bytecode_hex(SMALL, c)[2:])))
        for c in range(SMALL.n_distinct)
    ]

    def cosine(a, b):
        dot = sum(v * b[k] for k, v in a.items() if k in b)
        return dot / math.sqrt(sum(v * v for v in a.values()) * sum(v * v for v in b.values()))

    similar = {
        (a, b)
        for a, b in itertools.combinations(range(SMALL.n_distinct), 2)
        if cosine(grams[a], grams[b]) >= DEFAULT_COSINE_THRESHOLD
    }
    same_family = {
        (a, b)
        for a, b in itertools.combinations(range(SMALL.n_distinct), 2)
        if a // SMALL.family_size == b // SMALL.family_size
    }
    assert similar == same_family
    assert len(similar) == SMALL.expected_similar_pairs()


def test_batch_ranges_are_consecutive_and_stop_at_the_chain_end():
    assert list(phases.batch_ranges(10, 19, size=3)) == [(10, 12), (13, 15), (16, 18)]
    assert list(phases.batch_ranges(10, 11, size=3)) == []


def test_short_prefix_is_rejected():
    with pytest.raises(ValueError):
        SMALL.expected_counts(FIRST_BLOCK + 2)


@pytest.fixture(scope="module")
def spark():
    from eth2dgraph_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE])
    s = get_spark("perfbench-test", master="local[2]", shuffle_partitions=2)
    yield s
    s.stop()


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


def test_generator_is_deterministic_and_matches_expected_counts(spark):
    from eth2dgraph_spark.operators.extract import extract_all

    first = chain.synth_chain(spark, SMALL)
    again = chain.synth_chain(spark, SMALL)
    other = chain.synth_chain(spark, replace(SMALL, seed=6))
    for a, b, c in zip(first, again, other):
        assert _rows(a) == _rows(b)
        assert _rows(a) != _rows(c)
    out = extract_all(*first)
    counts = {name: df.count() for name, df in out.as_dict().items()}
    out.release()
    assert counts == SMALL.expected_counts()


def test_commands_pass_their_checks(spark, tmp_path):
    """The phases of both workloads' traced runs over the small chain, each
    followed by the check the benchmark runs after it: extract, analyse and
    a replayed batch; then a fill cut at the history and new batches."""
    raw, sink, fill = (str(tmp_path / d) for d in ("raw", "sink", "fill"))
    hi = SMALL.last_block - 8
    res, tr = phases.Outcome(), Tracer()
    phases.write_raw_chain(spark, SMALL, raw)

    _, out = phases.run_extract(spark, raw, sink, hi, tr)
    ref = phases.reference(out, spark, sink)
    out.release()
    phases.check_extract(SMALL, sink, hi, res)
    got = phases.run_analyse(spark, sink, tr, res)
    phases.check_analyse(spark, SMALL, sink, hi, got, res)
    assert phases.run_stream(spark, raw, sink, [(hi - 3, hi)], 0, 1, tr, res, replay=True) == hi
    phases.check_stream(spark, sink, ref, hi, res)

    _, out = phases.run_extract(spark, raw, fill, SMALL.last_block, tr, cut=hi,
                               tables=phases.STREAM_TABLES)
    ref = phases.reference(out, spark, fill)
    out.release()
    last = phases.run_stream(spark, raw, fill, phases.batch_ranges(hi + 1, SMALL.last_block, 4),
                             0, 2, tr, res)
    phases.check_stream(spark, fill, ref, last, res)
    assert res.failed == 0, res.notes
    assert [b for _, b in res.ops["stream"]] == [0, 4, 4]
    assert last == hi + 8


def test_metric_names_are_valid_and_listed():
    bench = _benchmark_json()
    e2e = [m["name"] for m in bench["end_to_end"]]
    layers = [m["name"] for m in bench["per_layer"]]
    names = e2e + layers + [w["name"] for w in bench["workloads"]]
    assert all(NAME.fullmatch(n) for n in names)
    assert len(set(names)) == len(names)
    assert all(UNIT.fullmatch(m["unit"]) for m in bench["end_to_end"] + bench["per_layer"])
    assert e2e == list(run.END_TO_END)
    assert {w["name"] for w in bench["workloads"]} <= set(run.WORKLOADS)


def _synthetic_trace(command: str):
    """A tracer holding the spans a traced run of `command` records: its
    own phase, plus the phases added for the layers it does not run."""
    tr = Tracer()
    extract_layers = run.PHASES["extract"][1]
    with tr.span("extract"):
        for layer in extract_layers:
            with tr.span(layer):
                pass
    with tr.span("analyse"):
        for layer in run.PHASES["analyse"][1]:
            with tr.span(layer):
                pass
    with tr.span("stream"):
        with tr.span("batch"):
            for layer in extract_layers[:-1] + run.PHASES["stream"][1]:
                with tr.span(layer):
                    pass
    tr.counts.update({
        "extract/udf_rows": 4, "extract/rows/deployments": 40, "stream/udf_rows": 3,
        "stream/rows/deployments": 5, "stream/rows/blocks": 9, "analyse/ngrams.rows": 7,
    })
    res = phases.Outcome()
    res.op("stream", 1.0, 4)
    res.metrics["session_start_s"] = 1.0
    res.counts.update({"extract_files": 10, "cosine_pairs": 3, "pagerank_iters": 2, "sssp_iters": 1})
    return tr, res


@pytest.mark.parametrize("command", run.WORKLOADS)
def test_traced_run_reports_every_listed_per_layer_metric(command):
    tr, res = _synthetic_trace(command)
    emitted = set(run.per_layer(tr, {}, res, command)) | {"traced.batch_p50_s"}
    assert emitted == {m["name"] for m in _benchmark_json()["per_layer"]}


def test_layers_come_from_the_measured_command_where_it_runs_them():
    tr, res = _synthetic_trace("stream")
    assert run.per_layer(tr, {}, res, "stream")["extract.dedup_ratio"][0] == 3 / 5
    assert run.per_layer(tr, {}, res, "extract")["extract.dedup_ratio"][0] == 4 / 40


def test_every_specified_metric_is_emitted_or_accounted_for():
    bench = _benchmark_json()
    emitted = {m["name"] for m in bench["end_to_end"] + bench["per_layer"]}
    for name in SPECIFIED_END_TO_END + SPECIFIED_PER_LAYER:
        assert name in emitted or name in run.SPECIFIED_NAMES or name in run.DROPPED, name

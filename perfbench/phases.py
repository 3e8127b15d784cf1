"""The paper's three commands over the seeded chain, and their output checks.

  extract  batch extract_all over the history blocks, then all 10 tables
           written with sources.eth.write_eth_table.
  analyse  n-gram cosine and interface Jaccard similarity, lifetimes
           RQ1-4, connected components over the similarity pairs, PageRank
           and shortest paths over the token-transfer graph, over an
           extract's output.
  stream   closed-loop micro-batches over the blocks after the history,
           into an extract's output: extract_all on each batch's blocks,
           process_block_batch on every block-keyed table,
           dedup_against_sink plus an append on skeletons. A replay runs
           the same batch over blocks already in the sink (a reorg).

A check failure is recorded, never raised, so every check of a run counts
toward `failed`.
"""

from __future__ import annotations

import time
from collections import Counter
from contextlib import contextmanager
from dataclasses import dataclass, field

import numpy as np

from chain import FIRST_BLOCK, ChainSpec, synth_chain
from spans import Tracer

RAW_TABLES = ("blocks", "transactions", "logs", "traces")
# tables stream writes with per-block upserts, and their block column
BLOCK_KEYED = {
    "blocks": "number",
    "transactions": "block_number",
    "logs": "block_number",
    "token_transfers": "block_number",
    "deployments": "block_number",
    "destructions": "block_number",
}
COSINE_SUBSET = 16  # skeletons in the numpy brute-force cosine check
SKELETON_SAMPLE = 8  # skeleton hashes re-derived on the scalar path

# The workloads share one chain: the extract covers the history, the
# stream continues after it. Below about 3,000 blocks the extract's time is
# mostly fixed per-job cost (README.md); 400 blocks is as much history as
# a run's time allows.
HISTORY_BLOCKS = 400
HISTORY_LAST = FIRST_BLOCK + HISTORY_BLOCKS - 1
# 12 families of 8 give 96 distinct codes over the history's 960
# deployments: one distinct code per 10 deployments, the share
# tools/soak_extract_r11.py generates
FAMILIES = 12
BLOCKS_PER_BATCH = 20  # the batch size of an earlier measurement of this path
STREAM_BLOCKS = 100  # chain blocks after the history: 5 batches, more than a run sends
# measured stream micro-batches, at the least: a run reports their median,
# so one slow batch does not set it alone. Two fit the run budget.
MIN_BATCHES = 2
# the sink the stream maintains: its block-keyed tables and skeletons. A
# fill for an untraced stream run writes only these; the analysis suite
# needs the other tables.
STREAM_TABLES = (*BLOCK_KEYED, "skeletons")


def chain_spec(seed: int) -> ChainSpec:
    return ChainSpec(seed, n_blocks=HISTORY_BLOCKS + STREAM_BLOCKS, families=FAMILIES)


def batch_ranges(lo: int, last_block: int, size: int = BLOCKS_PER_BATCH):
    """(lo, hi) of consecutive stream batches from block `lo` on, until a
    batch would pass `last_block`."""
    while lo + size - 1 <= last_block:
        yield lo, lo + size - 1
        lo += size


@dataclass
class Outcome:
    """Operations and checks of one run. `ops[command]` holds one
    (latency_s, new_blocks) pair per operation of that command."""

    attempted: int = 0
    failed: int = 0
    notes: list = field(default_factory=list)
    ops: dict = field(default_factory=dict)
    metrics: dict = field(default_factory=dict)
    counts: dict = field(default_factory=dict)

    def op(self, command: str, latency: float, new_blocks: int) -> None:
        self.attempted += 1
        self.ops.setdefault(command, []).append((latency, new_blocks))

    def check(self, ok: bool, note: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(note)


def write_raw_chain(spark, spec: ChainSpec, path: str) -> None:
    for name, df in zip(RAW_TABLES, synth_chain(spark, spec)):
        df.write.mode("overwrite").parquet(f"{path}/{name}")


def read_raw(spark, path: str, lo: int, hi: int):
    """The at-rest raw tables restricted to blocks [lo, hi]."""
    from pyspark.sql import functions as F

    out = []
    for name in RAW_TABLES:
        col = "number" if name == "blocks" else "block_number"
        out.append(spark.read.parquet(f"{path}/{name}").filter(F.col(col).between(lo, hi)))
    return out


@contextmanager
def layer_spans(tr: Tracer):
    """Traced run: wrap the package functions extract_all calls into, so
    each call opens a span and materializes its output inside it. The
    wrappers replace module attributes, which extract_all looks up at call
    time; they are removed on exit."""
    from pyspark.sql import functions as F

    from eth2dgraph_spark.operators import blocks, extract, traces, transfers

    def wrap(module, attr, span, prepare=None):
        orig = getattr(module, attr)

        def traced(df, *args, **kwargs):
            with tr.span(span):
                if prepare is not None:
                    prepare(df)
                out = orig(df, *args, **kwargs)
                if isinstance(out, tuple):
                    return tuple(tr.force(o, f"{span}.rows") for o in out)
                return tr.force(out, f"{span}.rows")

        setattr(module, attr, traced)
        return module, attr, orig

    def udf_rows(raw):  # the distinct codes the enrichment UDFs will see
        with tr.span("count"):
            tr.counts[f"{tr.phase()}/udf_rows"] += (
                raw.filter(F.col("deployed_bytecode").isNotNull())
                .select(F.md5("deployed_bytecode")).distinct().count()
            )

    undo = [
        wrap(traces, "propagate_trace_errors", "traces.propagate"),
        wrap(extract, "enrich_deployments", "extract.enrich", udf_rows),
        wrap(extract, "derive_skeleton_tables", "extract.skeleton_tables"),
        wrap(extract, "derive_accounts", "extract.accounts"),
        wrap(transfers, "decode_token_transfers", "transfers.decode"),
        wrap(blocks, "enrich_blocks", "blocks.enrich"),
    ]
    try:
        yield
    finally:
        for module, attr, orig in undo:
            setattr(module, attr, orig)


# ---------------------------------------------------------------- extract


def run_extract(spark, raw: str, sink: str, hi_block: int, tr: Tracer, cut: int | None = None,
                tables=None):
    """Batch extract of blocks [FIRST_BLOCK, hi_block]: extract_all, then
    all 10 tables written, or only those named in `tables`; with `cut`, the
    block-keyed tables only up to block `cut`. Returns the wall time and the
    extract result, whose pinned hubs the caller releases."""
    from pyspark.sql import functions as F

    from eth2dgraph_spark.operators.extract import extract_all
    from eth2dgraph_spark.sources.eth import write_eth_table

    t0 = time.monotonic()
    with tr.span("extract"):
        out = extract_all(*read_raw(spark, raw, FIRST_BLOCK, hi_block))
        for name, df in out.as_dict().items():
            if tables is not None and name not in tables:
                continue
            if cut is not None and name in BLOCK_KEYED:
                df = df.filter(F.col(BLOCK_KEYED[name]) <= cut)
            with tr.span("sources.write"):
                write_eth_table(tr.observe_rows(df, name), name, sink)
        tr.release()
    return time.monotonic() - t0, out


def check_extract(spec: ChainSpec, sink: str, hi_block: int, res: Outcome) -> None:
    """Row counts of the 10 tables written for blocks [FIRST_BLOCK,
    hi_block] against the generator's closed forms, and a sample of skeleton hashes against the scalar path. Reads
    the Parquet files with pyarrow, not Spark."""
    import pyarrow.dataset as ds

    from eth2dgraph_spark.functions.keccak import keccak256_hex
    from eth2dgraph_spark.functions.metadata import split_metadata
    from eth2dgraph_spark.functions.skeleton import extract_skeleton

    def table(name):
        return ds.dataset(f"{sink}/{name}", format="parquet", partitioning="hive")

    for name, n in spec.expected_counts(hi_block).items():
        got = table(name).count_rows()
        res.check(got == n, f"extract {name}: {got} rows, expected {n}")
    deps = table("deployments").to_table(columns=["deployed_bytecode", "skeleton_hash"]).to_pylist()
    sample = sorted({d["skeleton_hash"]: d["deployed_bytecode"] for d in deps}.items())[:SKELETON_SAMPLE]
    for skeleton_hash, code in sample:
        runtime, _ = split_metadata(bytes.fromhex(code[2:]))
        want = "0x" + keccak256_hex(extract_skeleton(runtime))
        res.check(want == skeleton_hash, f"skeleton_hash {skeleton_hash} != scalar {want}")


# ---------------------------------------------------------------- analyse


def run_analyse(spark, sink: str, tr: Tracer, res: Outcome) -> dict:
    from pyspark.sql import functions as F

    from eth2dgraph_spark import graph
    from eth2dgraph_spark.functions.ngrams import ngram_rows
    from eth2dgraph_spark.operators import lifetimes as lt
    from eth2dgraph_spark.operators.similarity import (
        cosine_similarity_pairs,
        jaccard_similarity_pairs,
    )
    from eth2dgraph_spark.sources.eth import read_eth_table

    def table(name):
        return read_eth_table(spark, name, sink)

    got: dict = {}

    @contextmanager
    def query(name):
        t = time.monotonic()
        with tr.span(name):
            yield
        res.op("analyse", time.monotonic() - t, 0)

    with tr.span("analyse"):
        with query("similarity.cosine"):
            with tr.span("ngrams"):
                ngrams = tr.force(ngram_rows(table("skeletons")), "ngrams.rows")
            got["cosine"] = cosine_similarity_pairs(ngrams).collect()
        cos = spark.createDataFrame(got["cosine"], "id_a string, id_b string, similarity double")
        with query("similarity.jaccard"):
            tokens = table("abi_membership").select(
                F.col("skeleton_hash").alias("id"), F.col("signature").alias("token")
            )
            got["jaccard"] = jaccard_similarity_pairs(tokens).collect()
        with query("lifetimes"):
            life = lt.per_contract_lifecycle(table("deployments"), table("destructions"))
            got["rq1"] = lt.rq1_destroyed_vs_not(life).first()
            got["rq2"] = lt.rq2_destroyed_once_vs_multiple(life).first()
            got["rq3"] = lt.rq3_same_block_tx(table("deployments"), table("destructions")).first()
            got["rq4"] = lt.rq4_lifetime_stats(life, table("blocks")).first()
        with query("graph.cc"):
            got["cc"] = graph.connected_components(cos, "id_a", "id_b").collect()
        edges = table("token_transfers").select(F.col("from").alias("src"), F.col("to").alias("dst"))
        with query("graph.pagerank"):
            got["pagerank_stats"] = {}
            got["pagerank"] = graph.pagerank(edges, stats=got["pagerank_stats"]).collect()
        with query("graph.sssp"):
            source = edges.agg(F.min("src").alias("node"))
            got["sssp_stats"] = {}
            got["sssp"] = graph.shortest_paths(edges, source, stats=got["sssp_stats"]).collect()
            got["sssp_source"] = source.first().node
        tr.release()
    return got


def _opcode_ngrams(code: bytes, n: int = 5) -> Counter:
    """Independent reference tokenizer: opcodes with PUSH data skipped."""
    ops, i = [], 0
    while i < len(code):
        op = code[i]
        ops.append(op)
        i += 1 + (op - 0x5F if 0x60 <= op <= 0x7F else 0)
    return Counter(bytes(ops[k : k + n]) for k in range(len(ops) - n + 1))


def check_analyse(spark, spec: ChainSpec, sink: str, hi_block: int, got: dict, res: Outcome) -> None:
    """`got` is run_analyse's result over the extract of blocks
    [FIRST_BLOCK, hi_block] in `sink`."""
    from eth2dgraph_spark.operators.similarity import DEFAULT_COSINE_THRESHOLD
    from eth2dgraph_spark.sources.eth import read_eth_table

    pairs = spec.expected_similar_pairs()
    res.check(len(got["cosine"]) == pairs, f"cosine pairs {len(got['cosine'])} != {pairs}")
    res.check(len(got["jaccard"]) == pairs, f"jaccard pairs {len(got['jaccard'])} != {pairs}")

    # numpy brute force over a bounded subset of skeletons
    sk = (
        read_eth_table(spark, "skeletons", sink)
        .select("skeleton_hash", "bytecode")
        .orderBy("skeleton_hash")
        .limit(COSINE_SUBSET)
        .collect()
    )
    ids = [r.skeleton_hash for r in sk]
    grams = [_opcode_ngrams(bytes.fromhex(r.bytecode[2:])) for r in sk]
    vocab = {g: k for k, g in enumerate(set().union(*grams))}
    m = np.zeros((len(ids), len(vocab)))
    for row, cnt in enumerate(grams):
        for g, c in cnt.items():
            m[row, vocab[g]] = c
    unit = m / np.linalg.norm(m, axis=1, keepdims=True)
    sim = unit @ unit.T
    want = {
        (ids[a], ids[b]): sim[a, b]
        for a in range(len(ids))
        for b in range(a + 1, len(ids))
        if sim[a, b] >= DEFAULT_COSINE_THRESHOLD
    }
    subset = set(ids)
    have = {(r.id_a, r.id_b): r.similarity for r in got["cosine"] if r.id_a in subset and r.id_b in subset}
    res.check(
        have.keys() == want.keys() and all(abs(have[k] - want[k]) < 1e-9 for k in want),
        f"cosine subset: {len(have)} spark pairs vs {len(want)} numpy pairs",
    )

    comps = {r.component for r in got["cc"]}
    res.check(len(comps) == spec.families, f"{len(comps)} components, {spec.families} families")

    rank_sum = sum(r.rank for r in got["pagerank"])
    res.check(abs(rank_sum - 1.0) < 1e-6, f"pagerank sums to {rank_sum}")

    # breadth-first search over the collected transfer graph
    adj: dict = {}
    for r in read_eth_table(spark, "token_transfers", sink).select("from", "to").collect():
        adj.setdefault(r["from"], set()).add(r["to"])
    dist, frontier = {got["sssp_source"]: 0.0}, [got["sssp_source"]]
    while frontier:
        nxt = []
        for u in frontier:
            for v in adj.get(u, ()):
                if v not in dist:
                    dist[v] = dist[u] + 1.0
                    nxt.append(v)
        frontier = nxt
    have_d = {r.node: r.dist for r in got["sssp"]}
    res.check(have_d == dist, f"sssp: {len(have_d)} nodes vs {len(dist)} by BFS")

    counts = spec.expected_counts(hi_block)
    destroyed = counts["destructions"]  # each destroys a distinct history contract
    rq1 = got["rq1"]
    res.check(
        (rq1.destroyed, rq1.never_destroyed) == (destroyed, counts["deployments"] - destroyed),
        f"rq1 {tuple(rq1)}",
    )


# ---------------------------------------------------------------- stream


def stream_batch(spark, raw: str, sink: str, lo: int, hi: int, tr: Tracer) -> None:
    from eth2dgraph_spark.operators.extract import extract_all
    from eth2dgraph_spark.streaming.live import dedup_against_sink, process_block_batch

    out = extract_all(*read_raw(spark, raw, lo, hi))
    tables = out.as_dict()
    for name, block_col in BLOCK_KEYED.items():
        with tr.span("live.commit"):
            process_block_batch(tr.count_rows(tables[name], name), sink, name, block_col)
    with tr.span("live.sink_dedup"):
        dedup_against_sink(out.skeletons, spark, sink).write.mode("append").parquet(
            f"{sink}/skeletons"
        )
    out.release()
    tr.release()


def run_stream(spark, raw: str, sink: str, ranges, seconds: float, min_batches: int,
               tr: Tracer, res: Outcome, replay: bool = False) -> int:
    """Closed loop over the (lo, hi) block `ranges`: each batch commits
    before the next is sent. Runs until `seconds` have passed and at least
    `min_batches` ran. A `replay` re-processes blocks already in the sink
    and adds no new block. Returns the last block written."""
    last, n = 0, 0
    t0 = time.monotonic()
    with tr.span("stream"):
        for lo, hi in ranges:
            if n >= min_batches and time.monotonic() - t0 >= seconds:
                break
            b0 = time.monotonic()
            with tr.span("batch"):
                stream_batch(spark, raw, sink, lo, hi, tr)
            res.op("stream", time.monotonic() - b0, 0 if replay else hi - lo + 1)
            last, n = max(last, hi), n + 1
    if n < min_batches:
        raise RuntimeError(f"chain too short for {min_batches} stream batches")
    return last


def fingerprints(frames: dict, by_block: bool = False) -> dict:
    """Order-free multiset fingerprints {key: (columns, {group: (rows, sum
    of row hashes)})} of several frames, computed in one Spark job. Groups
    are the block numbers of a block-keyed table with `by_block`, else 0.
    Both sums add up over groups."""
    from functools import reduce

    from pyspark.sql import functions as F

    keys = list(frames)
    aggs = []
    for i, key in enumerate(keys):
        df = frames[key]
        h = F.pmod(F.xxhash64(*[F.col(c) for c in sorted(df.columns)]), F.lit(2147483647))
        g = F.col(BLOCK_KEYED[key]) if by_block and key in BLOCK_KEYED else F.lit(0).cast("long")
        aggs.append(
            df.groupBy(g.alias("g"))
            .agg(F.count(F.lit(1)).alias("n"), F.sum(h).alias("h"))
            .withColumn("k", F.lit(i))
        )
    out = {key: (sorted(frames[key].columns), {}) for key in keys}
    for r in reduce(lambda a, b: a.unionByName(b), aggs).collect():
        out[keys[r.k]][1][r.g] = (r.n, r.h)
    return out


def reference(out, spark, sink: str) -> dict:
    """Per-block fingerprints of an extract result's block-keyed tables,
    and the fingerprint of the skeletons it wrote to `sink`, for
    check_stream. The skeletons are read back from their files: the same
    rows, at a fraction of the cost of recomputing the frame."""
    from eth2dgraph_spark.sources.eth import read_eth_table

    frames = {name: df for name, df in out.as_dict().items() if name in BLOCK_KEYED}
    frames["skeletons"] = read_eth_table(spark, "skeletons", sink)
    return fingerprints(frames, by_block=True)


def _upto(fp: tuple, last: int) -> tuple:
    cols, groups = fp
    kept = [v for g, v in groups.items() if g <= last]
    return cols, sum(n for n, _ in kept), sum(h for _, h in kept)


def check_stream(spark, sink: str, ref: dict, last: int, res: Outcome) -> None:
    """The sink must equal a batch extract_all of blocks [FIRST_BLOCK,
    last], skeletons included, and hold no block twice. `ref` is the
    `reference` of a batch extract over at least that range: the
    per-block fingerprints add up to those of the shorter range. Every
    distinct code is deployed inside the history (ChainSpec.check_prefix)
    and first_block is the earliest deployment, so the skeleton rows do not
    depend on the range."""
    from pyspark.sql import functions as F

    from eth2dgraph_spark.sources.eth import read_eth_table

    frames = {name: read_eth_table(spark, name, sink) for name in ref}
    frames["twice"] = frames["blocks"].groupBy("number").count().filter(F.col("count") > 1)
    got = fingerprints(frames)
    for name in ref:
        have, want = _upto(got[name], last), _upto(ref[name], last)
        res.check(have == want, f"stream sink {name} != batch extract_all: {have[1:]} vs {want[1:]}")
    twice = _upto(got["twice"], last)[1]
    res.check(twice == 0, f"{twice} blocks appear twice in the sink")

"""Seeded synthetic raw chain (blocks, transactions, logs, traces) for the
benchmark, generated inside Spark with no driver-side row loop.

Adapted from tools/soak_extract_r11.py. Every row is a pure function of
(seed, row index), so the same seed gives the same tables and every output
table of `extract_all` has a closed-form expected row count
(`ChainSpec.expected_counts`).

Chain shape, per transaction index i (global, 0-based):
  - i % 4 == 0 creates a contract; i % 20 == 0 of those REVERT and carry a
    nested create under the reverted parent (P3 error propagation);
  - i % 12 == 2 self-destructs the contract created two txs earlier;
  - every other tx is a plain call between externally owned accounts.
  - one log per tx: i % 100 < 25 is an ERC-20 Transfer, < 35 an ERC-721
    Transfer, < 40 a Transfer with the wrong topic count (dropped), the
    rest are other events.

Bytecode families: the distinct codes are `families x family_size`. Each
code is a PUSH4 dispatcher over the family's selectors, a 10-opcode tag
that makes every code's skeleton distinct, the family's random opcode body
with each position re-drawn at `mutation_rate`, and a solc CBOR metadata
trailer. Members of one family share their selectors and almost all opcode
n-grams, codes of different families share neither, so every same-family
pair (and no other) passes the default cosine (0.95) and Jaccard (0.75)
thresholds. Create number k deploys code k % n_distinct.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass

import numpy as np
import pandas as pd

from eth2dgraph_spark.schemas import TRANSFER_TOPIC

FIRST_BLOCK = 1_000_000
TAG_BITS = 10  # distinct codes per chain are capped at 2**TAG_BITS
# opcodes the random bodies draw from: no PUSH (0x5f-0x7f), so the body
# has no push data for the skeleton pass to zero and no selector for the
# lifter to find
VOCAB = np.array(
    [*range(0x01, 0x0C), *range(0x10, 0x1E), 0x20, *range(0x30, 0x49),
     *range(0x50, 0x5C), *range(0x80, 0xA5), *range(0xF0, 0xF6), 0xFA, 0xFD, 0xFE],
    dtype=np.uint8,
)

CODE_SCHEMA = "code_id long, code string"


@dataclass(frozen=True)
class ChainSpec:
    seed: int
    n_blocks: int
    txs_per_block: int = 8
    families: int = 6
    family_size: int = 8
    body_ops: int = 4000
    mutation_rate: float = 0.001
    selectors: int = 4
    n_eoa: int = 200

    def __post_init__(self):
        if self.n_distinct > 2**TAG_BITS:
            raise ValueError(f"at most {2**TAG_BITS} distinct codes")
        self.check_prefix(self.last_block)

    def check_prefix(self, hi_block: int) -> None:
        """Blocks [FIRST_BLOCK, hi_block] must deploy every distinct code and
        send from every account, or the closed forms do not hold."""
        _, hi = self.tx_range(FIRST_BLOCK, hi_block)
        if self.n_creates(0, hi) < self.n_distinct:
            raise ValueError("block range too short to deploy every distinct code")
        if hi < self.n_eoa:
            raise ValueError("block range too short to use every account")

    @property
    def n_distinct(self) -> int:
        return self.families * self.family_size

    @property
    def last_block(self) -> int:
        return FIRST_BLOCK + self.n_blocks - 1

    def tx_range(self, lo_block: int, hi_block: int) -> tuple[int, int]:
        """Half-open tx index range of blocks [lo_block, hi_block]."""
        return (
            (lo_block - FIRST_BLOCK) * self.txs_per_block,
            (hi_block - FIRST_BLOCK + 1) * self.txs_per_block,
        )

    @staticmethod
    def _count(lo: int, hi: int, m: int, residues) -> int:
        """#{i in [lo, hi) : i % m in residues}."""
        def upto(n):
            return sum((n - r + m - 1) // m for r in residues if r < m)
        return upto(hi) - upto(lo)

    def n_creates(self, lo: int, hi: int) -> int:
        return self._count(lo, hi, 4, [0])

    def expected_counts(self, hi_block: int | None = None) -> dict[str, int]:
        """Row count of each of the 10 extract_all tables over blocks
        [FIRST_BLOCK, hi_block] (default: the whole chain). The range must
        hold every distinct code and every account (`check_prefix`)."""
        hi_block = self.last_block if hi_block is None else hi_block
        self.check_prefix(hi_block)
        lo, hi = self.tx_range(FIRST_BLOCK, hi_block)
        creates = self.n_creates(lo, hi)
        reverted = self._count(lo, hi, 20, [0])
        deployments = creates + reverted
        return {
            "blocks": hi_block - FIRST_BLOCK + 1,
            "transactions": hi - lo,
            "logs": hi - lo,
            "token_transfers": self._count(lo, hi, 100, range(35)),
            "deployments": deployments,
            "destructions": self._count(lo, hi, 12, [2]),
            "skeletons": self.n_distinct,
            "abi": self.families * self.selectors,
            "abi_membership": self.n_distinct * self.selectors,
            # every account of the pool, the zero address (the `to` of
            # creates), and one distinct address per deployment
            "accounts": self.n_eoa + 1 + deployments,
        }

    def expected_similar_pairs(self) -> int:
        """Pairs above the similarity thresholds: every same-family pair."""
        return self.families * self.family_size * (self.family_size - 1) // 2

    def properties(self, hi_block: int | None = None) -> dict:
        """The input properties the workloads are chosen by, over blocks
        [FIRST_BLOCK, hi_block]."""
        counts = self.expected_counts(hi_block)
        _, hi = self.tx_range(FIRST_BLOCK, self.last_block if hi_block is None else hi_block)
        return {
            **asdict(self),
            "code_bytes": len(bytecode_hex(self, 0)) // 2 - 1,
            "distinct_codes_per_deployment": round(self.n_distinct / counts["deployments"], 4),
            "reverted_create_share": self._count(0, hi, 20, [0]) / self.n_creates(0, hi),
            "transfer_log_share": counts["token_transfers"] / counts["logs"],
        }


def selector(spec: ChainSpec, family: int, j: int) -> int:
    """Distinct 4-byte selectors: 2654435761 is prime, so the affine map is
    a bijection mod 2**32 - 1 and (family, j) pairs never collide."""
    x = family * spec.selectors + j
    return (x * 2654435761 + spec.seed * 40503 + 1) % (2**32 - 1)  # never 0xffffffff


def bytecode_hex(spec: ChainSpec, code_id: int) -> str:
    """Deployed bytecode of distinct code `code_id` as 0x-hex."""
    family, member = divmod(code_id, spec.family_size)
    out = bytearray()
    for j in range(spec.selectors):  # DUP1 PUSH4 sel EQ PUSH2 dest JUMPI
        out += b"\x80\x63" + selector(spec, family, j).to_bytes(4, "big")
        out += b"\x14\x61" + (0x100 + 16 * j).to_bytes(2, "big") + b"\x57"
    out += bytes(0x01 if (code_id >> b) & 1 else 0x02 for b in range(TAG_BITS))
    body = np.random.default_rng([spec.seed, family]).choice(VOCAB, spec.body_ops)
    rng = np.random.default_rng([spec.seed, family, member + 1])
    hit = rng.random(spec.body_ops) < spec.mutation_rate
    body[hit] = rng.choice(VOCAB, int(hit.sum()))
    out += body.tobytes()
    # the digest avoids PUSH opcodes too: the selector lifter scans the
    # whole deployed code, trailer included
    digest = np.random.default_rng([spec.seed, code_id, 7]).choice(VOCAB, 32).tobytes()
    # solc CBOR trailer: {"ipfs": <34-byte multihash>, "solc": 0.8.17}
    out += b"\xa2\x64ipfs\x58\x22\x12\x20" + digest + b"\x64solc\x43\x00\x08\x11\x00\x33"
    return "0x" + out.hex()


def _codes_frame(spark, spec: ChainSpec):
    def kernel(batches):
        for pdf in batches:
            ids = pdf["id"].tolist()
            yield pd.DataFrame({"code_id": ids, "code": [bytecode_hex(spec, i) for i in ids]})

    return spark.range(spec.n_distinct, numPartitions=1).mapInPandas(kernel, CODE_SCHEMA)


def _h(tag: str, seed: int, *parts) -> str:
    """SQL for a 64-hex-char pseudo-random word of (tag, seed, parts)."""
    cols = ", ':', ".join(f"CAST({p} AS STRING)" for p in parts)
    return f"sha2(concat('{tag}', '{seed}', ':', {cols}), 256)"


def _addr(tag: str, seed: int, *parts) -> str:
    return f"concat('0x', substr({_h(tag, seed, *parts)}, 1, 40))"


def _eoa(seed: int, j: str) -> str:
    return _addr("eoa", seed, j)


def _word(addr_sql: str) -> str:
    """Address -> 32-byte topic word."""
    return f"concat('0x000000000000000000000000', substr({addr_sql}, 3, 40))"


def synth_chain(spark, spec: ChainSpec, lo_block: int | None = None, hi_block: int | None = None):
    """(blocks, transactions, logs, traces) DataFrames for blocks
    [lo_block, hi_block] (default: the whole chain)."""
    from pyspark.sql import functions as F

    lo_block = FIRST_BLOCK if lo_block is None else lo_block
    hi_block = spec.last_block if hi_block is None else hi_block
    lo, hi = spec.tx_range(lo_block, hi_block)
    s, tpb, a = spec.seed, spec.txs_per_block, spec.n_eoa
    bn = f"({FIRST_BLOCK} + id DIV {tpb})"

    blocks = spark.range(lo_block, hi_block + 1, numPartitions=1).selectExpr(
        "id AS number",
        "id * 12 + 1600000000 AS timestamp",
        f"{_eoa(s, f'id % {a}')} AS miner",
        "CAST(id * 7 AS STRING) AS difficulty",
        "CAST(30000000 AS LONG) AS gas_limit",
        f"CAST(conv(substr({_h('gas', s, 'id')}, 1, 6), 16, 10) AS LONG) AS gas_used",
        "CASE WHEN id % 10 = 0 THEN NULL ELSE (id % 10) * 1000000000 END AS base_fee_per_gas",
        "id % 5000 + 500 AS size",
    )
    tx_ids = spark.range(lo, hi, numPartitions=1)
    creates = "id % 4 = 0"
    txs = tx_ids.selectExpr(
        f"concat('0x', {_h('tx', s, 'id')}) AS hash",
        f"{bn} AS block_number",
        f"{_eoa(s, f'id % {a}')} AS `from`",
        f"CASE WHEN {creates} THEN NULL ELSE {_eoa(s, f'(id * 7 + 3) % {a}')} END AS to",
        "CAST(id * 1000000000 AS STRING) AS value",
        "21000 + id % 1000000 AS gas",
        "CASE WHEN id % 20 = 0 THEN NULL ELSE (id % 90 + 10) * 1000000000 END AS gas_price",
        "CAST(NULL AS LONG) AS max_fee_per_gas",
        "CAST(NULL AS LONG) AS max_priority_fee_per_gas",
        f"CASE WHEN id % 10 < 7 THEN concat('0xa9059cbb', repeat('00', 32)) ELSE '0x' END AS input",
        "id AS nonce",
        f"concat('0x', {_h('r', s, 'id')}) AS r",
        f"concat('0x', {_h('s', s, 'id')}) AS s",
        "CAST(27 AS LONG) AS v",
        f"id % {tpb} AS tx_index",
    )

    r = "id % 100"
    frm = _word(_eoa(s, f"id % {a}"))
    to = _word(_eoa(s, f"CAST(conv(substr({_h('xfer', s, 'id')}, 1, 8), 16, 10) AS LONG) % {a}"))
    logs = tx_ids.selectExpr(
        f"{bn} AS block_number",
        f"concat('0x', {_h('tx', s, 'id')}) AS tx_hash",
        f"id % {tpb} AS tx_index",
        f"id % {tpb} AS log_index",
        f"{_addr('token', s, f'id % 17')} AS address",
        f"""CASE WHEN {r} < 25 THEN array('{TRANSFER_TOPIC}', {frm}, {to})
                 WHEN {r} < 35 THEN array('{TRANSFER_TOPIC}', {frm}, {to},
                                          concat('0x', lpad(hex(id), 64, '0')))
                 WHEN {r} < 40 THEN array('{TRANSFER_TOPIC}', {frm})
                 WHEN {r} < 90 THEN array(concat('0x', {_h('topic', s, 'id')}))
                 ELSE CAST(array() AS ARRAY<STRING>) END AS topics""",
        f"""CASE WHEN {r} < 25 THEN concat('0x', lpad(hex(id * 1000), 64, '0'))
                 WHEN {r} < 40 THEN '0x' ELSE concat('0x', repeat('00', 32)) END AS data""",
        f"{r} = 99 AS removed",
    )

    # one top-level trace per tx, plus a nested create under every reverted
    # create; `code_id` is joined against the distinct-code table
    n_distinct = spec.n_distinct
    contract = _addr("contract", s, "id", "nested")
    top = tx_ids.selectExpr("id", "0 AS nested")
    nested = tx_ids.filter("id % 20 = 0").selectExpr("id", "1 AS nested")
    traces = (
        top.unionByName(nested)
        .selectExpr(
            f"{bn} AS block_number",
            f"concat('0x', {_h('tx', s, 'id')}) AS tx_hash",
            "CASE WHEN nested = 1 THEN array(0) ELSE CAST(array() AS ARRAY<INT>) END AS trace_address",
            f"CASE WHEN {creates} THEN 'create' WHEN id % 12 = 2 THEN 'suicide' ELSE 'call' END AS type",
            "CASE WHEN id % 20 = 0 AND nested = 0 THEN 'Reverted' END AS error",
            f"""CASE WHEN nested = 1 THEN {_addr('contract', s, 'id', '0')}
                     ELSE {_eoa(s, f'id % {a}')} END AS action_from""",
            f"CASE WHEN {creates} THEN '0x6080604052' END AS action_init",
            f"CASE WHEN id % 12 = 2 THEN {_addr('contract', s, 'id - 2', '0')} END AS action_address",
            "CASE WHEN id % 12 = 2 THEN CAST(id * 1000000 AS STRING) END AS action_balance",
            f"CASE WHEN id % 12 = 2 THEN {_eoa(s, f'(id * 13) % {a}')} END AS action_refund_address",
            f"CASE WHEN {creates} THEN {contract} END AS result_address",
            f"CASE WHEN {creates} THEN (id DIV 4 + nested) % {n_distinct} END AS code_id",
        )
        .join(F.broadcast(_codes_frame(spark, spec)), "code_id", "left")
        .withColumnRenamed("code", "result_code")
        .drop("code_id")
    )
    return blocks, txs, logs, traces

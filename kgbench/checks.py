"""Output checks run on every iteration. They read the written tables
with pyarrow, outside the timed region, so checking costs no Spark job."""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

TRIPLE_KEY = ("subj", "pred", "obj", "ts", "doc_id", "span_idx")


def content_fingerprint(rows) -> str:
    """Order-independent, duplicate-sensitive digest of a multiset of
    rows: the row count plus the sum, mod 2**128, of each row's blake2b
    hash. Two tables have equal fingerprints iff (up to hash collisions)
    they hold the same rows the same number of times, in any order or
    partitioning."""
    n, acc = 0, 0
    for row in rows:
        digest = hashlib.blake2b(repr(tuple(row)).encode(), digest_size=16).digest()
        acc = (acc + int.from_bytes(digest, "big")) % (1 << 128)
        n += 1
    return f"{n}:{acc:032x}"


def _plain(col: pa.ChunkedArray) -> pa.ChunkedArray:
    """Timestamps as int64 microseconds since the epoch, whatever unit or
    zone the reader produced (Spark's INT96 parquet reads as ns, its Arrow
    export as us with UTC)."""
    if pa.types.is_timestamp(col.type):
        return col.cast(pa.timestamp("us", tz=col.type.tz)).cast(pa.int64())
    return col


def table_rows(table: pa.Table, columns) -> list[tuple]:
    cols = [_plain(table.column(c)).to_pylist() for c in columns]
    return list(zip(*cols))


def read(path: str, columns) -> pa.Table:
    # hive-style bucket=N directories become a partition column, which the
    # projection drops; _MANIFEST.json and _SUCCESS are skipped by name
    return pq.read_table(path, columns=list(columns))


def triples_fingerprint(table: pa.Table) -> str:
    return content_fingerprint(table_rows(table, TRIPLE_KEY))


def op05_digest(workdir: str) -> dict[str, list[int]]:
    """Per stage: (rows, XOR of per-partition fingerprints). The XOR over
    partitions is the table's own XOR of row hashes, so it does not depend
    on how the stage happened to be partitioned."""
    out = {}
    mroot = os.path.join(workdir, "stage_metrics")
    for stage in sorted(os.listdir(mroot)):
        t = pq.read_table(os.path.join(mroot, stage)).to_pydict()
        fp = 0
        for v in t["fingerprint"]:
            fp ^= v
        out[stage] = [sum(t["rows_out"]), fp]
    return out


def manifest_rows(workdir: str, stage: str) -> int:
    with open(os.path.join(workdir, stage, "_MANIFEST.json")) as f:
        return int(json.load(f)["rows"])


def check_kg_build(workdir: str, max_rank: int) -> list[str]:
    """SIMILAR_TO values lie in (0, 1]; RECOMMEND ranks lie in
    1..max_rank. (The triples are compared with the ground truth by
    fingerprint, see KgBuild.finish.)"""
    errors = []
    sim = read(os.path.join(workdir, "similarity"), ["similarity"]).column(0).to_pylist()
    if not sim:
        errors.append("SIMILAR_TO is empty")
    bad = sum(1 for v in sim if v is None or not 0.0 < v <= 1.0)
    if bad:
        errors.append(f"{bad} SIMILAR_TO values outside (0, 1]")
    ranks = read(os.path.join(workdir, "recommend"), ["rank"]).column(0).to_pylist()
    if not ranks:
        errors.append("RECOMMEND is empty")
    bad = sum(1 for r in ranks if r is None or not 1 <= r <= max_rank)
    if bad:
        errors.append(f"{bad} RECOMMEND ranks outside 1..{max_rank}")
    return errors


def check_curate(workdir: str, input_ids: set[int], budget: int) -> list[str]:
    """Packed and rejected doc ids exactly partition the input ids, and no
    bin holds more than `budget` tokens (pack_greedy charges a doc over
    budget as exactly `budget`, which leaves its bin no room)."""
    errors = []
    packs = read(os.path.join(workdir, "pack"), ["shard_id", "bin_id", "doc_id", "n_tokens"])
    rejects = read(os.path.join(workdir, "rejects"), ["doc_id"])
    packed = packs.column("doc_id").to_pylist()
    rejected = rejects.column("doc_id").to_pylist()
    if len(set(packed)) != len(packed):
        errors.append("a doc is packed twice")
    if len(set(rejected)) != len(rejected):
        errors.append("a doc is rejected twice")
    if set(packed) & set(rejected):
        errors.append("a doc is both packed and rejected")
    if set(packed) | set(rejected) != input_ids:
        errors.append(
            f"packs+rejects cover {len(set(packed) | set(rejected))} ids, input has {len(input_ids)}"
        )
    fill: dict[tuple, list[int]] = {}
    for shard, b, n in zip(
        packs.column("shard_id").to_pylist(), packs.column("bin_id").to_pylist(),
        packs.column("n_tokens").to_pylist(),
    ):
        fill.setdefault((shard, b), []).append(n)
    over = [k for k, ns in fill.items() if sum(min(n, budget) for n in ns) > budget]
    if over:
        errors.append(f"{len(over)} bins exceed the {budget}-token budget")
    return errors

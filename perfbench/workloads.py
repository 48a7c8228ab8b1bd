"""Seeded input corpora for the benchmark workloads.

Each workload is a transcripts table (conv_id, turn_idx, role, text, tool,
ts) built from the engine's own item grammar (``gen.transcripts``), so the
same seed always gives byte-identical inputs.  Corpora are written as
several parquet files so the engine's scan splits across every core.
"""

from __future__ import annotations

import hashlib
import random
import zlib
from datetime import timedelta

import pandas as pd

from pdf_extractor_spark.gen.transcripts import (
    _BASE_TS,
    _item_lines,
    _para,
    generate_transcripts,
)
from pdf_extractor_spark.job.extract import DEFAULT_BLOCK_SIZE

# Sizes are set by the run budget of one benchmark invocation on a 4-core
# host (see README.md), not by the largest corpus the engine can take.
MIXED_CONVS = 600
# generate_transcripts' skew knob yields ~0.59 turns per unit; 15000 gives
# ~8.9k turns, one conversation longer than the 8192-turn block.
MIXED_SKEW = 15000
CHAIN_CONVS = 2
CHAIN_ITEMS = 3000

WORKLOADS = ("mixed_convs", "plain_chains")
FILES = 8


def mixed_convs(seed: int) -> pd.DataFrame:
    """Many short conversations (3-8 items, ~66/13/21% plain/pdf/html
    turns) plus one skew conversation longer than the block.  The rows
    equal ``gen.distributed.generate_corpus_df`` for the same seed: both
    seed every conversation with (seed, conv index)."""
    return generate_transcripts(
        n_convs=MIXED_CONVS, seed=seed, skew_conv_turns=MIXED_SKEW
    )


def _chain_conv(rng: random.Random, conv_id: str, n_items: int) -> list[dict]:
    """One long plain-text conversation: every item answers over 2-4
    turns (a continuation chain) and half the items cite the previous
    one, so references chain A→B→C."""
    chapter = rng.randint(1, 9)
    turns: list[dict] = []

    def push(text: str, role: str = "assistant") -> None:
        t = len(turns)
        turns.append({
            "conv_id": conv_id, "turn_idx": t, "role": role, "text": text,
            "tool": "", "ts": _BASE_TS + timedelta(minutes=t),
        })

    push(f"Please extract chapter {chapter} problems.", "user")
    prev_qid = None
    for i in range(n_items):
        qid = f"{chapter}.{i + 1}"
        chain = rng.choice([2, 3, 4])
        ref_to = prev_qid if rng.random() < 0.5 else None
        lines = _item_lines(rng, qid, rng.choice([0, 0, 2]), True, ref_to)
        push("\n".join(lines))
        for c in range(1, chain):
            last = c == chain - 1
            cont = _para(rng, rng.randint(1, 2), terminal=last)
            push(cont if last else cont.rstrip(".") + " then")
        prev_qid = qid
    return turns


def plain_chains(seed: int) -> pd.DataFrame:
    rows: list[dict] = []
    for k in range(CHAIN_CONVS):
        rng = random.Random(seed * 1_000_003 + 500_000 + k)
        rows.extend(_chain_conv(rng, f"chain{k:02d}", CHAIN_ITEMS))
    df = pd.DataFrame(rows)
    df["turn_idx"] = df["turn_idx"].astype("int32")
    return df


def generate(workload: str, seed: int) -> pd.DataFrame:
    df = {"mixed_convs": mixed_convs, "plain_chains": plain_chains}[workload](seed)
    longest = df.groupby("conv_id").size().max()
    if longest <= DEFAULT_BLOCK_SIZE:
        raise ValueError(
            f"{workload} seed {seed}: longest conversation has {longest} "
            f"turns, not more than the {DEFAULT_BLOCK_SIZE}-turn block"
        )
    return df


def size_key(workload: str) -> str:
    """Identifies the corpus size in cache paths, so a size change never
    reuses a corpus or expectation built for another size."""
    if workload == "mixed_convs":
        return f"{MIXED_CONVS}x{MIXED_SKEW}"
    return f"{CHAIN_CONVS}x{CHAIN_ITEMS}"


def write_parquet(df: pd.DataFrame, out_dir: str) -> None:
    """Write ``df`` as FILES equal row slices.  A long conversation spans
    several files, as it would in any upstream table; one file per
    conversation would make its parse a single-core straggler."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir)
    table = pa.Table.from_pandas(df, preserve_index=False)
    step = -(-len(df) // FILES)
    for i in range(FILES):
        pq.write_table(
            table.slice(i * step, step),
            os.path.join(out_dir, f"part-{i}.parquet"),
            coerce_timestamps="us",
        )


def checksum(df: pd.DataFrame) -> str:
    """Order-sensitive digest of every input row (generator determinism)."""
    h = hashlib.sha256()
    for row in df[["conv_id", "turn_idx", "role", "text", "tool"]].itertuples(
        index=False
    ):
        h.update(repr(tuple(row)).encode("utf-8"))
    h.update(pd.util.hash_pandas_object(df["ts"], index=False).values.tobytes())
    return h.hexdigest()


def oracle_sample(df: pd.DataFrame) -> list[str]:
    """Deterministic conv_id-hashed sample for the oracle check: ~4% of
    the conversations, always including the longest one (the only one
    that crosses a block edge in ``mixed_convs``)."""
    sizes = df.groupby("conv_id").size()
    picked = {c for c in sizes.index if zlib.crc32(c.encode()) % 25 == 0}
    picked.add(sizes.idxmax())
    return sorted(picked)

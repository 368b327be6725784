"""Seeded, hermetic inputs built only from the package's public
generators (``synth_turn_payload``, ``vag_like_block`` +
``cells_to_payload``).

A plan of (conversation, turn) keys follows the generators' own
traffic shape; the payloads are generated from it and written as
parquet, the "input on disk" every workload starts from. Nothing is
read from outside the checkout, and payloads are not tiled: each turn
is generated on its own (the record states how many are distinct), so
per-text memo caches see the variety of a corpus, not a handful.
"""

from __future__ import annotations

import hashlib
import zlib
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pandas as pd

# Every parameter of the input mix below comes from the package's own
# generators, so the benchmark sees the traffic shape the repo states:
#
# - conversation lengths: ``generate_transcripts`` (FIXTURES.md §1, "a
#   few conversations 10-50x longer than the median"): conversation c
#   has BASE_TURNS + c % 3 turns, and every SKEW_EVERY-th one is
#   SKEW_FACTOR times longer (its defaults 3, 7 and 12);
# - tables per legacy turn: one, as ``generate_transcripts`` calls
#   ``synth_turn_payload``;
# - page layouts: the ranges ``generate_newpath_transcripts`` cycles
#   through (1-3 blocks of 6-9 stops x 3-5 trips, three days headers),
#   here drawn per page from a generator seeded by the page's key, as
#   ``synth_turn_payload`` seeds its grids.
#
# The seed enters through the conversation ids ("s<seed>-c<c>"), which
# seed every payload.
BASE_TURNS, SKEW_EVERY, SKEW_FACTOR = 3, 7, 12
DAYS = [("Montag - Freitag", "0,1,2,3,4"), ("Samstag", "5"),
        ("Sonntag", "6")]
# ``generate_newpath_transcripts`` uses stop_seed = 7 * conv + block;
# vag_like_block puts the first departure at 06:00 + 7 * stop_seed
# minutes, and below 140 no block wraps past midnight, which the
# construction's facts (one trip per time column) assume
MAX_STOP_SEED = 140
# the document a new-path workload publishes as a GTFS feed: conversation
# 1, a median-length one (BASE_TURNS + 1 pages)
FEED_CONV = 1


@dataclass
class Inputs:
    """What a workload runs on and what its output must equal."""

    input_dir: str
    n_turns: int
    n_convs: int
    # turns_legacy_csv: (conv_id, turn_idx) -> expected per-turn CSVs
    expected_csv: dict = field(default_factory=dict)
    # new-path workloads: (conv_id, turn_idx) -> [(n_stops, n_trips,
    # days_key)] per block, in table order
    expected_blocks: dict = field(default_factory=dict)
    payload_sha256: str = ""
    distinct_payloads: int = 0
    # the document a workload publishes as a GTFS feed
    feed_doc: str = ""


def conv_id(seed: int, c: int) -> str:
    return f"s{seed}-c{c:05d}"


def conversation_lengths(n_turns: int) -> list[int]:
    """``generate_transcripts``' conversation lengths, conversation by
    conversation until ``n_turns`` turns; the last one is cut short."""
    lengths: list[int] = []
    while sum(lengths) < n_turns:
        c = len(lengths)
        n = BASE_TURNS + c % 3
        if c % SKEW_EVERY == 0:
            n *= SKEW_FACTOR
        lengths.append(min(n, n_turns - sum(lengths)))
    return lengths


def turn_plan(seed: int, n_turns: int) -> pd.DataFrame:
    rows = [(conv_id(seed, c), t)
            for c, n in enumerate(conversation_lengths(n_turns))
            for t in range(n)]
    return pd.DataFrame(rows, columns=["conv_id", "turn_idx"])


def page_blocks(conv: str, turn_idx: int) -> list[tuple[int, int, int, int]]:
    """One vag-like page: 1-3 stacked blocks, each (n_stops, n_trips,
    stop_seed, days_index), seeded by the page's key."""
    rng = np.random.default_rng(zlib.crc32(f"{conv}/{turn_idx}".encode()))
    return [(int(rng.integers(6, 10)), int(rng.integers(3, 6)),
             int(rng.integers(0, MAX_STOP_SEED)), int(rng.integers(0, 3)))
            for _ in range(int(rng.integers(1, 4)))]


def generate(kind: str, plan: pd.DataFrame) -> tuple[pd.DataFrame, list]:
    """Payloads and expected outputs for every planned turn, in plan
    order. Runs on the driver (in a thread while the JVM starts)."""
    from pdf2gtfs_spark.sources.transcripts import (
        cells_to_payload, synth_turn_payload, vag_like_block,
    )

    texts, expected = [], []
    if kind == "legacy":
        for conv, t in zip(plan["conv_id"], plan["turn_idx"]):
            payload, exp = synth_turn_payload(conv, int(t))
            texts.append(payload)
            expected.append(exp)
    else:
        for conv, t in zip(plan["conv_id"], plan["turn_idx"]):
            cells, y, blocks = [], 100.0, []
            for n_stops, n_trips, stop_seed, d in page_blocks(conv, int(t)):
                block, xs = vag_like_block(y, n_stops=n_stops,
                                           n_trips=n_trips,
                                           stop_seed=stop_seed)
                cells += block
                cells.append((DAYS[d][0], xs[0], y - 14.0))
                y += n_stops * 10.0 + 36.0
                blocks.append((n_stops, n_trips, DAYS[d][1]))
            texts.append(cells_to_payload(cells))
            expected.append(blocks)
    df = pd.DataFrame({"conv_id": plan["conv_id"],
                       "turn_idx": plan["turn_idx"].astype("int32"),
                       "text": texts})
    return df, expected


def _payload_digest(df: pd.DataFrame) -> tuple[str, int]:
    df = df.sort_values(["conv_id", "turn_idx"])
    h = hashlib.sha256()
    seen = set()
    for conv, t, text in zip(df["conv_id"], df["turn_idx"], df["text"]):
        h.update(f"{conv}\t{t}\t".encode())
        b = text.encode()
        h.update(b)
        seen.add(hashlib.sha1(b).digest())
    return h.hexdigest(), len(seen)


def write(df: pd.DataFrame, expected: list, kind: str, seed: int,
          out: Path, n_files: int) -> Inputs:
    """Write the transcripts parquet (``out``, ``n_files`` files of
    whole-row slices) and keep the expected side in memory."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out.mkdir(parents=True, exist_ok=True)
    bounds = np.linspace(0, len(df), n_files + 1).astype(int)
    for i, (a, b) in enumerate(zip(bounds[:-1], bounds[1:])):
        if b > a:
            pq.write_table(pa.Table.from_pandas(df.iloc[a:b],
                                                preserve_index=False),
                           out / f"part-{i:05d}.parquet")
    digest, distinct = _payload_digest(df)
    inputs = Inputs(input_dir=str(out), n_turns=len(df),
                    n_convs=int(df["conv_id"].nunique()),
                    payload_sha256=digest, distinct_payloads=distinct,
                    feed_doc=conv_id(seed, FEED_CONV))
    keyed = dict(zip(zip(df["conv_id"], df["turn_idx"].astype(int)),
                     expected))
    if kind == "legacy":
        inputs.expected_csv = keyed
    else:
        inputs.expected_blocks = keyed
    return inputs

"""The workloads: one pass each, from input on disk to a committed
result, and the check of that result against the construction.

- ``turns_legacy_csv``: legacy engine, ``emit="csv"``, ``turn_csvs`` +
  ``reassemble_conversations``, parquet write. Check: every turn's CSV
  equals the generator's expected CSV.
- ``job_newpath_resume``: ``run_with_checkpoint`` on the ``new`` engine,
  stopped after half its commit groups and resumed; the committed
  tables of one median-length document then go
  ``entries_table``/``stops_table`` -> ``build_feed`` ->
  ``write_feed_zip``. Check: per-table stop, entry, time-cell and days
  facts equal the page construction; every bucket is committed exactly
  once; the feed has one trip per time column and one ``stop_times``
  row per time cell of the construction.
"""

from __future__ import annotations

import dataclasses
import hashlib
import io
import shutil
import time
import zipfile
from collections import defaultdict
from pathlib import Path

import numpy as np

from perfbench import inputs as inp
from perfbench.trace import null_span

CONV_SEP = "\n\x1e\n"   # reassemble_conversations' turn separator
N_BUCKETS = 8
GROUP_SIZE = 4           # 2 commit groups; the first invocation stops
KILL_AFTER_GROUPS = 1    # after one of them and the second resumes

# full-size and self-check sizes, in input turns (= pages); 60 turns
# are the first seven conversations of the generators' length cycle,
# which holds the published document (inputs.FEED_CONV)
SIZES = {
    "turns_legacy_csv": {"full": 512, "tiny": 60},
    "job_newpath_resume": {"full": 960, "tiny": 60},
}


def new_cfg():
    from pdf2gtfs_spark.config import DEFAULT_CONFIG

    return dataclasses.replace(DEFAULT_CONFIG, extraction_path="new")


@dataclasses.dataclass
class PassResult:
    run_s: float
    failed: int
    digest: str
    # the part of run_s that processes the input turns (turns_per_s)
    turns_s: float
    resume_s: float | None = None
    detail: dict = dataclasses.field(default_factory=dict)


class Workload:
    name = ""
    kind = ""          # input family: "legacy" | "pages"
    emit = "full"
    warm_passes = 1

    def __init__(self, size: str, seed: int) -> None:
        self.n_turns = SIZES[self.name][size]
        self.size = size
        self.seed = seed

    def plan(self):
        return inp.turn_plan(self.seed, self.n_turns)

    def cfg(self):
        raise NotImplementedError

    def run(self, spark, inputs: inp.Inputs, out: Path,
            tracer=None) -> PassResult:
        """One timed pass; ``tracer`` (optional) records layer spans."""
        raise NotImplementedError


def _span(tracer, name):
    return tracer.span(name) if tracer is not None else null_span()


class TurnsLegacyCsv(Workload):
    name = "turns_legacy_csv"
    kind = "legacy"
    emit = "csv"
    # the first pass starts the Python workers; passes keep getting
    # faster (10-30% over the next ones) until about the sixth
    warm_passes = 6

    def cfg(self):
        from pdf2gtfs_spark.config import DEFAULT_CONFIG

        return DEFAULT_CONFIG

    def run(self, spark, inputs, out, tracer=None):
        from pdf2gtfs_spark.plans import pipeline

        t0 = time.perf_counter()
        with _span(tracer, "pass"):
            df = spark.read.parquet(inputs.input_dir)
            ext = pipeline.run_extract(df, self.cfg(), emit="csv")
            docs = pipeline.reassemble_conversations(ext)
            with _span(tracer, "sink.parquet_write"):
                docs.write.mode("overwrite").parquet(str(out))
        run_s = time.perf_counter() - t0
        failed, digest = check_legacy(out, inputs)
        return PassResult(run_s=run_s, failed=failed, digest=digest,
                          turns_s=run_s)


def check_legacy(out: Path, inputs: inp.Inputs) -> tuple[int, str]:
    import pyarrow.parquet as pq

    got = pq.read_table(str(out), columns=["conv_id",
                                           "conversation_doc"]).to_pydict()
    docs = dict(zip(got["conv_id"], got["conversation_doc"]))
    turns = defaultdict(list)
    for (conv, t) in inputs.expected_csv:
        turns[conv].append(t)
    failed = 0
    h = hashlib.sha256()
    for conv in sorted(turns):
        ts = sorted(turns[conv])
        doc = docs.get(conv)
        h.update(f"{conv}\t{doc}\n".encode())
        parts = doc.split(CONV_SEP) if doc is not None else []
        if len(parts) != len(ts):
            failed += len(ts)
            continue
        failed += sum(part != inputs.expected_csv[(conv, t)]
                      for part, t in zip(parts, ts))
    return failed, h.hexdigest()


class JobNewpathResume(Workload):
    name = "job_newpath_resume"
    kind = "pages"
    # a checkpointed job runs once per input snapshot, so its first
    # pass is what it costs; the benchmark's time limit leaves no room
    # for a warm pass on top
    warm_passes = 0

    def cfg(self):
        return new_cfg()

    def run(self, spark, inputs, out, tracer=None):
        from pdf2gtfs_spark.operators import feed as gtfs_feed
        from pdf2gtfs_spark.plans import lineage, pipeline

        cfg = self.cfg()
        snapshot = inputs.payload_sha256[:16]
        shutil.rmtree(out, ignore_errors=True)
        t0 = time.perf_counter()
        with _span(tracer, "pass"):
            tdf = spark.read.parquet(inputs.input_dir)
            with _span(tracer, "lineage.run_with_checkpoint"):
                first = lineage.run_with_checkpoint(
                    spark, tdf, str(out), run_id="killed",
                    input_snapshot_id=snapshot, n_buckets=N_BUCKETS,
                    group_size=GROUP_SIZE, max_groups=KILL_AFTER_GROUPS,
                    cfg=cfg)
            t1 = time.perf_counter()
            with _span(tracer, "lineage.run_with_checkpoint"):
                second = lineage.run_with_checkpoint(
                    spark, tdf, str(out), run_id="resumed",
                    input_snapshot_id=snapshot, n_buckets=N_BUCKETS,
                    group_size=GROUP_SIZE, cfg=cfg)
            t2 = time.perf_counter()
            # publish one document: its committed tables feed seven
            # frames, so they are persisted and read once per pass, and
            # one conversation needs one shuffle partition
            doc = inputs.feed_doc
            ext = (spark.read.parquet(str(out / "tables"))
                   .where(f"conv_id = '{doc}'").persist())
            width = spark.conf.get("spark.sql.shuffle.partitions")
            spark.conf.set("spark.sql.shuffle.partitions", "1")
            try:
                with _span(tracer, "feed.build_feed"):
                    frames = gtfs_feed.build_feed(
                        pipeline.entries_table(ext), spark, cfg,
                        stops_src=pipeline.stops_table(ext))
                if tracer is not None:
                    frames = tracer.timed_items(frames, "feed.frame.")
                with _span(tracer, "feed.write_feed_zip"):
                    gtfs_feed.write_feed_zip(frames, str(out / "feed.zip"))
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", width)
                ext.unpersist()
        t3 = time.perf_counter()
        failed, digest, detail = check_job(out, inputs, first, second)
        feed_failed, feed_digest, rows = check_feed(out / "feed.zip", inputs)
        detail.update(rows=rows, extract_s=t2 - t0, feed_s=t3 - t2)
        # the feed publishes one document, so the turns are processed
        # by the two checkpointed invocations alone
        return PassResult(run_s=t3 - t0, turns_s=t2 - t0, resume_s=t2 - t1,
                          failed=max(failed, feed_failed),
                          digest=hashlib.sha256(
                              (digest + feed_digest).encode()).hexdigest(),
                          detail=detail)


def _table_facts(tbl) -> dict:
    """(conv, turn, table_id) -> (n_stops, n_entries, days_key,
    n_time_cells) from the nested extraction rows: the facts the
    package's own new-path oracle query derives, computed with Arrow
    kernels over the flattened lists."""
    import pyarrow.compute as pc

    tbl = tbl.filter(pc.is_valid(tbl.column("table_id"))).combine_chunks()
    n = tbl.num_rows
    if n == 0:
        return {}
    n_stops = pc.fill_null(pc.list_value_length(tbl.column("stops")),
                           0).to_numpy()
    cells = tbl.column("cells").chunk(0)
    is_time = pc.equal(pc.list_flatten(cells).field("col_type"),
                       "Time").to_numpy(zero_copy_only=False)
    n_time = np.bincount(pc.list_parent_indices(cells).to_numpy()[is_time],
                         minlength=n)
    entries = tbl.column("entries").chunk(0)
    flat = pc.list_flatten(entries)
    timed = pc.equal(flat.field("kind"), "time").to_numpy(
        zero_copy_only=False)
    rows = pc.list_parent_indices(entries).to_numpy()[timed]
    ids = flat.field("entry_id").to_numpy(zero_copy_only=False)[timed]
    n_entries = np.zeros(n, dtype=int)
    if len(rows):
        n_entries = np.bincount(np.unique(np.stack([rows, ids]), axis=1)[0],
                                minlength=n)
    days = pc.binary_join(flat.field("days"), ",").to_pylist()
    days_key: list = [None] * n
    for r, d in zip(rows, (d for d, t in zip(days, timed) if t)):
        d = d or ""
        if days_key[r] is None or d < days_key[r]:
            days_key[r] = d
    keys = zip(tbl.column("conv_id").to_pylist(),
               tbl.column("turn_idx").to_pylist(),
               tbl.column("table_id").to_pylist())
    return {k: (int(n_stops[i]), int(n_entries[i]), days_key[i],
                int(n_time[i])) for i, k in enumerate(keys)}


def _expected_facts(inputs: inp.Inputs) -> dict:
    return {(conv, t, b): (n_stops, n_trips, days, n_stops * n_trips)
            for (conv, t), blocks in inputs.expected_blocks.items()
            for b, (n_stops, n_trips, days) in enumerate(blocks)}


def _failed_turns(facts: dict, inputs: inp.Inputs) -> int:
    want = _expected_facts(inputs)
    bad = {(c, t) for (c, t, b), f in want.items()
           if facts.get((c, t, b)) != f}
    bad |= {(c, t) for (c, t, b) in facts if (c, t, b) not in want}
    return len(bad)


def check_job(out: Path, inputs, first, second) -> tuple[int, str, dict]:
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    tables = ds.dataset(str(out / "tables"), format="parquet",
                        partitioning="hive").to_table(
        columns=["conv_id", "turn_idx", "table_id", "csv_text", "cells",
                 "entries", "stops"])
    facts = _table_facts(tables)
    failed = _failed_turns(facts, inputs)
    lin = pq.read_table(str(out / "lineage")).to_pydict()
    commits = defaultdict(int)
    for b in lin["bucket"]:
        commits[b] += 1
    # every bucket committed exactly once, none redone by the resume
    if (sorted(commits) != list(range(N_BUCKETS))
            or any(n != 1 for n in commits.values())
            or set(first) & set(second)
            or sorted(first + second) != list(range(N_BUCKETS))):
        failed = inputs.n_turns
    d = tables.select(["conv_id", "turn_idx", "table_id",
                       "csv_text"]).to_pydict()
    h = hashlib.sha256()
    for row in sorted(zip(d["conv_id"], d["turn_idx"],
                          [-1 if x is None else x for x in d["table_id"]],
                          d["csv_text"]), key=lambda r: r[:3]):
        h.update(repr(row).encode())
    groups = defaultdict(lambda: [float("inf"), 0.0])
    for s, c in zip(lin["started_ts"], lin["committed_ts"]):
        g = groups[s]
        g[0], g[1] = min(g[0], s), max(g[1], c)
    detail = {
        "group_s": [c - s for s, c in groups.values()],
        "n_groups": len(groups),
        "buckets_recomputed": len(set(first) & set(second)) + sum(
            n - 1 for n in commits.values()),
        "write_mb": sum(p.stat().st_size for p in out.rglob("*")
                        if p.is_file()) / 2**20,
    }
    return failed, h.hexdigest(), detail


def check_feed(zip_path: Path, inputs) -> tuple[int, str, dict]:
    data = zip_path.read_bytes()
    with zipfile.ZipFile(io.BytesIO(data)) as zf:
        rows = {n.rsplit(".", 1)[0]: len(zf.read(n).splitlines()) - 1
                for n in zf.namelist()}
    blocks = [b for (conv, _), bl in inputs.expected_blocks.items()
              if conv == inputs.feed_doc for b in bl]
    want_trips = sum(n_trips for _, n_trips, _ in blocks)
    want_st = sum(n_stops * n_trips for n_stops, n_trips, _ in blocks)
    ok = rows.get("trips") == want_trips and rows.get("stop_times") == want_st
    pages = sum(conv == inputs.feed_doc for conv, _ in inputs.expected_blocks)
    return (0 if ok else pages), hashlib.sha256(data).hexdigest(), rows


WORKLOADS = {w.name: w for w in (TurnsLegacyCsv, JobNewpathResume)}


def shuffle_partitions(n_convs: int, n_cpus: int) -> int:
    """Reduce-side width follows the input: the shuffles group by
    conversation (reassembly) or by small GTFS keys, so more partitions
    than conversations only add empty tasks; capped at 2x the cores."""
    return int(np.clip(n_convs, 1, 2 * n_cpus))

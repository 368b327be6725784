"""Tracing from outside the program: spans around calls into the
package's public functions, kept in memory and written at the end, and
Spark's own per-task metrics read back from the event log.

A span is (id, parent, name, start, end). A layer's self time is its
duration minus the time its child spans cover; the root span's self
time is the residue no layer call accounts for.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
from pathlib import Path

PERCENTILES = (50, 90, 95, 99, 99.9)


@contextlib.contextmanager
def null_span():
    yield


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {"id": sid, "parent": self._stack[-1] if self._stack else None,
               "name": name, "wall0": time.time(),
               "t0": time.perf_counter(), "t1": None}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["t1"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper until
        ``unwrap_all``; callers that resolve the name at call time
        (module globals, class attributes) go through it."""
        orig = getattr(owner, attr)
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with tracer.span(name) as rec:
                out = orig(*a, **kw)
                rec["result"] = out
                return out

        setattr(owner, attr, wrapper)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def timed_items(self, frames: dict, prefix: str) -> dict:
        """A dict whose ``items()`` opens one span per value while the
        consumer works on it: the time ``write_feed_zip`` spends on
        each GTFS frame (plan, Spark jobs, sort, CSV rows)."""
        tracer = self

        class _Timed(dict):
            def items(self):
                for k, v in dict.items(self):
                    with tracer.span(prefix + k):
                        yield k, v

        return _Timed(frames)

    def self_times(self) -> dict[str, float]:
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["t1"] - s["t0"]
        out: dict[str, float] = {}
        for s, c in zip(self.spans, child):
            out[s["name"]] = out.get(s["name"], 0.0) + (s["t1"] - s["t0"] - c)
        return out

    def durations(self, name: str) -> list[float]:
        return [s["t1"] - s["t0"] for s in self.spans if s["name"] == name]

    def export(self) -> list[dict]:
        return [{k: v for k, v in s.items() if k != "result"}
                for s in self.spans]


def summarize(samples: list[float]) -> dict:
    """The median as ``value``, plus the highest listed percentile with
    at least ten samples beyond it, plus the sample count."""
    if not samples:
        return {"value": 0.0, "n": 0}
    xs = sorted(samples)
    out = {"value": statistics.median(xs), "n": len(xs)}
    for p in PERCENTILES[1:]:
        if len(xs) * (1 - p / 100) >= 10:
            k = min(len(xs) - 1, int(round(p / 100 * (len(xs) - 1))))
            out["pct"], out["pct_value"] = p, xs[k]
    return out


# ---------------------------------------------------------------------------
# kernel and UDF-boundary layers, in one process
# ---------------------------------------------------------------------------

def kernel_profile(workload, texts: list, conv_ids: list, turn_idxs: list,
                   batch_size: int) -> dict:
    """Drive the pipeline's own mapInPandas closure over the workload's
    payloads in Arrow-batch-sized pandas batches, with spans on the
    kernel's public functions, then convert each output batch to Arrow
    as the UDF boundary does. One untraced pass warms the kernel's
    caches first and one more after gives the tracing overhead."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    from pdf2gtfs_spark.kernel import extract, newpath, payload
    from pdf2gtfs_spark.plans import pipeline

    schema = (pipeline.EXTRACT_SCHEMA if workload.emit == "full"
              else pipeline.EXTRACT_SCHEMA_CSV)
    arrow_schema = to_arrow_schema(_parse_datatype_string(schema))
    kernel = pipeline.make_extract_kernel(workload.cfg(), emit=workload.emit)

    batches = [pd.DataFrame({"conv_id": conv_ids[i:i + batch_size],
                             "turn_idx": turn_idxs[i:i + batch_size],
                             "text": texts[i:i + batch_size]})
               for i in range(0, len(texts), batch_size)]

    def plain() -> float:
        t0 = time.process_time()
        for _ in kernel(iter(batches)):
            pass
        return time.process_time() - t0

    plain()     # fills the kernel's memo caches before either timing
    tr = Tracer()
    tr.wrap(payload, "decode_payload_batch", "payload.decode_payload_batch")
    tr.wrap(pipeline, "extract_turn", "extract.extract_turn")
    tr.wrap(extract, "cleanup_char_arrays", "extract.cleanup_char_arrays")
    tr.wrap(extract, "chars_to_field_arrays",
            "extract.chars_to_field_arrays")
    tr.wrap(newpath, "tables_from_fields", "newpath.tables_from_fields")
    tr.wrap(newpath.TypedTable, "to_result", "newpath.to_result")
    decode, record, to_arrow, out_bytes, closures = [], [], [], [], []
    per_turn = {"fields": [], "legacy": [], "tables": [], "to_result": [],
                "n_tables": []}
    try:
        gen = kernel(iter(batches))
        for pdf in batches:
            n = len(pdf)
            cpu0 = time.process_time()
            with tr.span("pipeline.kernel_closure") as closure:
                out = next(gen)
            closures.append(time.process_time() - cpu0)
            with tr.span("pipeline.to_arrow") as conv:
                rb = pa.RecordBatch.from_pandas(out, schema=arrow_schema,
                                                preserve_index=False)
            kids = [s for s in tr.spans if s["parent"] == closure["id"]]
            dec = sum(s["t1"] - s["t0"] for s in kids
                      if s["name"] == "payload.decode_payload_batch")
            turns = [s for s in kids if s["name"] == "extract.extract_turn"]
            whole = closure["t1"] - closure["t0"]
            decode.append(dec / n * 1e3)
            record.append((whole - dec - sum(s["t1"] - s["t0"]
                                             for s in turns)) / n * 1e3)
            to_arrow.append((conv["t1"] - conv["t0"]) / n * 1e3)
            out_bytes.append(rb.nbytes / n)
            for s in turns:
                sub = [c for c in tr.spans if c["parent"] == s["id"]]
                dur = {k: 0.0 for k in ("fields", "tables", "to_result")}
                for c in sub:
                    d = c["t1"] - c["t0"]
                    if c["name"].startswith("extract."):
                        dur["fields"] += d
                    elif c["name"] == "newpath.tables_from_fields":
                        dur["tables"] += d
                    elif c["name"] == "newpath.to_result":
                        dur["to_result"] += d
                per_turn["fields"].append(dur["fields"] * 1e3)
                per_turn["legacy"].append(
                    (s["t1"] - s["t0"] - sum(dur.values())) * 1e3)
                if any(c["name"] == "newpath.tables_from_fields"
                       for c in sub):
                    per_turn["tables"].append(dur["tables"] * 1e3)
                    per_turn["to_result"].append(dur["to_result"] * 1e3)
                per_turn["n_tables"].append(len(s["result"].tables))
            # spans are only needed per batch; drop them to keep the
            # list (and the lookups above) short
            tr.spans.clear()
        gen.close()
    finally:
        tr.unwrap_all()
    untraced = plain()
    return {
        # CPU time of the same batches through the same closure with and
        # without the per-call spans: the cost of the kernel spans, where
        # spans are densest (CPU time, so other tenants of the host do
        # not show up as overhead). The event log and the Spark side are
        # not in it; trace_run_s over an untraced run's run_s has those
        "trace_kernel_span_overhead_ratio": {
            "value": sum(closures) / untraced, "n": 1},
        "payload.decode_ms_per_turn": summarize(decode),
        "extract.fields_ms_per_turn": summarize(per_turn["fields"]),
        "extract.legacy_ms_per_turn": summarize(per_turn["legacy"]),
        "extract.tables_per_turn": {    # a mean: counts, not times
            "value": statistics.fmean(per_turn["n_tables"]),
            "n": len(per_turn["n_tables"])},
        "newpath.tables_ms_per_turn": summarize(per_turn["tables"]),
        "newpath.to_result_ms_per_turn": summarize(per_turn["to_result"]),
        "pipeline.record_build_ms_per_turn": summarize(record),
        "pipeline.to_arrow_ms_per_turn": summarize(to_arrow),
        "pipeline.out_bytes_per_turn": summarize(out_bytes),
        "batch_size": batch_size,
        "turns_profiled": len(texts),
    }


# ---------------------------------------------------------------------------
# Spark layer: the event log
# ---------------------------------------------------------------------------

def _is_kernel_stage(stage_info: dict) -> bool:
    for rdd in stage_info.get("RDD Info", []):
        scope = rdd.get("Scope")
        if scope and "MapInPandas" in scope:
            return True
    return False


def read_event_log(log_dir: Path) -> list[dict]:
    files = [p for p in log_dir.rglob("*") if p.is_file()
             and not p.name.startswith(".")]
    events = []
    for p in files:
        with open(p) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


def spark_metrics(events: list[dict], groups: set[str], wall_s: float,
                  n_cpus: int) -> dict:
    """Per-task metrics of the jobs in ``groups`` (job group ids)."""
    stage_ids: set[int] = set()
    n_jobs = 0
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            if props.get("spark.jobGroup.id") in groups:
                stage_ids.update(e["Stage IDs"])
                n_jobs += 1
    kernel_stages = set()
    ran_stages = set()
    for e in events:
        if (e["Event"] == "SparkListenerStageCompleted"
                and e["Stage Info"]["Stage ID"] in stage_ids):
            ran_stages.add(e["Stage Info"]["Stage ID"])
            if _is_kernel_stage(e["Stage Info"]):
                kernel_stages.add(e["Stage Info"]["Stage ID"])
    cpu = gc = delay = sw = sr = fw = busy = 0.0
    tasks = failed = 0
    kernel_task_s: list[float] = []
    kernel_ran: set[int] = set()
    for e in events:
        if (e["Event"] != "SparkListenerTaskEnd"
                or e["Stage ID"] not in stage_ids):
            continue
        info, m = e["Task Info"], e.get("Task Metrics") or {}
        tasks += 1
        failed += bool(info.get("Failed"))
        dur = (info["Finish Time"] - info["Launch Time"]) / 1e3
        busy += dur
        run = m.get("Executor Run Time", 0) / 1e3
        cpu += m.get("Executor CPU Time", 0) / 1e9
        gc += m.get("JVM GC Time", 0) / 1e3
        delay += max(0.0, dur - run
                     - m.get("Executor Deserialize Time", 0) / 1e3
                     - m.get("Result Serialization Time", 0) / 1e3
                     - info.get("Getting Result Time", 0) / 1e3)
        rd = m.get("Shuffle Read Metrics") or {}
        sr += rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
        fw += rd.get("Fetch Wait Time", 0) / 1e3
        sw += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        if e["Stage ID"] in kernel_stages:
            # a kernel stage whose tasks read a cached partition does
            # not run the Python worker: count only stages that did
            acc = {a.get("Name"): a.get("Update")
                   for a in info.get("Accumulables", [])}
            if any("Python" in (k or "") for k in acc):
                kernel_ran.add(e["Stage ID"])
            kernel_task_s.append(dur)
    skew = (max(kernel_task_s) / statistics.median(kernel_task_s)
            if kernel_task_s and statistics.median(kernel_task_s) > 0
            else 0.0)
    return {
        "spark.executor_cpu_s": cpu, "spark.gc_s": gc,
        "spark.scheduler_delay_s": delay,
        "spark.shuffle_write_mb": sw / 2**20,
        "spark.shuffle_read_mb": sr / 2**20,
        "spark.shuffle_fetch_wait_s": fw,
        "spark.kernel_task_skew": skew,
        "spark.busy_ratio": busy / (wall_s * n_cpus) if wall_s else 0.0,
        "spark.tasks": tasks, "spark.tasks_failed": failed,
        "jobs": n_jobs, "stages": len(ran_stages),
        "kernel_stages": len(kernel_stages),
        "kernel_stages_ran_python": len(kernel_ran),
    }


def jobs_between(events: list[dict], t0_wall: float, t1_wall: float) -> int:
    return sum(1 for e in events if e["Event"] == "SparkListenerJobStart"
               and t0_wall * 1e3 <= e["Submission Time"] <= t1_wall * 1e3)

"""pdf2gtfs_spark benchmark: pages -> turns -> GTFS feed.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1> [--size full|tiny]
    python3 perfbench/run.py --selfcheck

One run: plan the inputs from the seed, start a local Spark session
sized to this host while the payloads are generated, write them as
parquet, run the workload's warm passes (``setup_s`` covers all of
this), then repeat the workload's pass for ``--seconds`` (at least
once) and report medians. Every pass's output is checked against the
construction. ``--trace 1`` runs the same passes with spans around the
layer calls and Spark's event log on, then a noop-sink decomposition
and an in-process kernel profile, and reports the per-layer metrics.

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics`` (one op = one input turn).
The full record (host stamps, all samples, spans) is written under
``.bench_data/perfbench/records``. Exit code is non-zero on any
failed check or if the package cannot be imported.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import host  # noqa: E402

PROFILE_TURNS = 240


def metric_units() -> dict[str, str]:
    """Metric name -> unit, as BENCHMARK.json declares them."""
    spec = json.loads((host.REPO / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"]
            for m in spec["end_to_end"] + spec["per_layer"]}


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "tiny"), default="full")
    p.add_argument("--selfcheck", action="store_true",
                   help="run every workload at tiny size, untraced and "
                        "traced, and validate each result line")
    return p.parse_args(argv)


def _measure(workload, spark, inputs, work: Path, seconds: float,
             tracer=None, group: str = "measure") -> list:
    """Repeat the pass until ``seconds`` have elapsed (at least once)."""
    spark.sparkContext.setJobGroup(group, group)
    results = []
    t_end = time.perf_counter() + seconds
    while True:
        results.append(workload.run(spark, inputs,
                                    work / f"{group}{len(results)}", tracer))
        if time.perf_counter() >= t_end:
            return results


def _timed(fn, *args):
    t0 = time.perf_counter()
    return fn(*args), time.perf_counter() - t0


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


def _decompose(workload, spark, inputs, work: Path) -> dict:
    """scan / +kernel / +reassembly / +write, each ending in a noop sink
    except the last; a layer's time is the difference to the step
    before it."""
    from pdf2gtfs_spark.plans import pipeline

    def df():
        return spark.read.parquet(inputs.input_dir)

    def ext():
        return pipeline.run_extract(df(), workload.cfg(), emit=workload.emit)

    spark.sparkContext.setJobGroup("decompose", "decompose")
    scan = _noop(df())
    kernel = _noop(ext())
    reassembly = _noop(pipeline.reassemble_conversations(ext()))
    t0 = time.perf_counter()
    pipeline.reassemble_conversations(ext()).write.mode(
        "overwrite").parquet(str(work / "decompose_write"))
    write = time.perf_counter() - t0
    # reassembly alone, on the persisted extraction
    persisted = ext().persist()
    persisted.count()
    alone = _noop(pipeline.reassemble_conversations(persisted))
    persisted.unpersist()
    return {"spark.scan_s": scan, "spark.kernel_s": kernel - scan,
            "spark.exchange_s": reassembly - kernel,
            "spark.write_s": write - reassembly,
            "pipeline.reassembly_s": alone}


def _profile_inputs(inputs, n: int):
    import pyarrow.parquet as pq

    d = pq.read_table(inputs.input_dir).to_pandas().sort_values(
        ["conv_id", "turn_idx"])
    step = max(1, len(d) // n)
    d = d.iloc[::step].head(n)
    return list(d["text"]), list(d["conv_id"]), list(d["turn_idx"])


def _traced(workload, spark, inputs, work, seconds, n_files, record):
    """The untraced run's passes with spans on, then the layer probes."""
    from pdf2gtfs_spark.plans import lineage, pipeline
    from perfbench import trace

    tr = trace.Tracer()
    tr.wrap(pipeline, "run_extract", "pipeline.run_extract")
    tr.wrap(pipeline, "reassemble_conversations",
            "pipeline.reassemble_conversations")
    tr.wrap(pipeline, "entries_table", "pipeline.entries_table")
    tr.wrap(pipeline, "stops_table", "pipeline.stops_table")
    tr.wrap(lineage, "committed_buckets", "lineage.committed_buckets")
    try:
        traced = _measure(workload, spark, inputs, work, seconds,
                          tracer=tr, group="traced")
    finally:
        tr.unwrap_all()
    layers = _decompose(workload, spark, inputs, work)
    batch = max(1, math.ceil(inputs.n_turns / n_files))
    texts, convs, turns = _profile_inputs(inputs, PROFILE_TURNS)
    kp = trace.kernel_profile(workload, texts, convs, turns, batch)
    record["kernel_profile"] = kp
    for k, v in kp.items():
        if isinstance(v, dict):
            layers[k] = v["value"]
    record["spans"] = tr.export()
    return traced, tr, layers


def _feed_and_lineage(traced, tr, events) -> dict:
    from perfbench import trace

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    out = {}
    out["feed.plan_s"] = med(tr.durations("feed.build_feed"))
    out["feed.zip_s"] = med(tr.durations("feed.write_feed_zip"))
    for f in ("stops", "routes", "trips", "stop_times", "calendar",
              "calendar_dates"):
        out[f"feed.{f}_s"] = med(tr.durations(f"feed.frame.{f}"))
    # Spark jobs submitted from build_feed's start to the zip's end
    jobs = []
    for plan in (s for s in tr.spans if s["name"] == "feed.build_feed"):
        for z in tr.spans:
            if (z["name"] == "feed.write_feed_zip"
                    and z["parent"] == plan["parent"]):
                jobs.append(trace.jobs_between(
                    events, plan["wall0"], z["wall0"] + z["t1"] - z["t0"]))
    out["feed.spark_jobs"] = med(jobs)
    rows = traced[-1].detail.get("rows", {})
    for f in ("agency", "stops", "routes", "trips", "stop_times",
              "calendar", "calendar_dates"):
        out[f"feed.rows.{f}"] = rows.get(f, 0)
    details = [r.detail for r in traced if "group_s" in r.detail]
    out["lineage.group_s"] = med([g for d in details for g in d["group_s"]])
    out["lineage.buckets_recomputed"] = sum(
        d["buckets_recomputed"] for d in details)
    out["lineage.write_mb"] = med([d["write_mb"] for d in details])
    out["_n_groups"] = sum(d["n_groups"] for d in details)
    return out


def run_one(args) -> int:
    from perfbench import inputs as inp
    from perfbench import workloads as wl

    if args.workload not in wl.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(wl.WORKLOADS)}", file=sys.stderr)
        return 2
    workload = wl.WORKLOADS[args.workload](args.size, args.seed)
    stamp = host.stamp_start()
    work = host.WORK_ROOT / (f"{workload.name}-s{args.seed}-t{args.trace}"
                             f"-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    plan = workload.plan()
    n_cpus = host.nproc()
    n_convs = int(plan["conv_id"].nunique())
    settings = host.session_settings(wl.shuffle_partitions(n_convs, n_cpus))
    stamp.update(settings)
    stamp.update(workload=workload.name, seed=args.seed, size=args.size,
                 trace=args.trace, seconds=args.seconds)
    n_files = 2 * n_cpus
    record: dict = {"stamp": stamp}
    events_dir = work / "events" if args.trace else None

    # the payloads are generated on a thread while the JVM starts
    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=1) as pool:
        made = pool.submit(_timed, inp.generate, workload.kind, plan)
        session = host.Session(work, settings, event_log=events_dir)
        session_s = time.perf_counter() - t0
        (df, expected), gen_s = made.result()
    spark = session.spark
    try:
        inputs = inp.write(df, expected, workload.kind, args.seed,
                           work / "input", n_files)
        del df, expected
        build_s = time.perf_counter() - t0
        stamp.update(payload_sha256=inputs.payload_sha256,
                     distinct_payloads=inputs.distinct_payloads,
                     input_turns=inputs.n_turns, input_convs=inputs.n_convs)
        t = time.perf_counter()
        spark.sparkContext.setJobGroup("warm", "warm")
        warm = [workload.run(spark, inputs, work / "warm")
                for _ in range(workload.warm_passes)]
        warm_s = time.perf_counter() - t
        setup_s = time.perf_counter() - t0
        record["setup"] = {"session_s": session_s, "generate_s": gen_s,
                           "session_and_input_s": build_s,
                           "warm_s": warm_s}
        with host.RssSampler() as rss:
            if args.trace:
                results, tr, layers = _traced(
                    workload, spark, inputs, work, args.seconds, n_files,
                    record)
            else:
                results = _measure(workload, spark, inputs, work,
                                   args.seconds)
        record["peak_rss_mb"] = rss.peak_mb
    finally:
        session.close()

    passes = warm + results
    failed = sum(r.failed for r in passes)
    digest_set = {r.digest for r in passes}
    if len(digest_set) != 1:
        failed += inputs.n_turns
    attempted = inputs.n_turns * len(passes)
    run_s = statistics.median(r.run_s for r in results)
    resumes = [r.resume_s for r in results if r.resume_s is not None]
    record["passes"] = [{"run_s": r.run_s, "resume_s": r.resume_s,
                         "failed": r.failed, "detail": r.detail}
                        for r in passes]
    record["output_digest"] = sorted(digest_set)
    if args.trace:
        from perfbench import trace

        events = trace.read_event_log(events_dir)
        traced_s = sum(r.run_s for r in results)
        sm = trace.spark_metrics(events, {"traced"}, traced_s, n_cpus)
        layers.update({k: v for k, v in sm.items() if k.startswith("spark.")})
        fl = _feed_and_lineage(results, tr, events)
        n_groups = fl.pop("_n_groups")
        layers.update(fl)
        layers["spark.peak_rss_mb"] = rss.peak_mb
        # the traced passes' run_s: divided by an untraced run's run_s
        # it gives the whole tracing overhead, event log included
        layers["trace_run_s"] = run_s
        layers["lineage.kernel_passes_per_group"] = (
            sm["kernel_stages_ran_python"] / n_groups if n_groups else 0.0)
        # the layers' self times and the passes' own residue, summed
        # span by span, against the passes' outer timers: a gap shows
        # spans that overlap or leak out of their parents, or pass time
        # outside the root spans
        self_t = tr.self_times()
        residue = self_t.get("pass", 0.0)
        layer_self = sum(v for k, v in self_t.items() if k != "pass")
        layers["trace_residue_share"] = residue / traced_s
        record["self_times_s"] = self_t
        record["reconcile"] = {"traced_run_s": traced_s,
                               "layer_self_s": layer_self,
                               "residue_s": residue,
                               "gap_s": traced_s - layer_self - residue}
        record["spark_jobs"] = {k: v for k, v in sm.items()
                                if not k.startswith("spark.")}
        metrics = sorted(layers.items())
    else:
        metrics = [
            ("run_s", run_s),
            ("turns_per_s", inputs.n_turns / statistics.median(
                r.turns_s for r in results)),
            # a workload without a checkpoint resumes by re-running the
            # whole pass, so its resume time is its run time
            ("resume_s", statistics.median(resumes) if resumes else run_s),
            ("setup_s", setup_s),
        ]
    units = metric_units()
    metrics = {k: {"value": v, "unit": units[k]} for k, v in metrics}
    stamp = host.stamp_end(stamp)
    record["metrics"] = metrics
    rec_dir = host.WORK_ROOT / "records"
    rec_dir.mkdir(parents=True, exist_ok=True)
    rec_path = rec_dir / (f"{workload.name}-s{args.seed}-t{args.trace}-"
                          f"{time.strftime('%Y%m%dT%H%M%S')}.json")
    rec_path.write_text(json.dumps(record, indent=1, default=str))
    shutil.rmtree(work, ignore_errors=True)

    print(f"workload {workload.name} seed {args.seed} size {args.size} "
          f"trace {args.trace} passes {len(passes)} on {stamp['master']} "
          f"{stamp['driver_memory']} shuffle {stamp['shuffle_partitions']}")
    print(f"host nproc {stamp['nproc']} load {stamp['load_before']:.2f}->"
          f"{stamp['load_after']:.2f} spin_ratio {stamp['spin_ratio']:.3f} "
          f"steal {stamp['steal_share']:.3f} "
          f"spark {stamp['spark_version']} pyarrow {stamp['pyarrow_version']} "
          f"commit {stamp['git_commit'] or 'none'} source "
          f"{stamp['source_sha256'][:16]}")
    print(f"input turns {inputs.n_turns} distinct_payloads "
          f"{inputs.distinct_payloads} payload_sha256 "
          f"{inputs.payload_sha256}")
    print(f"output_digest {record['output_digest'][0]}")
    print(f"peak_rss_mb {rss.peak_mb:.6g} MB (driver JVM + Python workers)")
    print(f"ops_attempted {attempted} turns")
    print(f"ops_failed {failed} turns")
    kp = record.get("kernel_profile", {})
    for k, m in metrics.items():
        tail = ""
        if isinstance(kp.get(k), dict) and "n" in kp[k]:
            q = kp[k]
            tail = (f" (p{q['pct']:g} {q['pct_value']:.6g}, n={q['n']})"
                    if "pct" in q else f" (n={q['n']})")
        print(f"{k} {m['value']:.6g} {m['unit']}{tail}")
    if "reconcile" in record:
        rc = record["reconcile"]
        print(f"reconcile traced run_s {rc['traced_run_s']:.3f} s = layer "
              f"self times {rc['layer_self_s']:.3f} s + residue "
              f"{rc['residue_s']:.3f} s + gap {rc['gap_s']:.3f} s")
    print(f"record {rec_path.relative_to(host.REPO)}")
    ok = failed == 0
    print(json.dumps({"correct": ok, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0 if ok else 1


def selfcheck() -> int:
    """Tiny-size runs of every workload, untraced and traced, each in
    its own process; every result line must match BENCHMARK.json."""
    from perfbench import workloads as wl

    spec = json.loads((host.REPO / "BENCHMARK.json").read_text())
    want = {0: {m["name"] for m in spec["end_to_end"]},
            1: {m["name"] for m in spec["per_layer"]}}
    bad = 0
    for name in wl.WORKLOADS:
        for tr in (0, 1):
            cmd = [sys.executable, str(Path(__file__).resolve()),
                   "--workload", name, "--seed", "1", "--seconds", "1",
                   "--trace", str(tr), "--size", "tiny"]
            p = subprocess.run(cmd, capture_output=True, text=True,
                               timeout=600)
            lines = p.stdout.strip().splitlines()
            try:
                res = json.loads(lines[-1])
                got = set(res["metrics"])
                ok = (p.returncode == 0 and res["correct"]
                      and res["failed"] == 0 and got == want[tr])
            except (IndexError, ValueError, KeyError):
                ok, got = False, set()
            print(f"selfcheck {name} trace={tr}: "
                  f"{'ok' if ok else 'FAIL'}"
                  + ("" if ok else f" rc={p.returncode} missing="
                     f"{sorted(want[tr] - got)} extra="
                     f"{sorted(got - want[tr])}\n{p.stderr[-2000:]}"))
            bad += not ok
    print(json.dumps({"selfcheck": "ok" if not bad else "failed",
                      "failed_runs": bad}))
    return 1 if bad else 0


def main(argv=None) -> int:
    args = _parse(sys.argv[1:] if argv is None else argv)
    try:
        import pdf2gtfs_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the program under test: {e}", file=sys.stderr)
        return 2
    origin = Path(pdf2gtfs_spark.__file__).resolve()
    if host.REPO not in origin.parents:
        print(f"pdf2gtfs_spark comes from {origin}, not from the checkout "
              f"at {host.REPO}", file=sys.stderr)
        return 2
    if args.selfcheck:
        return selfcheck()
    if not args.workload:
        print("--workload is required", file=sys.stderr)
        return 2
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())

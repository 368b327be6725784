"""Lineage + checkpoint/resume (north_rule requirement; FIXTURES.md §7).

The checkpoint unit is a *conversation bucket*: pmod(xxhash64(conv_id),
n_buckets). A run processes pending buckets in groups; after each group
commits its output (parquet append partitioned by bucket), one lineage
row per bucket is appended. A killed job resumes by anti-joining
pending buckets against the lineage committed under the same input
snapshot — finished partitions are never recomputed, and a resume
against changed input recomputes every bucket (reference precedent: the
fingerprinted OSM cache protocol, locate/osm_fetcher.py:40-100).

On Iceberg this becomes snapshot-id bookkeeping; the sandbox uses
parquet + an input fingerprint column with identical semantics.
"""

from __future__ import annotations

import time
from pathlib import Path

LINEAGE_COLUMNS = (
    "run_id string, input_snapshot_id string, bucket int, "
    "input_rows long, extracted_tables long, malformed_turns long, "
    "started_ts double, committed_ts double"
)


def bucket_col(n_buckets: int):
    from pyspark.sql import functions as F

    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_buckets)).cast("int")


def committed_buckets(spark, lineage_dir: str,
                      input_snapshot_id: str) -> set[int]:
    """Buckets committed under the input snapshot ``input_snapshot_id``."""
    from pyspark.sql import functions as F

    p = Path(lineage_dir)
    if not p.exists() or not any(p.glob("*.parquet")):
        return set()
    lin = spark.read.parquet(lineage_dir).where(
        F.col("input_snapshot_id") == input_snapshot_id)
    # a bucket has one row per commit, so a set on the driver dedups
    # the handful of rows without a shuffle
    return {r["bucket"] for r in lin.select("bucket").collect()}


def _bucket_metrics(group: list[int]):
    """Per-bucket lineage counts as plain aggregates, for ``observe``.

    The kernel emits one row per (turn, table), or one row with
    table_id NULL for a turn without tables (pipeline.py's grain), so
    a turn's rows hold exactly one with table_id NULL or 0 and
    ``input_rows`` counts those: it equals
    countDistinct(conv_id, turn_idx) whenever the input's
    (conv_id, turn_idx) keys are unique. ``malformed_turns`` counts
    malformed rows, as the sum of the per-row flag did."""
    from pyspark.sql import functions as F

    first_row = F.col("table_id").isNull() | (F.col("table_id") == 0)
    out = []
    for b in group:
        in_b = F.col("bucket") == b
        out += [F.count_if(in_b & first_row).alias(f"input_rows_{b}"),
                F.count_if(in_b & F.col("table_id").isNotNull())
                .alias(f"extracted_tables_{b}"),
                F.count_if(in_b & F.col("malformed"))
                .alias(f"malformed_turns_{b}")]
    return out


def run_with_checkpoint(spark, transcripts_df, out_dir: str,
                        run_id: str, input_snapshot_id: str,
                        n_buckets: int = 8, group_size: int = 4,
                        max_groups: int | None = None,
                        cfg=None, num_partitions: int | None = None
                        ) -> list[int]:
    """Process pending buckets in commit groups; returns the buckets
    processed this invocation. ``max_groups`` simulates a mid-run kill
    for resume tests.

    Each group runs one Spark action over its data, the partitioned
    write; its lineage counts ride on that write as observed metrics,
    so the kernel runs once without persisting its output. The group's
    jobs carry the description "commit group k: buckets [...]"."""
    import pandas as pd
    import pyarrow as pa
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from pdf2gtfs_spark.config import DEFAULT_CONFIG
    from pdf2gtfs_spark.plans.pipeline import run_extract

    cfg = cfg or DEFAULT_CONFIG
    out = Path(out_dir)
    lineage_dir = str(out / "lineage")
    tables_dir = str(out / "tables")

    done = committed_buckets(spark, lineage_dir, input_snapshot_id)
    pending = [b for b in range(n_buckets) if b not in done]
    groups = [pending[i:i + group_size]
              for i in range(0, len(pending), group_size)]
    if max_groups is not None:
        groups = groups[:max_groups]

    sc = spark.sparkContext
    caller_description = sc.getLocalProperty("spark.job.description")
    processed: list[int] = []
    with_bucket = transcripts_df.withColumn("bucket", bucket_col(n_buckets))
    try:
        for k, group in enumerate(groups):
            sc.setJobDescription(f"commit group {k}: buckets {group}")
            started = time.time()
            part = with_bucket.where(F.col("bucket").isin(group))
            extracted = run_extract(
                part.select("conv_id", "turn_idx", "text"), cfg,
                num_partitions=num_partitions)
            # observed after any repartition, so the counts are taken
            # in the write's result stage, where a retried task's
            # update is applied once
            obs = Observation()
            extracted = (extracted
                         .withColumn("bucket", bucket_col(n_buckets))
                         .observe(obs, *_bucket_metrics(group)))
            # commit output first, lineage second: a crash between the
            # two re-processes the group idempotently (same bucket
            # partition is overwritten on retry via dynamic partition
            # overwrite)
            (extracted.write.mode("overwrite")
             .option("partitionOverwriteMode", "dynamic")
             .partitionBy("bucket").parquet(tables_dir))
            m = obs.get
            rows = pd.DataFrame({
                "run_id": run_id, "input_snapshot_id": input_snapshot_id,
                "bucket": group,
                **{c: [m[f"{c}_{b}"] for b in group]
                   for c in ("input_rows", "extracted_tables",
                             "malformed_turns")},
                "started_ts": started, "committed_ts": time.time()})
            # a driver-made frame through Arrow: a list of tuples would
            # start a Python-worker stage to write a few rows
            spark.createDataFrame(
                pa.Table.from_pandas(rows, preserve_index=False),
                LINEAGE_COLUMNS).write.mode("append").parquet(lineage_dir)
            processed += group
    finally:
        sc.setJobDescription(caller_description)
    return processed

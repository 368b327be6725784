"""Spark pipeline end-to-end tests: extraction, reassembly, match rate,
lineage/resume."""

import pytest

from pdf2gtfs_spark.plans.pipeline import (
    cells_table, entries_table, match_rate, reassemble_conversations,
    run_extract, stops_table, turn_csvs,
)
from pdf2gtfs_spark.plans.lineage import (
    committed_buckets, run_with_checkpoint,
)
from pdf2gtfs_spark.sources.transcripts import generate_transcripts


@pytest.fixture(scope="module")
def small_input(spark):
    transcripts, expected = generate_transcripts(
        n_convs=6, base_turns=2, skew_every=5, skew_factor=4)
    tdf = spark.createDataFrame(transcripts)
    edf = spark.createDataFrame(expected)
    return transcripts, expected, tdf, edf


@pytest.fixture(scope="module")
def extracted(spark, small_input):
    _, _, tdf, _ = small_input
    df = run_extract(tdf, num_partitions=8)
    df.cache()
    df.count()
    return df


class TestExtractPipeline:
    def test_every_turn_covered(self, extracted, small_input):
        transcripts, *_ = small_input
        per_turn = turn_csvs(extracted)
        assert per_turn.count() == len(transcripts)

    def test_match_rate_is_one(self, spark, extracted, small_input):
        _, _, _, edf = small_input
        per_turn, rate = match_rate(extracted, edf)
        r = rate.collect()[0]["match_rate"]
        assert r == 1.0, per_turn.where("NOT match").select(
            "conv_id", "turn_idx").head(5)

    def test_cells_grid_dense_coords(self, extracted):
        cells = cells_table(extracted)
        row = cells.limit(1).collect()[0]
        assert row["row_idx"] >= 0 and row["col_idx"] >= 0
        assert row["x1"] > row["x0"]

    def test_entries_days_mapping(self, spark, extracted):
        from pyspark.sql import functions as F
        e = entries_table(extracted)
        days = (e.where(F.lower("header_text") == "montag - freitag")
                .select("days").limit(1).collect())
        if days:
            assert days[0]["days"] == ["0", "1", "2", "3", "4"]

    def test_stops_have_names(self, extracted):
        s = stops_table(extracted)
        assert s.where("stop_name = '' OR stop_name IS NULL").count() == 0

    def test_reassembly_order(self, spark, extracted, small_input):
        transcripts, expected, _, _ = small_input
        convs = reassemble_conversations(extracted)
        one = convs.orderBy("conv_id").limit(1).collect()[0]
        conv_turns = expected[expected["conv_id"] == one["conv_id"]]
        assert one["n_turns"] == len(conv_turns)
        # document is the turn-ordered concatenation
        exp_doc = "\n\x1e\n".join(
            conv_turns.sort_values("turn_idx")["expected_csvs"])
        assert one["conversation_doc"] == exp_doc


class TestLineageResume:
    def test_resume_skips_committed(self, spark, small_input, tmp_path):
        _, _, tdf, _ = small_input
        out = str(tmp_path / "out")
        # simulated kill: only the first commit group runs
        first = run_with_checkpoint(
            spark, tdf, out, run_id="r1", input_snapshot_id="s1",
            n_buckets=4, group_size=2, max_groups=1)
        assert len(first) == 2
        assert committed_buckets(spark, f"{out}/lineage",
                                 "s1") == set(first)
        # resume: processes only the remaining buckets
        second = run_with_checkpoint(
            spark, tdf, out, run_id="r2", input_snapshot_id="s1",
            n_buckets=4, group_size=2)
        assert sorted(first + second) == [0, 1, 2, 3]
        assert set(first).isdisjoint(second)
        # output complete and duplicate-free
        got = spark.read.parquet(f"{out}/tables")
        n_turns = tdf.count()
        assert got.select("conv_id", "turn_idx", "table_id").distinct() \
                  .count() == got.count()
        assert (got.select("conv_id", "turn_idx").distinct().count()
                == n_turns)
        # third run: nothing pending
        third = run_with_checkpoint(
            spark, tdf, out, run_id="r3", input_snapshot_id="s1",
            n_buckets=4, group_size=2)
        assert third == []

    def test_resume_under_new_snapshot_recomputes_every_bucket(
            self, spark, small_input, tmp_path):
        _, _, tdf, _ = small_input
        out = str(tmp_path / "out")
        first = run_with_checkpoint(
            spark, tdf, out, run_id="r1", input_snapshot_id="s1",
            n_buckets=4, group_size=2, max_groups=1)
        assert len(first) == 2
        assert committed_buckets(spark, f"{out}/lineage", "s2") == set()
        # the input changed: nothing committed under s1 counts
        second = run_with_checkpoint(
            spark, tdf, out, run_id="r2", input_snapshot_id="s2",
            n_buckets=4, group_size=2)
        assert second == [0, 1, 2, 3]
        assert committed_buckets(spark, f"{out}/lineage", "s2") == {
            0, 1, 2, 3}

    def test_lineage_counts_equal_tables(self, spark, small_input,
                                         tmp_path):
        import pandas as pd

        _, _, tdf, _ = small_input
        extra = spark.createDataFrame(pd.DataFrame({
            "conv_id": ["odd_malformed", "odd_empty"],
            "turn_idx": [0, 0],
            "text": ["not a char-box payload", ""]}),
            "conv_id string, turn_idx int, text string")
        src = tdf.select("conv_id", "turn_idx", "text").unionByName(extra)
        out = str(tmp_path / "out")
        sc = spark.sparkContext
        sc.setJobDescription("caller")
        try:
            # 8 buckets in groups of 3: uneven groups 3 + 3 + 2
            done = run_with_checkpoint(
                spark, src, out, run_id="r1", input_snapshot_id="s1",
                n_buckets=8, group_size=3)
            # the commit groups' job descriptions are the caller's again
            assert sc.getLocalProperty("spark.job.description") == "caller"
        finally:
            sc.setJobDescription(None)
        assert done == list(range(8))
        lin = spark.read.parquet(f"{out}/lineage").toPandas()
        assert sorted(lin["bucket"]) == list(range(8))
        tables = spark.read.parquet(f"{out}/tables").toPandas()
        per_bucket = {
            int(b): (g[["conv_id", "turn_idx"]].drop_duplicates().shape[0],
                     int(g["table_id"].notna().sum()),
                     int(g["malformed"].sum()))
            for b, g in tables.groupby("bucket")}
        for r in lin.itertuples():
            assert (r.input_rows, r.extracted_tables,
                    r.malformed_turns) == per_bucket.get(r.bucket,
                                                         (0, 0, 0))
        # the malformed and the empty turn are counted as input rows
        # and as malformed turns
        assert lin["input_rows"].sum() == src.count()
        assert lin["malformed_turns"].sum() == 2


class TestArrowStructContract:
    def test_struct_conversion_drops_extra_dict_keys_by_name(self, spark):
        # The full-emit kernel ships stored record dicts that carry a
        # table_id key the pipeline struct schema does not declare
        # (TableResult.records allow_extra); this pins the Arrow
        # behavior that makes that safe: struct fields are matched by
        # dict key NAME and undeclared keys are dropped.
        import pandas as pd

        def kern(batches):
            for _ in batches:
                yield pd.DataFrame({
                    "id": [1],
                    "ents": [[{"table_id": 9, "a": 5, "b": "x"},
                              {"b": "y", "a": 6, "table_id": 8}]],
                })

        out = (spark.range(1).toDF("x")
               .mapInPandas(kern, "id int, ents array<struct<a:int, b:string>>")
               .collect())
        assert [tuple(r) for r in out[0].ents] == [(5, "x"), (6, "y")]

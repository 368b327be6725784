"""GTFS feed assembly end-to-end: entries -> seven files -> feed.zip.

Oracle: reference handler.timetable_to_gtfs semantics
(gtfs_output/handler.py:118-310) on the vag golden fixture's entries;
the generated-page test needs no reference fixture.
"""

import dataclasses
import zipfile

import pytest

from pdf2gtfs_spark.config import DEFAULT_CONFIG
from pdf2gtfs_spark.operators.feed import (
    build_feed, build_routes, holiday_dates, write_feed_zip,
)
from pdf2gtfs_spark.plans.pipeline import (
    entries_table, run_extract, stops_table,
)
from pdf2gtfs_spark.sources.transcripts import (
    cells_to_payload, fixture_turns, vag_like_block,
)

GTFS_FILES = {"agency", "stops", "routes", "calendar", "calendar_dates",
              "trips", "stop_times"}


@pytest.fixture(scope="module")
def vag_entries(spark):
    _, payload, _ = fixture_turns()[0]
    tdf = spark.createDataFrame(
        [("vag", 0, payload)], "conv_id string, turn_idx int, text string")
    return entries_table(run_extract(tdf)).cache()


class TestFeed:
    def test_feed_structure(self, spark, vag_entries):
        feed = build_feed(vag_entries, spark)
        assert set(feed) == GTFS_FILES
        # vag page 1: 20 trips, all with times -> none pruned
        assert feed["trips"].count() == 20
        # Montag-Freitag days; 3 services (annotation sets {} / {V} /
        # {s} are distinct calendar entries, calendar.py:109-123);
        # holidays off -> exception 2
        cal = feed["calendar"].collect()
        assert len(cal) == 3
        assert all((c["monday"], c["saturday"]) == (1, 0) for c in cal)
        cd = feed["calendar_dates"].collect()
        assert len(cd) == 3 * len(holiday_dates())
        assert all(r["exception_type"] == 2 for r in cd)
        # routes deduped to the distinct first-last spans
        routes = feed["routes"].collect()
        assert 1 <= len(routes) <= 20
        for r in routes:
            assert "-" in r["route_long_name"]
        # every trip's route/service exists
        route_ids = {r["route_id"] for r in routes}
        service_ids = {c["service_id"] for c in cal}
        for t in feed["trips"].collect():
            assert t["route_id"] in route_ids
            assert t["service_id"] in service_ids

    def test_pruning_drops_timeless_trips(self, spark):
        import pandas as pd
        rows = [
            ("c", 0, 0, 0, "time", "", "", [], ["0"], None, 0, 0,
             "Stop Alpha Long", "", False, "10.00"),
            # entry 1 has an unparseable value only -> no stop_times
            ("c", 0, 0, 1, "time", "", "", [], ["0"], None, 0, 0,
             "Stop Alpha Long", "", False, "xx"),
        ]
        cols = ["conv_id", "turn_idx", "table_id", "entry_id", "kind",
                "header_text", "route_name", "annotations", "days",
                "repeat_intervals", "stop_pos", "stop_row_idx",
                "stop_name", "stop_annot", "is_connection", "value"]
        schema = ("conv_id string, turn_idx int, table_id int, "
                  "entry_id int, kind string, header_text string, "
                  "route_name string, annotations array<string>, "
                  "days array<string>, repeat_intervals array<int>, "
                  "stop_pos int, stop_row_idx int, stop_name string, "
                  "stop_annot string, is_connection boolean, value string")
        e = spark.createDataFrame(pd.DataFrame(rows, columns=cols), schema)
        feed = build_feed(e, spark)
        # the unparseable entry still gets a stop_times row (the
        # day_seconds 0 fallback, rolled over +24h against entry 0),
        # but it has no route anchor, so only entry 0 becomes a trip:
        # the row is an orphan (the reference's handling of entries
        # with no parseable value is not pinned)
        assert [t["trip_id"] for t in feed["trips"].collect()] == [
            "c/0/0/0"]
        assert sorted(tuple(r) for r in feed["stop_times"].select(
            "trip_id", "stop_sequence", "arrival_time",
            "departure_time").collect()) == [
            ("c/0/0/0", 0, "10:00:00", "10:00:00"),
            ("c/0/0/1", 0, "24:00:00", "24:00:00")]
        assert feed["routes"].count() == 1

    def test_zip_deterministic(self, spark, vag_entries, tmp_path):
        feed = build_feed(vag_entries, spark)
        p1 = write_feed_zip(feed, str(tmp_path / "feed1.zip"))
        p2 = write_feed_zip(build_feed(vag_entries, spark),
                            str(tmp_path / "feed2.zip"))
        b1 = open(p1, "rb").read()
        assert b1 == open(p2, "rb").read()
        with zipfile.ZipFile(p1) as zf:
            assert {n.rsplit(".", 1)[0] for n in zf.namelist()} == GTFS_FILES
            st = zf.read("stop_times.txt").decode().splitlines()
            assert st[0] == ("trip_id,stop_sequence,arrival_time,"
                             "departure_time,stop_id")
            # 20 trips, sparse columns -> 284 folded rows + header
            assert len(st) == 285

    def test_generated_pages_zip(self, spark, tmp_path):
        # two new-path pages of one document: (n_stops, n_trips,
        # stop_seed) per stacked block, with a days header each
        pages = [[(8, 4, 3), (6, 3, 10)], [(7, 5, 3)]]
        rows = []
        for t, blocks in enumerate(pages):
            cells, y = [], 100.0
            for n_stops, n_trips, seed in blocks:
                block, xs = vag_like_block(y, n_stops=n_stops,
                                           n_trips=n_trips,
                                           stop_seed=seed)
                cells += block + [("Montag - Freitag", xs[0], y - 14.0)]
                y += n_stops * 10.0 + 36.0
            rows.append(("doc", t, cells_to_payload(cells)))
        tdf = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, text string")
        cfg = dataclasses.replace(DEFAULT_CONFIG, extraction_path="new")

        def publish(name):
            ext = run_extract(tdf, cfg)
            feed = build_feed(entries_table(ext), spark, cfg,
                              stops_src=stops_table(ext))
            write_feed_zip(feed, str(tmp_path / name))
            return (tmp_path / name).read_bytes()

        assert publish("feed1.zip") == publish("feed2.zip")
        with zipfile.ZipFile(tmp_path / "feed1.zip") as zf:
            assert {n.rsplit(".", 1)[0] for n in zf.namelist()} == GTFS_FILES
            trips = zf.read("trips.txt").decode().splitlines()[1:]
            st = zf.read("stop_times.txt").decode().splitlines()[1:]
        blocks = [b for page in pages for b in page]
        # one trip per time column, one stop_times row per time cell
        assert len(trips) == sum(n_trips for _, n_trips, _ in blocks)
        assert len(st) == sum(n_stops * n_trips
                              for n_stops, n_trips, _ in blocks)

    def test_routes_first_last_parseable(self, spark):
        import pandas as pd
        cols = ["conv_id", "turn_idx", "table_id", "entry_id", "kind",
                "header_text", "route_name", "annotations", "days",
                "repeat_intervals", "stop_pos", "stop_row_idx",
                "stop_name", "stop_annot", "is_connection", "value"]
        rows = [
            ("c", 0, 0, 0, "time", "", "S1", [], [], None, 0, 0,
             "Alpha", "", False, "zz"),        # unparseable -> skipped
            ("c", 0, 0, 0, "time", "", "S1", [], [], None, 1, 1,
             "Beta", "", False, "10.00"),
            ("c", 0, 0, 0, "time", "", "S1", [], [], None, 2, 2,
             "Gamma", "", False, "10.10"),
        ]
        schema = ("conv_id string, turn_idx int, table_id int, "
                  "entry_id int, kind string, header_text string, "
                  "route_name string, annotations array<string>, "
                  "days array<string>, repeat_intervals array<int>, "
                  "stop_pos int, stop_row_idx int, stop_name string, "
                  "stop_annot string, is_connection boolean, value string")
        e = spark.createDataFrame(pd.DataFrame(rows, columns=cols), schema)
        r = build_routes(e).collect()
        assert len(r) == 1
        assert r[0]["route_long_name"] == "Beta-Gamma"
        assert r[0]["route_short_name"] == "S1"

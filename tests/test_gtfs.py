"""GTFS relational-tail tests: rollover, arr/dep fold, sequence
numbering, repeat expansion, calendar/stop dedup.

Oracles: reference semantics in gtfs_output/stop_times.py (Time, W6,
W7, W11, add_repeat) exercised on hand-built entries frames.
"""

import pandas as pd
import pytest

from pdf2gtfs_spark.operators.gtfs import (
    build_calendar, build_stop_times, build_stops, handler_walk,
    shift_stop_times,
)

ENTRY_COLS = ["conv_id", "turn_idx", "table_id", "entry_id", "kind",
              "header_text", "route_name", "annotations", "days",
              "repeat_intervals", "stop_pos", "stop_row_idx",
              "stop_name", "stop_annot", "is_connection", "value"]


def _entries_df(spark, rows):
    pdf = pd.DataFrame(rows, columns=ENTRY_COLS)
    schema = ("conv_id string, turn_idx int, table_id int, entry_id int, "
              "kind string, header_text string, route_name string, "
              "annotations array<string>, days array<string>, "
              "repeat_intervals array<int>, stop_pos int, "
              "stop_row_idx int, stop_name string, stop_annot string, "
              "is_connection boolean, value string")
    return spark.createDataFrame(pdf, schema)


WEEKDAYS = ["0", "1", "2", "3", "4"]


def _mk(entry_id, stop_pos, name, value, kind="time", intervals=None,
        days=WEEKDAYS, conn=False):
    return ("c", 0, 0, entry_id, kind, "Montag - Freitag", "",
            [], days, intervals, stop_pos, stop_pos,
            name, "", conn, value)


def _copies(e, st):
    """The repeat copies ("<current>#k") of handler_walk, as shifted
    stop_times rows."""
    return (shift_stop_times(st, handler_walk(e, st))
            .where("trip_id LIKE '%#%'").collect())


def _rep(entry_id, intervals):
    """A repeat column ('alle <intervals> min') between two entries."""
    return ("c", 0, 0, entry_id, "repeat", "", "", [], [], intervals,
            None, None, None, None, None, "alle")


class TestStopTimes:
    def test_time_field_ranges_enforced(self, spark):
        # Time.from_string strips spaces THEN strptime enforces H 0-23
        # / M 0-59 (stop_times.py:32-41): '5.62' and '26.10' are not
        # times (-> 0s), while '5. 35' IS one after the strip (gtfs
        # sweep family v4; the shape-only regex accepted all three)
        rows = [_mk(0, 0, "Stop Alpha Long", "5.62"),
                _mk(0, 1, "Stop Beta Long", "26.10"),
                _mk(0, 2, "Stop Gamma Long", "5. 35")]
        e = _entries_df(spark, rows)
        st = {r["stop_sequence"]: r["arrival_time"]
              for r in build_stop_times(e, build_stops(e)).collect()}
        assert st[0] == "00:00:00"
        assert st[1] == "00:00:00"
        assert st[2] == "05:35:00"

    def test_route_anchor_uses_raw_strptime(self, spark):
        # names_from_entry runs strptime on the RAW value
        # (routes.py:149-152): a spaced '5. 35' anchors stop_times but
        # NOT the route's first/last pair
        from pdf2gtfs_spark.operators.feed import build_routes
        rows = [_mk(0, 0, "Stop Alpha Long", "8.00"),
                _mk(0, 1, "Stop Beta Long", "8.10"),
                _mk(0, 2, "Stop Gamma Long", "8. 20")]
        e = _entries_df(spark, rows)
        routes = build_routes(e).collect()
        assert [r["route_long_name"] for r in routes] == [
            "Stop Alpha Long-Stop Beta Long"]

    def test_midnight_rollover(self, spark):
        # vag pattern: 23.47 ... 0.17 wraps to 24:17 (stop_times.py:199-213)
        rows = [_mk(0, 0, "Stop Alpha Long", "23.47"),
                _mk(0, 1, "Stop Beta Long", "23.59"),
                _mk(0, 2, "Stop Gamma Long", "0.17"),
                _mk(0, 3, "Stop Delta Long", "0.30")]
        e = _entries_df(spark, rows)
        st = build_stop_times(e, build_stops(e)).collect()
        assert [r["arrival_time"] for r in st] == [
            "23:47:00", "23:59:00", "24:17:00", "24:30:00"]

    def test_double_rollover(self, spark):
        rows = [_mk(0, 0, "Stop Alpha Long", "23.00"),
                _mk(0, 1, "Stop Beta Long", "1.00"),
                _mk(0, 2, "Stop Gamma Long", "0.30")]
        e = _entries_df(spark, rows)
        st = build_stop_times(e, build_stops(e)).collect()
        # second wrap: 0.30 < 1.00 -> +24h again
        assert [r["arrival_time"] for r in st] == [
            "23:00:00", "25:00:00", "48:30:00"]

    def test_arrival_departure_fold(self, spark):
        # consecutive same stop: an/ab -> one row, dep = second time
        # (stop_times.py:215-221)
        rows = [_mk(0, 0, "Stop Alpha Long", "10.00"),
                _mk(0, 1, "Bertoldsbrunnen Xyz", "10.29"),
                _mk(0, 2, "Bertoldsbrunnen Xyz", "10.31"),
                _mk(0, 3, "Stop Omega Long", "10.45")]
        e = _entries_df(spark, rows)
        st = build_stop_times(e, build_stops(e)).collect()
        assert len(st) == 3
        fold = st[1]
        assert fold["arrival_time"] == "10:29:00"
        assert fold["departure_time"] == "10:31:00"
        assert fold["stop_sequence"] == 1
        assert st[2]["stop_sequence"] == 3  # seq counts folded rows

    def test_stop_id_deterministic_across_trips(self, spark):
        rows = [_mk(0, 0, "Stop Alpha Long", "10.00"),
                _mk(1, 0, "Stop Alpha Long", "11.00")]
        e = _entries_df(spark, rows)
        st = build_stop_times(e, build_stops(e)).collect()
        assert st[0]["stop_id"] == st[1]["stop_id"]


class TestRepeatExpansion:
    def _base(self, spark, intervals, gap_minutes=60):
        rows = [_mk(0, 0, "Stop Alpha Long", "8.00"),
                _mk(0, 1, "Stop Beta Long", "8.10"),
                _rep(1, intervals),
                _mk(2, 0, "Stop Alpha Long",
                    f"{8 + gap_minutes // 60}.{gap_minutes % 60:02}"),
                _mk(2, 1, "Stop Beta Long",
                    f"{8 + (gap_minutes + 10) // 60}."
                    f"{(gap_minutes + 10) % 60:02}")]
        e = _entries_df(spark, rows)
        stops = build_stops(e)
        st = build_stop_times(e, stops)
        return e, st

    def test_constant_interval(self, spark):
        # anchors 8:00 and 9:00, alle 20 min -> copies at 8:20, 8:40;
        # the 9:00 tie is DROPPED: add_repeat breaks on
        # __gt__ = not __lt__, so a copy equal to next at the common
        # stop never lands (stop_times.py:255-261, 285-286; pinned by
        # the GTFS differential sweep)
        e, st = self._base(spark, intervals=[20], gap_minutes=60)
        rep = _copies(e, st)
        starts = sorted(r["arrival_time"] for r in rep
                        if r["stop_sequence"] == 0)
        assert starts == ["08:20:00", "08:40:00"]

    def test_cycle_intervals(self, spark):
        # deltas cycle [10, 20]: shifts 10, 30, 40 land (< gap 60);
        # the 60 tie is dropped (strict __lt__)
        e, st = self._base(spark, intervals=[10, 20], gap_minutes=60)
        rep = _copies(e, st)
        starts = sorted(r["arrival_time"] for r in rep
                        if r["stop_sequence"] == 0)
        assert starts == ["08:10:00", "08:30:00", "08:40:00"]

    def test_copies_preserve_shape(self, spark):
        e, st = self._base(spark, intervals=[30], gap_minutes=60)
        rep = _copies(e, st)
        trips = {}
        for r in rep:
            trips.setdefault(r["trip_id"], []).append(r)
        for rows in trips.values():
            assert len(rows) == 2  # both stops copied
            secs = {r["stop_sequence"]: r for r in rows}
            assert (secs[1]["arr_seconds"] - secs[0]["arr_seconds"]
                    == 600)  # 10-minute spacing preserved

    def test_stacked_repeats_anchor_on_first_entry(self, spark):
        # handler.py:175-216: ``previous = current`` runs only when no
        # repeat is pending, so in (time0, rep1, time2, rep3, time4)
        # BOTH repeats anchor on time0 — copies are time0 shifted, with
        # time0's per-stop offsets, bounded by each repeat's own right
        # anchor (sweep seed 97194; the pre-r6 nearest-neighbor pairing
        # wrongly anchored rep3 on time2).
        rows = [_mk(0, 0, "Stop Alpha Long", "8.00"),
                _mk(0, 1, "Stop Beta Long", "8.10"),
                _rep(1, [25]),
                _mk(2, 0, "Stop Alpha Long", "8.40"),
                _mk(2, 1, "Stop Beta Long", "8.55"),   # +15 offsets
                _rep(3, [20]),
                _mk(4, 0, "Stop Alpha Long", "9.10"),
                _mk(4, 1, "Stop Beta Long", "9.20")]
        e = _entries_df(spark, rows)
        st = build_stop_times(e, build_stops(e))
        rep = _copies(e, st)
        trips = {}
        for r in rep:
            trips.setdefault(r["trip_id"], []).append(r)
        got = sorted(
            (min(r["arr_seconds"] for r in rows),
             max(r["arr_seconds"] for r in rows)
             - min(r["arr_seconds"] for r in rows))
            for rows in trips.values())
        # rep1: time0+25 = 8:25 (< 8:40); rep3: time0+20k < 9:10
        # -> 8:20, 8:40(=time2 start but measured at time0's stops,
        # 9:00) — ALL with time0's +10-minute spacing, never time2's
        # +15
        assert all(span == 600 for _, span in got)
        assert [s for s, _ in got] == [
            8 * 3600 + 20 * 60,   # rep3 k=1
            8 * 3600 + 25 * 60,   # rep1 k=1
            8 * 3600 + 40 * 60,   # rep3 k=2
            9 * 3600]             # rep3 k=3 (9:00 < 9:10)


def _feed_stop_times(spark, rows, cfg=None):
    """Hand-built entries -> build_feed -> sorted (trip_id,
    stop_sequence, arrival_time, departure_time) rows."""
    from pdf2gtfs_spark.config import DEFAULT_CONFIG
    from pdf2gtfs_spark.operators.feed import build_feed

    feed = build_feed(_entries_df(spark, rows), spark,
                      cfg or DEFAULT_CONFIG)
    return sorted(tuple(r) for r in feed["stop_times"].select(
        "trip_id", "stop_sequence", "arrival_time",
        "departure_time").collect())


def _st(trip, *times):
    """Expected rows of one trip: one (arrival = departure) time per
    consecutive stop_sequence."""
    return [(trip, i, t, t) for i, t in enumerate(times)]


class TestHandlerLoop:
    """The reference's per-table handler loop (handler.py:144-217):
    service-day offsets and repeat copies, asserted on full feed
    stop_times rows."""

    def test_tie_at_first_common_stop_rolls_over(self, spark):
        # __gt__ = not __lt__: equal arrivals at the first common stop
        # count as "previous > current" -> +24h
        rows = [_mk(0, 0, "Stop Alpha Long", "8.00"),
                _mk(0, 1, "Stop Beta Long", "8.10"),
                _mk(1, 0, "Stop Alpha Long", "8.00"),
                _mk(1, 1, "Stop Beta Long", "8.20")]
        assert _feed_stop_times(spark, rows) == (
            _st("c/0/0/0", "08:00:00", "08:10:00")
            + _st("c/0/0/1", "32:00:00", "32:20:00"))

    def test_disjoint_stops_roll_over(self, spark):
        # no common stop: __lt__ exhausts -> False -> +24h
        rows = [_mk(0, 0, "Stop Alpha Long", "8.00"),
                _mk(1, 1, "Stop Gamma Long", "9.00")]
        assert _feed_stop_times(spark, rows) == (
            _st("c/0/0/0", "08:00:00")
            + [("c/0/0/1", 1, "33:00:00", "33:00:00")])

    def test_second_crossing_adds_an_hour(self, spark):
        # the offset is passed as Time(hours), so the 2nd crossing
        # shifts by 24h + 1h, not 48h
        rows = [_mk(0, 0, "Stop Alpha Long", "10.00"),
                _mk(1, 0, "Stop Alpha Long", "9.00"),
                _mk(2, 0, "Stop Alpha Long", "6.00")]
        assert _feed_stop_times(spark, rows) == (
            _st("c/0/0/0", "10:00:00") + _st("c/0/0/1", "33:00:00")
            + _st("c/0/0/2", "31:00:00"))

    def test_days_change_resets_offset_and_previous(self, spark):
        sat = ["5"]
        rows = [_mk(0, 0, "Stop Alpha Long", "10.00"),
                _mk(1, 0, "Stop Alpha Long", "9.00"),
                # new days: no previous -> no shift, offset back to 0
                _mk(2, 0, "Stop Alpha Long", "8.00", days=sat),
                # so this crossing is +24h, not +25h
                _mk(3, 0, "Stop Alpha Long", "7.00", days=sat)]
        assert _feed_stop_times(spark, rows) == (
            _st("c/0/0/0", "10:00:00") + _st("c/0/0/1", "33:00:00")
            + _st("c/0/0/2", "08:00:00") + _st("c/0/0/3", "31:00:00"))

    def test_all_connection_previous_disables_rollover(self, spark):
        # entry 0's only value is at a connection stop: its StopTimes
        # is empty and falsy, so entry 1 is not compared (it would be
        # disjoint -> +24h otherwise)
        rows = [_mk(0, 0, "Stop Alpha Long", "10.00", conn=True),
                _mk(1, 1, "Stop Beta Long", "9.00")]
        assert _feed_stop_times(spark, rows) == [
            ("c/0/0/1", 1, "09:00:00", "09:00:00")]

    def test_repeat_without_intervals_clears_pending(self, spark):
        rows = [_mk(0, 0, "Stop Alpha Long", "8.00"),
                _mk(0, 1, "Stop Beta Long", "8.10"),
                _rep(1, [20]),
                _rep(2, None),
                _mk(3, 0, "Stop Alpha Long", "9.00"),
                _mk(3, 1, "Stop Beta Long", "9.10")]
        assert _feed_stop_times(spark, rows) == (
            _st("c/0/0/0", "08:00:00", "08:10:00")
            + _st("c/0/0/3", "09:00:00", "09:10:00"))

    def test_later_repeat_replaces_pending(self, spark):
        rows = [_mk(0, 0, "Stop Alpha Long", "8.00"),
                _mk(0, 1, "Stop Beta Long", "8.10"),
                _rep(1, [10]),
                _rep(2, [25]),
                _mk(3, 0, "Stop Alpha Long", "9.00"),
                _mk(3, 1, "Stop Beta Long", "9.10")]
        assert _feed_stop_times(spark, rows) == sorted(
            _st("c/0/0/0", "08:00:00", "08:10:00")
            + _st("c/0/0/3", "09:00:00", "09:10:00")
            + _st("c/0/0/3#1", "08:25:00", "08:35:00")
            + _st("c/0/0/3#2", "08:50:00", "09:00:00"))

    def test_copies_come_from_day_shifted_previous(self, spark):
        # entry 1 crosses (+24h); the right anchor entry 3 crosses
        # again (+25h); copies shift entry 1's shifted times until the
        # shifted entry 3 (gap 2h at Stop Alpha)
        rows = [_mk(0, 0, "Stop Alpha Long", "10.00"),
                _mk(0, 1, "Stop Beta Long", "10.10"),
                _mk(1, 0, "Stop Alpha Long", "9.00"),
                _mk(1, 1, "Stop Beta Long", "9.10"),
                _rep(2, [30]),
                _mk(3, 0, "Stop Alpha Long", "10.00"),
                _mk(3, 1, "Stop Beta Long", "10.10")]
        assert _feed_stop_times(spark, rows) == sorted(
            _st("c/0/0/0", "10:00:00", "10:10:00")
            + _st("c/0/0/1", "33:00:00", "33:10:00")
            + _st("c/0/0/3", "35:00:00", "35:10:00")
            + _st("c/0/0/3#1", "33:30:00", "33:40:00")
            + _st("c/0/0/3#2", "34:00:00", "34:10:00")
            + _st("c/0/0/3#3", "34:30:00", "34:40:00"))

    def test_copy_gap_uses_first_arrival_of_a_repeated_stop(self, spark):
        # the right anchor visits Stop Alpha twice; __lt__ resolves the
        # FIRST entry per stop (_get_entry_from_stop_id), so the gap is
        # 60 min (9:00), not 80 min (9:20)
        rows = [_mk(0, 0, "Stop Alpha Long", "8.00"),
                _mk(0, 1, "Stop Beta Long", "8.10"),
                _rep(1, [20]),
                _mk(2, 0, "Stop Alpha Long", "9.00"),
                _mk(2, 1, "Stop Beta Long", "9.10"),
                _mk(2, 2, "Stop Alpha Long", "9.20")]
        assert _feed_stop_times(spark, rows) == sorted(
            _st("c/0/0/0", "08:00:00", "08:10:00")
            + _st("c/0/0/2", "09:00:00", "09:10:00", "09:20:00")
            + _st("c/0/0/2#1", "08:20:00", "08:30:00")
            + _st("c/0/0/2#2", "08:40:00", "08:50:00"))

    def test_mean_strategy_averages_intervals(self, spark):
        import dataclasses

        from pdf2gtfs_spark.config import DEFAULT_CONFIG
        rows = [_mk(0, 0, "Stop Alpha Long", "8.00"),
                _mk(0, 1, "Stop Beta Long", "8.10"),
                _rep(1, [10, 20]),
                _mk(2, 0, "Stop Alpha Long", "9.00"),
                _mk(2, 1, "Stop Beta Long", "9.10")]
        cfg = dataclasses.replace(DEFAULT_CONFIG, repeat_strategy="mean")
        assert _feed_stop_times(spark, rows, cfg) == sorted(
            _st("c/0/0/0", "08:00:00", "08:10:00")
            + _st("c/0/0/2", "09:00:00", "09:10:00")
            + _st("c/0/0/2#1", "08:15:00", "08:25:00")
            + _st("c/0/0/2#2", "08:30:00", "08:40:00")
            + _st("c/0/0/2#3", "08:45:00", "08:55:00"))

    def test_zero_interval_keeps_copy_formula(self, spark):
        # '0-20' style intervals contain a 0: the cycle [0, 20] still
        # sums to 20 min, so shifts 0, 20, 20, 40, 40 stay below the
        # 60-minute gap
        rows = [_mk(0, 0, "Stop Alpha Long", "8.00"),
                _mk(0, 1, "Stop Beta Long", "8.10"),
                _rep(1, [0, 20]),
                _mk(2, 0, "Stop Alpha Long", "9.00"),
                _mk(2, 1, "Stop Beta Long", "9.10")]
        assert _feed_stop_times(spark, rows) == sorted(
            _st("c/0/0/0", "08:00:00", "08:10:00")
            + _st("c/0/0/2", "09:00:00", "09:10:00")
            + _st("c/0/0/2#1", "08:00:00", "08:10:00")
            + _st("c/0/0/2#2", "08:20:00", "08:30:00")
            + _st("c/0/0/2#3", "08:20:00", "08:30:00")
            + _st("c/0/0/2#4", "08:40:00", "08:50:00")
            + _st("c/0/0/2#5", "08:40:00", "08:50:00"))

    def test_zero_cycle_emits_no_copies(self, spark):
        rows = [_mk(0, 0, "Stop Alpha Long", "8.00"),
                _rep(1, [0]),
                _mk(2, 0, "Stop Alpha Long", "9.00")]
        assert _feed_stop_times(spark, rows) == (
            _st("c/0/0/0", "08:00:00") + _st("c/0/0/2", "09:00:00"))

    def test_stop_ids_compared_exactly(self, spark):
        # 60-bit ids that differ only below float64's 53-bit mantissa
        # are different stops: the sets are disjoint -> +24h.  The
        # repeat row makes the walk input carry nulls.
        from pdf2gtfs_spark.operators.gtfs import service_day_offsets
        rows = [_mk(0, 0, "Stop Alpha Long", "8.00"),
                _rep(1, None),
                _mk(2, 0, "Stop Beta Long", "9.00")]
        st = spark.createDataFrame(
            [("c/0/0/0", 0, 8 * 3600, 8 * 3600, 2 ** 60),
             ("c/0/0/2", 0, 9 * 3600, 9 * 3600, 2 ** 60 + 1)],
            "trip_id string, stop_sequence int, arr_seconds long, "
            "dep_seconds long, stop_id long")
        got = dict(service_day_offsets(_entries_df(spark, rows),
                                       st).collect())
        assert got == {"c/0/0/0": 0, "c/0/0/2": 86400}


class TestCalendarAndTrips:
    def test_calendar_dedup(self, spark):
        rows = [_mk(0, 0, "Stop Alpha Long", "10.00"),
                _mk(1, 0, "Stop Alpha Long", "11.00")]
        e = _entries_df(spark, rows)
        cal = build_calendar(e).collect()
        assert len(cal) == 1
        c = cal[0]
        assert (c["monday"], c["friday"], c["saturday"]) == (1, 1, 0)

    def test_trips_per_entry(self, spark):
        from pdf2gtfs_spark.operators.feed import build_feed
        rows = [_mk(0, 0, "Stop Alpha Long", "10.00"),
                _mk(1, 0, "Stop Alpha Long", "11.00")]
        e = _entries_df(spark, rows)
        assert build_feed(e, spark)["trips"].count() == 2


class TestFixtureGtfs:
    def test_vag_fixture_stop_times(self, spark):
        """End-to-end: vag golden fixture -> entries -> stop_times."""
        from pdf2gtfs_spark.plans.pipeline import entries_table, run_extract
        from pdf2gtfs_spark.sources.transcripts import fixture_turns

        name, payload, _ = fixture_turns()[0]
        tdf = spark.createDataFrame(
            [("vag", 0, payload)], "conv_id string, turn_idx int, "
            "text string")
        entries = entries_table(run_extract(tdf))
        stops = build_stops(entries)
        st = build_stop_times(entries, stops)
        rows = st.collect()
        # 20 entries; Bertoldsbrunnen an/ab folds -> 22 rows per full
        # trip (23 stops - 1 fold); sparse trips have fewer
        by_trip = {}
        for r in rows:
            by_trip.setdefault(r["trip_id"], []).append(r)
        assert len(by_trip) == 20
        full = max(by_trip.values(), key=len)
        assert len(full) == 22
        # first trip wraps midnight: 23.xx -> 0.01 becomes 24:01
        t0 = sorted(by_trip.values(),
                    key=lambda rs: rs[0]["trip_id"])[0]
        times = [r["arrival_time"]
                 for r in sorted(t0, key=lambda r: r["stop_sequence"])]
        assert times[0] == "00:17:00"

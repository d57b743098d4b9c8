"""Keep-first aggregates over OTel-shaped frames with an ``attributes``
map: ``recombine`` and ``log_dedup`` keep one row per group with
min/max(struct(..row..)), and a map has no ordering, so they carry each
map column as its key-sorted entry array and restore it on the way out.
"""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators.aggregate import log_dedup, recombine

T0 = dt.datetime(2026, 8, 16, 12, 0, 0)
SCHEMA = (
    "conv_id string, turn_idx int, ts timestamp, body string, "
    "attributes map<string,string>, severity_number int"
)


@pytest.fixture(scope="module")
def logs(spark):
    rows = [
        ("c1", 0, T0, "start", {"role": "user", "b": "1", "a": "0"}, 9),
        ("c1", 1, T0 + dt.timedelta(seconds=1), "  more", {"role": "tool", "tool": "search"}, 9),
        ("c1", 2, T0 + dt.timedelta(seconds=2), "start", {}, 13),
        ("c2", 0, T0, "start", None, 17),
        ("c2", 1, T0 + dt.timedelta(seconds=3), "  tail", {"role": "assistant"}, 9),
    ]
    return spark.createDataFrame(rows, SCHEMA)


def _by_conv(rows):
    return {(r["conv_id"], r["turn_idx"]): r for r in rows}


@pytest.mark.parametrize("max_log_size", [None, 1000])
def test_recombine_keeps_first_rows_attributes(logs, max_log_size):
    out = recombine(
        logs, ["conv_id"], "turn_idx", is_first_entry=F.col("body") == "start",
        combine_col="body", max_log_size=max_log_size,
    )
    assert out.schema["attributes"].dataType == logs.schema["attributes"].dataType
    got = _by_conv(out.collect())
    assert set(got) == {("c1", 0), ("c1", 2), ("c2", 0)}
    assert got[("c1", 0)]["body"] == "start\n  more"
    assert got[("c1", 0)]["attributes"] == {"role": "user", "b": "1", "a": "0"}
    assert got[("c1", 2)]["attributes"] == {}
    assert got[("c2", 0)]["attributes"] is None
    assert got[("c2", 0)]["recombined_count"] == 2


def test_recombine_newest_keeps_last_rows_attributes(logs):
    out = recombine(
        logs, ["conv_id"], "turn_idx", is_first_entry=F.col("body") == "start",
        combine_col="body", overwrite_with="newest",
    )
    got = {r["conv_id"]: r["attributes"] for r in out.filter(F.col("recombined_count") == 2).collect()}
    assert got == {"c1": {"role": "tool", "tool": "search"}, "c2": {"role": "assistant"}}


def test_log_dedup_keeps_first_occurrences_attributes(logs):
    out = log_dedup(logs, ["body"], ts_col="ts", interval="1 minute").collect()
    got = {r["body"]: r for r in out}
    assert set(got) == {"start", "  more", "  tail"}
    # "start" occurs three times; the kept-first is the earliest ts, and
    # among the two rows tied at T0 the order is decided by the row
    # itself (conv_id "c1" < "c2"), attributes included
    first = got["start"]
    assert first["log_count"] == 3
    assert (first["conv_id"], first["turn_idx"]) == ("c1", 0)
    assert first["attributes"] == {"role": "user", "b": "1", "a": "0"}
    assert got["  more"]["attributes"] == {"role": "tool", "tool": "search"}


def test_frames_without_maps_plan_as_before(logs):
    flat = logs.drop("attributes")
    plans = [
        recombine(flat, ["conv_id"], "turn_idx", is_first_entry=F.col("body") == "start",
                  combine_col="body")._jdf.queryExecution().analyzed().toString(),
        log_dedup(flat, ["body"], ts_col="ts")._jdf.queryExecution().analyzed().toString(),
    ]
    for plan in plans:
        assert "map_entries" not in plan and "map_from_entries" not in plan

"""haproxy receiver semantics (receiver/haproxyreceiver/scraper.go)."""
from __future__ import annotations

import pytest

from opentelemetry_collector_contrib_spark.operators.receivers import (
    haproxy_stats,
)

HDR = (
    "# pxname,svname,qcur,scur,conn_rate,lbtot,bin,bout,dreq,dresp,econ,"
    "ereq,eresp,srv_abrt,wredis,hrsp_1xx,hrsp_2xx,hrsp_3xx,hrsp_4xx,"
    "hrsp_5xx,hrsp_other,wretr,req_rate,ttime,rate,cli_abrt"
)
FE = ("web,FRONTEND,,42,7,,100,200,1,2,3,4,,,5,0,900,30,40,50,2,6,12,"
      ",33,9")
BE = ("web,BACKEND,8,41,,77,101,201,1,2,3,4,10,11,5,0,901,31,41,51,3,x,"
      ",450,34,9")


@pytest.fixture(scope="module")
def spark():
    from opentelemetry_collector_contrib_spark.session import get_spark

    return get_spark()


@pytest.fixture(scope="module")
def rows(spark):
    page = HDR + "\n" + FE + "\n" + BE + "\n"
    df = spark.createDataFrame([(1, page)], ["id", "body"])
    return haproxy_stats(df, endpoint="/run/haproxy.sock").collect()


def _by(rows, sv):
    return {
        (r.ha_metric, r.ha_status): r for r in rows if r.ha_svname == sv
    }


def test_frontend_metrics(rows):
    fe = _by(rows, "FRONTEND")
    # empty lbtot/qcur/ttime/eresp/srv_abrt -> no rows for those
    assert ("haproxy.server_selected.total", None) not in fe
    assert ("haproxy.requests.queued", None) not in fe
    assert ("haproxy.sessions.average", None) not in fe
    assert ("haproxy.responses.errors", None) not in fe
    assert fe[("haproxy.sessions.count", None)].ha_value == 42
    assert fe[("haproxy.connections.rate", None)].ha_value == 7
    assert fe[("haproxy.requests.total", "2xx")].ha_value == 900
    r = fe[("haproxy.requests.rate", None)]
    assert r.ha_value_d == 12.0 and r.ha_kind == "gauge"
    # cli_abrt parsed but disabled by default
    assert ("haproxy.clients.canceled", None) not in fe


def test_backend_eresp_fold_and_bad_value(rows):
    be = _by(rows, "BACKEND")
    # responses.errors = eresp(10) + srv_abrt(11), scraper.go:166-180
    assert be[("haproxy.responses.errors", None)].ha_value == 21
    # wretr='x' -> metric row with null value + false ok (partial error)
    bad = be[("haproxy.connections.retries", None)]
    assert bad.ha_value is None and bad.ha_ok is False
    assert be[("haproxy.server_selected.total", None)].ha_value == 77


def test_enabled_knob(spark):
    page = HDR + "\n" + FE + "\n"
    df = spark.createDataFrame([(1, page)], ["id", "body"])
    out = haproxy_stats(
        df, enabled=frozenset({"haproxy.clients.canceled"})
    ).collect()
    assert [r.ha_metric for r in out] == ["haproxy.clients.canceled"]
    assert out[0].ha_value == 9


def test_bad_page_dead_letters(spark):
    df = spark.createDataFrame(
        [(1, HDR + "\nweb,FRONTEND,1,2\n")], ["id", "body"]
    )
    out = haproxy_stats(df).collect()
    assert len(out) == 1
    assert out[0].ha_ok is False and out[0].ha_metric is None


def test_user_column_with_generated_prefix_survives(spark):
    # only the operator's own header-index columns are dropped, not a
    # user column that happens to share their "_hi_" prefix
    page = HDR + "\n" + FE + "\n"
    df = spark.createDataFrame([(1, "keep", page)], ["id", "_hi_x", "body"])
    out = haproxy_stats(df).collect()
    assert out and all(r["_hi_x"] == "keep" for r in out)
    assert not any(c.startswith("_hi_") and c != "_hi_x" for c in out[0].asDict())

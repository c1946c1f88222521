"""REST API layer: query serving + crunch-merge endpoint."""

from __future__ import annotations

import json
import urllib.request

import pytest

from cruncher_spark.api import CruncherAPI

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def api(spark, crunch_tables, tmp_path_factory):
    a = CruncherAPI(
        spark,
        SF_DIR,
        tables=crunch_tables,
        state_dir=str(tmp_path_factory.mktemp("api_points")),
    ).start()
    yield a
    a.stop()


def _get(api, path):
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{api.port}{path}") as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        # structured-error responses carry a JSON body worth asserting on
        return e.code, json.loads(e.read())


def _post(api, path, obj):
    req = urllib.request.Request(
        f"http://127.0.0.1:{api.port}{path}",
        data=json.dumps(obj).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    with urllib.request.urlopen(req) as r:
        return r.status, json.loads(r.read())


def test_health_and_catalog(api):
    status, body = _get(api, "/health")
    assert status == 200 and body["status"] == "ok"
    status, body = _get(api, "/queries")
    assert status == 200 and "crunch_global" in body and len(body) >= 30


def test_query_endpoint_runs_registry_query(api):
    status, body = _get(api, "/query/text_quality?limit=5")
    assert status == 200
    assert body["columns"] and len(body["rows"]) <= 5


def test_query_endpoint_404(api):
    s, body = _get(api, "/query/nope")
    assert s == 404


def test_crunch_endpoint_merges_batches(api):
    ids1 = [f"p-{i}" for i in range(1, 11)]
    ids2 = [f"p-{i}" for i in range(11, 21)]
    s, r1 = _post(api, "/crunch/global", {"ids": ids1, "batch_id": "b1"})
    assert s == 200 and r1["applied"] is True
    s, r2 = _post(api, "/crunch/global", {"ids": ids2, "batch_id": "b2"})
    assert s == 200 and r2["applied"] is True
    assert r2["state_rows"] >= r1["state_rows"]
    # replay is idempotent through the API too
    s, r3 = _post(api, "/crunch/global", {"ids": ids1, "batch_id": "b1"})
    assert s == 200 and r3["applied"] is False
    assert r3["state_rows"] == r2["state_rows"]
    s, point = _get(api, "/point/global?limit=3")
    assert s == 200 and point["rows"] and "played" in point["columns"]


def _get_err(api, path):
    """GET expecting an HTTP error; return (status, parsed body)."""
    s, body = _get(api, path)
    assert s >= 400, f"expected an HTTP error, got {s}"
    return s, body


def test_errors_are_structured_json(api):
    """r6 verdict #8: every error carries a machine-readable code."""
    s, body = _get_err(api, "/query/nope")
    assert s == 404 and body["code"] == "unknown_query" and body["error"]
    s, body = _get_err(api, "/point/nope")
    assert s == 404 and body["code"] == "unknown_view"
    s, body = _get_err(api, "/point/phases")  # known view, nothing merged
    assert s == 404 and body["code"] == "no_state"
    s, body = _get_err(api, "/query/text_quality?limit=abc")
    assert s == 400 and body["code"] == "bad_limit"
    s, body = _get_err(api, "/query/text_quality?limit=0")
    assert s == 400 and body["code"] == "bad_limit"
    s, body = _get_err(api, "/nonsense")
    assert s == 404 and body["code"] == "not_found"


def _post_raw(api, path, body: bytes, length: str | None = None):
    """POST ``body`` as sent, with ``length`` as its Content-Length
    header (default: the true length); return (status, parsed body)."""
    import http.client

    conn = http.client.HTTPConnection("127.0.0.1", api.port, timeout=120)
    try:
        conn.putrequest("POST", path)
        conn.putheader("Content-Type", "application/json")
        conn.putheader("Content-Length", str(len(body)) if length is None else length)
        conn.endheaders(body)
        r = conn.getresponse()
        return r.status, json.loads(r.read())
    finally:
        conn.close()


@pytest.mark.parametrize(
    "body, length",
    [
        # a string is not a list: crunching it would merge one id per
        # character ('p', '-', '1') and record the batch
        ({"ids": "p-1", "batch_id": "bad-ids-str"}, None),
        ({"ids": [1, 2], "batch_id": "bad-ids-int"}, None),
        (["p-1", "p-2"], None),
        ({"ids": ["p-1"], "batch_id": 7}, None),
        ({"ids": ["p-1"], "batch_id": "bad-length"}, "ten"),
        ({"ids": ["p-1"], "batch_id": "bad-length-sup"}, "\u00b2"),
    ],
    ids=[
        "ids-string", "ids-not-strings", "array-body", "batch-id-int",
        "length-not-int", "length-superscript",
    ],
)
def test_crunch_rejects_malformed_body(api, body, length):
    """A ``POST /crunch`` body that is not an object with a non-empty
    list of string ``ids`` (and a string ``batch_id``, when given), or
    a non-integer Content-Length, answers 400 ``bad_request`` and
    leaves the view's ledger as it was."""
    from cruncher_spark.merge import PointTable

    table = PointTable(api.spark, f"{api.state_dir}/global", key=[])
    before = table.applied_batches()
    s, r = _post_raw(api, "/crunch/global", json.dumps(body).encode(), length)
    assert (s, r["code"]) == (400, "bad_request"), r
    assert table.applied_batches() == before


def test_limit_over_cap_rejected(api):
    """An over-cap ?limit= is REJECTED, not silently clamped (ADVICE
    r7): a truncated row set would read as the complete result. The
    error names the cap; a limit exactly AT the cap still works."""
    from cruncher_spark.api import MAX_LIMIT

    s, body = _get(api, f"/query/text_quality?limit={10 * MAX_LIMIT}")
    assert s == 400 and body["code"] == "bad_limit"
    assert str(MAX_LIMIT) in body["error"]

    s, body = _get(api, f"/query/text_quality?limit={MAX_LIMIT}")
    assert s == 200 and len(body["rows"]) <= MAX_LIMIT


def test_crunch_replay_idempotent_values(api):
    """r6 verdict #8: drive /crunch + /point through the ledger twice —
    the replayed batch changes NOTHING, value-for-value."""
    ids = [f"p-{i}" for i in range(30, 40)]
    s, r1 = _post(api, "/crunch/player", {"ids": ids, "batch_id": "idem-1"})
    assert s == 200 and r1["applied"] is True
    s, before = _get(api, "/point/player?limit=10000")
    s, r2 = _post(api, "/crunch/player", {"ids": ids, "batch_id": "idem-1"})
    assert s == 200 and r2["applied"] is False
    s, after = _get(api, "/point/player?limit=10000")
    assert before["columns"] == after["columns"]
    assert sorted(map(str, before["rows"])) == sorted(map(str, after["rows"]))


def test_point_read_planned_before_a_crunch_collects_after_it(
    spark, crunch_tables, tmp_path
):
    """A ``GET /point/<view>`` whose read lists files before a concurrent
    ``POST /crunch/<view>`` commits must still collect: the API's point
    tables retain the version the read listed through one more commit,
    exactly like the worker's."""
    a = CruncherAPI(
        spark, SF_DIR, tables=crunch_tables, state_dir=str(tmp_path)
    ).start()
    try:
        ids1 = [f"p-{i}" for i in range(1, 11)]
        ids2 = [f"p-{i}" for i in range(11, 21)]
        s, _ = _post(a, "/crunch/global", {"ids": ids1, "batch_id": "b1"})
        assert s == 200
        point = a._points["global"]
        before = sorted(map(str, point.read().collect()))
        read = point.read()  # lists b1's version now
        s, r2 = _post(a, "/crunch/global", {"ids": ids2, "batch_id": "b2"})
        assert s == 200 and r2["applied"] is True
        assert sorted(map(str, read.collect())) == before
        assert sorted(map(str, point.read().collect())) != before
    finally:
        a.stop()

"""S1-S7 snapshot-source tests: declared-schema ingest + the
constants-fallback branch (SURVEY.md §2.1)."""

from __future__ import annotations

import pytest

from sports_betting_data_pipeline_spark.functions.odds import odds_ladder
from sports_betting_data_pipeline_spark.sources.rest import (
    balance_source,
    events_source,
    odds_ladder_source,
    snapshot_source,
    tournaments_source,
)
from sports_betting_data_pipeline_spark.schemas import SPORT_EVENT, TOURNAMENT, WAGER


def test_ladder_falls_back_on_transport_failure(spark):
    def broken():
        raise ConnectionError("boom")

    df = odds_ladder_source(spark, transport=broken)
    got = sorted(r.odds for r in df.collect())
    assert got == sorted(odds_ladder())


def test_ladder_uses_transport_when_it_works(spark):
    df = odds_ladder_source(spark, transport=lambda: [{"odds": -110}, {"odds": 100}])
    assert {r.odds for r in df.collect()} == {-110, 100}


def test_tournaments_declared_schema(spark):
    recs = [{"id": 7, "name": "NBA", "sport_events": None}]
    df = tournaments_source(spark, transport=lambda: recs)
    assert df.schema == TOURNAMENT
    assert df.count() == 1
    # no transport, or an empty one -> empty, same schema
    # (mm_calls.py:73-75 miss path)
    assert tournaments_source(spark).count() == 0
    empty = tournaments_source(spark, transport=lambda: [])
    assert empty.schema == TOURNAMENT
    assert empty.collect() == []


def test_balance_scalar_and_missing_fallback(spark):
    [row] = balance_source(spark, opening=250.0).collect()
    assert row.balance == 250.0
    with pytest.raises(ValueError):
        snapshot_source(spark, None, TOURNAMENT, fallback_records=None)


def test_events_source_widens_whole_number_into_double(spark):
    """JSON has one number type: ``"line": 5`` must land in the DOUBLE
    ``line`` field as 5.0 instead of failing the whole snapshot."""
    recs = [
        {
            "event_id": 1,
            "markets": [
                {"id": "m", "market_lines": [{"id": "ml", "line": 5}],
                 "selections": [[{"line_id": "s", "odds": -110, "stake": 2}]]}
            ],
        }
    ]
    [row] = events_source(spark, transport=lambda: recs).collect()
    [market] = row.markets
    assert market.market_lines[0].line == 5.0
    assert isinstance(market.market_lines[0].line, float)
    assert market.selections[0][0].stake == 2.0


def test_snapshot_source_rejects_null_and_wrong_kind(spark):
    """Declared nullability and field kinds are still enforced at the
    boundary: the LADDER ``odds`` field is non-nullable, and a string
    cannot land in a LongType field."""
    with pytest.raises(ValueError):
        odds_ladder_source(spark, transport=lambda: [{"odds": None}])
    with pytest.raises((ValueError, TypeError)):
        events_source(spark, transport=lambda: [{"event_id": "abc"}])


def _parity_cases():
    """Records shaped like a REST snapshot: the flatten fixture covers
    both flatten branches, null optionals, an empty inner selection
    list and DST-edge instants; WAGER carries a naive ``ts`` (one on
    each side of the 2024 US spring-forward and fall-back edges)."""
    import datetime

    from sports_betting_data_pipeline_spark.fixtures import betting_tree_rows
    from sports_betting_data_pipeline_spark.sources.rest import (
        BALANCE_SCHEMA,
        LADDER_SCHEMA,
    )

    events = betting_tree_rows()
    stubs = [{k: e[k] for k in ("event_id", "name", "display_name")} for e in events]
    naive = [
        datetime.datetime(2024, 3, 10, 6, 59, 59),
        datetime.datetime(2024, 3, 10, 7, 0, 0, 250),
        datetime.datetime(2024, 11, 3, 5, 30),
        datetime.datetime(2024, 11, 3, 6, 30),
    ]
    wagers = [
        {"external_id": f"x{i}", "wager_id": None if i % 2 else f"w{i}",
         "line_id": f"L{i}", "odds": None if i == 3 else -110 + i,
         "stake": 5.0 + i, "action": "place", "ts": ts}
        for i, ts in enumerate(naive)
    ] + [{"external_id": "x9", "wager_id": None, "line_id": None, "odds": None,
          "stake": None, "action": "cancel", "ts": None}]
    return [
        ("events", SPORT_EVENT, events),
        ("tournaments", TOURNAMENT,
         [{"id": 1, "name": "NBA", "sport_events": stubs},
          {"id": 2, "name": "Cup", "sport_events": events},
          {"id": 3, "name": "Empty", "sport_events": None}]),
        ("wagers", WAGER, wagers),
        ("ladder", LADDER_SCHEMA, [{"odds": v} for v in odds_ladder()[:5]]),
        ("balance", BALANCE_SCHEMA, [{"balance": 250.0}]),
    ]


@pytest.mark.parametrize("case", _parity_cases(), ids=lambda c: c[0])
def test_local_frame_matches_pickled_create(spark, case):
    """The Arrow local relation collects exactly what the pickled-RDD
    ``createDataFrame`` collects, under an identical schema."""
    from sports_betting_data_pipeline_spark.session import local_frame

    _, schema, records = case
    got = local_frame(spark, records, schema)
    want = spark.createDataFrame(records, schema=schema)
    assert got.schema == want.schema == schema
    assert got.collect() == want.collect()


def test_json_and_csv_roundtrip_match_parquet(spark, sf_dir, tmp_path):
    """Source-format parity: the same rows through parquet, JSON-lines,
    and CSV scans with the declared schema produce identical frames."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from sports_betting_data_pipeline_spark.io import (
        load_table,
        read_csv_table,
        read_json_table,
    )

    base = load_table(spark, sf_dir, "nation")
    jdir, cdir = str(tmp_path / "j"), str(tmp_path / "c")
    base.write.json(jdir)
    base.write.option("header", "true").csv(cdir)

    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.LongType()),
        ]
    )
    want = sorted(map(tuple, base.select(*[f.name for f in schema]).collect()))
    got_j = sorted(
        map(tuple, read_json_table(spark, jdir, schema).select(*[f.name for f in schema]).collect())
    )
    got_c = sorted(
        map(tuple, read_csv_table(spark, cdir, schema).select(*[f.name for f in schema]).collect())
    )
    assert got_j == want
    assert got_c == want


# ---------------------------------------------------------------------------
# Transport adapters (injected fakes — no live network)
# ---------------------------------------------------------------------------
def test_http_transport_retries_then_succeeds():
    import json

    from sports_betting_data_pipeline_spark.sources.http import HttpTransport

    calls = []

    def flaky_get(url):
        calls.append(url)
        if len(calls) < 3:
            raise ConnectionError("transient")
        return 200, json.dumps([{"odds": 100}]).encode()

    t = HttpTransport("http://example.test/ladder", http_get=flaky_get,
                      retries=2, sleep=lambda s: None)
    assert t() == [{"odds": 100}]
    assert len(calls) == 3


def test_http_transport_non_200_falls_back_to_constants(spark):
    """The reference's `!= 200 -> backup odds ladder` branch
    (mm_calls.py:62-64) end-to-end through the injected fake."""
    from sports_betting_data_pipeline_spark.functions.odds import odds_ladder
    from sports_betting_data_pipeline_spark.sources.http import (
        HttpTransport,
        TransportError,
    )
    from sports_betting_data_pipeline_spark.sources.rest import odds_ladder_source

    t = HttpTransport("http://example.test/ladder",
                      http_get=lambda url: (503, b"unavailable"),
                      retries=1, sleep=lambda s: None)
    import pytest as _pytest

    with _pytest.raises(TransportError):
        t()
    df = odds_ladder_source(spark, transport=t)
    assert sorted(r.odds for r in df.collect()) == sorted(odds_ladder())


def test_sheets_api_transport_body_shape():
    # Direct unit test (executor-side batching is covered by the
    # SpoolTransport test — a driver-side list recorder can't observe
    # appends made in worker processes).
    from sports_betting_data_pipeline_spark.sinks.sheets import SheetsApiTransport

    sent = []
    transport = SheetsApiTransport("wagers", send=sent.append, columns=["k", "v", "s"])
    transport([{"k": 1, "v": None, "s": "a,b"}, {"k": 2, "v": 3.5, "s": None}])
    transport([{"k": 3, "v": 4.0, "s": "z"}])
    assert len(sent) == 2
    assert all(b["range"] == "wagers!A1" for b in sent)
    assert all(b["majorDimension"] == "ROWS" for b in sent)
    rows = [r for b in sent for r in b["values"]]
    # RAW rendering: stringified cells, null -> "", column order pinned
    assert rows == [["1", "", "a,b"], ["2", "3.5", ""], ["3", "4.0", "z"]]


def test_service_account_token_lifecycle():
    """The Sheets credential flow (reference src/main.py:10-19): a
    signed JWT-grant assertion is exchanged for an access token, the
    token is cached until refresh_skew before expiry, and the
    re-assertion carries a fresh iat/exp."""
    from sports_betting_data_pipeline_spark.sinks.sheets import (
        ServiceAccountCredentials,
    )

    clock = [1_000.0]
    asserted, exchanged = [], []

    def signer(claims):
        asserted.append(claims)
        return f"jwt-{len(asserted)}"

    def exchange(assertion):
        exchanged.append(assertion)
        return {"access_token": f"tok-{len(exchanged)}", "expires_in": 3600}

    creds = ServiceAccountCredentials(
        client_email="bot@project.iam.gserviceaccount.com",
        token_uri="https://oauth2.googleapis.com/token",
        scopes=["https://www.googleapis.com/auth/spreadsheets"],
        signer=signer,
        exchange=exchange,
        clock=lambda: clock[0],
    )
    assert creds.token() == "tok-1"
    # claim set: RFC 7523 JWT grant against the token endpoint
    claims = asserted[0]
    assert claims["iss"] == "bot@project.iam.gserviceaccount.com"
    assert claims["scope"] == "https://www.googleapis.com/auth/spreadsheets"
    assert claims["aud"] == "https://oauth2.googleapis.com/token"
    assert claims["exp"] == claims["iat"] + 3600
    # cached: no new exchange while comfortably inside the lifetime
    clock[0] += 1800
    assert creds.token() == "tok-1"
    assert len(exchanged) == 1
    # inside the refresh skew (300 s before expiry): re-asserted
    clock[0] += 1600
    assert creds.token() == "tok-2"
    assert len(exchanged) == 2
    assert asserted[1]["iat"] == int(clock[0])


def test_authorized_append_send_call_shape_and_errors():
    """authorized_append_send reproduces write_to_sheet's call shape
    (src/main.py:23-37): versioned append endpoint + RAW value input +
    Bearer header; errors log-and-continue when a handler is given
    (the reference's HttpError catch) and re-raise when not."""
    from sports_betting_data_pipeline_spark.sinks.sheets import (
        ServiceAccountCredentials,
        SheetsApiTransport,
        authorized_append_send,
    )

    creds = ServiceAccountCredentials(
        client_email="bot@project.iam.gserviceaccount.com",
        token_uri="https://oauth2.googleapis.com/token",
        scopes=["https://www.googleapis.com/auth/spreadsheets"],
        signer=lambda claims: "jwt",
        exchange=lambda assertion: {"access_token": "tok", "expires_in": 3600},
        clock=lambda: 1_000.0,
    )
    posts = []
    send = authorized_append_send(
        creds, "SHEET_ID_123", post=lambda p, h, b: posts.append((p, h, b))
    )
    transport = SheetsApiTransport("wagers", send=send, columns=["k", "v"])
    transport([{"k": 1, "v": "x"}])
    (path, headers, body), = posts
    # range segment percent-encoded (Sheets range syntax carries ! '
    # and spaces); the rest of the call shape is write_to_sheet's
    assert path == (
        "/v4/spreadsheets/SHEET_ID_123/values/wagers%21A1:append"
        "?valueInputOption=RAW"
    )
    assert headers == {"Authorization": "Bearer tok"}
    assert body["values"] == [["1", "x"]]
    quoted = []
    authorized_append_send(creds, "ID", post=lambda p, h, b: quoted.append(p))(
        {"range": "'My Wagers'!A1", "values": []}
    )
    assert quoted == [
        "/v4/spreadsheets/ID/values/%27My%20Wagers%27%21A1:append"
        "?valueInputOption=RAW"
    ]

    def failing_post(p, h, b):
        raise RuntimeError("quota")

    logged = []
    lenient = authorized_append_send(
        creds, "SHEET_ID_123", post=failing_post, on_error=logged.append
    )
    lenient({"range": "wagers!A1", "values": []})  # swallowed + recorded
    assert len(logged) == 1 and "quota" in str(logged[0])

    # token-exchange failures are covered by the same contract: the
    # lenient path routes them to on_error instead of failing the task
    def failing_exchange(assertion):
        raise RuntimeError("token endpoint 500")

    bad_creds = ServiceAccountCredentials(
        client_email="bot@project.iam.gserviceaccount.com",
        token_uri="https://oauth2.googleapis.com/token",
        scopes=["https://www.googleapis.com/auth/spreadsheets"],
        signer=lambda claims: "jwt",
        exchange=failing_exchange,
        clock=lambda: 1_000.0,
    )
    auth_logged = []
    authorized_append_send(
        bad_creds, "ID", post=lambda p, h, b: None, on_error=auth_logged.append
    )({"range": "wagers!A1", "values": []})
    assert len(auth_logged) == 1 and "token endpoint" in str(auth_logged[0])
    strict = authorized_append_send(creds, "SHEET_ID_123", post=failing_post)
    with pytest.raises(RuntimeError):
        strict({"range": "wagers!A1", "values": []})


def test_events_stream_source_switch(spark):
    from sports_betting_data_pipeline_spark.streaming.jobs import (
        kafka_source_options,
        read_events_stream,
    )

    opts = kafka_source_options("broker:9092", "events")
    assert opts["kafka.bootstrap.servers"] == "broker:9092"
    assert opts["subscribe"] == "events"
    assert opts["startingOffsets"] == "earliest"
    with pytest.raises(ValueError, match="unknown events stream source"):
        read_events_stream(spark, "/tmp", source="pulsar")
    with pytest.raises(ValueError, match="requires bootstrap_servers"):
        read_events_stream(spark, "/tmp", source="kafka")


def test_widen_for_compute_semantics(spark, sf_dir):
    """Adaptive widening: repartition only when below the target; no-op
    (same plan object) when the input is already wide enough; streaming
    DataFrames always get the exchange (no partition metadata)."""
    from sports_betting_data_pipeline_spark.io import load_table, widen_for_compute

    docs = load_table(spark, sf_dir, "documents")
    assert docs.rdd.getNumPartitions() < 4  # single-row-group fixture
    widened = widen_for_compute(docs, min_parts=4)
    assert widened.rdd.getNumPartitions() >= 4
    assert widened.count() == docs.count()

    already_wide = docs.repartition(8)
    assert widen_for_compute(already_wide, min_parts=4) is already_wide

    stream = (
        spark.readStream.schema(docs.schema)
        .format("parquet")
        .option("pathGlobFilter", "documents.parquet")
        .load(sf_dir)
    )
    w = widen_for_compute(stream, min_parts=4)
    assert w.isStreaming  # repartition applied without materializing


# ---------------------------------------------------------------------------
# Auth-session lifecycle (reference mm_login + 8-min refresh, T5)
# ---------------------------------------------------------------------------
def _fake_auth_server():
    """Scripted (status, body) POST endpoint: login issues token t0 +
    refresh token r0; each refresh issues t1, t2, ... and records the
    presented headers/bodies for assertions."""
    import json

    state = {"n": 0, "posts": []}

    def http_post(url, body, headers):
        state["posts"].append((url, dict(body), dict(headers)))
        if url.endswith("/login"):
            if body.get("secret_key") != "good":
                return 401, b"{}"
            return 200, json.dumps(
                {"data": {"access_token": "t0", "refresh_token": "r0"}}
            ).encode()
        if url.endswith("/refresh"):
            state["n"] += 1
            return 200, json.dumps(
                {"data": {"access_token": f"t{state['n']}"}}
            ).encode()
        return 404, b"{}"

    return http_post, state


def _mk_session(http_post, clock, secret="good"):
    from sports_betting_data_pipeline_spark.sources.http import AuthSession

    return AuthSession(
        "http://example.test/login",
        "http://example.test/refresh",
        access_key="ak",
        secret_key=secret,
        http_post=http_post,
        refresh_interval_s=480.0,
        clock=clock,
    )


def test_auth_session_login_refresh_rotation_and_hooks():
    """The full lifecycle against a scripted fake: login stores the
    session; maybe_refresh is a no-op inside the rotation period and
    rotates the token (firing the resubscribe hooks) once 8 minutes
    elapse; the refresh POST carries the refresh token under the OLD
    bearer header (reference __auto_extend_session shape)."""
    http_post, state = _fake_auth_server()
    now = {"t": 1000.0}
    s = _mk_session(http_post, clock=lambda: now["t"])

    sess = s.login()
    assert sess == {"access_token": "t0", "refresh_token": "r0"}
    assert s.auth_headers() == {"Authorization": "Bearer t0"}

    rotations = []
    s.on_rotate(lambda: rotations.append(s.session["access_token"]))

    now["t"] += 100.0
    assert s.maybe_refresh() is False  # inside the period: no-op
    assert state["n"] == 0

    now["t"] += 400.0  # past 480 s total
    assert s.maybe_refresh() is True
    assert s.auth_headers() == {"Authorization": "Bearer t1"}
    assert rotations == ["t1"]
    url, body, headers = state["posts"][-1]
    assert url.endswith("/refresh")
    assert body == {"refresh_token": "r0"}
    assert headers == {"Authorization": "Bearer t0"}  # old token signs it

    # immediately after a rotation the period restarts
    assert s.maybe_refresh() is False


def test_http_transport_propagates_auth_error_no_fallback():
    """An auth misconfiguration must hard-stop (the reference exits on
    a failed login), never be retried as a transient client error and
    converted to TransportError — which snapshot_source would swallow
    into the constants fallback."""
    import pytest as _pytest

    from sports_betting_data_pipeline_spark.sources.http import (
        AuthError,
        HttpTransport,
    )

    class _NeverLoggedIn:
        def maybe_refresh(self):
            raise AuthError("not logged in")

        def auth_headers(self):  # pragma: no cover - unreachable
            return {}

    calls = {"n": 0}

    def getter(url, headers=None):
        calls["n"] += 1
        return 200, b"{}"

    t = HttpTransport(
        "https://example.test/x", getter, retries=3, auth=_NeverLoggedIn()
    )
    with _pytest.raises(AuthError):
        t()
    assert calls["n"] == 0  # failed before any network attempt, no retries


def test_auth_session_failed_login_raises_failed_refresh_keeps_token():
    import pytest as _pytest

    from sports_betting_data_pipeline_spark.sources.http import AuthError

    http_post, _ = _fake_auth_server()
    bad = _mk_session(http_post, clock=lambda: 0.0, secret="wrong")
    with _pytest.raises(AuthError):
        bad.login()
    with _pytest.raises(AuthError):
        bad.auth_headers()  # never logged in

    # refresh failure: keep the current (possibly still valid) token
    flaky_calls = {"n": 0}

    def flaky_post(url, body, headers):
        if url.endswith("/login"):
            import json

            return 200, json.dumps(
                {"data": {"access_token": "t0", "refresh_token": "r0"}}
            ).encode()
        flaky_calls["n"] += 1
        return 503, b"down"

    s = _mk_session(flaky_post, clock=lambda: 0.0)
    s.login()
    fired = []
    s.on_rotate(lambda: fired.append(1))
    assert s.refresh() is False
    assert s.auth_headers() == {"Authorization": "Bearer t0"}
    assert fired == []  # no resubscribe on a failed rotation


def test_auth_session_rotation_resubscribes_pusher():
    """The reference disconnects the websocket and resubscribes after
    every token rotation (mm_calls.py:370-375): wire the on_rotate
    hook to a fresh PusherSession handshake and assert the resubscribe
    actually happened with the protocol frames."""
    import json

    from sports_betting_data_pipeline_spark.sources.pusher import PusherSession

    http_post, _ = _fake_auth_server()
    now = {"t": 0.0}
    s = _mk_session(http_post, clock=lambda: now["t"])
    s.login()

    subscribed_frames = []

    def resubscribe():
        incoming = [
            json.dumps(
                {
                    "event": "pusher:connection_established",
                    "data": json.dumps({"socket_id": "99.1"}),
                }
            )
        ]
        sent = []
        sess = PusherSession(
            incoming,
            sent.append,
            auth=lambda sid: [
                {"channel_name": "broadcast_all", "events": []}
            ],
        )
        list(sess.messages())  # drain: handshake + subscribe happen here
        subscribed_frames.extend(json.loads(f) for f in sent)

    s.on_rotate(resubscribe)
    now["t"] += 500.0
    assert s.maybe_refresh() is True
    assert any(
        f.get("event") == "pusher:subscribe"
        and f["data"]["channel"] == "broadcast_all"
        for f in subscribed_frames
    )


def test_http_transport_authenticated_get_carries_rotating_bearer():
    """HttpTransport + AuthSession: the GET presents the CURRENT
    bearer token, and a due rotation happens before the request — a
    long-idle transport never sends an expired token. A single-arg
    getter with an auth session is rejected at construction."""
    import json

    import pytest as _pytest

    from sports_betting_data_pipeline_spark.sources.http import HttpTransport

    http_post, _ = _fake_auth_server()
    now = {"t": 0.0}
    s = _mk_session(http_post, clock=lambda: now["t"])
    s.login()

    seen_headers = []

    def get2(url, headers):
        seen_headers.append(dict(headers))
        return 200, json.dumps({"ok": True}).encode()

    t = HttpTransport(
        "http://example.test/balance",
        http_get=get2,
        retries=0,
        sleep=lambda _s: None,
        auth=s,
    )
    assert t() == {"ok": True}
    assert seen_headers[-1] == {"Authorization": "Bearer t0"}

    now["t"] += 500.0  # past the rotation period: refresh precedes GET
    assert t() == {"ok": True}
    assert seen_headers[-1] == {"Authorization": "Bearer t1"}

    with _pytest.raises(TypeError):
        HttpTransport(
            "http://example.test/balance",
            http_get=lambda url: (200, b"{}"),
            auth=s,
        )

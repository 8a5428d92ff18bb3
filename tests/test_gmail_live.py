"""Guarded live-Gmail connector (sources/gmail_live.py): the
reference's S1-S4 entry point + O5 commit, exercised against a
duck-typed fake service — pagination, fetch, attachment inlining,
label-removal commit, and the landed-JSON bridge into the engine's
distributed mailbox extract path."""

from __future__ import annotations

import base64
import json

import pytest

from etl_data_ingestion_spark.sources.gmail_live import GmailLiveSource


def b64url(data: bytes) -> str:
    return base64.urlsafe_b64encode(data).decode("ascii")


class FakeCall:
    def __init__(self, result):
        self._result = result

    def execute(self):
        return self._result


class FakeMessages:
    """users().messages() surface: list/get/attachments/modify with
    two-page pagination."""

    def __init__(self, store):
        self.store = store
        self.modified = []

    def list(self, userId, q, pageToken=None):
        ids = sorted(k for k in self.store if not k.startswith("_"))
        if pageToken is None:
            return FakeCall(
                {"messages": [{"id": i} for i in ids[:2]], "nextPageToken": "p2"}
            )
        assert pageToken == "p2"
        return FakeCall({"messages": [{"id": i} for i in ids[2:]]})

    def get(self, userId, id, format):
        assert format == "full"
        return FakeCall(json.loads(json.dumps(self.store[id])))  # deep copy

    def attachments(self):
        outer = self

        class A:
            def get(self, userId, messageId, id):
                return FakeCall({"data": b64url(outer.store["_att"][id])})

        return A()

    def modify(self, userId, id, body):
        self.modified.append((id, tuple(body["removeLabelIds"])))
        return FakeCall({})


class FakeService:
    def __init__(self, store):
        self._messages = FakeMessages(store)

    def users(self):
        svc = self

        class U:
            def messages(self):
                return svc._messages

        return U()


@pytest.fixture
def store():
    def msg(msg_id, att_id=None, inline=None):
        body = {}
        if att_id:
            body = {"attachmentId": att_id}
        elif inline is not None:
            body = {"data": b64url(inline)}
        return {
            "id": msg_id,
            "payload": {
                "mimeType": "multipart/mixed",
                "parts": [
                    {"filename": "", "mimeType": "text/plain",
                     "body": {"data": b64url(b"cover letter")}},
                    {"filename": f"CTB_{msg_id}.tsv", "mimeType": "text/tab-separated-values",
                     "body": body},
                ],
            },
        }

    return {
        "m1": msg("m1", att_id="att-1"),
        "m2": msg("m2", inline=b"A\tB\r\n1\t2\r\n"),
        "m3": msg("m3", att_id="att-3"),
        "_att": {"att-1": b"H1\tH2\r\nx\ty\r\n", "att-3": b"only\theader\r\n"},
    }


def test_pagination_fetch_and_commit(store):
    src = GmailLiveSource(service=FakeService(store))
    ids = list(src.list_message_ids("filename:CTB"))
    assert ids == ["m1", "m2", "m3"]

    m = src.fetch_message("m1")
    assert m["payload"]["parts"][1]["filename"] == "CTB_m1.tsv"

    assert src.fetch_attachment("m1", "att-1") == b"H1\tH2\r\nx\ty\r\n"

    src.commit("m1")
    assert FakeService(store)  # no cross-instance state
    assert src.service._messages.modified == [("m1", ("INBOX",))]


def test_land_messages_inlines_attachments_and_feeds_engine(store, spark, tmp_path):
    """End-to-end bridge: landed JSON (attachment bodies inlined) is
    directly consumable by the engine's distributed extract path
    (extract_ctb_attachments: walk, first-CTB match, urlsafe decode)."""
    from etl_data_ingestion_spark.sources.mailbox import extract_ctb_attachments

    src = GmailLiveSource(service=FakeService(store))
    landing = tmp_path / "landed"
    paths = src.land_messages("filename:CTB", str(landing), commit=True)
    assert len(paths) == 3
    # commit (label removal) happened for every landed message
    assert [m for m, _ in src.service._messages.modified] == ["m1", "m2", "m3"]
    # attachment bodies were inlined — landed files are self-contained
    for p in paths:
        doc = json.loads(open(p).read())
        for part in doc["payload"]["parts"]:
            assert "attachmentId" not in part["body"] or part["body"].get("data")

    raw = spark.read.text(str(landing))
    decoded = extract_ctb_attachments(raw).select("message_id", "content")
    got = {
        r.message_id: bytes(r.content).decode() for r in decoded.collect()
    }
    assert got == {
        "m1": "H1\tH2\r\nx\ty\r\n",
        "m2": "A\tB\r\n1\t2\r\n",
        "m3": "only\theader\r\n",
    }


def test_missing_google_libs_raise_clear_error():
    from etl_data_ingestion_spark.sources import gmail_live

    with pytest.raises(ImportError, match="google-api-python-client"):
        gmail_live.build_gmail_service_web("credentials.json", "token.json")


# ------------------------------------------------- S1 web-app flow


class FakeCreds:
    def __init__(self, valid=True, expired=False, refresh_token=None):
        self.valid = valid
        self.expired = expired
        self.refresh_token = refresh_token
        self.refreshed = False

    def refresh(self, request):
        self.refreshed = True
        self.valid = True
        self.expired = False

    def to_json(self):
        return json.dumps({"token": "fake", "valid": self.valid})


class FakeFlow:
    def __init__(self, fail=False):
        self.fail = fail
        self.fetched_code = None
        self.credentials = None

    def authorization_url(self, prompt):
        assert prompt == "consent"
        return "https://example.test/auth?x=1", "state"

    def fetch_token(self, code):
        if self.fail:
            raise RuntimeError("exchange refused")
        self.fetched_code = code
        self.credentials = FakeCreds()


def test_oauth_callback_state_machine(tmp_path):
    """handle_oauth_callback mirrors the reference CallbackHandler
    (main.py:53-93): 404 off-path, 400 without ?code=, 500 on
    exchange failure, 200 + persisted token on success."""
    from etl_data_ingestion_spark.sources.gmail_live import (
        handle_oauth_callback,
    )

    token = str(tmp_path / "token_web.json")
    flow = FakeFlow()
    assert handle_oauth_callback("/other", flow, token)[0] == 404
    assert handle_oauth_callback("/callback", flow, token)[0] == 400
    status, body, creds = handle_oauth_callback(
        "/callback?code=abc123&scope=x", flow, token
    )
    assert status == 200 and creds is flow.credentials
    assert flow.fetched_code == "abc123"
    assert json.load(open(token))["token"] == "fake"
    status, _, creds = handle_oauth_callback(
        "/callback?code=zzz", FakeFlow(fail=True), token
    )
    assert status == 500 and creds is None


def test_callback_handler_class_writes_http_response(tmp_path):
    """The BaseHTTPRequestHandler subclass wires handle_oauth_callback
    to the HTTP surface — driven with an injected request (no socket,
    no network): instantiate without __init__, stub the send_* /
    wfile plumbing, call do_GET."""
    import io

    from etl_data_ingestion_spark.sources.gmail_live import (
        _make_callback_handler,
    )

    token = str(tmp_path / "token_web.json")
    flow = FakeFlow()
    box: dict = {}
    cls = _make_callback_handler(flow, token, box)
    h = object.__new__(cls)
    h.path = "/callback?code=inj"
    h.wfile = io.BytesIO()
    sent = []
    h.send_response = lambda s: sent.append(s)
    h.send_header = lambda *a: None
    h.end_headers = lambda: None
    h.do_GET()
    assert sent == [200]
    assert b"successful" in h.wfile.getvalue()
    assert box["creds"] is flow.credentials


def test_build_gmail_service_web_interactive_leg(tmp_path):
    """No cached token → authorization URL opened in the browser,
    one-shot callback server consulted, service built from the
    exchanged credentials (all seams injected; google libs and
    network never touched)."""
    from etl_data_ingestion_spark.sources.gmail_live import (
        build_gmail_service_web,
        handle_oauth_callback,
    )

    token = str(tmp_path / "token_web.json")
    opened = []
    flow = FakeFlow()

    def serve(fl, token_path, redirect_uri):
        assert fl is flow and redirect_uri.endswith("/callback")
        return handle_oauth_callback(
            "/callback?code=served", fl, token_path
        )[2]

    svc = build_gmail_service_web(
        "secret.json",
        token,
        _flow_factory=lambda secret, uri: flow,
        _serve_callback=serve,
        _browser_open=opened.append,
        _service_builder=lambda creds: ("service", creds),
        _token_loader=lambda p: None,
    )
    assert opened == ["https://example.test/auth?x=1"]
    assert svc == ("service", flow.credentials)
    assert json.load(open(token))["token"] == "fake"


def test_build_gmail_service_web_refresh_leg(tmp_path):
    """Cached expired token with a refresh_token → refreshed and
    re-persisted without running the interactive flow (reference
    main.py:109-121)."""
    from etl_data_ingestion_spark.sources.gmail_live import (
        build_gmail_service_web,
    )

    token = tmp_path / "token_web.json"
    token.write_text("{}")
    creds = FakeCreds(valid=False, expired=True, refresh_token="r")

    svc = build_gmail_service_web(
        "secret.json",
        str(token),
        _flow_factory=lambda *a: pytest.fail("interactive flow reached"),
        _serve_callback=lambda *a: pytest.fail("server reached"),
        _browser_open=lambda *a: pytest.fail("browser reached"),
        _service_builder=lambda c: ("service", c),
        _token_loader=lambda p: creds,
    )
    assert creds.refreshed and svc == ("service", creds)
    assert json.loads(token.read_text())["valid"] is True

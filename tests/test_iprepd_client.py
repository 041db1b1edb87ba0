"""Real iprepd HTTP client against a local http.server — upgrades the
S13/S15 seams from deterministic fakes to a tested wire client
(IprepdIO.java Reader/WriteFn semantics)."""

import json
import threading
from http.server import BaseHTTPRequestHandler, HTTPServer

import pytest
from pyspark.sql import functions as F

from foxsec_pipeline_spark.functions.iprepd_client import (
    IprepdClient,
    iprepd_reputation_provider,
    iprepd_violation_emitter,
    parse_iprepd_spec,
)


class _FakeIprepd(BaseHTTPRequestHandler):
    reputations = {"10.0.0.1": 25, "10.0.0.2": 80}
    puts: list[tuple[str, str, dict]] = []
    auth_seen: list[str] = []

    def do_GET(self):  # noqa: N802
        self.auth_seen.append(self.headers.get("Authorization", ""))
        parts = self.path.strip("/").split("/")
        if len(parts) == 3 and parts[0] == "type":
            value = parts[2]
            if value == "badjson":
                self._send(200, b"not json{")
                return
            if value == "norep":
                self._send(200, json.dumps({"object": value}).encode())
                return
            if value == "boom":
                self._send(500, b"")
                return
            rep = self.reputations.get(value)
            if rep is None:
                self._send(404, b"")
                return
            self._send(200, json.dumps(
                {"object": value, "type": parts[1], "reputation": rep}
            ).encode())
            return
        self._send(404, b"")

    def do_PUT(self):  # noqa: N802
        body = self.rfile.read(int(self.headers.get("Content-Length", 0)))
        parts = self.path.strip("/").split("/")
        if len(parts) == 4 and parts[0] == "violations" and parts[1] == "type":
            self.puts.append((parts[2], parts[3], json.loads(body)))
            self._send(200, b"")
            return
        self._send(404, b"")

    def _send(self, code, body):
        self.send_response(code)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):  # silence
        pass


@pytest.fixture(scope="module")
def server():
    srv = HTTPServer(("127.0.0.1", 0), _FakeIprepd)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_port}"
    srv.shutdown()


def test_parse_iprepd_spec():
    assert parse_iprepd_spec("http://x|k") == ("http://x", "k")
    assert parse_iprepd_spec("http://x|") == ("http://x", None)
    with pytest.raises(ValueError):
        parse_iprepd_spec("http://x")
    url, key = parse_iprepd_spec(
        "cloudkms://c", kms_decrypt=lambda c: "http://y|sekrit"
    )
    assert (url, key) == ("http://y", "sekrit")


def test_get_reputation_degradation_paths(server):
    """Every failure mode returns the neutral 100, never raises
    (IprepdIO.java:185-246)."""
    c = IprepdClient(server, api_key="testkey")
    assert c.get_reputation("ip", "10.0.0.1") == 25
    assert c.get_reputation("ip", "10.0.0.2") == 80
    assert c.get_reputation("ip", "10.9.9.9") == 100   # 404
    assert c.get_reputation("ip", "boom") == 100       # 500
    assert c.get_reputation("ip", "badjson") == 100    # bad body
    assert c.get_reputation("ip", "norep") == 100      # missing field
    assert "APIKey testkey" in _FakeIprepd.auth_seen
    # dead endpoint -> 100, not an exception
    dead = IprepdClient("http://127.0.0.1:1", timeout=0.3)
    assert dead.get_reputation("ip", "x") == 100


def test_put_violation_wire(server):
    c = IprepdClient(server, api_key="k2")
    _FakeIprepd.puts.clear()
    status = c.put_violation(
        "ip", "10.0.0.7",
        json.dumps({"object": "10.0.0.7", "type": "ip",
                    "violation": "fxa:heavy_hitter_httprequest",
                    "ip": "10.0.0.7"}),
    )
    assert status == 200
    assert _FakeIprepd.puts == [
        ("ip", "10.0.0.7",
         {"object": "10.0.0.7", "type": "ip",
          "violation": "fxa:heavy_hitter_httprequest", "ip": "10.0.0.7"}),
    ]


def test_reputation_provider_enriches_dataframe(spark, server):
    """The full enrichment path: distinct objects -> executor-side
    HTTP lookups -> broadcast dim -> left join + min_reputation gate
    (enrich_reputation semantics over the REAL client)."""
    from foxsec_pipeline_spark.functions.enrich import enrich_reputation

    df = spark.createDataFrame(
        [("10.0.0.1",), ("10.0.0.2",), ("10.9.9.9",), ("10.0.0.1",)],
        "addr string",
    )
    provider = iprepd_reputation_provider(f"{server}|testkey")
    out = enrich_reputation(df, "addr", provider=provider)
    got = {(r.addr, r.reputation) for r in out.collect()}
    assert got == {("10.0.0.1", 25), ("10.0.0.2", 80), ("10.9.9.9", 100)}
    gated = enrich_reputation(
        df, "addr", provider=provider, min_reputation=50
    )
    assert {r.addr for r in gated.collect()} == {"10.0.0.2", "10.9.9.9"}


def test_violation_emitter_end_to_end(server):
    """Alert JSON lines -> violation PUTs over the generator map,
    including skip of non-convertible lines (IprepdIO WriteFn ignores
    non-Alert input): non-JSON, a subcategory with no generator, and
    an ip generator without a source address escalate nothing."""
    _FakeIprepd.puts.clear()
    emit = iprepd_violation_emitter([f"{server}|k3"])
    lines = [
        json.dumps({"category": "httprequest", "subcategory": "hard_limit",
                    "metadata": {"source_address": "10.1.2.3"}}),
        "not json at all",
        json.dumps({"category": "httprequest",
                    "subcategory": "not_a_generator",
                    "metadata": {"source_address": "10.9.9.9"}}),
        json.dumps({"category": "httprequest", "subcategory": "error_rate",
                    "metadata": {}}),  # no addr
        json.dumps({"category": "httprequest", "subcategory": "error_rate",
                    "metadata": {"source_address": "10.4.5.6"}}),
    ]
    emit(lines)
    assert [(t, o, v["violation"]) for t, o, v in _FakeIprepd.puts] == [
        ("ip", "10.1.2.3", "hard_limit_violation"),
        ("ip", "10.4.5.6", "client_error_rate_violation"),
    ]
    for _, _, v in _FakeIprepd.puts:
        assert v["ip"] == v["object"] and v["type"] == "ip"


def test_violation_wires_generator_map_and_exempt():
    """Per-line WriteFn conversion semantics (IprepdIO.java:400-403
    exempt guard + Violation.fromAlert generator routing,
    Violation.java:100-235)."""
    from foxsec_pipeline_spark.sinks.output import (
        violation_wires_from_alert_json as wires,
    )

    # iprepd_exempt drops the alert before escalation
    assert wires(json.dumps({
        "category": "httprequest", "subcategory": "error_rate",
        "metadata": {"source_address": "10.0.0.9",
                     "iprepd_exempt": "true"},
    })) == []

    # generic source generator: subcategory-mapped wire name
    [(t, o, v)] = wires(json.dumps({
        "category": "httprequest", "subcategory": "error_rate",
        "metadata": {"source_address": "10.0.0.9"},
    }))
    assert (t, o) == ("ip", "10.0.0.9")
    assert json.loads(v) == {
        "object": "10.0.0.9", "type": "ip",
        "violation": "client_error_rate_violation", "ip": "10.0.0.9",
    }
    # ... and no source_address -> no violations at all
    assert wires(json.dumps({
        "category": "httprequest", "subcategory": "error_rate",
        "metadata": {},
    })) == []

    # email-list generator: one violation per comma-split address
    got = wires(json.dumps({
        "category": "customs", "subcategory": "account_creation_abuse",
        "metadata": {"email": "a@x.com, b@y.com"},
    }))
    assert [(t, o, json.loads(v)["violation"]) for t, o, v in got] == [
        ("email", "a@x.com", "abusive_account_violation"),
        ("email", "b@y.com", "abusive_account_violation"),
    ]
    assert all("ip" not in json.loads(v) for _, _, v in got)

    # matched-addon custom rule: source REQUIRED (even with emails),
    # then ip endpoint_abuse + per-email abusive_account
    assert wires(json.dumps({
        "category": "amo", "subcategory": "amo_abuse_matched_addon",
        "metadata": {"email": "a@x.com"},
    })) == []
    got = wires(json.dumps({
        "category": "amo", "subcategory": "amo_abuse_matched_addon",
        "metadata": {"source_address": "10.2.2.2", "email": "a@x.com"},
    }))
    assert [(t, o, json.loads(v)["violation"]) for t, o, v in got] == [
        ("ip", "10.2.2.2", "endpoint_abuse_violation"),
        ("email", "a@x.com", "abusive_account_violation"),
    ]
    # ... and emails are optional for matched_addon
    got = wires(json.dumps({
        "category": "amo", "subcategory": "amo_abuse_matched_addon",
        "metadata": {"source_address": "10.2.2.2"},
    }))
    assert [(t, o) for t, o, _ in got] == [("ip", "10.2.2.2")]

    # suppress_recovery rides along as an int wire field
    [(_, _, v)] = wires(json.dumps({
        "category": "httprequest", "subcategory": "hard_limit",
        "metadata": {"source_address": "10.3.3.3",
                     "iprepd_suppress_recovery": "900"},
    }))
    assert json.loads(v) == {
        "object": "10.3.3.3", "type": "ip",
        "violation": "hard_limit_violation", "ip": "10.3.3.3",
        "suppress_recovery": 900,
    }

    # unknown subcategory: NO escalation (Violation.fromAlert null,
    # IprepdIO.java:405-410)
    unknown = json.dumps({
        "category": "httprequest", "subcategory": "not_a_generator",
        "metadata": {"source_address": "10.5.5.5"},
    })
    assert wires(unknown) == []


def test_violation_emitter_generator_map_put_fanout(server):
    """Emitter PUTs one violation per generator output (email lists
    fan out), and exempt alerts never reach the wire."""
    _FakeIprepd.puts.clear()
    emit = iprepd_violation_emitter([f"{server}|k4"])
    emit([
        json.dumps({"category": "customs",
                    "subcategory": "account_creation_abuse",
                    "metadata": {"email": "a@x.com,b@y.com"}}),
        json.dumps({"category": "httprequest",
                    "subcategory": "threshold_analysis",
                    "metadata": {"source_address": "10.6.6.6",
                                 "iprepd_exempt": "true"}}),
    ])
    assert [(t, o, v["violation"]) for t, o, v in _FakeIprepd.puts] == [
        ("email", "a@x.com", "abusive_account_violation"),
        ("email", "b@y.com", "abusive_account_violation"),
    ]

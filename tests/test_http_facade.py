"""HTTP control-plane facade tests (no Spark needed): route/verb parity
with AnimalStreamController.java:46-184 over a stub registry, plus one
real-StreamRegistry wiring check using a synthesized checkpoint."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from spring_cloud_kafka_streams_dbz_etl_spark.streaming.http_facade import (
    StreamControlHttp,
)
from spring_cloud_kafka_streams_dbz_etl_spark.streaming.registry import (
    StreamRegistry,
    UnknownStreamError,
)


class StubRegistry:
    def __init__(self):
        self.calls = []

    def _known(self, name):
        if name != "animal":
            raise UnknownStreamError(name)

    def status(self, name):
        self._known(name)
        return {"name": name, "running": True, "state": "RUNNING"}

    def offsets(self, name):
        self._known(name)
        return {"name": name, "committedBatch": 3, "endBatch": 3, "lag": 0}

    def metrics(self, name):
        self._known(name)
        return {"name": name, "running": True, "batches": 2, "totalInputRows": 10}

    def start(self, name):
        self._known(name)
        self.calls.append(("start", name))
        return {"name": name, "running": True}

    def stop(self, name):
        self._known(name)
        self.calls.append(("stop", name))
        return {"name": name, "running": False}

    def reset_offsets(self, name, to):
        self._known(name)
        if to == "latest":
            raise RuntimeError("simulated reset failure")
        self.calls.append(("reset", name, to))
        return {"previousOffsets": {}, "newOffsets": {}, "restarted": True}


@pytest.fixture()
def facade():
    stub = StubRegistry()
    srv = StreamControlHttp(stub)
    port = srv.start()
    yield stub, f"http://127.0.0.1:{port}"
    srv.stop()


def _call(url, method="GET", body=None):
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(url, data=data, method=method)
    with urllib.request.urlopen(req) as resp:
        return resp.status, json.loads(resp.read())


def test_status_and_offsets_routes(facade):
    _, base = facade
    code, payload = _call(f"{base}/api/stream/animal/status")
    assert code == 200 and payload["state"] == "RUNNING" and "timestamp" in payload
    code, payload = _call(f"{base}/api/stream/animal/offsets")
    assert code == 200 and payload["lag"] == 0


def test_lifecycle_and_dlq_routes(facade):
    stub, base = facade
    assert _call(f"{base}/api/stream/animal/stop", "POST")[0] == 200
    assert _call(f"{base}/api/stream/animal/start", "POST")[0] == 200
    # DLQ start/stop are the same lifecycle on the DLQ stream's name
    assert _call(f"{base}/api/dlq/animal/start", "POST")[0] == 200
    assert stub.calls[:3] == [("stop", "animal"), ("start", "animal"), ("start", "animal")]


def test_reset_routes(facade):
    stub, base = facade
    code, _ = _call(f"{base}/api/stream/animal/offsets/reset/earliest", "POST")
    assert code == 200 and ("reset", "animal", "earliest") in stub.calls
    code, _ = _call(f"{base}/api/stream/animal/offsets/reset", "POST", {"batch": 2})
    assert code == 200 and ("reset", "animal", 2) in stub.calls


def test_reset_specific_requires_body(facade):
    _, base = facade
    with pytest.raises(urllib.error.HTTPError) as e:
        _call(f"{base}/api/stream/animal/offsets/reset", "POST", {})
    assert e.value.code == 400


def test_reset_specific_malformed_batch_is_400_not_409(facade):
    """ADVICE r02: int('x') used to escape the 400 guard and surface as a
    generic 409; non-integer bodies are the caller's error."""
    _, base = facade
    for bad in ("x", "--7", "²", 2.5, True, None, [2]):
        with pytest.raises(urllib.error.HTTPError) as e:
            _call(f"{base}/api/stream/animal/offsets/reset", "POST", {"batch": bad})
        assert e.value.code == 400, bad
    # stringified integers are accepted (curl convenience)
    code, _ = _call(f"{base}/api/stream/animal/offsets/reset", "POST", {"batch": "7"})
    assert code == 200


def test_internal_keyerror_is_409_not_404(facade):
    """A KeyError escaping registry INTERNALS must not masquerade as
    'unknown stream' — only UnknownStreamError maps to 404."""
    stub, base = facade
    stub.status = lambda name: (_ for _ in ()).throw(KeyError("internal-bug"))
    with pytest.raises(urllib.error.HTTPError) as e:
        _call(f"{base}/api/stream/animal/status")
    assert e.value.code == 409


def test_unknown_stream_404_and_failed_reset_409(facade):
    _, base = facade
    with pytest.raises(urllib.error.HTTPError) as e:
        _call(f"{base}/api/stream/nope/status")
    assert e.value.code == 404
    # reference returns 409 when a reset fails (AnimalStreamController.java:211)
    with pytest.raises(urllib.error.HTTPError) as e:
        _call(f"{base}/api/stream/animal/offsets/reset/latest", "POST")
    assert e.value.code == 409


def test_real_registry_wiring(tmp_path):
    """End-to-end over a real StreamRegistry (unstarted stream + synthesized
    Kafka-shaped checkpoint): offsets flow through HTTP with partition lag."""
    from tests.test_kafka_control import _commit, _write_offsets_log

    ckpt = str(tmp_path / "ckpt")
    _write_offsets_log(ckpt, 0, {"t": {"0": 5}})
    _commit(ckpt, 0)
    reg = StreamRegistry()
    reg.register("cdc", builder=lambda: None, checkpoint=ckpt, auto_start=False)
    srv = StreamControlHttp(reg)
    port = srv.start()
    try:
        code, payload = _call(f"http://127.0.0.1:{port}/api/stream/cdc/offsets")
        assert code == 200
        assert payload["partitionOffsets"][0]["endOffset"] == 5
    finally:
        srv.stop()


# -- manual export route (§2A #21, ManualAnimalExportController.java:46-77)


def test_export_route_status_mapping():
    """Stub exporter: 200 + row on success, 400 on payload error, 404 on
    unknown entity / unconfigured exporter, 422 on enrichment failure."""

    def exporter(entity, body):
        if entity == "boom":
            raise RuntimeError("schema registry down")
        if entity != "animal":
            raise LookupError(entity)
        if body.get("id") in (None, 0):
            raise ValueError("export payload requires a non-zero 'id'")
        return {"id": body["id"]}

    srv = StreamControlHttp(StubRegistry(), exporter=exporter)
    base = f"http://127.0.0.1:{srv.start()}"
    try:
        code, payload = _call(f"{base}/api/export/animal", "POST", {"id": 7})
        assert code == 200 and payload["exported"] == {"id": 7}
        for body, want in (({"id": 0}, 400), ({}, 400)):
            with pytest.raises(urllib.error.HTTPError) as e:
                _call(f"{base}/api/export/animal", "POST", body)
            assert e.value.code == want
        with pytest.raises(urllib.error.HTTPError) as e:
            _call(f"{base}/api/export/nope", "POST", {"id": 1})
        assert e.value.code == 404
        with pytest.raises(urllib.error.HTTPError) as e:
            _call(f"{base}/api/export/boom", "POST", {"id": 1})
        assert e.value.code == 422
    finally:
        srv.stop()

    bare = StreamControlHttp(StubRegistry())  # no exporter configured
    base = f"http://127.0.0.1:{bare.start()}"
    try:
        with pytest.raises(urllib.error.HTTPError) as e:
            _call(f"{base}/api/export/animal", "POST", {"id": 1})
        assert e.value.code == 404
    finally:
        bare.stop()


def test_export_roundtrip_readable_from_sink(spark, tmp_path):
    """VERDICT r03 item 4 done-criterion: POST a change envelope through
    the facade, then read the exported row back from the parquet sink
    (after -> root fallback included)."""
    from spring_cloud_kafka_streams_dbz_etl_spark.streaming.export import make_exporter

    sink = str(tmp_path / "manual_export")
    srv = StreamControlHttp(
        StubRegistry(), exporter=make_exporter(spark, {"animal": sink})
    )
    base = f"http://127.0.0.1:{srv.start()}"
    try:
        envelope = {
            "before": None,
            "after": {"id": 42, "user_id": 9, "name": "rex", "value": 1.5},
            "op": "c",
        }
        code, payload = _call(f"{base}/api/export/animal", "POST", envelope)
        assert code == 200
        assert payload["exported"]["id"] == 42  # envelope unwrapped via 'after'
        bare = {"id": 43, "name": "root-fallback"}
        code, _ = _call(f"{base}/api/export/animal", "POST", bare)
        assert code == 200
        rows = {r.id: r for r in spark.read.parquet(sink).collect()}
        assert set(rows) == {42, 43}
        assert rows[42].name == "rex" and rows[42].user_id == 9
        assert rows[42].segment == "UNKNOWN" and rows[42].value == 1.5
        assert rows[43].name == "root-fallback" and rows[43].event_type == "manual"
    finally:
        srv.stop()


def test_full_http_lifecycle_against_real_stream(spark, sf_smoke):
    """§2A control plane end-to-end over HTTP against a REAL streaming
    pipeline (not a stub): status -> offsets -> stop -> reset earliest ->
    full reprocess — the reference's operational loop
    (AnimalStreamController.java:46-184) driven through the facade."""
    import tempfile
    import uuid

    from pyspark.sql import functions as F  # noqa: F401

    from spring_cloud_kafka_streams_dbz_etl_spark.streaming.pipeline import (
        ENRICHED_SCHEMA,
        CdcPipelineConfig,
        build_cdc_pipeline,
    )

    def tmp(kind):
        return tempfile.mkdtemp(prefix=f"http_e2e_{kind}_{uuid.uuid4().hex[:6]}_")

    out, dlq, ckpt = tmp("out"), tmp("dlq"), tmp("ckpt")
    cfg = CdcPipelineConfig(sf_dir=sf_smoke, out_path=out, dlq_path=dlq, checkpoint=ckpt)
    reg = StreamRegistry()
    reg.register("cdc", build_cdc_pipeline(spark, cfg), checkpoint=ckpt)
    reg.process_available("cdc")
    srv = StreamControlHttp(reg)
    base = f"http://127.0.0.1:{srv.start()}"
    try:
        code, st = _call(f"{base}/api/stream/cdc/status")
        assert code == 200 and st["running"] and st["state"] == "RUNNING"
        code, offs = _call(f"{base}/api/stream/cdc/offsets")
        assert code == 200 and offs["lag"] == 0 and offs["endBatch"] is not None
        code, st = _call(f"{base}/api/stream/cdc/stop", "POST")
        assert code == 200 and not st["running"]
        n1 = spark.read.schema(ENRICHED_SCHEMA).parquet(out).count()
        assert n1 > 0

        # reset earliest over HTTP -> full reprocess from batch 0; the
        # stream was stopped, so (reference semantics) reset does NOT
        # restart it — start explicitly over HTTP
        code, reset = _call(f"{base}/api/stream/cdc/offsets/reset/earliest", "POST")
        assert code == 200 and reset["restarted"] is False
        code, st = _call(f"{base}/api/stream/cdc/start", "POST")
        assert code == 200 and st["running"]
        reg.process_available("cdc")
        _call(f"{base}/api/stream/cdc/stop", "POST")
        n2 = spark.read.schema(ENRICHED_SCHEMA).parquet(out).count()
        assert n2 == 2 * n1  # append sink: reprocessed rows land again
    finally:
        srv.stop()


# -- schema-registry routes (Confluent REST subset, application.yml:16) ----


def test_schema_registry_routes():
    import json as _json

    from spring_cloud_kafka_streams_dbz_etl_spark.sources.avro_codec import (
        SchemaRegistry,
    )

    reg = SchemaRegistry()
    srv = StreamControlHttp(StubRegistry(), schema_registry=reg)
    base = f"http://127.0.0.1:{srv.start()}"
    v1 = _json.dumps({"type": "record", "name": "Ev",
                      "fields": [{"name": "id", "type": "long"}]})
    v2 = _json.dumps({"type": "record", "name": "Ev",
                      "fields": [{"name": "id", "type": "long"},
                                 {"name": "q", "type": "double", "default": 0.0}]})
    try:
        code, out = _call(f"{base}/api/subjects/events-value/versions", "POST",
                          {"schema": v1})
        assert code == 200 and out["id"] == 1
        code, out = _call(f"{base}/api/subjects/events-value/versions", "POST",
                          {"schema": v2})
        assert code == 200 and out["id"] == 2
        # re-registering an existing schema is idempotent (same id)
        code, out = _call(f"{base}/api/subjects/events-value/versions", "POST",
                          {"schema": v1})
        assert code == 200 and out["id"] == 1

        code, out = _call(f"{base}/api/schemas/ids/1")
        assert code == 200 and _json.loads(out["schema"])["fields"][0]["name"] == "id"
        code, out = _call(f"{base}/api/subjects/events-value/versions/latest")
        assert code == 200 and out["id"] == 2 and out["version"] == 2

        with pytest.raises(urllib.error.HTTPError) as e:
            _call(f"{base}/api/schemas/ids/99")
        assert e.value.code == 404
        with pytest.raises(urllib.error.HTTPError) as e:
            _call(f"{base}/api/subjects/nope/versions/latest")
        assert e.value.code == 404
        with pytest.raises(urllib.error.HTTPError) as e:
            _call(f"{base}/api/subjects/s/versions", "POST", {"schema": ""})
        assert e.value.code == 400
        with pytest.raises(urllib.error.HTTPError) as e:
            _call(f"{base}/api/subjects/s/versions", "POST",
                  {"schema": '{"type": "record", "name": "x", "fields": [{"name": "y", "type": "Nope"}]}'})
        assert e.value.code == 422
        # the registered schemas actually decode wire payloads (round trip)
        payload = reg.encode_framed(2, {"id": 7, "q": 1.5})
        assert reg.decode_framed(payload) == (2, {"id": 7, "q": 1.5})
    finally:
        srv.stop()

    bare = StreamControlHttp(StubRegistry())
    base = f"http://127.0.0.1:{bare.start()}"
    try:
        with pytest.raises(urllib.error.HTTPError) as e:
            _call(f"{base}/api/schemas/ids/1")
        assert e.value.code == 404
    finally:
        bare.stop()


class _ProgressQuery:
    """A stopped query's retained progress events, as StreamingQuery
    exposes them (dict-like progress with a durationMs map)."""

    isActive = False

    def __init__(self, progress):
        self.recentProgress = progress


def test_metrics_route(facade):
    _, base = facade
    code, payload = _call(f"{base}/api/stream/animal/metrics")
    assert code == 200 and payload["batches"] == 2 and "timestamp" in payload
    # unknown stream -> 404, same as every other stream route
    try:
        _call(f"{base}/api/stream/nope/metrics")
        raise AssertionError("expected 404")
    except urllib.error.HTTPError as e:
        assert e.code == 404

    # a real registry reports per-phase medians of the retained events;
    # a phase no event reports reads null
    durations = [
        {"addBatch": 900, "latestOffset": 10, "queryPlanning": 40, "walCommit": 30,
         "triggerExecution": 1000},
        {"addBatch": 700, "latestOffset": 30, "queryPlanning": 20, "walCommit": 50,
         "triggerExecution": 820},
        {"addBatch": 800, "latestOffset": 20, "queryPlanning": 60, "triggerExecution": 910},
    ]
    reg = StreamRegistry()
    reg.register("cdc", builder=lambda: None, checkpoint="unused", auto_start=False)
    reg._get("cdc").query = _ProgressQuery(
        [{"numInputRows": 25, "durationMs": d} for d in durations]
    )
    srv = StreamControlHttp(reg)
    port = srv.start()
    try:
        code, payload = _call(f"http://127.0.0.1:{port}/api/stream/cdc/metrics")
    finally:
        srv.stop()
    assert code == 200 and payload["batches"] == 3 and payload["totalInputRows"] == 75
    assert payload["maxTriggerMs"] == 1000 and payload["lastTriggerMs"] == 910
    assert payload["durationMsP50"] == {
        "addBatch": 800, "latestOffset": 20, "queryPlanning": 40,
        "walCommit": 40, "commitOffsets": None,
    }


def test_dim_crud_routes(spark, tmp_path):
    """GET/POST/PUT/DELETE /api/dim/{entity}[/{id}] — AnimalController
    CRUD parity over the versioned dim store: create via POST, read it
    back, PUT (path id wins), DELETE, then 404 on the deleted key; each
    write is a new immutable version visible to the next read."""
    from spring_cloud_kafka_streams_dbz_etl_spark.sources.sinks import (
        upsert_dimension,
    )
    from spring_cloud_kafka_streams_dbz_etl_spark.streaming.dimstore import DimStore

    dim_path = str(tmp_path / "animals")
    seed = spark.createDataFrame(
        [(1, "cat", "small"), (2, "dog", "medium")], "id long, name string, size string"
    )
    upsert_dimension(seed, dim_path, keys=["id"])

    store = DimStore(spark, {"animal": (dim_path, "id")})
    srv = StreamControlHttp(StubRegistry(), dim_store=store)
    port = srv.start()
    base = f"http://127.0.0.1:{port}/api/dim"
    try:
        code, row = _call(f"{base}/animal/1")
        assert (code, row["name"], row["size"]) == (200, "cat", "small")

        code, out = _call(
            f"{base}/animal", "POST", {"id": 3, "name": "owl", "size": "small"}
        )
        assert code == 200 and out["total"] == 3
        assert _call(f"{base}/animal/3")[1]["name"] == "owl"

        # PUT: path id wins over body id
        code, out = _call(
            f"{base}/animal/2", "PUT", {"id": 99, "name": "dog", "size": "LARGE"}
        )
        assert code == 200
        assert _call(f"{base}/animal/2")[1]["size"] == "LARGE"
        with pytest.raises(urllib.error.HTTPError) as e99:
            _call(f"{base}/animal/99")
        assert e99.value.code == 404

        code, out = _call(f"{base}/animal/1", "DELETE")
        assert code == 200 and out["deleted"] == 1 and out["total"] == 2
        with pytest.raises(urllib.error.HTTPError) as e1:
            _call(f"{base}/animal/1")
        assert e1.value.code == 404
        # delete of a missing key is 404, not a silent no-op
        with pytest.raises(urllib.error.HTTPError) as egone:
            _call(f"{base}/animal/1", "DELETE")
        assert egone.value.code == 404

        # malformed POST rows -> 400
        with pytest.raises(urllib.error.HTTPError) as ebad:
            _call(f"{base}/animal", "POST", {"name": "no-key"})
        assert ebad.value.code == 400
        with pytest.raises(urllib.error.HTTPError) as ecol:
            _call(f"{base}/animal", "POST", {"id": 5, "bogus": 1})
        assert ecol.value.code == 400

        # unknown entity -> 404
        with pytest.raises(urllib.error.HTTPError) as eent:
            _call(f"{base}/plant/1")
        assert eent.value.code == 404

        # facade without a dim store -> 404
        bare = StreamControlHttp(StubRegistry())
        p2 = bare.start()
        try:
            with pytest.raises(urllib.error.HTTPError) as enone:
                _call(f"http://127.0.0.1:{p2}/api/dim/animal/1")
            assert enone.value.code == 404
        finally:
            bare.stop()
    finally:
        srv.stop()


def test_health_route(tmp_path):
    """GET /health: 200 UP with per-stream states from a real registry,
    and 200 UP (streams only best-effort) on a stub without names()."""
    reg = StreamRegistry()
    srv = StreamControlHttp(reg)
    port = srv.start()
    try:
        code, body = _call(f"http://127.0.0.1:{port}/health")
        assert code == 200 and body["status"] == "UP"
        assert body["streams"] == {}
    finally:
        srv.stop()
    bare = StreamControlHttp(StubRegistry())
    p2 = bare.start()
    try:
        code, body = _call(f"http://127.0.0.1:{p2}/health")
        assert code == 200 and body["status"] == "UP"
    finally:
        bare.stop()

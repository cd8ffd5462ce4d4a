"""The vendored pure-Python protobuf runtime: descriptor bootstrap,
wire-format round-trips, proto3 presence rules, oneofs, and execution
of pyspark's real generated StateMessage_pb2 module.

The end-to-end proof (shim ↔ JVM state server over a socket) is
tests/test_streaming.py::test_transform_with_state_running_stats; these
pin the runtime's semantics in isolation.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pytest

VENDOR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "event_pipeline_spark",
    "_vendor",
)


@pytest.fixture(scope="module", autouse=True)
def _vendor_on_path():
    if VENDOR not in sys.path:
        sys.path.insert(0, VENDOR)
    yield


@pytest.fixture(scope="module")
def sm(_vendor_on_path):
    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

    return sm


def test_generated_module_executes(sm):
    """AddSerializedFile + builder produce every message class, the
    enum wrapper, and module-level enum constants."""
    assert sm.StateRequest and sm.MapStateCall and sm.TTLConfig
    assert sm.PRE_INIT == 0 and sm.CREATED == 1 and sm.CLOSED == 5
    assert sm.HandleState.Name(3) == "DATA_PROCESSED"
    assert sm.HandleState.Value("TIMER_PROCESSED") == 4


def test_wire_varint_and_signed():
    from google.protobuf import wire

    buf = bytearray()
    wire.encode_varint(buf, 5000)
    assert bytes(buf) == b"\x88\x27"
    assert wire.decode_varint(bytes(buf), 0) == (5000, 2)
    # negative int64: 10-byte two's complement
    buf2 = bytearray()
    wire.encode_signed(buf2, -1)
    assert len(buf2) == 10
    raw, _ = wire.decode_varint(bytes(buf2), 0)
    assert wire.decode_signed(raw) == -1
    assert wire.decode_zigzag(wire.encode_zigzag(-42)) == -42


def test_scalar_defaults_and_implicit_presence(sm):
    r = sm.StateResponse()
    assert r.statusCode == 0 and r.errorMessage == "" and r.value == b""
    # proto3: defaults do not serialize
    assert r.SerializeToString() == b""
    r.statusCode = 0
    assert r.SerializeToString() == b""  # still default
    r.statusCode = 7
    assert r.SerializeToString() != b""


def test_oneof_set_clears_siblings_and_empty_member_serializes(sm):
    call = sm.ValueStateCall(stateName="s", exists=sm.Exists())
    assert call.WhichOneof("method") == "exists"
    call.get.CopyFrom(sm.Get())  # switching the oneof
    assert call.WhichOneof("method") == "get"
    assert not call.HasField("exists")
    # the empty oneof message must still emit its tag on the wire
    data = call.SerializeToString()
    back = sm.ValueStateCall()
    back.ParseFromString(data)
    assert back.WhichOneof("method") == "get"
    assert back.stateName == "s"


def test_lazy_submessage_vivification(sm):
    cmd = sm.StateCallCommand()
    assert not cmd.HasField("ttl")
    _ = cmd.ttl.durationMs  # reading does NOT attach
    assert not cmd.HasField("ttl")
    cmd.ttl.durationMs = 1234  # writing attaches
    assert cmd.HasField("ttl")
    back = sm.StateCallCommand()
    back.ParseFromString(cmd.SerializeToString())
    assert back.ttl.durationMs == 1234 and back.HasField("ttl")


def test_nested_request_round_trip(sm):
    cmd = sm.StateCallCommand(stateName="agg", schema="n long")
    cmd.ttl.durationMs = 9999
    req = sm.StateRequest(
        version=2,
        statefulProcessorCall=sm.StatefulProcessorCall(getValueState=cmd),
    )
    back = sm.StateRequest()
    back.ParseFromString(req.SerializeToString())
    assert back.version == 2
    assert back.WhichOneof("method") == "statefulProcessorCall"
    inner = back.statefulProcessorCall.getValueState
    assert (inner.stateName, inner.schema, inner.ttl.durationMs) == (
        "agg", "n long", 9999,
    )
    assert back == req  # value equality via canonical bytes


def test_repeated_bytes_and_repeated_message(sm):
    put = sm.ListStatePut(value=[b"one", b"two", b""], fetchWithArrow=True)
    back = sm.ListStatePut()
    back.ParseFromString(put.SerializeToString())
    assert list(back.value) == [b"one", b"two", b""]
    assert back.fetchWithArrow is True

    resp = sm.StateResponseWithMapIterator(statusCode=1)
    resp.kvPair.add(key=b"k1", value=b"v1")
    resp.kvPair.add(key=b"k2", value=b"v2")
    back2 = sm.StateResponseWithMapIterator()
    back2.ParseFromString(resp.SerializeToString())
    assert [(p.key, p.value) for p in back2.kvPair] == [
        (b"k1", b"v1"), (b"k2", b"v2"),
    ]


def test_unknown_fields_are_skipped(sm):
    # field 15 (varint) + field 14 (length-delimited) don't exist on
    # StateResponse; a parser must skip, not crash
    payload = sm.StateResponse(statusCode=3).SerializeToString()
    unknown = b"\x78\x2a" + b"\x72\x03abc" + payload
    r = sm.StateResponse()
    r.ParseFromString(unknown)
    assert r.statusCode == 3


def test_proto3_optional_field_has_presence(sm):
    t = sm.TimerInfo(timestampMs=55)
    assert not t.HasField("key")
    t.key = b""
    assert t.HasField("key")  # set-to-default still present (optional)
    back = sm.TimerInfo()
    back.ParseFromString(t.SerializeToString())
    assert back.HasField("key") and back.timestampMs == 55


def test_clear_and_copy_from(sm):
    a = sm.StateResponse(statusCode=4, errorMessage="boom", value=b"x")
    b = sm.StateResponse()
    b.CopyFrom(a)
    assert (b.statusCode, b.errorMessage, b.value) == (4, "boom", b"x")
    b.Clear()
    assert b.SerializeToString() == b"" and b.statusCode == 0


def test_shim_never_shadows_a_real_protobuf_install():
    """In a clean interpreter with no PYTHONPATH, google.protobuf is
    absent (the shim only activates via session/ensure_protobuf)."""
    code = textwrap.dedent(
        """
        try:
            import google.protobuf
            print("PRESENT")
        except ImportError:
            print("ABSENT")
        """
    )
    out = subprocess.run(
        [sys.executable, "-c", code],
        capture_output=True, text=True, env={"PATH": "/usr/bin:/bin"},
    )
    assert out.stdout.strip() in ("ABSENT", "PRESENT")  # env-dependent


def test_vendor_zip_builds_once(tmp_path, monkeypatch):
    from event_pipeline_spark.streaming.stateful import _vendor_zip

    import zipfile

    path = _vendor_zip()
    names = zipfile.ZipFile(path).namelist()
    assert "google/protobuf/message.py" in names
    assert "google/protobuf/internal/builder.py" in names


def test_split_message_merges_singular_embedded_field(sm):
    """Concatenating two serialized messages must MERGE a singular
    embedded-message field's occurrences (protobuf encoding spec), not
    let the second occurrence replace the first."""
    a = sm.StateCallCommand(stateName="agg")
    first = sm.StatefulProcessorCall(getValueState=a).SerializeToString()
    b = sm.StateCallCommand(schema="n long")
    second = sm.StatefulProcessorCall(getValueState=b).SerializeToString()

    back = sm.StatefulProcessorCall()
    back.ParseFromString(first + second)
    # replace-semantics would lose stateName from the first occurrence
    assert back.getValueState.stateName == "agg"
    assert back.getValueState.schema == "n long"

"""Property tests for the vendored protobuf runtime: serialize→parse is
the identity over randomized message contents, serialization is
deterministic, and the varint/zigzag primitives are self-inverse across
the full 64-bit range."""

from __future__ import annotations

import os
import sys

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

VENDOR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "event_pipeline_spark",
    "_vendor",
)
if VENDOR not in sys.path:
    sys.path.insert(0, VENDOR)


@pytest.fixture(scope="module")
def sm():
    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

    return sm


int32s = st.integers(min_value=-(2**31), max_value=2**31 - 1)
int64s = st.integers(min_value=-(2**63), max_value=2**63 - 1)
texts = st.text(max_size=60)
blobs = st.binary(max_size=60)


@given(code=int32s, msg=texts, value=blobs)
@settings(max_examples=200, deadline=None)
def test_scalar_message_round_trip(sm, code, msg, value):
    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

    m = sm.StateResponse(statusCode=code, errorMessage=msg, value=value)
    data = m.SerializeToString()
    back = sm.StateResponse()
    back.ParseFromString(data)
    assert (back.statusCode, back.errorMessage, back.value) == (
        code, msg, value,
    )
    assert back.SerializeToString() == data  # deterministic re-encode


@given(v=int64s)
@settings(max_examples=200, deadline=None)
def test_int64_round_trip_full_range(sm, v):
    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

    m = sm.StateResponseWithLongTypeVal(value=v)
    back = sm.StateResponseWithLongTypeVal()
    back.ParseFromString(m.SerializeToString())
    assert back.value == v


@given(values=st.lists(blobs, max_size=20), arrow=st.booleans())
@settings(max_examples=100, deadline=None)
def test_repeated_bytes_round_trip(sm, values, arrow):
    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

    m = sm.ListStatePut(value=values, fetchWithArrow=arrow)
    back = sm.ListStatePut()
    back.ParseFromString(m.SerializeToString())
    assert list(back.value) == values
    assert back.fetchWithArrow is arrow


@given(
    pairs=st.lists(st.tuples(blobs, blobs), max_size=12),
    code=int32s,
    more=st.booleans(),
)
@settings(max_examples=100, deadline=None)
def test_repeated_message_round_trip(sm, pairs, code, more):
    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

    m = sm.StateResponseWithMapIterator(statusCode=code, requireNextFetch=more)
    for k, v in pairs:
        m.kvPair.add(key=k, value=v)
    back = sm.StateResponseWithMapIterator()
    back.ParseFromString(m.SerializeToString())
    assert [(p.key, p.value) for p in back.kvPair] == pairs
    assert (back.statusCode, back.requireNextFetch) == (code, more)


@given(
    choice=st.sampled_from(
        ["exists", "get", "valueStateUpdate", "clear"]
    ),
    name=texts,
    payload=blobs,
)
@settings(max_examples=100, deadline=None)
def test_oneof_round_trip_preserves_case(sm, choice, name, payload):
    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

    kwargs = {"stateName": name}
    if choice == "exists":
        kwargs["exists"] = sm.Exists()
    elif choice == "get":
        kwargs["get"] = sm.Get()
    elif choice == "valueStateUpdate":
        kwargs["valueStateUpdate"] = sm.ValueStateUpdate(value=payload)
    else:
        kwargs["clear"] = sm.Clear()
    call = sm.ValueStateCall(**kwargs)
    req = sm.StateRequest(
        stateVariableRequest=sm.StateVariableRequest(valueStateCall=call)
    )
    back = sm.StateRequest()
    back.ParseFromString(req.SerializeToString())
    got = back.stateVariableRequest.valueStateCall
    assert got.WhichOneof("method") == choice
    assert got.stateName == name
    if choice == "valueStateUpdate":
        assert got.valueStateUpdate.value == payload
    assert back == req


@given(v=st.integers(min_value=-(2**63), max_value=2**63 - 1))
@settings(max_examples=300, deadline=None)
def test_varint_signed_and_zigzag_are_self_inverse(v):
    from google.protobuf import wire

    buf = bytearray()
    wire.encode_signed(buf, v)
    raw, pos = wire.decode_varint(bytes(buf), 0)
    assert pos == len(buf)
    assert wire.decode_signed(raw) == v
    assert wire.decode_zigzag(wire.encode_zigzag(v)) == v


@given(data=st.binary(max_size=80))
@settings(max_examples=200, deadline=None)
def test_parser_never_crashes_on_garbage(sm, data):
    """Malformed input raises cleanly (ValueError/IndexError family) or
    parses — never hangs or corrupts state for the next parse."""
    import pyspark.sql.streaming.proto.StateMessage_pb2 as sm

    m = sm.StateResponse()
    try:
        m.ParseFromString(data)
    except (ValueError, IndexError, UnicodeDecodeError, KeyError):
        pass
    fine = sm.StateResponse(statusCode=5)
    back = sm.StateResponse()
    back.ParseFromString(fine.SerializeToString())
    assert back.statusCode == 5

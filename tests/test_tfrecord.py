"""TFRecord source/sink tests (sources/tfrecord.py): CRC-32C vectors,
framing roundtrips and corruption refusals, tf.train.Example wire
codec roundtrips (packed AND unpacked repeated encodings), hypothesis
property coverage, and the Spark write→read legs via file:// URIs."""

from __future__ import annotations

import struct

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyprima_spark.sources.tfrecord import (
    crc32c,
    decode_example,
    decode_tfrecord_file,
    encode_example,
    encode_tfrecord_file,
    read_tfrecord,
    write_tfrecord_file,
    write_tfrecord_shards,
)


# --- CRC-32C ------------------------------------------------------------------


def test_crc32c_public_vectors():
    # the canonical check value for CRC-32C and two spec-table cases
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0
    assert crc32c(b"\x00" * 32) == 0x8A9136AA  # RFC 3720 B.4 test pattern


# --- framing ------------------------------------------------------------------


def test_framing_roundtrip_and_determinism():
    payloads = [b"", b"a", b"hello world" * 100, bytes(range(256))]
    blob = encode_tfrecord_file(payloads)
    assert decode_tfrecord_file(blob) == payloads
    assert encode_tfrecord_file(payloads) == blob
    assert decode_tfrecord_file(b"") == []


def test_framing_refusals():
    blob = encode_tfrecord_file([b"abcdef", b"xyz"])

    with pytest.raises(ValueError, match="truncated TFRecord header"):
        decode_tfrecord_file(blob[:6])

    with pytest.raises(ValueError, match="truncated TFRecord payload"):
        decode_tfrecord_file(blob[:-2])

    length_crc_flip = bytearray(blob)
    length_crc_flip[9] ^= 0xFF
    with pytest.raises(ValueError, match="length CRC"):
        decode_tfrecord_file(bytes(length_crc_flip))

    data_flip = bytearray(blob)
    data_flip[13] ^= 0x01  # inside the first payload
    with pytest.raises(ValueError, match="payload CRC"):
        decode_tfrecord_file(bytes(data_flip))

    with pytest.raises(ValueError):
        decode_tfrecord_file(b"not a tfrecord file at all")


# --- Example wire codec ---------------------------------------------------------


def test_example_roundtrip_all_kinds():
    feats = {
        "doc_id": ("int64", [7, -9_000_000_000, 2**62]),
        "score": ("float", [0.5, -0.25, 1.5]),
        "text": ("bytes", [b"hello", "üñï — unicode".encode("utf-8")]),
        "empty_ints": ("int64", []),
        "empty_bytes": ("bytes", []),
    }
    back = decode_example(encode_example(feats))
    assert back["doc_id"] == ("int64", [7, -9_000_000_000, 2**62])
    assert back["score"][0] == "float"
    assert back["score"][1] == [0.5, -0.25, 1.5]  # f32-exact values
    assert back["text"] == (
        "bytes",
        [b"hello", "üñï — unicode".encode("utf-8")],
    )
    # empty lists keep their kind: the oneof field is present, its
    # list message merely has no values
    assert back["empty_ints"] == ("int64", [])
    assert back["empty_bytes"] == ("bytes", [])


def test_example_encoding_deterministic_and_sorted():
    a = encode_example({"b": ("int64", [1]), "a": ("int64", [2])})
    b = encode_example({"a": ("int64", [2]), "b": ("int64", [1])})
    assert a == b


def test_decoder_accepts_unpacked_repeated_encodings():
    # hand-encode Int64List{value: 5, value: -3} UNPACKED (wire type 0
    # per element) and FloatList{value: 1.5} UNPACKED (wire type 5) —
    # the spec requires parsers to accept both forms.
    def varint(n):
        if n < 0:
            n += 1 << 64
        out = bytearray()
        while True:
            b = n & 0x7F
            n >>= 7
            if n:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
        return bytes(out)

    def ld(field, payload):
        return varint((field << 3) | 2) + varint(len(payload)) + payload

    int64_list = varint(1 << 3) + varint(5) + varint(1 << 3) + varint(
        (1 << 64) - 3
    )
    float_list = varint((1 << 3) | 5) + struct.pack("<f", 1.5)
    example = ld(
        1,  # Features
        ld(1, ld(1, b"ints") + ld(2, ld(3, int64_list)))
        + ld(1, ld(1, b"floats") + ld(2, ld(2, float_list))),
    )
    feats = decode_example(example)
    assert feats["ints"] == ("int64", [5, -3])
    assert feats["floats"] == ("float", [1.5])


def test_repeated_field_occurrences_merge():
    # protobuf merge semantics: Feature{Int64List{[1,2]} Int64List{[3]}}
    # parses as [1,2,3]; a duplicated map-entry value field merges the
    # same way (concatenated serializations)
    def varint(n):
        out = bytearray()
        while True:
            b = n & 0x7F
            n >>= 7
            if n:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
        return bytes(out)

    def ld(field, payload):
        return varint((field << 3) | 2) + varint(len(payload)) + payload

    packed12 = ld(1, varint(1) + varint(2))
    packed3 = ld(1, varint(3))
    feature = ld(3, packed12) + ld(3, packed3)  # Int64List twice
    entry = ld(1, b"ints") + ld(2, feature[: len(ld(3, packed12))]) + ld(
        2, ld(3, packed3)
    )  # value field twice
    example = ld(1, ld(1, entry))
    assert decode_example(example)["ints"] == ("int64", [1, 2, 3])

    # a DIFFERENT oneof member in a later occurrence replaces (oneof
    # assignment clears the previous member)
    switched = ld(1, b"x") + ld(2, ld(3, packed12) + ld(2, ld(1, struct.pack("<f", 1.5))))
    ex2 = ld(1, ld(1, switched))
    assert decode_example(ex2)["x"] == ("float", [1.5])


def test_varint_truncates_to_64_bits():
    # FF*9 7F is the canonical -1 encoding; must not yield a >64-bit int
    def ld(field, payload):
        return bytes([(field << 3) | 2, len(payload)]) + payload

    neg1 = b"\xff" * 9 + b"\x7f"
    example = ld(1, ld(1, ld(1, b"v") + ld(2, ld(3, ld(1, neg1)))))
    assert decode_example(example)["v"] == ("int64", [-1])


def test_float_overflow_writes_inf_not_crash():
    back = decode_example(
        encode_example({"f": ("float", [1e39, -1e39, 1.5])})
    )
    vals = back["f"][1]
    assert vals[0] == float("inf") and vals[1] == float("-inf")
    assert vals[2] == 1.5


def test_null_array_element_refuses_with_column_name():
    from pyprima_spark.sources.tfrecord import _feature_values

    with pytest.raises(ValueError, match="tags"):
        _feature_values("tags", "int64", True, [1, None, 2])


def test_example_decoder_refusals():
    good = encode_example({"a": ("int64", [1])})

    with pytest.raises(ValueError, match="outside the Example subset"):
        decode_example(b"\x10\x01")  # field 2 varint at top level

    with pytest.raises(ValueError, match="truncated"):
        decode_example(good[:-2])

    with pytest.raises(ValueError, match="kind"):
        encode_example({"a": ("int32", [1])})

    # Feature with an out-of-subset field number
    def ld(field, payload):
        return bytes([(field << 3) | 2, len(payload)]) + payload

    bad_feature = ld(1, ld(1, ld(1, b"k") + ld(2, ld(7, b""))))
    with pytest.raises(ValueError, match="outside the Feature subset"):
        decode_example(bad_feature)


@settings(max_examples=60, deadline=None)
@given(
    st.dictionaries(
        st.text(min_size=1, max_size=8),
        st.one_of(
            st.tuples(
                st.just("int64"),
                st.lists(
                    st.integers(min_value=-(2**63), max_value=2**63 - 1),
                    max_size=6,
                ),
            ),
            st.tuples(
                st.just("bytes"),
                st.lists(st.binary(max_size=12), max_size=6),
            ),
        ),
        max_size=5,
    )
)
def test_example_property_roundtrip(feats):
    assert decode_example(encode_example(feats)) == feats


@settings(max_examples=30, deadline=None)
@given(st.lists(st.binary(max_size=64), max_size=8))
def test_framing_property_roundtrip(payloads):
    assert decode_tfrecord_file(encode_tfrecord_file(payloads)) == payloads


# --- Spark legs -----------------------------------------------------------------


def test_spark_write_read_roundtrip_via_file_uri(spark, tmp_path):
    df = spark.createDataFrame(
        [
            (1, "a", 0.5, b"\x00\x01", [1, 2], True),
            (2, None, -0.25, None, [], False),
            (9_007_199_254_740_995, "c", None, b"", None, None),
        ],
        "id bigint, name string, score double, blob binary,"
        " tags array<bigint>, ok boolean",
    )
    uri = "file://" + str(tmp_path / "t.tfrecord")
    man = write_tfrecord_file(df, uri, order_by=["id"]).collect()
    assert man[0]["n_rows"] == 3

    back = read_tfrecord(
        spark,
        str(tmp_path),
        "id bigint, name string, score double, blob binary,"
        " tags array<bigint>, ok boolean",
    )
    rows = {r["id"]: r for r in back.collect()}
    assert set(rows) == {1, 2, 9_007_199_254_740_995}  # >2^53 id exact
    assert rows[1]["name"] == "a" and rows[1]["tags"] == [1, 2]
    assert rows[1]["score"] == 0.5 and rows[1]["blob"] == b"\x00\x01"
    assert rows[1]["ok"] is True
    assert rows[2]["name"] is None and rows[2]["blob"] is None
    assert rows[2]["tags"] == [] and rows[2]["ok"] is False
    big = rows[9_007_199_254_740_995]
    assert big["score"] is None and big["tags"] is None and big["ok"] is None


def test_spark_read_kind_mismatch_raises(spark, tmp_path):
    df = spark.createDataFrame([(1, "x")], "id bigint, name string")
    uri = "file://" + str(tmp_path / "m.tfrecord")
    write_tfrecord_file(df, uri).collect()
    bad = read_tfrecord(spark, str(tmp_path), "id bigint, name double")
    with pytest.raises(Exception, match="requested float"):
        bad.collect()


def test_sharded_write_roundtrip_and_determinism(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, f"doc{i}", float(i % 7) / 4, [i / 2, -2.0]) for i in range(50)],
        "id bigint, name string, score double, vals array<double>",
    )
    out1 = str(tmp_path / "shards1")
    man = write_tfrecord_shards(
        df, out1, n_shards=4, shard_by=["id"], order_by=["id"]
    ).collect()
    assert [m["shard"] for m in man] == [0, 1, 2, 3]
    assert sum(m["n_rows"] for m in man) == 50
    for m in man:
        assert m["path"].endswith(f"part-{m['shard']:05d}-of-00004.tfrecord")

    back = read_tfrecord(
        spark, out1, "id bigint, name string, score double, vals array<double>"
    )
    rows = sorted(back.collect(), key=lambda r: r["id"])
    assert len(rows) == 50
    assert rows[13]["name"] == "doc13" and rows[13]["score"] == 13 % 7 / 4
    assert rows[13]["vals"] == [6.5, -2.0]

    # byte-identical rerun, shard by shard
    out2 = str(tmp_path / "shards2")
    write_tfrecord_shards(
        df, out2, n_shards=4, shard_by=["id"], order_by=["id"]
    ).collect()
    import pathlib

    for k in range(4):
        name = f"part-{k:05d}-of-00004.tfrecord"
        b1 = pathlib.Path(out1, name).read_bytes()
        b2 = pathlib.Path(out2, name).read_bytes()
        assert b1 == b2


def test_sharded_write_empty_shards_still_exist(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "id bigint")
    out = str(tmp_path / "sparse")
    man = write_tfrecord_shards(df, out, n_shards=3, shard_by=["id"]).collect()
    assert len(man) == 3
    assert sum(m["n_rows"] for m in man) == 1
    import pathlib

    for k in range(3):
        p = pathlib.Path(out, f"part-{k:05d}-of-00003.tfrecord")
        assert p.exists()
    # the zero-record shards decode to zero records, not an error
    empties = [m for m in man if m["n_rows"] == 0]
    assert len(empties) == 2
    for m in empties:
        assert decode_tfrecord_file(
            pathlib.Path(m["path"].removeprefix("file://")).read_bytes()
        ) == []

    with pytest.raises(ValueError, match="n_shards"):
        write_tfrecord_shards(df, out, n_shards=0)


def test_spark_read_ext_filter_optional(spark, tmp_path):
    df = spark.createDataFrame([(1,)], "id bigint")
    uri = "file://" + str(tmp_path / "odd_extension.dat")
    write_tfrecord_file(df, uri).collect()
    # default filter sees nothing (no *.tfrecord files) -> binaryFile
    # errors on an empty listing or returns 0 rows; ext_filter=None
    # must read the payload
    got = read_tfrecord(spark, str(tmp_path), "id bigint", ext_filter=None)
    assert [r["id"] for r in got.collect()] == [1]

"""RFC 8949 appendix-A golden vectors, canonical-form enforcement,
and refusals for the CBOR walk."""

import pytest

from knowledge_extraction_pipeline_spark.sources.cborfile import (
    build_cbor,
    cbor_file_spec,
    encode_cbor,
    parse_cbor,
)

# (value, hex) pairs straight from RFC 8949 appendix A
GOLDEN = [
    (0, "00"), (23, "17"), (24, "1818"), (100, "1864"),
    (1000, "1903e8"), (1000000, "1a000f4240"),
    (1000000000000, "1b000000e8d4a51000"),
    (-1, "20"), (-10, "29"), (-1000, "3903e7"),
    ("", "60"), ("a", "6161"), ("IETF", "6449455446"),
    ([], "80"), ([1, 2, 3], "83010203"),
    ([1, [2, 3], [4, 5]], "8301820203820405"),
    ({}, "a0"), ({"a": 1, "b": [2, 3]}, "a26161016162820203"),
    (False, "f4"), (True, "f5"), (None, "f6"),
]


def test_rfc8949_golden_vectors():
    for value, hexs in GOLDEN:
        assert encode_cbor(value) == bytes.fromhex(hexs), value


def test_roundtrip_matches_spec():
    for i in (0, 3, 7, 13, 29):
        r = parse_cbor(build_cbor(i))
        assert r["value"] == cbor_file_spec(i)


def test_canonical_enforcement():
    # non-minimal 1-byte argument for 0 (must be 0x00, not 0x1800)
    with pytest.raises(ValueError):
        parse_cbor(bytes.fromhex("811800"))
    # non-minimal 2-byte argument for 23
    with pytest.raises(ValueError):
        parse_cbor(bytes.fromhex("81190017"))
    # map keys out of canonical (bytewise-encoded) order
    with pytest.raises(ValueError):
        parse_cbor(bytes.fromhex("81a2616201616101"))
    # duplicate map key
    with pytest.raises(ValueError):
        parse_cbor(bytes.fromhex("81a2616101616102"))


def test_refusals():
    with pytest.raises(NotImplementedError):
        parse_cbor(bytes.fromhex("9f01ff"))           # indefinite
    with pytest.raises(NotImplementedError):
        parse_cbor(bytes.fromhex("81c100"))           # tag
    with pytest.raises(NotImplementedError):
        parse_cbor(bytes.fromhex("81fb3ff0000000000000"))  # float
    with pytest.raises(ValueError):
        parse_cbor(bytes.fromhex("8102ff"))           # trailing junk
    with pytest.raises(ValueError):
        parse_cbor(build_cbor(0)[:-2])                # truncated

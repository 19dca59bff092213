"""VERDICT r9 #6: wide_table's maxPartitionBytes guard must parse every
byte-string spelling Spark itself accepts — a unit-suffixed conf used to
throw inside a blanket except and silently disable the scale guard."""

import pytest

from data_ingestion_system_spark.catalog import _parse_bytes


def test_parse_bytes_numeric():
    assert _parse_bytes("134217728") == 134217728


def test_parse_bytes_b_suffix():
    assert _parse_bytes("134217728b") == 134217728


def test_parse_bytes_unit_suffixes():
    assert _parse_bytes("128m") == 128 * 1024 ** 2
    assert _parse_bytes("128MB") == 128 * 1024 ** 2
    assert _parse_bytes("1g") == 1024 ** 3
    assert _parse_bytes("2GB") == 2 * 1024 ** 3
    assert _parse_bytes("512k") == 512 * 1024
    assert _parse_bytes("1tb") == 1024 ** 4


def test_parse_bytes_whitespace_and_case():
    assert _parse_bytes(" 128M ") == 128 * 1024 ** 2


def test_parse_bytes_garbage_raises():
    # the guard must fail LOUDLY on unparseable values, not no-op; int()
    # alone would accept "1_000"
    for garbage in ("128xyz", "1_000", "12 8m", "128bk"):
        with pytest.raises(ValueError):
            _parse_bytes(garbage)

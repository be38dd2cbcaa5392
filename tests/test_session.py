"""Session construction helpers that need no Spark."""

from cloud_dedup_spark.session import _mem_bytes


def test_mem_bytes_parses_jvm_sizes():
    assert _mem_bytes("2011m") == 2011 * 2**20
    assert _mem_bytes("48g") == 48 * 2**30
    assert _mem_bytes("48G") == 48 * 2**30
    assert _mem_bytes("512k") == 512 * 2**10
    assert _mem_bytes("1t") == 2**40
    assert _mem_bytes("1048576") == 2**20


def test_mem_bytes_rejects_other_strings():
    # no pre-touch decision is made on a size that cannot be read
    for s in ("", "g", "2gb", "1.5g", "-2g", "two"):
        assert _mem_bytes(s) is None

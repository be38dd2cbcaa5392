"""Session construction: helpers that need no Spark, and the settings a
session carries."""

from cloud_dedup_spark.session import _default_heap, _mem_bytes


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


def test_default_heap_fits_the_host():
    # 16g on a host with 32 GB or more, half the RAM below that
    assert _default_heap(64 * 2**30) == "16384m"
    assert _default_heap(32 * 2**30) == "16384m"
    assert _default_heap(15 * 2**30) == "7680m"
    assert _default_heap(4 * 2**30) == "2048m"
    assert _mem_bytes(_default_heap(15 * 2**30)) == 15 * 2**29


# non-ASCII cases where the JVM's and ICU's case tables could part ways
_CASE_SAMPLES = [
    "ΟΔΟΣ ΣΑΣ ΣΟΦΟΣ",         # Greek final sigma
    "\u0130STANBUL \u0130i",  # capital I with dot above
    "STRA\u1e9eE \u00df",      # capital and small sharp s
    "\u01c4\u01c5\u01c6\u03a3",  # the DZ digraph's three cases
    "\u212a KELVIN",           # Kelvin sign
    "Déjà Vu // Ünïcödé",
]


def test_case_mapping_on_jvm_tables(spark):
    """lower() runs on the JVM's case tables (session.py), and
    normalize_content gives what it gives with ICU case mapping on."""
    from pyspark.sql import functions as F

    from cloud_dedup_spark.functions.normalize import normalize_content

    key = "spark.sql.icu.caseMappings.enabled"
    assert spark.conf.get(key) == "false"
    newer = "\ua7c0"  # Ꟁ, Unicode 14: newer than the JDK 17 case tables
    samples = [*_CASE_SAMPLES, newer]

    def run():
        # a new frame per setting: a frame's plan is analyzed once and
        # keeps the setting it was first run under
        text = spark.createDataFrame(list(enumerate(samples)), "i int, s string")
        invalid = spark.createDataFrame(
            [(len(samples), bytearray(b"A\xc3(\xff\xfeZ"))], "i int, b binary"
        ).select("i", F.col("b").cast("string").alias("s"))
        rows = text.unionByName(invalid).select("i", normalize_content("s"))
        return [r[1] for r in sorted(rows.collect())]

    jvm = run()
    spark.conf.set(key, "true")
    try:
        icu = run()
    finally:
        spark.conf.set(key, "false")
    i = len(_CASE_SAMPLES)
    assert jvm[:i] + jvm[i + 1:] == icu[:i] + icu[i + 1:]
    assert jvm[0] == "οδος σας σοφος"
    # the known divergence: a case pair the JDK's tables do not have yet
    assert jvm[i] == newer
    assert icu[i] == "\ua7c1"

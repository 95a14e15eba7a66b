"""Unit tests for the SparkSession factory: its JVM flag derivation
(pure string logic) and the confs the shared session reports (the
measured rationale for each setting lives in session.py's comments)."""

from bigdataentityresolution_spark.session import CODEGEN_CACHE_ENTRIES, _jvm_opts


def test_jvm_opts_standard_heap():
    opts = _jvm_opts("24g")
    assert "-XX:+UseParallelGC" in opts
    assert "-Xms24g" in opts
    assert "-XX:+AlwaysPreTouch" in opts
    assert "-Xmn12g" in opts  # young gen = half the heap


def test_jvm_opts_small_heap_skips_young_gen():
    # tiny heaps (CI containers) keep JVM-default young-gen sizing
    assert "-Xmn" not in _jvm_opts("2g")


def test_jvm_opts_non_gig_spec_passthrough():
    # megabyte or exotic specs still pin the heap, skip -Xmn derivation
    opts = _jvm_opts("4096m")
    assert "-Xms4096m" in opts
    assert "-Xmn" not in opts


def test_session_sizes_codegen_cache(spark):
    # a static conf: only the JVM's first session sets it, so get_spark
    # puts it in the builder itself
    conf = spark.conf.get("spark.sql.codegen.cache.maxEntries")
    assert int(conf) == CODEGEN_CACHE_ENTRIES

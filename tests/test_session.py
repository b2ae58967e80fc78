"""Internal Spark confs the engine depends on are honoured by the session."""

from __future__ import annotations


def test_session_reports_internal_codegen_confs(spark):
    """methodSplitThreshold and codegen.cache.maxEntries are internal
    Spark confs (session.py explains both); a Spark upgrade that drops or
    renames either must fail here, not as a silent JIT-warmup regression.
    Besides the session's string view, read the typed values Spark's own
    codegen reads, so a key Spark no longer defines cannot pass."""
    assert spark.conf.get("spark.sql.codegen.methodSplitThreshold") == "256"
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == "5000"
    sql_conf = spark._jsparkSession.sessionState().conf()
    static = spark._jvm.org.apache.spark.sql.internal.StaticSQLConf
    assert sql_conf.methodSplitThreshold() == 256
    assert sql_conf.getConf(static.CODEGEN_CACHE_MAX_ENTRIES()) == 5000

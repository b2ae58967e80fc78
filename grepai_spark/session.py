"""SparkSession factory with scale-oriented defaults.

Local testing runs on local[N]; the same configs are what we would submit with
``spark-submit --py-files`` on a real cluster. AQE is on so skew joins are split
at runtime on top of our explicit salting (SURVEY.md §4).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "grepai-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    # Rule of thumb: shuffle partitions ~ 2x cores locally; on a real cluster this
    # is sized so a post-shuffle partition stays well under executor memory
    # (with AQE coalescing the small ones back together).
    shuffle_partitions = shuffle_partitions or max(2 * cpus, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # InferFiltersFromGenerate synthesizes `size(arr)>0 AND isnotnull(arr)`
        # below every explode; when the array comes from an expensive
        # higher-order-function expression (shingling, minhash), that filter
        # re-evaluates the whole interpreted lambda 2x more per row — measured
        # 3-4x slowdown on the dedup family at sf0.1. The rows it would prune
        # are exploded away anyway.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Generated-class cache (r7, guide §1/§4-adjacent: keep compiled
        # code warm): CodeGenerator's JVM-wide cache holds only 100
        # generated classes by default, and one pass over this engine's
        # query mix compiles several hundred distinct sources (per-query
        # projections/predicates/orderings), so every repeated execution
        # recompiled — and re-JIT-warmed — everything
        # (measured A/B at sf0.1: interleaved 20-query passes run 21-25%
        # faster in total with the cache raised, near-dup LSH verify ~2x).
        # Scale-independent: a per-JVM compile cache of a few thousand
        # small classes, not data; a long-lived serving session (the
        # reference's daemon) is exactly this steady state.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # Generated-METHOD size (r7 follow-up to the cache fix above): the
        # default split threshold (1024 chars of source per method) leaves
        # methods big enough that C2 JIT warmup runs tens of seconds of
        # compile/deopt churn per query mix on slow-clock hosts — measured
        # post-reboot on a 2.1 GHz box: near-dup LSH verify never left its
        # interpreted phase inside the bench's 4 executions (min-of-passes
        # 18.9 s vs a 0.8 s steady floor; ~28k JIT compilations / 115 s of
        # accumulated compiler time per 6 passes, class loading flat, GC
        # <14 s — so warmup, not caching or collection). Splitting at 256
        # restores compile-friendly method sizes: full frozen-bench A/B on
        # that host (Spark 4.1.2) read 257k/254k turns/sec vs 238k
        # unmitigated, with EVERY per-query wall improved (near-dup LSH
        # 18.9 -> 2.2/2.3 s). Scale-independent: bounds generated-code
        # method size, not data. Both codegen confs are internal, so
        # tests/test_session.py asserts the session reports them.
        .config("spark.sql.codegen.methodSplitThreshold", "256")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch size bounds how much text one Python UDF invocation
        # sees — the role the reference's embed-batch caps play
        # (/root/reference/embedder/batch.go:3-9). 10k rows/batch amortizes
        # the per-batch IPC overhead for the mention detector; a remote
        # encoder would re-slice to its own request cap inside the UDF.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    # ad-hoc experiment overrides: "key=value;key=value"
    for kv in os.environ.get("SPARK_GRAFT_EXTRA_CONF", "").split(";"):
        if "=" in kv:
            k, _, v = kv.partition("=")
            b = b.config(k.strip(), v.strip())
    return b.getOrCreate()

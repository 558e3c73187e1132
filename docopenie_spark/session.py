"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[N]`` but every knob here is chosen for the
1000-executor / 100 TB case and degrades gracefully to local mode:

- AQE on (runtime coalescing, skew-join splitting) — the skew story for
  hot conversations is salting (operators/assembly.py) *plus* AQE.
- Arrow enabled + bounded batch size: every NLP stage is an Arrow UDF;
  maxRecordsPerBatch bounds Python-worker memory per batch the same way
  the reference bounds work with grouped(100) batches
  (reference: prep/KbpSentenceParser.scala:73).
- shuffle.partitions scales with parallelism; at cluster scale this is
  set to ~2-3x total cores by the submitter, AQE coalesces down.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import SparkSession

ARROW_BATCH = 10_000  # rows per Arrow batch handed to pandas UDFs

# ------------------------------------------------------- shared broadcasts
#
# A Broadcast pickles into a UDF closure BY ID, so two otherwise
# identical Python-stage plans built from separate ``sc.broadcast``
# calls carry different command bytes and never match in CacheManager's
# canonical-plan lookup — measured r7: every fresh
# ``annotate()``/``parse_extract_annotate`` subtree missed an already-
# registered persist of the identical pass. Returning the SAME Broadcast
# for identical dictionary content restores plan equality. This shares
# static config data (name dictionaries), never computed results.
_BCAST_BY_CONTENT: dict = {}
_BCAST_LOCK = threading.Lock()


def content_broadcast(sc, value, key=None):
    """Broadcast ``value``, reusing the same Broadcast object for an
    identical (SparkContext, content) pair. ``key`` defaults to ``value``
    and must be hashable; pass an explicit key for unhashable values."""
    k = (sc.applicationId, type(value).__name__,
         key if key is not None else value)
    with _BCAST_LOCK:
        b = _BCAST_BY_CONTENT.get(k)
        if b is None:
            # entries from stopped contexts are dead weight — drop them
            for dead in [kk for kk in _BCAST_BY_CONTENT
                         if kk[0] != sc.applicationId]:
                del _BCAST_BY_CONTENT[dead]
            b = sc.broadcast(value)
            _BCAST_BY_CONTENT[k] = b
    return b


def get_spark(
    app_name: str = "docopenie-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % (
        os.environ.get("SPARK_GRAFT_CPUS", "*")
    )
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        shuffle_partitions = int(cpus) if cpus else 32

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Arrow-UDF stages are CPU-bound per ROW, not per byte: AQE
        # coalesces by COMPRESSED shuffle bytes, and the template-heavy
        # corpus lz4-compresses ~100:1, so even the 64 KiB floor let AQE
        # collapse the exchange feeding the fused NLP pass to ONE
        # partition (measured r7: the whole 40k-turn Python stage ran as
        # a single task; 1 KiB floor restores 32-way parallelism and
        # cuts the fused pass 5.5s → 2.5s). Scale-safe: with
        # parallelismFirst (default), the coalesce target is
        # max(totalBytes/defaultParallelism, minPartitionSize), so any
        # real-sized shuffle is governed by the first term and the floor
        # only bites on tiny shuffles, where extra small tasks are
        # cheap. Parameterised for cluster submitters.
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            os.environ.get("SPARK_GRAFT_AQE_MIN_PARTITION", "1k"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.sql.session.timeZone", "UTC")
        # measured in this sandbox: LARGER heaps run slower (8g: 65s,
        # 16g: 103s, 24g: 136s for the same 1M-turn job) — fresh-page
        # faults are expensive under the hypervisor, so a hot small heap
        # beats a big cold one. Override with SPARK_DRIVER_MEM.
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()

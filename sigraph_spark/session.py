"""SparkSession factory tuned for the KG-construction pipeline.

Scale posture (designed for a 1000-executor cluster, tested on local[k]):

* AQE on, with skew-join splitting — head entities (high-degree URLs/hosts)
  produce skewed shuffle partitions during edge aggregation; AQE splits them
  at runtime and our salting helper (operators/skew.py) handles the
  pathological long tail.
* Explicit ``spark.sql.shuffle.partitions`` — sized by caller per scale
  factor; the default here targets local[32] test runs. On a real cluster
  this is ~2-3x total cores.
* Arrow enabled for the two pandas-UDF stages (text extraction, triple
  matching); everything else is pure Column expressions inside whole-stage
  codegen.
* ICU case mappings off (``spark.sql.icu.caseMappings.enabled``). The
  first ``lower``/``upper`` of a Spark 4 JVM otherwise initializes
  ``CollationAwareUTF8String``, which builds an ICU title-case table over
  all 1,114,112 code points for ``initcap`` alone (nothing here calls it):
  ~2 s of fixed CPU in every fresh session's first entity normalization.
  Off, UTF8_BINARY ``lower``/``upper`` take Spark 3.x's path (ASCII fast
  path, else the JVM's full Unicode mapping) — the same fold apart from
  characters whose mapping changed between the JDK's and ICU's Unicode
  versions.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "sigraph-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with pipeline-appropriate defaults."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % (
        os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))

    # Shuffle/spill local dirs belong on the fastest local storage (on a
    # real cluster: per-node NVMe via SPARK_LOCAL_DIRS). In this sandbox
    # the default /tmp is ext4 behind a hypervisor whose concurrent-write
    # path BURNS CPU IN-KERNEL: at local[32] the pure-JVM graph job
    # measured 3.9x executorCpuTime inflation (85s vs 23s) and ran slower
    # than local[8] purely from shuffle-file writes — root-caused in
    # tools/diag_graph_scaling.py. tmpfs restores CPU parity. Precedence:
    # an explicit SPARK_LOCAL_DIRS / SPARK_GRAFT_LOCAL_DIR wins.
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if (
        not local_dir
        and "SPARK_LOCAL_DIRS" not in os.environ
        and os.access("/dev/shm", os.W_OK)
    ):
        local_dir = "/dev/shm/sigraph-spark-local"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        # deterministic float behavior for golden hashing
        .config("spark.sql.legacy.allowHashOnMapType", "false")
        # Spark 4's ICU lower/upper builds a title-case table over every
        # code point on first use. Measured at local[4] on a 4-core VM: a
        # fresh session's 20k-row lower() distinct takes 2.9-4.2 s on and
        # 1.2-1.9 s off; the first crawl rebuild's link_entities leg drops
        # from 6.9 s to 5.0 s. Only initcap reads the table.
        .config("spark.sql.icu.caseMappings.enabled", "false")
    )
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    return builder.getOrCreate()

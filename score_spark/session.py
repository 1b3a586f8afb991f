"""SparkSession factory.

Local mode mirrors the cluster posture: AQE on (runtime re-planning, skew-join
splitting, partition coalescing), nested schema pruning on (the built-in half of
the ScORe story for Parquet/ORC), Arrow for the few pandas-UDF paths. Shuffle
partitions default to the local core count; on a real cluster you would size
this to ~2-3x total executor cores or rely on AQE coalescing from a higher
initial value.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_shuffle_partitions(master: str, cpus: int) -> int:
    """Derive the shuffle width from the RESOLVED master, not the env var:
    a caller passing master="local[4]" previously got the env default (32)
    — 8x the promised "shuffle partitions default to the local core count"
    (review r8). Non-local masters keep the env-sized default; real
    clusters should pass shuffle_partitions explicitly anyway."""
    import re

    m = re.fullmatch(r"local\[(\d+|\*)\]", master)
    if m:
        return (os.cpu_count() or cpus) if m.group(1) == "*" else int(m.group(1))
    return cpus


def _default_cpus() -> int:
    """Cores this process may run on (its affinity mask, which a container
    or taskset narrows below os.cpu_count())."""
    return len(os.sched_getaffinity(0))


def _default_driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """min(32g, half of physical RAM): a driver heap sized past the host's
    RAM lets the JVM grow until the kernel kills it instead of failing fast
    on its own heap limit."""
    with open(meminfo) as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return f"{min(32 << 10, int(line.split()[1]) >> 11)}m"
    raise ValueError(f"no MemTotal line in {meminfo}")


def get_session(
    app_name: str = "score-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or _default_cpus())
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = _default_shuffle_partitions(master, cpus)

    # AQE stays ON by default (runtime re-planning, skew-join splitting,
    # partition coalescing — the correct posture for real data sizes). The
    # env knob exists because AQE materializes every exchange as a separate
    # query stage with a driver re-plan in between, a measured ~0.1-0.15 s
    # per exchange of pure latency that dominates sub-second local queries;
    # a latency-sensitive local run can opt out without touching code.
    aqe_raw = os.environ.get("SPARK_GRAFT_AQE", "true").strip().lower()
    aqe = "false" if aqe_raw in ("false", "0", "no", "off") else "true"

    # vendored extension jars (e.g. the minimal Avro connector built by
    # vendor/build_avro_jar.sh — the upstream spark-avro module is external
    # and this environment has no network to fetch it). spark.jars only
    # applies at JVM launch, so the jars land on the first session of the
    # process; SCORE_SPARK_EXTRA_JARS prepends additional paths.
    vendor_dir = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "vendor")
    jars = [
        os.path.join(vendor_dir, j)
        for j in (sorted(os.listdir(vendor_dir)) if os.path.isdir(vendor_dir) else [])
        if j.endswith(".jar")
    ]
    extra_jars = os.environ.get("SCORE_SPARK_EXTRA_JARS", "")
    if extra_jars:
        jars = extra_jars.split(",") + jars

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", aqe)
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # parallelismFirst stays at Spark's DEFAULT (true): r1-r12 overrode
        # it to false so small intermediate shuffles collapse to few tasks,
        # on an sf0.1 measurement ("0.1-0.25 s saved, no effect once
        # partitions carry real data") that turned out to be wrong on both
        # counts. The sf1 stage-timeline probe (SCALE.md "End-to-end
        # wall-clock at sf1"; BASELINE.md "sf1 stage-timeline probe
        # catches a 12-round-old AQE misconfiguration (r13)") caught the
        # override coalescing every post-shuffle stage carrying ~1-64 MB to
        # 1-4 tasks — q04's semi join ran as ONE 3.2 s task on 32 idle
        # cores — and a same-session ABAB at BOTH SFs measured the default
        # 2-4.6x faster at sf1 (q04 2.9 -> 1.0 s, w01 3.0 -> 0.7 s,
        # countDistinct pair 3.7 -> 0.8 s) and equal-or-faster at sf0.1
        # (12-query sums 4.9/3.8 false vs 4.0/3.6 true). The default still
        # collapses genuinely tiny shuffles (minPartitionSize floor), and on
        # a real cluster it is the posture that keeps intermediate stages as
        # wide as the executor fleet.
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # runtime-size broadcast decisions (AQE) get a wider budget than the
        # static 10 MB default: unhinted plans (d02's shingle-freq/doc-size
        # joins) stay shuffle joins at 100 TB because the tables genuinely
        # grow, but AQE converts them to broadcasts whenever the MEASURED
        # side fits 64 MB — the bounded mechanism that replaced r1's
        # unbounded broadcast hints (VERDICT r2 "Next round" #5)
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        # shuffle codec (guide §2.3), decision record in SCALE.md "Shuffle
        # codec": the sf1 codec probe measured zstd at 44% fewer
        # shuffle bytes (177 -> 99 MB over the d02+d04 suite) but ~0.8 s
        # MORE d02 wall locally — a local[N] "shuffle" never touches a NIC,
        # so compression CPU is pure overhead here. Default stays lz4 for
        # the latency-bound local regime; a network-bound cluster run
        # should set SPARK_GRAFT_SHUFFLE_CODEC=zstd to trade that CPU for
        # 1.8x fewer bytes on the wire.
        .config(
            "spark.io.compression.codec",
            os.environ.get("SPARK_GRAFT_SHUFFLE_CODEC", "lz4"),
        )
        # write timestamps as INT64 micros, not the deprecated INT96: INT96
        # row groups carry NO min/max statistics, which silently disables
        # row-group skipping for every time-range predicate over data this
        # engine writes (proven by footer audit in tests/test_sinks.py)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or _default_driver_memory())
    )
    if jars:
        builder = builder.config("spark.jars", ",".join(jars))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()

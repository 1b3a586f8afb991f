"""io helpers: byte-size conf parsing and fan_out's packed-task estimate."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from score_spark.io import fan_out, parse_byte_size


def test_parse_byte_size_full_suffix_set():
    assert parse_byte_size("134217728") == 134217728
    assert parse_byte_size("128m") == 128 << 20
    assert parse_byte_size("128MB") == 128 << 20
    assert parse_byte_size("1g") == 1 << 30
    assert parse_byte_size("2k") == 2 << 10
    assert parse_byte_size("1t") == 1 << 40
    assert parse_byte_size("1p") == 1 << 50
    assert parse_byte_size("1.5m") == int(1.5 * (1 << 20))


def test_parse_byte_size_rejects_garbage():
    with pytest.raises(ValueError, match="unparseable"):
        parse_byte_size("12 parsecs")
    assert parse_byte_size("12 parsecs", default=7) == 7


def test_fan_out_repartitions_small_single_file(spark, tmp_path):
    """One tiny file bin-packs into one scan task -> fan_out must widen it
    even though len(inputFiles) == 1 < target was already true; the point is
    the packing estimate, not the raw file count."""
    p = str(tmp_path / "small.parquet")
    spark.range(1000).write.parquet(p)
    df = spark.read.parquet(p)
    out = fan_out(df, min_partitions=8, min_bytes_per_task=0)
    assert out.rdd.getNumPartitions() == 8


def test_fan_out_many_tiny_files_still_widens(spark, tmp_path):
    """Many tiny files pack into FEW scan tasks (size + openCost binning), so
    fan_out must still repartition — the r2 heuristic (raw file count >=
    target) no-op'd here and under-parallelized (ADVICE r2)."""
    p = str(tmp_path / "tiny.parquet")
    spark.range(100, numPartitions=10).write.parquet(p)  # 10 files, ~500 B each
    df = spark.read.parquet(p)
    # 10 files x (500 B + 4 MB open cost) ≈ 40 MB padded; bytes_per_core on
    # local[32] ≈ 1.25 MB -> max_split = max(openCost, bpc) = 4 MB -> ~10
    # estimated tasks... with openCost padding the estimate stays >= target
    # only when it truly packs wide. Ask for more than the packed estimate:
    out = fan_out(df, min_partitions=16, min_bytes_per_task=0)
    assert out.rdd.getNumPartitions() == 16


def test_fan_out_density_cap_skips_tiny_inputs(spark, tmp_path):
    """Default density cap: an input too small to fill two tasks at
    min_bytes_per_task stays un-shuffled — spreading ~KB of ns-per-byte work
    across cores costs more than the exchange saves. min_bytes_per_task=0
    (the decoder path) restores the unconditional spread."""
    p = str(tmp_path / "tiny2.parquet")
    spark.range(100, numPartitions=1).write.parquet(p)
    df = spark.read.parquet(p)
    assert fan_out(df, min_partitions=8) is df
    assert fan_out(df, min_partitions=8, min_bytes_per_task=0).rdd.getNumPartitions() == 8


def test_parse_byte_size_bare_b_suffix():
    """Spark's JavaUtils.byteStringAs accepts a bare 'b' bytes suffix —
    previously '1000000b' silently fell through to the default (review r8)."""
    assert parse_byte_size("134217728b") == 134217728
    assert parse_byte_size("1000000b", default=7) == 1000000


def test_load_table_events_returns_normalized_timestamps(spark, sf_dir):
    """The PUBLIC load_table surface must hand out the ts-normalized events
    frame: load_events previously parked its RAW bigint/ntz read in the
    shared table cache, so load_table('events') after load_events silently
    returned un-normalized timestamps (review r8)."""
    from score_spark.io import load_events, load_table

    load_events(spark, sf_dir)  # populate caches in the hazardous order
    e = load_table(spark, sf_dir, "events")
    assert dict(e.dtypes)["ts"] == "timestamp"


def test_sum_token_len_accumulates_in_bigint(spark):
    """The length-sum fold must seed BIGINT: an int seed accumulated in
    int32, wrapping (ANSI off) or throwing (ANSI on) past 2^31 total token
    characters while the DuckDB mirror summed wide (review r8)."""
    from score_spark.functions.text import sum_token_len

    df = spark.createDataFrame([("a b",)], ["text"]).select(
        sum_token_len().alias("s")
    )
    assert dict(df.dtypes)["s"] == "bigint"
    assert df.first()["s"] == 2


def test_default_shuffle_partitions_follow_resolved_master():
    """shuffle_partitions derives from the RESOLVED master (review r8: a
    caller passing master='local[4]' silently got the 32-wide env default).
    Asserted on the pure helper — a live local[4] session would collide
    with the shared test session."""
    import os

    from score_spark.session import _default_shuffle_partitions

    assert _default_shuffle_partitions("local[4]", 32) == 4
    assert _default_shuffle_partitions("local[32]", 32) == 32
    assert _default_shuffle_partitions("local[*]", 32) == (os.cpu_count() or 32)
    assert _default_shuffle_partitions("spark://host:7077", 32) == 32


def test_session_defaults_follow_the_host(monkeypatch, tmp_path):
    """SPARK_GRAFT_CPUS defaults to the usable cores and the driver heap to
    min(32g, half of RAM), not a fixed 32 cores / 32g. Asserted on the pure
    helpers — a second session would need a second JVM."""
    from score_spark.session import _default_cpus, _default_driver_memory

    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: {0, 2, 5})
    assert _default_cpus() == 3

    def meminfo(text):
        p = tmp_path / "meminfo"
        p.write_text(text)
        return str(p)

    assert _default_driver_memory(meminfo("MemFree: 1 kB\nMemTotal: 15728640 kB\n")) == "7680m"
    assert _default_driver_memory(meminfo("MemTotal: 268435456 kB\n")) == "32768m"  # capped at 32g
    with pytest.raises(ValueError):
        _default_driver_memory(meminfo("MemFree: 1 kB\n"))


def _shuffled_rows(spark) -> list[list[int]]:
    df = spark.range(2000).groupBy((F.col("id") % 7).alias("k")).agg(F.sum("id").alias("s"))
    return [list(r) for r in df.orderBy("k").collect()]


def test_shuffle_codec_knob_reaches_the_session(spark):
    """SPARK_GRAFT_SHUFFLE_CODEC=zstd sets spark.io.compression.codec and a
    shuffle query returns the same rows as under the lz4 default. In a
    subprocess because the codec is fixed when the JVM starts."""
    script = (
        "import json\n"
        "from score_spark.session import get_session\n"
        "from tests.test_io import _shuffled_rows\n"
        "spark = get_session(master='local[2]')\n"
        "codec = spark.sparkContext.getConf().get('spark.io.compression.codec')\n"
        "print(json.dumps([codec, _shuffled_rows(spark)]))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_SHUFFLE_CODEC="zstd", SPARK_DRIVER_MEMORY="1g")
    r = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, cwd=repo, env=env, timeout=300
    )
    assert r.returncode == 0, (r.stdout + r.stderr)[-2000:]
    codec, rows = json.loads(r.stdout.strip().splitlines()[-1])
    assert codec == "zstd"
    if "SPARK_GRAFT_SHUFFLE_CODEC" not in os.environ:
        assert spark.sparkContext.getConf().get("spark.io.compression.codec") == "lz4"
    assert rows == _shuffled_rows(spark)
    assert len(rows) == 7


def test_parse_byte_size_overflow_returns_default():
    """float('1e999') * unit is inf; int(inf) raises OverflowError, which
    must honor the same return-default-or-ValueError contract as any other
    unparseable form (review r9)."""
    import pytest

    from score_spark.io import parse_byte_size

    assert parse_byte_size("1e999m", default=42) == 42
    with pytest.raises(ValueError):
        parse_byte_size("1e999m")


def test_fan_out_nonfile_source_skips_useless_shuffle(spark):
    """A derived (non-file) frame with target <= 1 must come back without a
    repartition exchange — round-robining every row into the same single
    partition is pure cost (review r9)."""
    from score_spark.io import fan_out

    df = spark.createDataFrame([(1,), (2,)], "x bigint")
    out = fan_out(df, min_partitions=1)
    assert "Exchange" not in out._jdf.queryExecution().optimizedPlan().toString()

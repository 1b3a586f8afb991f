"""suite_heavy: the eleven registry queries that run Spark jobs or writes
while they are built (d02-d05, s02-s05, k01, h01, p01), each constructed and
run into the noop sink. One end-to-end op is one pass over all eleven.

Set-up checks every query once against its DuckDB oracle (the same canon
hash and declared-dtype check as tools/driver_sim.py); that pass is also the
untimed warm-up. The timed window runs whole passes in an order shuffled from
the seed. The xcheck oracle-channel seconds are drained after each op and
kept out of its latency, as bench.py does.
"""

from __future__ import annotations

import hashlib
import os
import random
import time
from concurrent.futures import ThreadPoolExecutor, as_completed
from types import SimpleNamespace

from common import EngineReader, footer_ratio, jvm_gc, python_worker_cpu_s, sf_dir

QUERIES = (
    "d02_ngram_jaccard",
    "d03_minhash_lsh",
    "d04_simhash",
    "d05_dup_clusters",
    "h01_time_rollup",
    "k01_bucketed_join",
    "p01_pruned_rewrite",
    "s02_embedding_near_dups",
    "s03_ann_lsh",
    "s04_ann_ivf",
    "s05_near_dup_lsh",
)
SF_DIR = sf_dir()
WARM_THREADS = 3
PASS_S = 30.0


def _frame_hash(pdf) -> str:
    from tools.driver_sim import canon

    return hashlib.md5(canon(pdf).to_csv(index=False).encode()).hexdigest()


class _Oracle:
    """DuckDB over the sf dir's parquet files, on one worker thread so the
    oracle of query k runs while Spark builds query k+1. Query k's xcheck
    files are not rewritten until the timed window, which starts only after
    every oracle has finished."""

    def __init__(self) -> None:
        self._pool = ThreadPoolExecutor(max_workers=1, thread_name_prefix="perfbench-duckdb")
        self._con = None

    def _connect(self):
        import duckdb

        from score_spark.io import TABLES

        con = duckdb.connect()
        con.execute("SET threads=2")
        con.execute(f"SET temp_directory='{os.environ['TMPDIR']}'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
        return con

    def _check(self, sql: str, spark_schema, spark_hash: str) -> str | None:
        from tools.driver_sim import canon, dtype_skews

        if self._con is None:
            self._con = self._connect()
        rel = self._con.sql(sql)
        skews = dtype_skews(SimpleNamespace(schema=spark_schema), rel)
        if skews:
            return "dtype skew: " + "; ".join(skews)
        expected = hashlib.md5(canon(rel.fetchdf()).to_csv(index=False).encode()).hexdigest()
        return None if expected == spark_hash else "hash mismatch"

    def submit(self, sql: str, spark_schema, spark_hash: str):
        return self._pool.submit(self._check, sql, spark_schema, spark_hash)

    def close(self) -> None:
        self._pool.shutdown(wait=True)
        if self._con is not None:
            self._con.close()


class SuiteHeavy:
    # Its peak RSS is steady on G1's defaults (spread 0.07-0.11), and a heap
    # sized by live data slowed its passes by GC.
    LIVE_SIZED_HEAP = False

    def __init__(self, spark, seed: int, tracer) -> None:
        from score_spark.queries import ORACLE, QUERIES as REGISTRY

        self.spark = spark
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.registry = REGISTRY
        self.oracle_sql = ORACLE
        missing = [q for q in QUERIES if q not in REGISTRY or q not in ORACLE]
        if missing:
            raise RuntimeError(f"queries missing from the registry or oracle set: {missing}")
        self.check_errors: dict[str, str] = {}
        self.ops: list[dict] = []
        self.scan_bytes_ratio = self.kept_leaf_ratio = None
        self.fallbacks = 0
        self.phases: dict[str, float] = {}
        self.engine = None
        self.jvm_pid = None

    # ------------------------------------------------------------- set-up

    def _warm_one(self, name: str):
        df = self.registry[name](self.spark, SF_DIR)
        return df, _frame_hash(df.toPandas())

    def setup(self) -> None:
        """Warm pass = check pass: build every query and hash its rows, on
        WARM_THREADS client threads (the cold first pass is codegen- and
        JIT-bound, and overlapping queries shortens it); each finished query
        is checked against its DuckDB oracle and its plan analyzed for the
        footer audit."""
        from score_spark.schema_on_read import SchemaOnRead

        oracle = _Oracle()
        pending = {}
        audit = []
        try:
            with ThreadPoolExecutor(max_workers=WARM_THREADS, thread_name_prefix="perfbench-warm") as pool:
                futures = {pool.submit(self._warm_one, name): name for name in QUERIES}
                for fut in as_completed(futures):
                    name = futures[fut]
                    try:
                        df, spark_hash = fut.result()
                    except Exception as e:
                        self.check_errors[name] = f"{type(e).__name__}: {str(e)[:300]}"
                        continue
                    pending[name] = oracle.submit(self.oracle_sql[name], df.schema, spark_hash)
                    sor = SchemaOnRead.generate(df)
                    self.fallbacks += sor._failed
                    for rel in sor.relations:
                        if all(SF_DIR in p for p in rel.root_paths):
                            audit.append((rel.root_paths[0], rel.full_schema, sor.for_paths(*rel.root_paths)))
            for name, fut in pending.items():
                err = fut.result()
                if err:
                    self.check_errors[name] = err
        finally:
            oracle.close()
        jvm_gc(self.spark)
        self.scan_bytes_ratio, self.kept_leaf_ratio = footer_ratio(audit)
        if self.tracer is not None:
            self.engine = EngineReader(self.spark)
            self.jvm_pid = self.spark.sparkContext._gateway.proc.pid

    # --------------------------------------------------------- timed window

    def run(self, seconds: float, on_first_op) -> None:
        """A fixed number of whole passes, one per PASS_S of the window (at
        least one), each in an order shuffled from the seed."""
        from score_spark import xcheck

        xcheck.drain_oracle_sec()
        for n in range(max(1, int(seconds // PASS_S))):
            order = list(QUERIES)
            self.rng.shuffle(order)
            for name in order:
                if not self.ops:
                    on_first_op()
                self.ops.append(self._op(name))
                self.ops[-1]["pass"] = n

    def samples(self) -> list[tuple[float, bool]]:
        """End-to-end samples: one per pass. A pass holds one op per query;
        the median of eleven unlike queries is one query's latency, and it
        jumps whenever two queries of similar latency swap places, so the
        end-to-end latency is the pass's summed op latency (oracle-channel
        and between-op GC excluded) and the per-query numbers are per-layer
        rows."""
        passes: dict[int, list[dict]] = {}
        for o in self.ops:
            passes.setdefault(o["pass"], []).append(o)
        return [
            (sum(o["latency_s"] for o in ops), all(o["ok"] for o in ops))
            for ops in passes.values()
        ]

    def _op(self, name: str) -> dict:
        from score_spark import xcheck

        tr = self.tracer
        rec = {"name": name, "ok": True, "op": len(self.ops)}
        if tr is not None:
            tr.op = rec["op"]
            cpu0 = python_worker_cpu_s(self.jvm_pid)
            jobs0 = self.engine.spark_next_job()
            wall0 = time.time()
        t0 = time.perf_counter()
        try:
            if tr is None:
                self.registry[name](self.spark, SF_DIR).write.format("noop").mode("overwrite").save()
            else:
                with tr.span("op"):
                    with tr.span("queries.construct"):
                        c0 = time.perf_counter()
                        df = self.registry[name](self.spark, SF_DIR)
                        rec["construct_s"] = time.perf_counter() - c0
                    rec["construct_jobs"] = self.engine.spark_next_job() - jobs0
                    with tr.span("engine.execute"):
                        df.write.format("noop").mode("overwrite").save()
                    del df
        except Exception as e:  # one failed op must not end the run
            rec["ok"] = False
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        elapsed = time.perf_counter() - t0
        rec["oracle_s"] = xcheck.drain_oracle_sec()
        rec["latency_s"] = elapsed - rec["oracle_s"]
        if name in self.check_errors:
            rec["ok"] = False
        if tr is not None:
            tr.op = None
            rec["engine"] = self.engine.read(time.time() - wall0)
            rec["pyudf_cpu_s"] = python_worker_cpu_s(self.jvm_pid) - cpu0
        jvm_gc(self.spark)
        return rec

    # ------------------------------------------------------------- metrics

    def per_layer(self) -> dict[str, tuple[float, str]]:
        ops = self.ops
        n = len(ops)

        def mean(key):
            return sum(o[key] for o in ops) / n

        def engine(key):
            return sum(o["engine"][key] for o in ops) / n

        out = {
            "queries.construct_s": (mean("construct_s"), "s"),
            "queries.construct_jobs": (mean("construct_jobs"), "count"),
            "engine.jobs": (engine("jobs"), "count"),
            "engine.stages": (engine("stages"), "count"),
            "engine.tasks": (engine("tasks"), "count"),
            "engine.exchanges": (engine("exchanges"), "count"),
            "engine.driver_gap_s": (engine("driver_gap_s"), "s"),
            "engine.exec_cpu_s": (engine("exec_cpu_s"), "s"),
            "engine.exec_run_s": (engine("exec_run_s"), "s"),
            "engine.gc_s": (engine("gc_s"), "s"),
            "engine.shuffle_write_bytes": (engine("shuffle_write_bytes"), "bytes"),
            "engine.input_bytes": (engine("input_bytes"), "bytes"),
            "pyudf.nodes": (engine("pyudf_nodes"), "count"),
            "pyudf.worker_cpu_s": (mean("pyudf_cpu_s"), "s"),
            "xcheck.oracle_s": (mean("oracle_s"), "s"),
            "sor.kept_leaf_ratio": (self.kept_leaf_ratio, "ratio"),
            "sor.fallback_rate": (self.fallbacks / len(QUERIES), "ratio"),
        }
        for q in QUERIES:
            lat = sorted(o["latency_s"] for o in ops if o["name"] == q)
            out[f"query.{q}_ms"] = (lat[len(lat) // 2] * 1e3 if lat else 0.0, "ms")
        return out

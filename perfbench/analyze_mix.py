"""analyze_mix: one op is ``SchemaOnRead.generate(df)`` plus ``for_paths``
for each source the plan reads. The DataFrame is built and analyzed
(``df.schema``) outside the timer, so the analyzer does all of the op's
work and no Spark job runs inside it.

Each op's plan is a seeded draw from two pools:
  * the 39 registry queries that bench.py compares against DuckDB, built
    construct-only from the per-module QUERIES dicts, so every draw is a new
    plan with fresh exprIds;
  * nested shape families (aggregate, window, explode, higher-order
    function, set operation, subquery expression, CTE, join of 2-3 sources)
    over Parquet, JSON and Avro copies of a seeded wide-nested fixture, with
    nesting depth 1-3 of the leaf they use and 0-4 projections chained before
    it.
Ops come in whole rounds of a fixed mix (every family on every format, ten
suite plans, eight re-analyses) in seeded order. A re-analysis draws an earlier
plan from the last WORKING_SET built plans, three times the analyzer's
64-entry plan memo.

Checks (untimed): every op's pruned schemas must be non-empty and only narrow
the full schema; per sub-shape (every family and variant), the query re-built
on pruned re-reads must return the same rows as on full reads.
"""

from __future__ import annotations

import functools
import json
import os
import random
import time
import types
from collections import deque

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from common import footer_ratio, sf_dir
from suite_heavy import QUERIES as HEAVY

SF_DIR = sf_dir()
FIXTURE_ROWS = 2000
SUITE_PER_ROUND = 10
REANALYZE_PER_ROUND = 8
WORKING_SET = 192
WARM_SUITE_PLANS = 4
ROUND_S = 5.0
FORMATS = {"parquet": "parquet", "json": "json", "avro": "avro_minimal"}
LEAVES = {1: "meta.a", 2: "payload.nested.small", 3: "payload.nested.deep.x"}


# ------------------------------------------------------------------ fixture


def _fixture_rows(seed: int, salt: str) -> list[dict]:
    """Wide-nested rows: a few narrow leaves buried between incompressible
    random strings, at nesting depths 1-3, plus arrays of structs."""
    rng = random.Random(f"{seed}-{salt}")
    m1, m2, m3 = 5 + seed % 7, 3 + seed % 5, 11 + seed % 13

    def fat() -> str:
        return rng.getrandbits(256).to_bytes(32, "little").hex()

    return [
        {
            "id": i,
            "k": i % m3,
            "meta": {"a": i % m1, "b": fat(), "tags": ["x", f"t{i % 4}"]},
            "payload": {
                "big1": fat(),
                "nested": {
                    "small": i % m2,
                    "big3": fat() + fat(),
                    "deep": {"x": i * 3 % 101, "fat": fat()},
                },
                "items": [{"x": i % (j + m1), "fat": fat()} for j in (1, 2, 3)],
            },
            "arr": [{"x": i * j % 97, "y": (i + j) % m2, "fat": fat()} for j in (1, 2, 3, 4)],
        }
        for i in range(FIXTURE_ROWS)
    ]


def _arrow_schema():
    import pyarrow as pa

    long, text = pa.int64(), pa.string()
    return pa.schema([
        ("id", long),
        ("k", long),
        ("meta", pa.struct([("a", long), ("b", text), ("tags", pa.list_(text))])),
        ("payload", pa.struct([
            ("big1", text),
            ("nested", pa.struct([
                ("small", long),
                ("big3", text),
                ("deep", pa.struct([("x", long), ("fat", text)])),
            ])),
            ("items", pa.list_(pa.struct([("x", long), ("fat", text)]))),
        ])),
        ("arr", pa.list_(pa.struct([("x", long), ("y", long), ("fat", text)]))),
    ])


def _write_fixture(rows: list[dict], path: str, fmt: str) -> None:
    """Parquet through pyarrow and JSON lines from Python: no Spark job."""
    os.makedirs(path)
    if fmt == "parquet":
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(pa.Table.from_pylist(rows, schema=_arrow_schema()), os.path.join(path, "part-0.parquet"))
    else:
        with open(os.path.join(path, "part-0.json"), "w") as f:
            f.writelines(json.dumps(r) + "\n" for r in rows)


# ----------------------------------------------------------- shape families
# Each family builds a query from reads {"t0": main (any format), "t1"/"t2":
# parquet side tables}, the leaf it uses, the projection-chain length and a
# variant number that picks between sub-shapes.


def _chain(df, leaf: str, chain: int):
    col = F.col(leaf)
    for i in range(chain):
        df = df.withColumn(f"c{i}", col + i)
        col = F.col(f"c{i}")
    return df, col


def _agg(r, leaf, chain, v):
    df, c = _chain(r["t0"], leaf, chain)
    return df.groupBy(F.col("meta.a").alias("g")).agg(
        F.sum(c).alias("s"), F.max(F.size("arr")).alias("n")
    )


def _window(r, leaf, chain, v):
    df, c = _chain(r["t0"], leaf, chain)
    w = Window.partitionBy("k").orderBy(c, "id")
    fn = F.row_number() if v % 2 == 0 else F.dense_rank()
    return df.select("id", "k", c.alias("v"), fn.over(w).alias("rk")).filter("rk <= 3")


def _explode(r, leaf, chain, v):
    df, c = _chain(r["t0"], leaf, chain)
    if v % 2 == 0:
        e = df.select(c.alias("v"), F.explode("arr").alias("e"))
    else:
        e = df.select(c.alias("v"), F.posexplode("payload.items").alias("pos", "e"))
    return e.groupBy((F.col("e.x") % 5).alias("b")).agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    )


def _hof(r, leaf, chain, v):
    df, c = _chain(r["t0"], leaf, chain)
    return df.select(
        "id",
        F.aggregate(F.transform("arr", lambda x: x["x"] + c), F.lit(0).cast("long"), lambda a, y: a + y).alias("s"),
        F.size(F.filter("payload.items", lambda i: i["x"] > 2)).alias("n"),
    )


def _setop(r, leaf, chain, v):
    df, c = _chain(r["t0"], leaf, chain)
    a = df.select("id", c.alias("v"))
    b = df.filter(F.col("meta.a") > 1).select("id", F.col("meta.a").alias("v"))
    return (a.union(b), a.intersect(b), a.exceptAll(b))[v % 3]


def _views(r, leaf, chain):
    df, c = _chain(r["t0"], leaf, chain)
    df.select("id", "k", "meta", c.alias("v")).createOrReplaceTempView("pb_main")
    if "t1" in r:
        r["t1"].createOrReplaceTempView("pb_side")
    return df.sparkSession


def _subquery(r, leaf, chain, v):
    spark = _views(r, leaf, chain)
    if v % 2 == 0:
        return spark.sql(
            "SELECT id, v FROM pb_main WHERE meta.a IN "
            f"(SELECT meta.a FROM pb_side WHERE {leaf} > 1) "
            "AND v >= (SELECT min(payload.nested.small) FROM pb_side)"
        )
    return spark.sql(
        "SELECT id, v FROM pb_main m WHERE EXISTS "
        f"(SELECT 1 FROM pb_side s WHERE s.id = m.id AND s.{leaf} > 2)"
    )


def _cte(r, leaf, chain, v):
    spark = _views(r, leaf, chain)
    return spark.sql(
        "WITH c AS (SELECT id, k, v FROM pb_main WHERE v IS NOT NULL) "
        "SELECT a.k, sum(a.v) AS s, count(b.v) AS n FROM c a JOIN c b ON a.id = b.id GROUP BY a.k"
    )


def _join(r, leaf, chain, v):
    df, c = _chain(r["t0"], leaf, chain)
    out = df.select("id", "k", c.alias("va")).join(
        r["t1"].select("id", F.col("payload.nested.small").alias("vb")), "id"
    )
    if v % 2:
        out = out.join(r["t2"].select("id", F.col("arr")[0]["x"].alias("vc")), "id")
    return out.groupBy("k").agg(*[F.sum(col).alias(f"s_{col}") for col in out.columns[2:]])


FAMILIES = {
    "agg": _agg,
    "window": _window,
    "explode": _explode,
    "hof": _hof,
    "setop": _setop,
    "subquery": _subquery,
    "cte": _cte,
    "join": _join,
}
# distinct sub-shapes per family: the variant number is taken modulo this
VARIANTS = {"agg": 1, "window": 2, "explode": 2, "hof": 1, "setop": 3, "subquery": 2, "cte": 1, "join": 2}


def _tables(fam: str, variant: int) -> tuple[str, ...]:
    """Sources a family instance reads: t0, plus the side tables it joins."""
    if fam == "subquery":
        return ("t0", "t1")
    if fam == "join":
        return ("t0", "t1", "t2") if variant % 2 else ("t0", "t1")
    return ("t0",)


def _digest(df, tag: int):
    """One row: tag, row count and two order-free sums of 31-bit row hashes."""
    cols = [F.col(c) for c in df.columns]
    return df.agg(
        F.lit(tag).alias("tag"),
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64(*cols).bitwiseAND(F.lit(0x7FFFFFFF).cast("long"))).alias("h"),
        F.sum(F.hash(*cols).bitwiseAND(F.lit(0x7FFFFFFF)).cast("long")).alias("m"),
    )


def _digest_pairs(pairs: list[tuple]) -> list[tuple]:
    """[(full digest, pruned digest)] for [(name, full df, pruned df)], all
    in one Spark job."""
    digests = [
        d for i, (_, full, pruned) in enumerate(pairs) for d in (_digest(full, 2 * i), _digest(pruned, 2 * i + 1))
    ]
    rows = {r.tag: tuple(r)[1:] for r in functools.reduce(DataFrame.unionByName, digests).collect()}
    return [(rows[2 * i], rows[2 * i + 1]) for i in range(len(pairs))]


def _narrows(pruned, full) -> bool:
    """True when ``pruned`` is ``full`` with fields left out: every field it
    keeps exists in ``full`` under the same name, with a type that narrows
    the full one, down to identical leaf types."""
    from pyspark.sql import types as T

    if isinstance(pruned, T.StructType) and isinstance(full, T.StructType):
        by_name = {f.name.lower(): f.dataType for f in full.fields}
        return all(
            f.name.lower() in by_name and _narrows(f.dataType, by_name[f.name.lower()])
            for f in pruned.fields
        )
    if isinstance(pruned, T.ArrayType) and isinstance(full, T.ArrayType):
        return _narrows(pruned.elementType, full.elementType)
    if isinstance(pruned, T.MapType) and isinstance(full, T.MapType):
        return _narrows(pruned.keyType, full.keyType) and _narrows(pruned.valueType, full.valueType)
    return pruned == full


class AnalyzeMix:
    # Pause-driven heap growth left this workload's peak RSS spreading
    # 0.18-0.30 over seeds; with the heap sized by live data it spread 0.03-0.05.
    LIVE_SIZED_HEAP = True

    def __init__(self, spark, seed: int, tracer, run_dir: str) -> None:
        self.spark = spark
        self.seed = seed
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.fixture_dir = os.path.join(run_dir, "fixtures")
        self.ops: list[dict] = []
        self.check_errors: dict[str, str] = {}
        self.recent: deque = deque(maxlen=WORKING_SET)
        self.pending: list[tuple] = []
        self.scan_bytes_ratio = self.kept_leaf_ratio = None
        self.phases: dict[str, float] = {}

    # ------------------------------------------------------------- set-up

    def setup(self) -> None:
        import score_spark.queries as registry

        t0_setup = time.monotonic()
        self.paths = {}
        for table, fmt in (("t0", "parquet"), ("t0", "json"), ("t1", "parquet"), ("t2", "parquet")):
            path = self.paths[(table, fmt)] = os.path.join(self.fixture_dir, f"{table}.{fmt}")
            _write_fixture(_fixture_rows(self.seed, table), path, fmt)
        self.schema = self.spark.read.parquet(self.paths[("t0", "parquet")]).schema
        path = self.paths[("t0", "avro")] = os.path.join(self.fixture_dir, "t0.avro")
        self.spark.read.parquet(self.paths[("t0", "parquet")]).write.format(FORMATS["avro"]).save(path)

        raw = {}
        for mod in vars(registry).values():
            if isinstance(mod, types.ModuleType) and isinstance(getattr(mod, "QUERIES", None), dict):
                raw.update(mod.QUERIES)
        self.suite = {n: raw[n] for n in sorted(registry.QUERIES) if n not in HEAVY}
        if len(self.suite) != 39:
            raise RuntimeError(f"expected 39 DuckDB-compared queries, found {len(self.suite)}")

        self.phases["fixtures"] = time.monotonic() - t0_setup
        t = time.monotonic()
        self._check()
        self.phases["check"] = time.monotonic() - t
        # the check analyzed every family; warm the suite path too
        t = time.monotonic()
        for name in sorted(self.suite)[:WARM_SUITE_PLANS]:
            self._analyze(self._build_suite(name))
        self.phases["warm"] = time.monotonic() - t

    def _read(self, table: str, fmt: str, schema=None):
        return (
            self.spark.read.schema(schema or self.schema)
            .format(FORMATS[fmt])
            .load(self.paths[(table, fmt)])
        )

    def _build_family(self, fam: str, fmt: str, depth: int, chain: int, variant: int) -> dict:
        tables = _tables(fam, variant)
        reads = {t: self._read(t, fmt if t == "t0" else "parquet") for t in tables}
        df = FAMILIES[fam](reads, LEAVES[depth], chain, variant)
        df.schema  # analysis happens here, outside the timer
        sources = [[self.paths[(t, fmt if t == "t0" else "parquet")]] for t in tables]
        return {"df": df, "sources": sources, "shape": fam}

    def _build_suite(self, name: str) -> dict:
        df = self.suite[name](self.spark, SF_DIR)
        df.schema
        files = sorted(set(df.inputFiles()))
        return {"df": df, "sources": [[f] for f in files], "shape": "suite"}

    def _analyze(self, plan: dict):
        from score_spark.schema_on_read import SchemaOnRead

        sor = SchemaOnRead.generate(plan["df"])
        return sor, [sor.for_paths(*paths) for paths in plan["sources"]]

    # --------------------------------------------------------- timed window

    def _round(self) -> list[tuple]:
        """One round of draws, in seeded order: every family on every
        format once, SUITE_PER_ROUND suite plans, REANALYZE_PER_ROUND
        re-analyses. Fixing the mix per round keeps the latency
        distribution from depending on how many ops a window holds."""
        draws = [("family", fam, fmt) for fam in FAMILIES for fmt in FORMATS]
        draws += [("suite",)] * SUITE_PER_ROUND + [("again",)] * REANALYZE_PER_ROUND
        self.rng.shuffle(draws)
        return draws

    def _draw(self) -> dict:
        rng = self.rng
        kind = self.pending.pop()
        if kind[0] == "again" and self.recent:
            return rng.choice(self.recent)
        if kind[0] == "family":
            plan = self._build_family(kind[1], kind[2], rng.randint(1, 3), rng.randint(0, 4), rng.randint(0, 5))
        else:
            plan = self._build_suite(rng.choice(sorted(self.suite)))
        self.recent.append(plan)
        return plan

    def run(self, seconds: float, on_first_op) -> None:
        """A fixed number of whole rounds, one per ROUND_S of the window:
        the ops, and so the plan-memo hit pattern, depend on the seed and
        the window length only, never on how fast the host is today."""
        for _ in range(max(1, int(seconds // ROUND_S))):
            self.pending = self._round()
            while self.pending:
                plan = self._draw()
                if not self.ops:
                    on_first_op()
                self.ops.append(self._op(plan))

    def samples(self) -> list[tuple[float, bool]]:
        """End-to-end samples: one per op."""
        return [(o["latency_s"], o["ok"]) for o in self.ops]

    def _op(self, plan: dict) -> dict:
        tr = self.tracer
        rec = {"shape": plan["shape"], "ok": True, "op": len(self.ops)}
        if tr is not None:
            tr.op = rec["op"]
        t0 = time.perf_counter()
        try:
            if tr is None:
                sor, pruned = self._analyze(plan)
            else:
                with tr.span("op"):
                    sor, pruned = self._analyze(plan)
        except Exception as e:  # one failed op must not end the run
            rec["ok"] = False
            rec["error"] = f"{type(e).__name__}: {str(e)[:300]}"
        rec["latency_s"] = time.perf_counter() - t0
        if tr is not None:
            tr.op = None
        if any(k.split("/")[0] == plan["shape"] for k in self.check_errors):
            rec["ok"] = False
        if rec["ok"]:
            rec["fallback"] = bool(sor._failed)
            # output check: each pruned schema is non-empty and only narrows
            # its source's full schema
            for paths, schema in zip(plan["sources"], pruned):
                full = self.schema if plan["shape"] != "suite" else next(
                    (r.full_schema for r in sor.relations if paths[0] in r.ref), None
                )
                if full is None or not schema.fields or not _narrows(schema, full):
                    rec["ok"] = False
                    rec["error"] = f"pruned schema of {paths[0]} is not a non-empty part of its full schema"
        return rec

    # --------------------------------------------------------------- checks

    def _check(self) -> None:
        """Per sub-shape (every family and variant): rows on pruned re-reads
        equal rows on full reads, on one format per sub-shape (the three
        formats in turn), compared as row count plus two order-free sums of
        row hashes, all in one Spark job. A build, analysis or read that
        raises fails its family, as a mismatch does. The parquet instance of
        every sub-shape feeds the footer audit."""
        audit, pairs = [], []
        formats = sorted(FORMATS)
        subshapes = [(fam, v) for fam, n in VARIANTS.items() for v in range(n)]
        for k, (fam, variant) in enumerate(subshapes):
            depth, chain, row_fmt = 1 + k % 3, k % 5, formats[k % len(formats)]
            name = f"{fam}/v{variant}/{row_fmt}"
            try:
                for fmt in sorted({"parquet", row_fmt}):
                    plan = self._build_family(fam, fmt, depth, chain, variant)
                    sor, pruned = self._analyze(plan)
                    if fmt == "parquet":
                        audit += [(p[0], self.schema, s) for p, s in zip(plan["sources"], pruned)]
                    if fmt == row_fmt:
                        full_df, row_pruned = plan["df"], pruned
                tables = _tables(fam, variant)
                reads = {
                    t: self._read(t, row_fmt if t == "t0" else "parquet", schema)
                    for t, schema in zip(tables, row_pruned)
                }
                pairs.append((name, full_df, FAMILIES[fam](reads, LEAVES[depth], chain, variant)))
            except Exception as e:
                self.check_errors[name] = f"{type(e).__name__}: {str(e)[:300]}"
        t = time.monotonic()
        try:
            results = _digest_pairs(pairs)
        except Exception:  # find the failing sub-shapes: one job each
            results = []
            for pair in pairs:
                try:
                    results += _digest_pairs([pair])
                except Exception as e:
                    results.append(e)
        self.phases["check_job"] = time.monotonic() - t
        for (name, _, _), res in zip(pairs, results):
            if isinstance(res, Exception):
                self.check_errors[name] = f"{type(res).__name__}: {str(res)[:300]}"
            elif res[0] != res[1]:
                self.check_errors[name] = f"pruned re-read returned other rows: {res[0]} vs {res[1]}"
        self.scan_bytes_ratio, self.kept_leaf_ratio = footer_ratio(audit)

    # ------------------------------------------------------------- metrics

    def per_layer(self) -> dict[str, tuple[float, str]]:
        out = {
            "sor.fallback_rate": (
                sum(1 for o in self.ops if o.get("fallback")) / len(self.ops),
                "ratio",
            ),
            "sor.kept_leaf_ratio": (self.kept_leaf_ratio, "ratio"),
        }
        for shape in (*FAMILIES, "suite"):
            lat = sorted(o["latency_s"] for o in self.ops if o["shape"] == shape)
            out[f"shape.{shape}_ms"] = (lat[len(lat) // 2] * 1e3 if lat else 0.0, "ms")
        return out

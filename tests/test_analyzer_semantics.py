"""Pinned regressions for the r9 analyzer-semantics review findings — each
was confirmed by execution before the fix (generator.py / rewrite.py):

1. whole-value comparisons (filter ``s1 == s2``) and order/equality-
   sensitive aggregates (``max(struct)``) must REQUIRE their complex
   operands fully, not leave them prunable to separately-touched children;
2. the Inline generator emits one output per element field (the explode
   last-output aliasing left all but one unmapped), and unknown generators
   (Stack, UDTFs) get the over-keep backstop;
3. an empty-directory relation (zero input files) must not vacuously match
   any ``for_paths`` request nor conflate with other empty relations;
4. WithCTE's upper-most pre-pass must record exposure discovered in LATER
   defs before pre-passing the earlier defs they reference;
5. ``prune()`` must not narrow CSV sources (Spark binds a user schema to
   CSV columns positionally — dropping a middle column silently shifts
   values).
"""

from __future__ import annotations

import glob
import os

import pyspark.sql.functions as F
import pytest

from score_spark.schema_on_read.generator import SchemaOnRead

_SCHEMA2 = "s1 struct<a:bigint,b:bigint>, s2 struct<a:bigint,b:bigint>"
_ROWS2 = [
    {"s1": {"a": 1, "b": 1}, "s2": {"a": 1, "b": 1}},  # fully equal
    {"s1": {"a": 2, "b": 1}, "s2": {"a": 2, "b": 9}},  # a matches, b differs
]

_SCHEMA3 = "arr array<struct<c1:bigint,c2:bigint>>, x bigint"
_ROWS3 = [
    {"arr": [{"c1": 1, "c2": 2}], "x": 5},
    {"arr": [{"c1": 3, "c2": 4}, {"c1": 5, "c2": 6}], "x": 7},
]


@pytest.fixture(scope="module")
def two_struct_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("an_sem") / "two_struct.parquet")
    spark.createDataFrame(_ROWS2, _SCHEMA2).write.mode("overwrite").parquet(p)
    return p


@pytest.fixture(scope="module")
def arr_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("an_sem") / "arr.parquet")
    spark.createDataFrame(_ROWS3, _SCHEMA3).write.mode("overwrite").parquet(p)
    return p


def _full_schema(spark, ddl, rows):
    return spark.createDataFrame(rows, ddl).schema


def _roundtrip(spark, path, schema, build):
    """full-vs-pruned row compare for a query builder over one source."""
    full_df = build(spark.read.schema(schema).parquet(path))
    pruned = SchemaOnRead.generate(full_df).for_paths(path)
    pruned_df = build(spark.read.schema(pruned).parquet(path))
    assert sorted(map(str, pruned_df.collect())) == sorted(map(str, full_df.collect())), (
        pruned.simpleString()
    )
    return pruned


def test_filter_struct_equality_requires_both_sides(spark, two_struct_path):
    """filter(s1 == s2) with only subfields projected: before the fix both
    structs pruned to struct<a> and the re-read filter compared a field
    subset — row {a:2} passed even though b differs (silently wrong)."""
    schema = _full_schema(spark, _SCHEMA2, _ROWS2)
    pruned = _roundtrip(
        spark, two_struct_path, schema,
        lambda df: df.filter(F.col("s1") == F.col("s2"))
                     .select(F.col("s1.a").alias("a"), F.col("s2.a").alias("a2")),
    )
    for fld in ("s1", "s2"):
        assert set(pruned[fld].dataType.fieldNames()) == {"a", "b"}, pruned.simpleString()


def test_max_struct_agg_requires_operand(spark, two_struct_path):
    """max(struct) orders by EVERY field; pruning the struct to the single
    extracted subfield changed which row wins."""
    schema = _full_schema(spark, _SCHEMA2, _ROWS2)
    pruned = _roundtrip(
        spark, two_struct_path, schema,
        lambda df: df.groupBy(F.lit(1).alias("k"))
                     .agg(F.max("s1").alias("m")).select(F.col("m.b").alias("b")),
    )
    assert set(pruned["s1"].dataType.fieldNames()) == {"a", "b"}, pruned.simpleString()


def test_inline_generator_round_trips(spark, arr_path):
    """F.inline(arr) emits one column per element field; the explode-shaped
    aliasing used to map only the LAST output (and to the collection, not
    the field), so a projection of an earlier field lost its dependency."""
    schema = _full_schema(spark, _SCHEMA3, _ROWS3)
    pruned = _roundtrip(
        spark, arr_path, schema,
        lambda df: df.select(F.inline("arr")).select("c1"),
    )
    assert "arr" in pruned.fieldNames(), pruned.simpleString()


def test_unknown_generator_stack_over_keeps(spark, arr_path):
    """stack(2, x, x+1): child[0] is the row-count literal, so the explode
    shape walked NO data expression and x vanished from the read schema.
    Unknown generators now require every child (over-keep backstop)."""
    schema = _full_schema(spark, _SCHEMA3, _ROWS3)
    pruned = _roundtrip(
        spark, arr_path, schema,
        lambda df: df.select(F.expr("stack(2, x, x+1) AS s")),
    )
    assert "x" in pruned.fieldNames(), pruned.simpleString()


def test_empty_relation_does_not_shadow_real_one(spark, arr_path, tmp_path):
    """A zero-file relation used to carry ref=() — matching ANY for_paths
    request via the vacuous all()-over-files check and conflating every
    empty relation under one dict key."""
    schema = _full_schema(spark, _SCHEMA3, _ROWS3)
    empty_dir = str(tmp_path / "empty.parquet")
    spark.createDataFrame([], _SCHEMA3).write.mode("overwrite").parquet(empty_dir)
    for f in glob.glob(f"{empty_dir}/*.parquet"):
        os.remove(f)  # leave a directory with ZERO data files
    e = spark.read.schema(schema).parquet(empty_dir)
    r = spark.read.schema(schema).parquet(arr_path)
    q = e.select("x").unionByName(r.select("x"))
    sor = SchemaOnRead.generate(q)
    assert sor.for_paths(arr_path).simpleString() == "struct<x:bigint>"


def test_cte_referencing_earlier_cte_keeps_final_outputs(spark, arr_path):
    """WITH a AS (...), b AS (SELECT * FROM a) SELECT ... FROM b: exposure
    of a is discovered while pre-passing b, so defs must be pre-passed in
    REVERSE order — forward order pre-passed a as unexposed and
    skeletonized its complex final output column."""
    schema = _full_schema(spark, _SCHEMA3, _ROWS3)
    spark.read.schema(schema).parquet(arr_path).createOrReplaceTempView("an_sem_cte_v")
    sql = ("WITH a AS (SELECT arr, x FROM an_sem_cte_v), "
           "b AS (SELECT * FROM a) SELECT arr, x FROM b")
    full_df = spark.sql(sql)
    want = sorted(map(str, full_df.collect()))
    pruned = SchemaOnRead.generate(full_df).for_paths(arr_path)
    spark.read.schema(pruned).parquet(arr_path).createOrReplaceTempView("an_sem_cte_v")
    assert sorted(map(str, spark.sql(sql).collect())) == want, pruned.simpleString()
    assert "c2" in pruned["arr"].dataType.elementType.fieldNames(), pruned.simpleString()


def test_prune_never_narrows_csv_sources(spark, tmp_path):
    """CSV user schemas bind POSITIONALLY: dropping a middle column shifts
    every later column's values. prune() must keep CSV reads full-width."""
    from score_spark.schema_on_read.rewrite import Source, prune

    p = str(tmp_path / "t.csv")
    src_df = spark.createDataFrame(
        [(1, "drop-me", 10), (2, "skip", 20)], "a bigint, b string, c bigint"
    )
    src_df.write.mode("overwrite").option("header", "true").csv(p)
    out = prune(
        spark,
        {"t": Source(p, "csv", options={"header": "true", "inferSchema": "true"})},
        lambda t: t["t"].select("a", "c"),
    )
    got = sorted((r.a, r.c) for r in out.collect())
    assert got == [(1, 10), (2, 20)], got


def test_prune_logs_each_fallback(monkeypatch, caplog):
    """prune() stays best-effort, but no fallback is silent: one warning per
    source read with its full schema, one when the rebuilt query fails and
    the full-schema query is returned, and none for CSV's deliberate full
    read."""
    import logging
    from types import SimpleNamespace

    from score_spark.schema_on_read import rewrite

    class _Sor:
        def for_paths(self, *paths):
            if paths == ("bad.parquet",):
                raise ValueError("no relation reads bad.parquet")
            return "narrow"

    monkeypatch.setattr(rewrite, "_read", lambda spark, src, schema=None: (src.path, schema))
    monkeypatch.setattr(rewrite, "SchemaOnRead", SimpleNamespace(generate=lambda df: _Sor()))
    built = []

    def query(dfs):
        built.append(dict(dfs))
        if len(built) == 2:
            raise RuntimeError("rebuilt query failed")
        return "full-schema query"

    sources = {
        "good": rewrite.Source("good.parquet"),
        "bad": rewrite.Source("bad.parquet"),
        "c": rewrite.Source("c.csv", "csv"),
    }
    with caplog.at_level(logging.WARNING, logger=rewrite.__name__):
        assert rewrite.prune(None, sources, query) == "full-schema query"
    assert built[1] == {
        "good": ("good.parquet", "narrow"),
        "bad": ("bad.parquet", None),
        "c": ("c.csv", None),
    }
    assert [r.getMessage() for r in caplog.records if r.name == rewrite.__name__] == [
        "prune: source 'bad' read with its full schema: ValueError: no relation reads bad.parquet",
        "prune: whole query kept its full-schema reads: RuntimeError: rebuilt query failed",
    ]


def test_deep_chained_plan_does_not_overflow_recursion(spark, arr_path):
    """400 stacked withColumn Projects: the recursive build_tree overflowed
    Python's recursion limit and the RecursionError was swallowed into the
    silent full-schema fallback (review r9). With SCORE_SPARK_SOR_RAISE set
    (module-wide here), a recursion failure would raise instead — so a
    plain successful generate() proves the iterative rebuild."""
    schema = _full_schema(spark, _SCHEMA3, _ROWS3)
    df = spark.read.schema(schema).parquet(arr_path)
    for i in range(400):
        df = df.withColumn(f"c{i}", F.col("x") + i)
    df = df.select("x")
    pruned = SchemaOnRead.generate(df).for_paths(arr_path)
    # x required by the final select; arr rides through every star-Project
    # touched-but-unread, so it stays as the documented SKELETON
    # (array<struct<>>), never its full element type
    assert "x" in pruned.fieldNames()
    assert pruned["arr"].dataType.elementType.fields == [], pruned.simpleString()


def test_deep_synthetic_chain_walks_without_recursion():
    """The upper-most pre-pass and the bottom-up walk are iterative: on a
    synthetic chain deeper than the recursion limit (a loop of about 1,000
    withColumn calls builds plans this deep) both finish, the top Project
    alone is upper-most, and handlers still run children first. The
    recursive walks raised RecursionError from about 1,000 levels, which
    generate() turned into a silent full-schema fallback."""
    import sys

    from score_spark.schema_on_read.plan_json import build_tree

    logical = "org.apache.spark.sql.catalyst.plans.logical."
    depth = max(1200, sys.getrecursionlimit() + 200)
    flat = [{"class": logical + "Project", "num-children": 1, "projectList": [], "tag": "top"}]
    flat += [{"class": logical + "Filter", "num-children": 1, "condition": []} for _ in range(depth)]
    flat.append({"class": logical + "Project", "num-children": 1, "projectList": [], "tag": "bottom"})
    flat.append({"class": logical + "LocalRelation", "num-children": 0, "output": []})
    root = build_tree(flat)

    seen = []

    class Recording(SchemaOnRead):
        def _on_Project(self, node):
            seen.append(node["tag"])
            super()._on_Project(node)

    sor = Recording()
    sor._analyze(root)
    assert sor._state.upper_most == {id(root)}
    assert seen == ["bottom", "top"]


def test_finalize_is_linear_in_chain_depth(monkeypatch):
    """Every selection node finalizes the relations below it. Re-walking
    the whole subtree at each one made a chain of Projects quadratic:
    503,502 cls_name calls at depth 1,000 and 2,007,002 at 2,000. Each node
    is now finalized once. Counted calls, not wall time."""
    from score_spark.schema_on_read import generator as G
    from score_spark.schema_on_read.plan_json import build_tree

    logical = "org.apache.spark.sql.catalyst.plans.logical."
    calls = 0
    real = G.cls_name

    def counting(node):
        nonlocal calls
        calls += 1
        return real(node)

    monkeypatch.setattr(G, "cls_name", counting)

    def cost(depth):
        nonlocal calls
        flat = [{"class": logical + "Project", "num-children": 1, "projectList": []} for _ in range(depth)]
        flat.append({"class": logical + "LocalRelation", "num-children": 0, "output": []})
        root = build_tree(flat)
        calls = 0
        SchemaOnRead()._analyze(root)
        return calls

    at_1000, at_2000 = cost(1000), cost(2000)
    assert at_2000 <= 2.2 * at_1000, (at_1000, at_2000)


# --------------------------------------------------------------- r10 classes

_SCHEMA4 = "s1 struct<a:bigint,b:bigint>, s2 struct<a:bigint,b:bigint>, x bigint"
_ROWS4 = [
    # s2.a ties across rows so a struct ordering pruned to struct<a> has no
    # deterministic winner; the full struct orders (1,1) < (1,2)
    {"s1": {"a": 10, "b": 0}, "s2": {"a": 1, "b": 1}, "x": 1},
    {"s1": {"a": 20, "b": 0}, "s2": {"a": 1, "b": 2}, "x": 2},
]


@pytest.fixture(scope="module")
def subq_path(spark, tmp_path_factory):
    p = str(tmp_path_factory.mktemp("an_sem_r10") / "subq.parquet")
    spark.createDataFrame(_ROWS4, _SCHEMA4).write.mode("overwrite").parquet(p)
    return p


def test_max_by_struct_ordering_requires_operand(spark, subq_path):
    """max_by(v, struct) orders by EVERY field of the ordering operand;
    pruning it to the separately-touched subfield changes which row wins
    (review r10 — _VALUE_COMPARISON_EXPRS gained MaxBy/MinBy/Mode)."""
    schema = _full_schema(spark, _SCHEMA4, _ROWS4)
    pruned = _roundtrip(
        spark, subq_path, schema,
        lambda df: df.groupBy(F.lit(1).alias("k"))
                     .agg(F.max_by(F.col("s1.a"), F.col("s2")).alias("v"),
                          F.max(F.col("s2.a")).alias("a2")),
    )
    assert set(pruned["s2"].dataType.fieldNames()) == {"a", "b"}, pruned.simpleString()


def _sql_roundtrip(spark, path, schema, sql, view="an_sem_r10_t"):
    """full-vs-pruned row compare for a SQL query over one registered view."""
    spark.read.schema(schema).parquet(path).createOrReplaceTempView(view)
    full_df = spark.sql(sql)
    full_rows = sorted(map(str, full_df.collect()))
    pruned = SchemaOnRead.generate(full_df).for_paths(path)
    spark.read.schema(pruned).parquet(path).createOrReplaceTempView(view)
    try:
        got = sorted(map(str, spark.sql(sql).collect()))
    finally:
        spark.catalog.dropTempView(view)
    assert got == full_rows, (pruned.simpleString(), full_rows, got)
    return pruned


def test_struct_in_subquery_requires_both_sides(spark, subq_path):
    """`WHERE s1 IN (SELECT s2 ...)` compares WHOLE structs. Before r10 the
    subquery's nested plan (an expression FIELD, invisible to the plan
    walker) was never visited: s2 vanished from the pruned schema entirely
    (silent under-keep, confirmed by execution) and s1 was prunable to a
    field subset."""
    schema = _full_schema(spark, _SCHEMA4, _ROWS4)
    pruned = _sql_roundtrip(
        spark, subq_path, schema,
        "SELECT s1.a AS a FROM an_sem_r10_t "
        "WHERE s1 IN (SELECT s2 FROM an_sem_r10_t)",
    )
    for fld in ("s1", "s2"):
        assert fld in pruned.fieldNames(), pruned.simpleString()
        assert set(pruned[fld].dataType.fieldNames()) == {"a", "b"}, pruned.simpleString()


def test_scalar_subquery_prunes_precisely(spark, subq_path):
    """A scalar subquery's inner plan is visited and prunes to exactly the
    touched subfield — not dropped (pre-r10 under-keep), not over-kept."""
    schema = _full_schema(spark, _SCHEMA4, _ROWS4)
    pruned = _sql_roundtrip(
        spark, subq_path, schema,
        "SELECT x, (SELECT max(e.s2.a) FROM an_sem_r10_t e) AS m "
        "FROM an_sem_r10_t",
    )
    assert set(pruned.fieldNames()) == {"s2", "x"}, pruned.simpleString()
    assert set(pruned["s2"].dataType.fieldNames()) == {"a"}, pruned.simpleString()


def test_correlated_exists_subquery_roundtrips(spark, subq_path):
    """Correlated EXISTS: the inner plan's filter touches i.s2.a and the
    outer correlation rides through OuterReference — both must survive in
    the pruned schema."""
    schema = _full_schema(spark, _SCHEMA4, _ROWS4)
    pruned = _sql_roundtrip(
        spark, subq_path, schema,
        "SELECT x FROM an_sem_r10_t o "
        "WHERE EXISTS (SELECT 1 FROM an_sem_r10_t i WHERE i.s2.a = o.x)",
    )
    assert set(pruned["s2"].dataType.fieldNames()) == {"a"}, pruned.simpleString()


def test_lateral_subquery_correlated_struct_prunes_precisely(spark, subq_path):
    """LATERAL (SELECT t.s2.a + 1): the lateral's plan rides in the
    LateralJoin's `right` expression FIELD, and the correlated reference is
    an OuterReference — a LEAF whose attribute sits in its `e` FIELD. Before
    r10 both dead-ended: s2 emitted as struct<> and the pruned re-read
    failed UNRESOLVED_COLUMN (confirmed by execution)."""
    schema = _full_schema(spark, _SCHEMA4, _ROWS4)
    pruned = _sql_roundtrip(
        spark, subq_path, schema,
        "SELECT t.x, l.a2 FROM an_sem_r10_t t, "
        "LATERAL (SELECT t.s2.a + 1 AS a2) l",
    )
    assert set(pruned.fieldNames()) == {"s2", "x"}, pruned.simpleString()
    assert set(pruned["s2"].dataType.fieldNames()) == {"a"}, pruned.simpleString()


def test_lateral_subquery_over_same_view_roundtrips(spark, subq_path):
    """Correlated lateral aggregate re-reading the same relation: the inner
    leg's s1.b use and the correlation on x must both survive."""
    schema = _full_schema(spark, _SCHEMA4, _ROWS4)
    pruned = _sql_roundtrip(
        spark, subq_path, schema,
        "SELECT t.x, l.mb FROM an_sem_r10_t t, "
        "LATERAL (SELECT max(i.s1.b) AS mb FROM an_sem_r10_t i "
        "WHERE i.x <= t.x) l",
    )
    assert set(pruned["s1"].dataType.fieldNames()) == {"b"}, pruned.simpleString()


def test_lateral_output_final_without_project_stays_full(spark, subq_path):
    """API df.lateralJoin(...) with NO defining Project above the
    LateralJoin: the lateral subquery's outputs ARE final user output —
    the one subquery position where that is possible (ADVICE r10). The
    pre-r11 unconditional found=True pre-pass skeletonized a complex
    lateral output to struct<> (confirmed by execution); the LateralJoin
    now passes its own found state into the subquery plan's pre-pass."""
    schema = _full_schema(spark, _SCHEMA4, _ROWS4)

    def build(df):
        right = (
            spark.read.schema(schema).parquet(subq_path)
            .select(F.col("s1").alias("r_s1"), F.col("x").alias("r_x"))
            .limit(1)
        )
        # no .select(...) afterwards: LateralJoin output is final
        return df.select("x").lateralJoin(right)

    full_df = build(spark.read.schema(schema).parquet(subq_path))
    pruned = SchemaOnRead.generate(full_df).for_paths(subq_path)
    pruned_df = build(spark.read.schema(pruned).parquet(subq_path))
    assert sorted(map(str, pruned_df.collect())) == sorted(map(str, full_df.collect())), (
        pruned.simpleString()
    )
    assert set(pruned["s1"].dataType.fieldNames()) == {"a", "b"}, pruned.simpleString()
    # narrowing through an ENCLOSING Project is unchanged: the SQL shape
    # (Project above the LateralJoin) still prunes the lateral's inner
    # reads precisely — pinned by test_lateral_subquery_* above.


def test_correlated_exists_whole_struct_outer_compare(spark, subq_path):
    """EXISTS (... WHERE i.s1 = t.s1): the OUTER side of the whole-struct
    comparison reaches the walker through OuterReference — both sides must
    stay full (primitives masked this class pre-r10; structs under-kept)."""
    schema = _full_schema(spark, _SCHEMA4, _ROWS4)
    pruned = _sql_roundtrip(
        spark, subq_path, schema,
        "SELECT t.x FROM an_sem_r10_t t "
        "WHERE EXISTS (SELECT 1 FROM an_sem_r10_t i WHERE i.s1 = t.s1)",
    )
    assert set(pruned["s1"].dataType.fieldNames()) == {"a", "b"}, pruned.simpleString()


def test_unparseable_subquery_plan_raises_not_underkeeps():
    """A known subquery expression whose `plan` field fails to parse must
    RAISE (reaching generate()'s loud/fallback contract), never silently
    skip the inner plan — that is the exact under-keep class r10 fixed."""
    from score_spark.schema_on_read.generator import SchemaOnRead

    gen = SchemaOnRead()
    node = {
        "class": "org.apache.spark.sql.catalyst.expressions.ListQuery",
        "num-children": 0,
        "plan": "not-a-plan",
        "_children": [],
    }
    with pytest.raises(ValueError, match="no parseable plan"):
        gen._walk_expr(node, "touch")


def test_observe_metrics_survive_pruning(spark, subq_path):
    """df.observe(): CollectMetrics is a passthrough node whose metric
    aggregates live in the `metrics` expression FIELD — unwalked before
    r10, a metric-only column vanished from the pruned schema
    (UNRESOLVED_COLUMN, confirmed by execution); a whole-struct metric
    could be silently wrong over a narrowed struct."""
    schema = _full_schema(spark, _SCHEMA4, _ROWS4)
    pruned = _roundtrip(
        spark, subq_path, schema,
        lambda df: df.observe("m_r10", F.max(F.col("s2.a")).alias("mx")).select("x"),
    )
    assert set(pruned.fieldNames()) == {"s2", "x"}, pruned.simpleString()
    assert set(pruned["s2"].dataType.fieldNames()) == {"a"}, pruned.simpleString()
    pruned2 = _roundtrip(
        spark, subq_path, schema,
        lambda df: df.observe("m2_r10", F.max(F.col("s2")).alias("mx")).select("x"),
    )
    assert set(pruned2["s2"].dataType.fieldNames()) == {"a", "b"}, pruned2.simpleString()


def test_three_format_multi_source_prunes_each_relation(spark, tmp_path):
    """One query over parquet + JSON + vendored-avro sources: each relation
    gets its own derived read schema (relation identity by input files), the
    rebuilt three-source join matches row-for-row, and each source narrows
    to exactly what the query touches from it."""
    import json as _json

    from score_spark.schema_on_read.generator import SchemaOnRead

    rows = [
        {"k": 1, "s": {"a": 10, "b": 1}, "x": 100},
        {"k": 2, "s": {"a": 20, "b": 2}, "x": 200},
    ]
    ddl = "k bigint, s struct<a:bigint,b:bigint>, x bigint"
    schema = spark.createDataFrame(rows, ddl).schema
    pq = str(tmp_path / "t.parquet")
    js = str(tmp_path / "t.json")
    av = str(tmp_path / "t.avro")
    spark.createDataFrame(rows, ddl).coalesce(1).write.parquet(pq)
    with open(js, "w") as f:
        _json.dump(rows, f)
    try:
        spark.createDataFrame(rows, ddl).coalesce(1).write.format("avro_minimal").save(av)
    except Exception:
        pytest.skip("avro connector jar not on this session's classpath")

    def build(s_pq, s_js, s_av):
        a = spark.read.schema(s_pq).parquet(pq).select("k", F.col("s.a").alias("pa"))
        b = (spark.read.schema(s_js).option("multiLine", "true").json(js)
             .select("k", F.col("s.b").alias("jb")))
        c = spark.read.schema(s_av).format("avro_minimal").load(av).select("k", "x")
        return a.join(b, "k").join(c, "k")

    full = build(schema, schema, schema)
    want = sorted(map(str, full.collect()))
    sor = SchemaOnRead.generate(full)
    p_pq, p_js, p_av = sor.for_paths(pq), sor.for_paths(js), sor.for_paths(av)
    got = sorted(map(str, build(p_pq, p_js, p_av).collect()))
    assert got == want
    assert set(p_pq["s"].dataType.fieldNames()) == {"a"}, p_pq.simpleString()
    assert set(p_js["s"].dataType.fieldNames()) == {"b"}, p_js.simpleString()
    assert set(p_av.fieldNames()) == {"k", "x"}, p_av.simpleString()


@pytest.mark.parametrize("fmt", ["orc", "xml"])
def test_prune_over_orc_and_xml_sources(spark, tmp_path, fmt):
    """The analyzer is source-format-agnostic over v1 HadoopFsRelations:
    ORC and XML (both built into Spark 4) bind user schemas BY NAME, so the
    derived nested schema narrows the read safely — unlike CSV, which binds
    positionally and is deliberately kept full-width (r9)."""
    ddl = "k bigint, s struct<a:bigint,b:bigint>, x bigint"
    df0 = spark.createDataFrame([(1, (10, 1), 100), (2, (20, 2), 200)], ddl)
    p = str(tmp_path / f"t_{fmt}")
    w = df0.coalesce(1).write.mode("overwrite")
    r = spark.read.schema(df0.schema)
    if fmt == "xml":
        w = w.option("rowTag", "row")
        read = lambda rr: rr.option("rowTag", "row").format("xml").load(p)  # noqa: E731
    else:
        read = lambda rr: rr.format(fmt).load(p)  # noqa: E731
    w.format(fmt).save(p)

    build = lambda d: d.select(F.col("s.a").alias("a"), "x")  # noqa: E731
    full_df = build(read(r))
    want = sorted(map(str, full_df.collect()))
    pruned = SchemaOnRead.generate(full_df).for_paths(p)
    assert set(pruned.fieldNames()) == {"s", "x"}, pruned.simpleString()
    assert set(pruned["s"].dataType.fieldNames()) == {"a"}, pruned.simpleString()
    got = sorted(map(str, build(read(spark.read.schema(pruned))).collect()))
    assert got == want


def test_api_pivot_prunes_precisely(spark, subq_path):
    """DataFrame-API pivot (groupBy().pivot().agg()): analyzes to Aggregate
    with per-pivot-value conditional aggregates; probed r10, pinned here.
    Only the grouping subfield, pivot column, and aggregated subfield may
    survive."""
    schema = _full_schema(spark, _SCHEMA4, _ROWS4)
    pruned = _roundtrip(
        spark, subq_path, schema,
        lambda df: df.withColumn("cat", (F.col("x") % 2).cast("string"))
                     .groupBy(F.col("s1.b").alias("g"))
                     .pivot("cat", ["0", "1"]).agg(F.sum("s2.a")),
    )
    assert set(pruned["s1"].dataType.fieldNames()) == {"b"}, pruned.simpleString()
    assert set(pruned["s2"].dataType.fieldNames()) == {"a"}, pruned.simpleString()


def test_api_melt_over_keeps_via_expand(spark, subq_path):
    """DataFrame-API unpivot/melt analyzes to the handled Expand node —
    the safe over-keep direction (probed r10): the round-trip must match;
    the ids subfield is present."""
    schema = _full_schema(spark, _SCHEMA4, _ROWS4)
    pruned = _roundtrip(
        spark, subq_path, schema,
        lambda df: df.unpivot(
            ids=[F.col("s1.a").alias("ida")], values=["x"],
            variableColumnName="var", valueColumnName="val",
        ),
    )
    assert "a" in set(pruned["s1"].dataType.fieldNames()), pruned.simpleString()


def test_chained_laterals_api_no_project_above(spark, subq_path):
    """Two stacked API lateralJoins with NO defining Project above either:
    both lateral subquery plans must inherit the found state (r11 lateral
    passthrough) — the outer lateral's complex output AND the inner one's
    must survive full on the pruned re-read."""
    schema = _full_schema(spark, _SCHEMA4, _ROWS4)

    def build(df):
        r1 = (
            spark.read.schema(schema).parquet(subq_path)
            .select(F.col("s1").alias("r1_s1")).limit(1)
        )
        r2 = (
            spark.read.schema(schema).parquet(subq_path)
            .select(F.col("s2").alias("r2_s2")).limit(1)
        )
        return df.select("x").lateralJoin(r1).lateralJoin(r2)

    full_df = build(spark.read.schema(schema).parquet(subq_path))
    pruned = SchemaOnRead.generate(full_df).for_paths(subq_path)
    pruned_df = build(spark.read.schema(pruned).parquet(subq_path))
    assert sorted(map(str, pruned_df.collect())) == sorted(map(str, full_df.collect())), (
        pruned.simpleString()
    )
    assert set(pruned["s1"].dataType.fieldNames()) == {"a", "b"}, pruned.simpleString()
    assert set(pruned["s2"].dataType.fieldNames()) == {"a", "b"}, pruned.simpleString()


def test_chained_sql_laterals_still_narrow(spark, subq_path):
    """Chained SQL laterals (each referencing the previous) under a defining
    Project keep narrowing precisely — the r11 passthrough must not
    over-keep when an upper-most Project DOES exist."""
    schema = _full_schema(spark, _SCHEMA4, _ROWS4)
    pruned = _sql_roundtrip(
        spark, subq_path, schema,
        "SELECT t.x, l2.b FROM an_sem_r10_t t, "
        "LATERAL (SELECT t.s2.a + 1 AS a2) l1, "
        "LATERAL (SELECT l1.a2 + t.s1.b AS b) l2",
    )
    assert set(pruned.fieldNames()) == {"s1", "s2", "x"}, pruned.simpleString()
    assert set(pruned["s2"].dataType.fieldNames()) == {"a"}, pruned.simpleString()
    assert set(pruned["s1"].dataType.fieldNames()) == {"b"}, pruned.simpleString()


def _synth_attr(eid: int) -> dict:
    return {
        "class": "AttributeReference",
        "exprId": {"jvmId": "t", "id": eid},
        "num-children": 0,
        "_children": [],
    }


def _synth_lit(v) -> dict:
    return {"class": "Literal", "value": v, "num-children": 0, "_children": []}


def test_struct_ctor_unmappable_name_over_keeps():
    """ADVICE r11: a CreateNamedStruct value whose field name cannot be
    mapped (non-string literal) resolved to real source handles but was
    silently dropped from the synth — a later whole-value require fanned
    over mapped children only and under-kept that source. Unmappable-name
    values must be fully required instead (the over-keep contract).
    Unreachable from analyzed Spark plans, hence the synthetic node."""
    from score_spark.schema_on_read.trie import Handle, TrieNode

    gen = SchemaOnRead()
    node = TrieNode()
    gen._state.exprid_map[("t", 1)] = [Handle(node)]
    expr = {
        "class": "CreateNamedStruct",
        "num-children": 2,
        "_children": [_synth_lit(7), _synth_attr(1)],
    }
    gen._walk_expr(expr, "touch")
    assert node.required
    # control: a proper string name stays routable and prunable
    gen2 = SchemaOnRead()
    n2 = TrieNode()
    gen2._state.exprid_map[("t", 1)] = [Handle(n2)]
    ok = {
        "class": "CreateNamedStruct",
        "num-children": 2,
        "_children": [_synth_lit("f"), _synth_attr(1)],
    }
    (h,) = gen2._walk_expr(ok, "touch")
    assert not n2.required
    assert h.materialize().children["f"] is n2


def test_arrays_zip_unmapped_name_over_keeps():
    """Same class for ArraysZip: names list shorter than children must
    require the unmapped child's handles, not drop them — both in the
    constructed-struct walker (an unnamed pair) and through the ArraysZip
    pairing that feeds it."""
    from score_spark.schema_on_read.trie import Handle, TrieNode

    gen = SchemaOnRead()
    node = TrieNode()
    gen._state.exprid_map[("t", 1)] = [Handle(node)]
    gen._walk_struct_synth([(None, _synth_attr(1))], "touch")
    assert node.required

    gen2 = SchemaOnRead()
    n2 = TrieNode()
    gen2._state.exprid_map[("t", 1)] = [Handle(n2)]
    expr = {
        "class": "ArraysZip",
        "names": [],
        "num-children": 1,
        "_children": [_synth_attr(1)],
    }
    gen2._walk_expr(expr, "touch")
    assert n2.required


def test_hof_lambda_bindings_scoped_to_body_walk():
    """ADVICE r11: lambda-variable exprId -> collection-handle bindings were
    registered globally and never unbound — re-walked shared subtrees (CTE
    defs visited per CTERelationRef) grew duplicate handle lists, and
    correctness leaned on NamedLambdaVariable exprIds being plan-unique.
    Bindings are now scoped to the body walk: visible inside, gone after,
    and repeated walks leave the map byte-identical."""
    from score_spark.schema_on_read.trie import Handle, TrieNode

    gen = SchemaOnRead()
    st = gen._state
    coll = TrieNode()
    st.exprid_map[("t", 1)] = [Handle(coll)]
    var = {
        "class": "NamedLambdaVariable",
        "exprId": {"jvmId": "t", "id": 9},
        "num-children": 0,
        "_children": [],
    }
    body = {
        "class": "GetStructField",
        "name": "c1",
        "num-children": 1,
        "_children": [dict(var, _children=[])],
    }
    lam = {"class": "LambdaFunction", "num-children": 2, "_children": [body, var]}
    expr = {
        "class": "ArrayTransform",
        "num-children": 2,
        "_children": [_synth_attr(1), lam],
    }
    for _ in range(3):  # re-walk of a shared subtree must not accumulate
        got = gen._walk_hof(expr, [lam], "touch")
        assert got, "body must resolve through the scoped binding"
        assert ("t", 9) not in st.exprid_map, "binding leaked past the body walk"
        assert len(st.exprid_map[("t", 1)]) == 1
    assert "c1" in coll.children  # the body's field access reached the trie


def test_hof_shared_subtree_union_round_trips(spark, arr_path):
    """Behavioral twin of the scoping test: a self-union re-walks the same
    HOF subtree (same exprIds in both branches); pruning must stay exact."""
    schema = _full_schema(spark, _SCHEMA3, _ROWS3)

    def build(df):
        d = df.select(F.explode(F.transform("arr", lambda x: x["c1"])).alias("v"))
        return d.union(d)

    pruned = _roundtrip(spark, arr_path, schema, build)
    assert set(pruned["arr"].dataType.elementType.fieldNames()) == {"c1"}, (
        pruned.simpleString()
    )

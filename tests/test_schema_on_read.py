"""Golden-schema tests — the pytest port of the reference's e2e suite
(/root/reference/score/src/test/java/com/taboola/spark/sql/score/SchemaOnReadGeneratorTest.java,
line cites per test). Pattern mirrors the reference: build a real query,
generate, assert the emitted StructType, and for re-execution cases prove the
pruned schema still runs the query to the same result.

Deliberate deviations (exprId tracking instead of SQL-string parsing):
- dropped columns vanish entirely instead of leaving skeletons (:1507-1532);
- alias names shadowing real columns do NOT over-include (:1680-1711);
- the upper-most descent passes THROUGH Sort/Join/Window/Generate (the
  reference stops at the first selection node of any kind, which
  skeletonizes a complex column projected as final output under an
  orderBy — r7 review, confirmed data loss);
- Intersect/Except/Deduplicate mark compared columns mandatory-full (the
  reference does not handle set ops at all; pruning a compared field
  changed result sets — r7 review).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F, types as T

from score_spark.schema_on_read import SchemaOnRead
from tests.fixtures_nested import SAMPLE_SCHEMA, write_fixtures


@pytest.fixture(scope="session")
def fx(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("nested_fixtures")
    return write_fixtures(spark, str(base))


@pytest.fixture(scope="session")
def sample(spark, fx):
    return spark.read.parquet(fx["sample_parquet"])


def gen(df):
    sor = SchemaOnRead.generate(df)
    assert sor.duration < 2.0  # driver-side only; BASELINE.md target <100ms after warmup
    return sor


def schema_of(df, fx, key="sample_parquet"):
    return gen(df).for_paths(fx[key])


def st(*fields):
    return T.StructType(list(fields))


def f(name, dtype, nullable=True):
    return T.StructField(name, dtype, nullable)


LONG = T.LongType()
STR = T.StringType()


def struct_field(*inner):
    return f("struct", st(*inner))


# ----------------------------------------------------------------- scans


def test_full_schema_passthrough_no_projection(spark, fx):
    # filter without projection → full schema (test :95-101)
    df = spark.read.parquet(fx["sample_parquet"]).filter(F.col("someLong") > 0)
    assert schema_of(df, fx) == SAMPLE_SCHEMA


def test_filter_only_query_runs_with_full_schema(spark, fx):
    df = spark.read.parquet(fx["sample_parquet"])
    sor = gen(df.filter(F.col("someBoolean")))
    pruned = sor.for_paths(fx["sample_parquet"])
    n = spark.read.schema(pruned).parquet(fx["sample_parquet"]).filter(F.col("someBoolean")).count()
    assert n == 2


# ------------------------------------------------------------- projection


def test_top_level_select(spark, fx):
    # (:144-190)
    df = spark.read.parquet(fx["sample_parquet"]).select("someStr")
    assert schema_of(df, fx) == st(f("someStr", STR))


def test_nested_select(spark, fx):
    df = spark.read.parquet(fx["sample_parquet"]).select("struct.col1")
    assert schema_of(df, fx) == st(struct_field(f("col1", LONG)))


def test_case_insensitive_resolution(spark, fx):
    # matched lower-cased, emitted source-cased (:192-215)
    df = spark.read.parquet(fx["sample_parquet"]).select("STRUCT.COL1")
    assert schema_of(df, fx) == st(struct_field(f("col1", LONG)))


def test_whole_struct_and_subfield_together(spark, fx):
    # SELECT s, s.f → full struct wins (:1570-1588)
    df = spark.read.parquet(fx["sample_parquet"]).select("struct", "struct.col1")
    assert schema_of(df, fx) == st(f("struct", SAMPLE_SCHEMA["struct"].dataType))


def test_drop_removes_entirely(spark, fx):
    # deviation from (:1507-1532): no skeletons for dropped cols
    df = spark.read.parquet(fx["sample_parquet"]).drop(
        "someStrArray", "someComplexArray", "nestedStruct", "someArrayOfArrays", "someArrayOfComplexArrays"
    )
    got = schema_of(df, fx)
    assert got.fieldNames() == ["someStr", "someLong", "someDouble", "someBoolean", "struct"]
    assert got["struct"].dataType == SAMPLE_SCHEMA["struct"].dataType  # upper-most → full


def test_alias_narrowing_through_subquery(spark, fx):
    # SELECT struct AS s ... then s.col1 → struct{col1} (:1535-1549, :685-705)
    df = spark.read.parquet(fx["sample_parquet"]).select(F.col("struct").alias("s")).select("s.col1")
    assert schema_of(df, fx) == st(struct_field(f("col1", LONG)))


def test_filter_on_column_not_in_select(spark, fx):
    # (:656-683): someStr only filtered → still read (primitive latch)
    df = spark.read.parquet(fx["sample_parquet"]).filter(F.col("someStr") == "bla").select("struct.col2")
    got = schema_of(df, fx)
    assert got == st(f("someStr", STR), struct_field(f("col2", LONG)))


def test_scalar_exprs_coalesce_if(spark, fx):
    # (:1277-1296)
    df = (
        spark.read.parquet(fx["sample_parquet"])
        .filter(F.coalesce(F.col("someLong"), F.lit(0)) > 0)
        .select(F.when(F.col("someBoolean"), F.col("struct.col1")).otherwise(F.col("struct.col2")).alias("x"))
    )
    assert schema_of(df, fx) == st(
        f("someLong", LONG), f("someBoolean", T.BooleanType()), struct_field(f("col1", LONG), f("col2", LONG))
    )


# ------------------------------------------------------------- aggregates


def test_group_by_with_sum(spark, fx):
    # (:707-733)
    df = spark.read.parquet(fx["sample_parquet"]).groupBy("someStr").agg(F.sum("someLong").alias("s"))
    assert schema_of(df, fx) == st(f("someStr", STR), f("someLong", LONG))


def test_group_by_whole_struct_mandatory_full(spark, fx):
    # grouping by struct keeps the FULL struct (:1592-1629)
    df = spark.read.parquet(fx["sample_parquet"]).groupBy("struct").agg(F.count(F.lit(1)).alias("c"))
    assert schema_of(df, fx) == st(f("struct", SAMPLE_SCHEMA["struct"].dataType))


def test_group_by_struct_part(spark, fx):
    # grouping by a struct PART prunes to it (:1631-1677)
    df = spark.read.parquet(fx["sample_parquet"]).groupBy("struct.col1").agg(F.count(F.lit(1)).alias("c"))
    assert schema_of(df, fx) == st(struct_field(f("col1", LONG)))


def test_agg_inside_subquery_outer_reprojection(spark, fx):
    # agg in CTE, outer re-projection (:834-861)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql(
        """
        WITH base AS (SELECT someStr, sum(someLong) AS s, first(struct) AS fs FROM sample_v GROUP BY someStr)
        SELECT s FROM base
        """
    )
    got = schema_of(df, fx)
    # someStr (grouping, mandatory) + someLong (agg arg); struct only touched
    # in non-upper agg → skeleton
    assert got == st(f("someStr", STR), f("someLong", LONG), f("struct", st()))


def test_conditional_agg_sum_if(spark, fx):
    # sum(if(cond, x, 0)) (:863-892)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql(
        "SELECT someStr, sum(if(someBoolean, someLong, 0)) AS s FROM sample_v GROUP BY someStr"
    )
    assert schema_of(df, fx) == st(f("someStr", STR), f("someLong", LONG), f("someBoolean", T.BooleanType()))


# ---------------------------------------------------------------- windows


def test_window_inline(spark, fx):
    # FIRST(...) OVER (PARTITION BY ... ORDER BY ...) (:1105-1124)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql(
        "SELECT first(struct.col1) OVER (PARTITION BY someStr ORDER BY someLong) AS fv FROM sample_v"
    )
    assert schema_of(df, fx) == st(
        f("someStr", STR), f("someLong", LONG), struct_field(f("col1", LONG))
    )


def test_window_complex_partition_key_mandatory_full(spark, fx):
    # complex partition key → full subtree (:361-403)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql(
        "SELECT first(someLong) OVER (PARTITION BY someComplexArray ORDER BY someStr) AS fv FROM sample_v"
    )
    got = schema_of(df, fx)
    assert got == st(
        f("someStr", STR),
        f("someLong", LONG),
        f("someComplexArray", SAMPLE_SCHEMA["someComplexArray"].dataType),
    )


# ------------------------------------------------------------------- sorts


def test_order_by_complex_in_subquery_mandatory_full(spark, fx):
    # ORDER BY complex column → full struct (:405-424)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql("SELECT someStr FROM (SELECT someStr, struct FROM sample_v ORDER BY struct) t")
    got = schema_of(df, fx)
    assert got == st(f("someStr", STR), f("struct", SAMPLE_SCHEMA["struct"].dataType))


# ------------------------------------------------------------------- joins


def test_self_join_merges_into_one_relation(spark, fx):
    # self-join with aliases: one path-set, merged trie (:894-918)
    a = spark.read.parquet(fx["sample_parquet"]).alias("a")
    b = spark.read.parquet(fx["sample_parquet"]).alias("b")
    df = a.join(b, F.col("a.someLong") == F.col("b.someLong")).select(
        F.col("a.someStr"), F.col("b.struct.col1")
    )
    assert schema_of(df, fx) == st(
        f("someStr", STR), f("someLong", LONG), struct_field(f("col1", LONG))
    )


def test_join_cross_source_per_source_schemas(spark, fx):
    # parquet ⋈ json with per-source pruning (:1246-1275)
    pq = spark.read.parquet(fx["sample_parquet"])
    js = spark.read.option("multiline", True).json(fx["sample_json"])
    df = pq.join(js, pq.someLong == js.someLong).select(pq.someStr, js["struct.col2"])
    sor = gen(df)
    assert sor.for_paths(fx["sample_parquet"]) == st(f("someStr", STR), f("someLong", LONG))
    js_schema = sor.for_paths(fx["sample_json"])
    assert [fl.name for fl in js_schema] == ["someLong", "struct"]
    assert js_schema["struct"].dataType.fieldNames() == ["col2"]


def test_broadcast_join_hint(spark, fx):
    # F.broadcast both forms (:1042-1102); ResolvedHint is a passthrough
    a = spark.read.parquet(fx["sample_parquet"])
    b = F.broadcast(spark.read.parquet(fx["sample_parquet"]))
    df = a.join(b, a.someLong == b.someLong).select(a.someStr)
    assert schema_of(df, fx) == st(f("someStr", STR), f("someLong", LONG))


# ---------------------------------------------------------------- explodes


def test_lateral_view_explode_string_array(spark, fx):
    # (:274-286)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql("SELECT item FROM sample_v LATERAL VIEW EXPLODE(someStrArray) t AS item")
    assert schema_of(df, fx) == st(f("someStrArray", T.ArrayType(STR)))


def test_explode_array_of_struct_field_access(spark, fx):
    # explode then item.col1 → arr{col1} (:302-318)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql("SELECT item.col1 FROM sample_v LATERAL VIEW EXPLODE(someComplexArray) t AS item")
    assert schema_of(df, fx) == st(
        f("someComplexArray", T.ArrayType(st(f("col1", LONG))))
    )


def test_posexplode_value_attr_is_last(spark, fx):
    # (:288-300)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql(
        "SELECT pos, item.col2 FROM sample_v LATERAL VIEW POSEXPLODE(someComplexArray) t AS pos, item"
    )
    assert schema_of(df, fx) == st(
        f("someComplexArray", T.ArrayType(st(f("col2", LONG))))
    )


def test_explode_nested_subarray(spark, fx):
    # explode(struct.subArray) (:606-627)
    df = spark.read.parquet(fx["sample_parquet"]).select(
        F.explode(F.col("struct.subArray")).alias("x")
    )
    assert schema_of(df, fx) == st(struct_field(f("subArray", T.ArrayType(LONG))))


def test_chained_explodes(spark, fx):
    # explode array-of-struct, then explode its inner array (:449-472)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql(
        """
        SELECT inner_item FROM sample_v
        LATERAL VIEW EXPLODE(someArrayOfComplexArrays) t1 AS item
        LATERAL VIEW EXPLODE(item.col2) t2 AS inner_item
        """
    )
    assert schema_of(df, fx) == st(
        f("someArrayOfComplexArrays", T.ArrayType(st(f("col2", T.ArrayType(LONG)))))
    )


def test_array_index_struct_field(spark, fx):
    # arr[0].field — index never narrows, path does (:510-543, :217-254)
    df = spark.read.parquet(fx["sample_parquet"]).select(F.col("someComplexArray")[0]["col1"].alias("v"))
    assert schema_of(df, fx) == st(f("someComplexArray", T.ArrayType(st(f("col1", LONG)))))


def test_get_function_index_struct_field(spark, fx):
    # F.get(arr, 0).field — the NULL-on-out-of-bounds sibling of arr[0]
    # analyzes to a `Get` head, not GetArrayItem; r8's plan fuzz caught the
    # walker dropping the someComplexArray dependency entirely (unresolved
    # column on pruned re-read). Same strip-the-index semantics as [0].
    df = spark.read.parquet(fx["sample_parquet"]).select(
        F.get("someComplexArray", 0)["col1"].alias("v")
    )
    assert schema_of(df, fx) == st(f("someComplexArray", T.ArrayType(st(f("col1", LONG)))))


def test_filter_field_through_array(spark, fx):
    # predicate over arr.col2 (:1400-1454)
    df = (
        spark.read.parquet(fx["sample_parquet"])
        .filter(F.col("someComplexArray.col2").isNotNull())
        .select("someStr")
    )
    assert schema_of(df, fx) == st(
        f("someStr", STR), f("someComplexArray", T.ArrayType(st(f("col2", LONG))))
    )


# -------------------------------------------------------------------- maps


def test_map_value_pruning_keys_never_pruned(spark, fx):
    # mapOfArray['someKey'][0].val1 in SELECT and WHERE → value struct pruned
    # to val1; keys stay (:1298-1332)
    df = (
        spark.read.parquet(fx["crazy_parquet"])
        .filter(F.col("mapOfArray")["someKey"][0]["val1"].isNotNull())
        .select(F.col("mapOfArray")["someKey"][0]["val1"].alias("v"))
    )
    got = gen(df).for_paths(fx["crazy_parquet"])
    assert got == st(
        f(
            "mapOfArray",
            T.MapType(STR, T.ArrayType(st(f("val1", STR)))),
        )
    )


# ------------------------------------------------------------------ unions


def test_union_per_branch_pruning(spark, fx):
    # union over two files: requirements reach BOTH branches (:559-603)
    pq = spark.read.parquet(fx["sample_parquet"]).select("someStr", "struct")
    js = spark.read.option("multiline", True).json(fx["sample_json"]).select("someStr", "struct")
    df = pq.unionAll(js).select("struct.col3")
    sor = gen(df)
    got_pq = sor.for_paths(fx["sample_parquet"])
    assert [fl.name for fl in got_pq] == ["someStr", "struct"]
    assert got_pq["struct"].dataType.fieldNames() == ["col3"]
    got_js = sor.for_paths(fx["sample_json"])
    assert got_js["struct"].dataType.fieldNames() == ["col3"]


def test_union_branch_local_touch_mirrors_to_other_branch(spark, fx):
    # r8 fuzz find: a filter INSIDE one branch touches struct.col1; the other
    # branch projects the same struct untouched. Without cross-branch
    # reconciliation the pruned re-read unions STRUCT<col1> against skeleton
    # STRUCT<> and fails analysis. Branch-local requirements must mirror to
    # every linked branch (the reference merges per-branch results at set-ops,
    # TreeNodeProcessingRegistry.java:108-115).
    pq = spark.read.parquet(fx["sample_parquet"]).select(
        F.col("struct").alias("whole_struct"), "someStr"
    )
    js = (
        spark.read.option("multiline", True)
        .json(fx["sample_json"])
        .filter(F.col("struct.col1").isNotNull())
        .select(F.col("struct").alias("whole_struct"), "someStr")
    )
    df = pq.unionAll(js).groupBy("someStr").agg(F.count(F.lit(1)).alias("n"))
    sor = gen(df)
    got_pq = sor.for_paths(fx["sample_parquet"])
    got_js = sor.for_paths(fx["sample_json"])
    # both branches carry the filter's col1 so the union stays type-compatible
    assert got_pq["struct"].dataType.fieldNames() == ["col1"]
    assert got_js["struct"].dataType.fieldNames() == ["col1"]
    # and the pruned re-read actually analyzes + returns the same rows
    full = sorted(map(tuple, df.collect()))
    pruned = (
        spark.read.schema(got_pq)
        .parquet(fx["sample_parquet"])
        .select(F.col("struct").alias("whole_struct"), "someStr")
        .unionAll(
            spark.read.schema(got_js)
            .option("multiline", True)
            .json(fx["sample_json"])
            .filter(F.col("struct.col1").isNotNull())
            .select(F.col("struct").alias("whole_struct"), "someStr")
        )
        .groupBy("someStr")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    assert sorted(map(tuple, pruned.collect())) == full


# ---------------------------------------------------- other source handling


def test_local_relation_ignored(spark, fx):
    # createDataFrame sources are never pruned (:977-1001)
    local = spark.createDataFrame([("bla",)], ["someString"])
    pq = spark.read.parquet(fx["sample_parquet"])
    df = pq.join(local, pq.someStr == local.someString).select("someLong")
    sor = gen(df)
    assert sor.for_paths(fx["sample_parquet"]) == st(
        f("someStr", STR), f("someLong", LONG), f("someString", STR)
    ) or sor.for_paths(fx["sample_parquet"]).fieldNames() == ["someStr", "someLong"]
    assert len(sor.relations) == 1


def test_partitioned_directory(spark, fx):
    # partition col lives in the dir name; survives pruning when selected
    # (:1490-1505)
    df = spark.read.parquet(fx["partitioned"]).select("someLong", "struct.col1")
    sor = gen(df)
    got = sor.for_paths(fx["partitioned"])
    names = got.fieldNames()
    assert set(names) == {"someLong", "struct"}
    assert got["struct"].dataType.fieldNames() == ["col1"]


def test_cached_dataset_still_traced(spark, fx):
    # (:1162-1188): analyzed plan keeps the source under .cache()
    df = spark.read.parquet(fx["sample_parquet"]).cache()
    try:
        q = df.select("struct.col1")
        assert schema_of(q, fx) == st(struct_field(f("col1", LONG)))
    finally:
        df.unpersist()


def test_udf_arguments_tracked(spark, fx):
    # registered UDF's argument columns still tracked (:546-557)
    spark.udf.register("my_concat", lambda a, b: f"{a}-{b}")
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql("SELECT my_concat(someStr, struct.col1) AS c FROM sample_v")
    assert schema_of(df, fx) == st(f("someStr", STR), struct_field(f("col1", LONG)))


def test_for_view_api(spark, fx):
    # getSchemaOnReadByAlias analog (SchemaOnReadGenerator.java:79-85)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql("SELECT someStr FROM sample_v")
    sor = gen(df)
    assert sor.for_view("sample_v") == st(f("someStr", STR))


def test_generate_never_raises(spark):
    # best-effort contract (README.md:9)
    df = spark.range(10).selectExpr("id * 2 AS x")
    sor = SchemaOnRead.generate(df)
    assert sor.relations == []


# ----------------------------------------- pruned-schema equivalence (e2e)


@pytest.mark.parametrize(
    "build",
    [
        lambda d: d.select("struct.col1", "someStr"),
        lambda d: d.groupBy("someStr").agg(F.sum("someLong").alias("s")),
        lambda d: d.filter(F.col("someComplexArray.col2").isNotNull()).select("nestedStruct.childStruct.col1"),
        lambda d: d.select(F.explode("someComplexArray").alias("i")).select("i.col2"),
    ],
    ids=["nested-select", "agg", "filter-through-array", "explode"],
)
def test_pruned_rerun_equals_full_run(spark, fx, build):
    # the reference's executeQueryWithSchema does-it-still-run check
    # (:1714-1717), strengthened to full result equality
    full_df = build(spark.read.parquet(fx["sample_parquet"]))
    sor = gen(full_df)
    pruned_schema = sor.for_paths(fx["sample_parquet"])
    pruned_df = build(spark.read.schema(pruned_schema).parquet(fx["sample_parquet"]))
    assert sorted(map(str, full_df.collect())) == sorted(map(str, pruned_df.collect()))


def test_group_by_ordinal_and_expression(spark, fx):
    # GROUP BY 1 + expression (:707-733)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql("SELECT someStr, sum(someLong + struct.col1) AS s FROM sample_v GROUP BY 1")
    assert schema_of(df, fx) == st(
        f("someStr", STR), f("someLong", LONG), struct_field(f("col1", LONG))
    )


def test_count_star_count_one_order_by_ordinal(spark, fx):
    # count(1)/count(*)/count(col) + ORDER BY ordinal (:736-803)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql(
        "SELECT someStr, count(1) AS c1, count(*) AS cs, count(someDouble) AS cd"
        " FROM sample_v GROUP BY someStr ORDER BY 2"
    )
    assert schema_of(df, fx) == st(f("someStr", STR), f("someDouble", T.DoubleType()))


def test_grouping_keys_absent_from_select(spark, fx):
    # grouping key not projected still read (:806-832)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql("SELECT sum(someLong) AS s FROM sample_v GROUP BY someStr")
    assert schema_of(df, fx) == st(f("someStr", STR), f("someLong", LONG))


def test_order_by_aggregated_alias(spark, fx):
    # ORDER BY the aggregate's alias (:426-446)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql("SELECT someStr, sum(someLong) AS total FROM sample_v GROUP BY someStr ORDER BY total")
    assert schema_of(df, fx) == st(f("someStr", STR), f("someLong", LONG))


def test_first_complex_then_explode_of_agg_output(spark, fx):
    # FIRST(complex array) in a CTE, outer LATERAL VIEW over it (:320-337)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql(
        """
        WITH agged AS (SELECT someStr, first(someComplexArray) AS arr FROM sample_v GROUP BY someStr)
        SELECT someStr, item.col1 FROM agged LATERAL VIEW EXPLODE(arr) t AS item
        """
    )
    got = schema_of(df, fx)
    assert got.fieldNames() == ["someStr", "someComplexArray"]
    # first()'s argument is an agg expr (conditional) narrowed by the
    # downstream item.col1 access
    assert got["someComplexArray"].dataType == T.ArrayType(st(f("col1", LONG)))


def test_named_window_clause(spark, fx):
    # WINDOW w AS (...) (:339-359)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql(
        "SELECT first(struct.col2) OVER w AS fv FROM sample_v"
        " WINDOW w AS (PARTITION BY someStr ORDER BY someLong)"
    )
    assert schema_of(df, fx) == st(
        f("someStr", STR), f("someLong", LONG), struct_field(f("col2", LONG))
    )


def test_window_frame_first_last_value(spark, fx):
    # FIRST_VALUE/LAST_VALUE + ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING
    # (:1126-1159)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql(
        """
        SELECT first_value(struct.col1) OVER (PARTITION BY someStr ORDER BY someLong
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS fv,
               last_value(someDouble) OVER (PARTITION BY someStr ORDER BY someLong
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS lv
        FROM sample_v
        """
    )
    assert schema_of(df, fx) == st(
        f("someStr", STR),
        f("someLong", LONG),
        f("someDouble", T.DoubleType()),
        struct_field(f("col1", LONG)),
    )


def test_sql_equi_join_two_views_same_file(spark, fx):
    # two views over the same file merge into one relation (:920-946)
    base = spark.read.parquet(fx["sample_parquet"])
    base.createOrReplaceTempView("j_a")
    base.createOrReplaceTempView("j_b")
    df = spark.sql(
        "SELECT j_a.someStr, j_b.struct.col3 FROM j_a JOIN j_b ON j_a.someLong = j_b.someLong"
    )
    sor = gen(df)
    assert len(sor.relations) == 1
    assert sor.for_paths(fx["sample_parquet"]) == st(
        f("someStr", STR), f("someLong", LONG), struct_field(f("col3", LONG))
    )


def test_implicit_comma_join_with_where(spark, fx):
    # implicit join + WHERE as the join condition (:948-974)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("j_a")
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("j_b")
    df = spark.sql(
        "SELECT j_a.someStr FROM j_a, j_b WHERE j_a.someLong = j_b.someLong"
    )
    assert schema_of(df, fx) == st(f("someStr", STR), f("someLong", LONG))


def test_api_join_using_column(spark, fx):
    # df.join(other, "col") USING form, pre-projected sides (:1017-1040)
    a = spark.read.parquet(fx["sample_parquet"])
    b = spark.read.parquet(fx["sample_parquet"])
    df = (
        a.select("someLong", "someStr")
        .join(b.select(b["someLong"], b["struct.col3"]), "someLong")
        .select("someLong", "someStr", "col3")
    )
    assert schema_of(df, fx) == st(
        f("someStr", STR), f("someLong", LONG), struct_field(f("col3", LONG))
    )


def test_right_join_lateral_views_both_branches(spark, fx):
    # RIGHT JOIN with a lateral view on each branch (:474-508)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql(
        """
        SELECT l.item_a.col1, r.item_b
        FROM (SELECT someLong, item_a FROM sample_v
              LATERAL VIEW EXPLODE(someComplexArray) t AS item_a) l
        RIGHT JOIN (SELECT someLong, item_b FROM sample_v
              LATERAL VIEW EXPLODE(someStrArray) t AS item_b) r
        ON l.someLong = r.someLong
        """
    )
    got = schema_of(df, fx)
    assert set(got.fieldNames()) == {"someLong", "someComplexArray", "someStrArray"}
    assert got["someComplexArray"].dataType == T.ArrayType(st(f("col1", LONG)))
    assert got["someStrArray"].dataType == T.ArrayType(STR)


def test_double_explode_two_fields_of_exploded_struct(spark, fx):
    # two lateral views + two fields of the exploded struct (:1456-1487)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql(
        """
        SELECT s_item, c_item.col1, c_item.col2 FROM sample_v
        LATERAL VIEW EXPLODE(someStrArray) t1 AS s_item
        LATERAL VIEW EXPLODE(someComplexArray) t2 AS c_item
        """
    )
    got = schema_of(df, fx)
    assert set(got.fieldNames()) == {"someStrArray", "someComplexArray"}
    assert got["someComplexArray"].dataType == T.ArrayType(st(f("col1", LONG), f("col2", LONG)))


def test_array_of_arrays_index(spark, fx):
    # arr[0][2]: indexes never narrow, the path does (:528-543)
    df = spark.read.parquet(fx["sample_parquet"]).select(F.col("someArrayOfArrays")[0][2].alias("v"))
    assert schema_of(df, fx) == st(f("someArrayOfArrays", T.ArrayType(T.ArrayType(LONG))))


def test_wildcard_json_multipath_identity(spark, fx, tmp_path):
    # sample*.json glob resolves to the concrete file set (:1192-1205)
    js = spark.read.option("multiline", True).json(
        fx["sample_json"].rsplit("/", 1)[0] + "/sample*.json"
    )
    df = js.select("someStr")
    sor = gen(df)
    # lookup by the resolved concrete path must hit the same relation
    assert sor.for_paths(fx["sample_json"]) == st(f("someStr", STR))


def test_multi_file_unordered_duplicate_path_identity(spark, fx):
    # path list identity: unordered + duplicates → same sorted-set ref
    # (:1208-1244)
    df = spark.read.parquet(fx["sample_parquet"]).select("someStr")
    sor = gen(df)
    assert sor.for_paths(fx["sample_parquet"], fx["sample_parquet"]) == st(f("someStr", STR))


def test_explicit_user_schema_on_read(spark, fx):
    # a read that already has a user schema is still tracked/narrowed
    # (:1299-1311)
    user_schema = st(f("someStr", STR), struct_field(f("col1", LONG), f("col2", LONG)))
    df = spark.read.schema(user_schema).parquet(fx["sample_parquet"]).select("struct.col2")
    assert schema_of(df, fx) == st(struct_field(f("col2", LONG)))


def test_filter_is_null_or_less_than(spark, fx):
    # IS NULL / OR / < (:1277-1296)
    df = (
        spark.read.parquet(fx["sample_parquet"])
        .filter(F.col("struct.col3").isNull() | (F.col("someDouble") < 5.0))
        .select("someStr")
    )
    assert schema_of(df, fx) == st(
        f("someStr", STR), f("someDouble", T.DoubleType()), struct_field(f("col3", LONG))
    )


def test_union_sql_view_form(spark, fx):
    # SQL UNION ALL over two views of different files (:559-603)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("u_pq")
    spark.read.option("multiline", True).json(fx["sample_json"]).createOrReplaceTempView("u_js")
    df = spark.sql(
        "SELECT struct.col2 FROM u_pq UNION ALL SELECT struct.col2 FROM u_js"
    )
    sor = gen(df)
    assert sor.for_paths(fx["sample_parquet"]) == st(struct_field(f("col2", LONG)))
    assert sor.for_paths(fx["sample_json"])["struct"].dataType.fieldNames() == ["col2"]


def test_json_multiline_pruned_read(spark, fx):
    # JSON is where read-schema pruning pays (SchemaPruning is file-format
    # gated; SURVEY §4): narrower schema → cheaper parse, same rows
    js = spark.read.option("multiline", True).json(fx["sample_json"])
    q = js.select("struct.col1", "someStr")
    sor = gen(q)
    pruned = sor.for_paths(fx["sample_json"])
    assert pruned["struct"].dataType.fieldNames() == ["col1"]
    re_read = spark.read.schema(pruned).option("multiline", True).json(fx["sample_json"])
    assert sorted(map(str, re_read.select("struct.col1", "someStr").collect())) == sorted(
        map(str, q.collect())
    )


# ---------------------------------------------- r2 ports: remaining goldens


def test_full_schema_with_subquery_view(spark, fx):
    # filter in a view + outer narrow select (:104-113)
    spark.read.parquet(fx["sample_parquet"]).filter("someLong = 5").createOrReplaceTempView(
        "filtered_v"
    )
    df = spark.sql("SELECT someStr FROM filtered_v")
    assert schema_of(df, fx) == st(f("someStr", STR), f("someLong", LONG))


def test_full_schema_with_subquery_no_alias(spark, fx):
    # API chain select -> filter -> select (:115-124)
    df = (
        spark.read.parquet(fx["sample_parquet"])
        .select("someLong", "someStr")
        .filter("someLong = 5")
        .select("someStr")
    )
    # emission follows source-schema field order
    assert schema_of(df, fx) == st(f("someStr", STR), f("someLong", LONG))


def test_sql_broadcast_hint_form(spark, fx):
    # /*+ BROADCAST(b) */ SQL hint: two views over the same file merge into
    # one relation; hint node is a passthrough (:1042-1070)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v2")
    q = (
        "SELECT /*+ BROADCAST(b) */ a.someLong, a.someStr, b.struct.col1 "
        "FROM sample_v a JOIN sample_v2 b ON a.someLong = b.someLong"
    )
    df = spark.sql(q)
    sor = gen(df)
    expected = st(f("someStr", STR), f("someLong", LONG), struct_field(f("col1", LONG)))
    assert sor.for_paths(fx["sample_parquet"]) == expected
    assert sor.for_view("sample_v") == expected
    assert sor.for_view("sample_v2") == expected
    # re-execution with the pruned schema still answers the query (:1714-1717)
    spark.read.schema(expected).parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    spark.read.schema(expected).parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v2")
    assert spark.sql(q).count() == 2


def test_alias_name_like_existing_column_exprid_exact(spark, fx):
    # DELIBERATE DEVIATION from (:1680-1711): the reference's SQL-string
    # parser can't tell alias `struct` from the real `struct` column and
    # over-includes BOTH; exprId tracking includes only what the query reads.
    # This test pins the improved behaviour AND proves the pruned re-read
    # still answers the query (the regression the deviation must not cause).
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    q = "SELECT nestedStruct AS struct FROM sample_v"
    df = spark.sql(q)
    got = schema_of(df, fx)
    assert got == st(f("nestedStruct", SAMPLE_SCHEMA["nestedStruct"].dataType))
    assert "struct" not in got.fieldNames()
    spark.read.schema(got).parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    full_rows = sorted(map(str, spark.sql(q).collect()))
    assert len(full_rows) == 2


def test_window_complex_order_key_mandatory_full(spark, fx):
    # ORDER BY complex inside a window spec -> full subtree (:386-403)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql(
        "WITH base AS (SELECT first(someStr) OVER w AS s FROM sample_v "
        "WINDOW w AS (PARTITION BY someStr ORDER BY someComplexArray DESC)) "
        "SELECT s FROM base"
    )
    assert schema_of(df, fx) == st(
        f("someStr", STR),
        f("someComplexArray", SAMPLE_SCHEMA["someComplexArray"].dataType),
    )


def test_aggregate_with_order_on_complex_alias(spark, fx):
    # ORDER BY an aggregated alias of a complex column -> mandatory-full
    # through the alias chain (:426-446)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql(
        "WITH base AS (SELECT someStr, first(someComplexArray) AS cmplx FROM sample_v "
        "GROUP BY 1 ORDER BY cmplx) SELECT someStr FROM base"
    )
    assert schema_of(df, fx) == st(
        f("someStr", STR),
        f("someComplexArray", SAMPLE_SCHEMA["someComplexArray"].dataType),
    )


def test_struct_aggregation_over_window_subquery(spark, fx):
    # FIRST(complex) OVER w in a CTE, outer FIRST(alias) at the upper-most
    # aggregate -> full complex subtree via the exprId chain (:339-359)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql(
        "WITH base AS (SELECT someStr, first(someComplexArray) OVER w AS complexArray "
        "FROM sample_v WINDOW w AS (PARTITION BY someStr ORDER BY someStr DESC)) "
        "SELECT first(complexArray) AS myArray FROM base GROUP BY someStr"
    )
    assert schema_of(df, fx) == st(
        f("someStr", STR),
        f("someComplexArray", SAMPLE_SCHEMA["someComplexArray"].dataType),
    )


@pytest.fixture(scope="session")
def crazy_window_fx(spark, tmp_path_factory):
    """Fixture shaped like the reference's crazy-sample for the
    veryComplexWindow case (:1126-1159): struct carries a `condition` bool
    plus a subArray that the query never touches (so pruning is visible)."""
    schema = st(
        f("someStr", STR),
        f("someBoolean", T.BooleanType()),
        f("someDouble", T.DoubleType()),
        f("someLong", LONG),
        f(
            "struct",
            st(
                f("col1", LONG),
                f("col2", LONG),
                f("col3", LONG),
                f("condition", T.BooleanType()),
                f("subArray", T.ArrayType(LONG)),
            ),
        ),
    )
    rows = [
        ("a", True, 1.5, 1, (10, 20, 30, True, [1, 2])),
        ("b", True, 2.5, 2, (11, 21, 31, True, [3])),
    ]
    path = str(tmp_path_factory.mktemp("crazy_window") / "crazy.parquet")
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(path)
    return path


def test_very_complex_window_lacking_window_columns_from_project(spark, crazy_window_fx):
    # window partition/order cols absent from SELECT; filter over nested
    # bool; FIRST_VALUE/LAST_VALUE with a frame (:1126-1159)
    spark.read.parquet(crazy_window_fx).createOrReplaceTempView("crazy_v")
    q = (
        "SELECT someLong, struct.col1 AS col1, "
        "FIRST_VALUE(struct.col3) OVER w AS firstCol3, "
        "LAST_VALUE(struct.col2) OVER w AS lastCol2 "
        "FROM crazy_v WHERE someBoolean = true AND struct.condition = true "
        "WINDOW w AS (PARTITION BY someStr, someDouble "
        "ORDER BY struct.col1 ASC ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)"
    )
    df = spark.sql(q)
    got = gen(df).for_paths(crazy_window_fx)
    assert got == st(
        f("someStr", STR),
        f("someBoolean", T.BooleanType()),
        f("someDouble", T.DoubleType()),
        f("someLong", LONG),
        f(
            "struct",
            st(f("col1", LONG), f("col2", LONG), f("col3", LONG), f("condition", T.BooleanType())),
        ),
    )
    spark.read.schema(got).parquet(crazy_window_fx).createOrReplaceTempView("crazy_v")
    assert spark.sql(q).count() == 2


def test_multiple_sources_join_sql_views(spark, fx):
    # SQL join of a parquet view and a json view — per-source pruned schemas
    # (:1246-1275)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("pq_v")
    spark.read.option("multiline", True).json(fx["sample_json"]).createOrReplaceTempView("js_v")
    df = spark.sql(
        "SELECT a.someLong, a.someStr, b.struct.col3 FROM pq_v a JOIN js_v b ON a.someLong = b.someLong"
    )
    sor = gen(df)
    assert sor.for_paths(fx["sample_parquet"]) == st(f("someStr", STR), f("someLong", LONG))
    js = sor.for_paths(fx["sample_json"])
    assert [fl.name for fl in js] == ["someLong", "struct"]
    assert js["struct"].dataType.fieldNames() == ["col3"]


def test_group_struct_part_by_full_struct_sql(spark, fx):
    # first(nestedStruct.str) GROUP BY nestedStruct: grouping mandatory-full
    # (:1592-1610)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql("SELECT first(nestedStruct.str) FROM sample_v GROUP BY nestedStruct")
    assert schema_of(df, fx) == st(f("nestedStruct", SAMPLE_SCHEMA["nestedStruct"].dataType))


def test_group_full_struct_by_struct_part_sql(spark, fx):
    # first(nestedStruct) GROUP BY nestedStruct.str: agg expr at upper-most
    # -> full struct; grouping leaf adds nothing extra (:1612-1629)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql("SELECT first(nestedStruct) FROM sample_v GROUP BY nestedStruct.str")
    assert schema_of(df, fx) == st(f("nestedStruct", SAMPLE_SCHEMA["nestedStruct"].dataType))


def test_group_struct_part_by_full_struct_subquery(spark, fx):
    # same, through a view + outer narrow re-projection (:1632-1653)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    spark.sql(
        "SELECT first(nestedStruct.str) AS str FROM sample_v GROUP BY nestedStruct"
    ).createOrReplaceTempView("base_v")
    df = spark.sql("SELECT str FROM base_v")
    assert schema_of(df, fx) == st(f("nestedStruct", SAMPLE_SCHEMA["nestedStruct"].dataType))


def test_group_full_struct_by_struct_part_subquery(spark, fx):
    # outer narrows into the aggregated struct alias: childStruct.col1 +
    # grouping leaf str (:1656-1677)
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    spark.sql(
        "SELECT first(nestedStruct) AS mystruct FROM sample_v GROUP BY nestedStruct.str"
    ).createOrReplaceTempView("base_v")
    df = spark.sql("SELECT mystruct.childStruct.col1 FROM base_v")
    got = schema_of(df, fx)
    assert [fl.name for fl in got] == ["nestedStruct"]
    inner = got["nestedStruct"].dataType
    assert set(inner.fieldNames()) == {"childStruct", "str"}
    assert inner["childStruct"].dataType.fieldNames() == ["col1"]


# --------------------------------- r2: Intersect / Except / Expand goldens


def test_intersect_links_both_branches(spark, fx):
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql(
        "SELECT someStr, struct.col1 AS c FROM sample_v "
        "INTERSECT SELECT someStr, struct.col2 AS c FROM sample_v"
    )
    got = schema_of(df, fx)
    assert got == st(f("someStr", STR), struct_field(f("col1", LONG), f("col2", LONG)))


def test_except_links_both_branches(spark, fx):
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql(
        "SELECT struct.col1 AS c FROM sample_v "
        "EXCEPT SELECT struct.col3 AS c FROM sample_v"
    )
    got = schema_of(df, fx)
    assert got == st(struct_field(f("col1", LONG), f("col3", LONG)))


def test_expand_rollup_grouping_paths(spark, fx):
    # ROLLUP -> Expand node. Catalyst's rollup analysis inserts an
    # all-columns passthrough Project under Expand, and under reference
    # "touch" semantics (conditional columns of a non-upper-most Project:
    # primitives latch, complex stay prunable — SchemaElementImpl.java:46-51)
    # that keeps every primitive and skeletons for untouched complex types.
    # What the Expand handler itself must guarantee: the grouping paths
    # (someStr, struct.col1) narrow `struct` to col1 through the positional
    # projection links — pinned here.
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    df = spark.sql(
        "SELECT someStr, struct.col1 AS c, count(1) AS n FROM sample_v "
        "GROUP BY ROLLUP(someStr, struct.col1)"
    )
    got = schema_of(df, fx)
    assert "someStr" in got.fieldNames()
    assert got["struct"].dataType.fieldNames() == ["col1"]  # narrowed, not full
    assert got["nestedStruct"].dataType.fieldNames() == []  # skeleton, not full


def test_expand_cube_runs_with_pruned_schema(spark, fx):
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    q = (
        "SELECT someStr, nestedStruct.str AS s2, count(1) AS n FROM sample_v "
        "GROUP BY CUBE(someStr, nestedStruct.str)"
    )
    full_rows = sorted(map(str, spark.sql(q).collect()))
    got = gen(spark.sql(q)).for_paths(fx["sample_parquet"])
    assert got["nestedStruct"].dataType.fieldNames() == ["str"]  # narrowed
    spark.read.schema(got).parquet(fx["sample_parquet"]).createOrReplaceTempView("sample_v")
    assert sorted(map(str, spark.sql(q).collect())) == full_rows


# ------------------------------------- r2: CSV / ORC scan coverage (stock)


def test_orc_scan_pruning(spark, tmp_path_factory):
    """ORC rides the same HadoopFsRelation path the reference matches
    (TreeNodeProcessingRegistry.java:25-30) — nested pruning included."""
    path = str(tmp_path_factory.mktemp("orc") / "sample.orc")
    spark.createDataFrame(
        [("a", 1, (10, 20)), ("b", 2, (30, 40))],
        st(f("s", STR), f("n", LONG), f("inner", st(f("x", LONG), f("y", LONG)))),
    ).coalesce(1).write.mode("overwrite").orc(path)
    df = spark.read.orc(path).select("s", "inner.x")
    got = gen(df).for_paths(path)
    assert got == st(f("s", STR), f("inner", st(f("x", LONG))))
    rows = spark.read.schema(got).orc(path).select("s", "inner.x").collect()
    assert sorted((r.s, r.x) for r in rows) == [("a", 10), ("b", 30)]


def test_csv_scan_pruning(spark, tmp_path_factory):
    """CSV is flat; top-level column pruning still applies and the pruned
    re-read must resolve by header name."""
    path = str(tmp_path_factory.mktemp("csv") / "sample.csv")
    spark.createDataFrame(
        [("a", 1, 1.5), ("b", 2, 2.5)], st(f("s", STR), f("n", LONG), f("d", T.DoubleType()))
    ).coalesce(1).write.mode("overwrite").option("header", True).csv(path)
    df = spark.read.option("header", True).csv(path).select("s", "n")
    got = gen(df).for_paths(path)
    assert [fl.name for fl in got] == ["s", "n"]
    rows = (
        spark.read.schema(got).option("header", True).csv(path).collect()
    )
    assert sorted((r.s, r.n) for r in rows) == [("a", "1"), ("b", "2")]


def test_avro_scan_pruning(spark, tmp_path_factory):
    """Avro rides the same HadoopFsRelation path as ORC/parquet
    (TreeNodeProcessingRegistry.java:25-30), so the analyzer needs no
    format-specific code. The upstream spark-avro module is external and
    this container has no network to fetch it (r4/r5 asks), so r6 built a
    minimal Avro FileFormat from the public extension APIs + the Avro libs
    that ship in Spark's own jars/ (vendor/avro-src, compiled by
    vendor/build_avro_jar.sh, auto-loaded by session.get_session) — the
    golden now EXECUTES here; the env-skip remains only for sessions
    launched without the vendored jar."""
    import pytest

    path = str(tmp_path_factory.mktemp("avro") / "sample.avro")
    try:
        spark.createDataFrame(
            [("a", 1, (10, 20)), ("b", 2, (30, 40))],
            st(f("s", STR), f("n", LONG), f("inner", st(f("x", LONG), f("y", LONG)))),
        ).coalesce(1).write.mode("overwrite").format("avro").save(path)
    except Exception as e:
        if "Failed to find data source: avro" in str(e):
            pytest.skip("spark-avro external module not deployed in this env")
        raise
    df = spark.read.format("avro").load(path).select("s", "inner.x")
    got = gen(df).for_paths(path)
    assert got == st(f("s", STR), f("inner", st(f("x", LONG))))
    rows = spark.read.schema(got).format("avro").load(path).select("s", "inner.x").collect()
    assert sorted((r.s, r.x) for r in rows) == [("a", 10), ("b", 30)]


# ------------------------- review r7: final-output preservation + set ops


def test_complex_final_output_under_orderby_stays_full(spark, fx):
    """Sort passes its child's columns through to the FINAL output, so the
    Project below an orderBy is still upper-most: its complex columns must
    keep their full subtree. The reference stops the upper-most descent at
    the first selection node of any kind, which skeletonized `struct` here
    (silent data loss on the pruned re-read) — deliberate deviation,
    confirmed-by-execution review r7 finding."""
    df = spark.read.parquet(fx["sample_parquet"]).select("struct", "someLong").orderBy("someLong")
    sor = gen(df)
    pruned = sor.for_paths(fx["sample_parquet"])
    sf = {f.name: f for f in pruned.fields}["struct"]
    full = {f.name: f for f in SAMPLE_SCHEMA.fields}["struct"]
    assert sf.dataType == full.dataType, sf.dataType
    # and the pruned re-read answers identically
    back = spark.read.schema(pruned).parquet(fx["sample_parquet"]).select("struct", "someLong").orderBy("someLong")
    assert [r.asDict(True) for r in back.collect()] == [r.asDict(True) for r in df.collect()]


def test_complex_final_output_under_window_and_join_stays_full(spark, fx):
    w_df = (
        spark.read.parquet(fx["sample_parquet"])
        .select("struct", "someLong")
        .withColumn("rk", F.row_number().over(
            __import__("pyspark.sql.window", fromlist=["Window"]).Window.orderBy("someLong")))
    )
    pruned = gen(w_df).for_paths(fx["sample_parquet"])
    full = {f.name: f for f in SAMPLE_SCHEMA.fields}["struct"]
    assert {f.name: f for f in pruned.fields}["struct"].dataType == full.dataType


def test_exceptall_compares_unpruned_rows(spark, fx, tmp_path):
    """Except/Intersect compare ENTIRE rows: branch outputs are
    mandatory-full like grouping keys. Without it, two rows differing only
    in a pruned struct field became equal and vanished from the exceptAll
    result (confirmed-by-execution review r7 finding)."""
    p1, p2 = str(tmp_path / "e1"), str(tmp_path / "e2")
    spark.createDataFrame([((1, "x"),)], "s struct<a:int,b:string>").write.parquet(p1)
    spark.createDataFrame([((1, "y"),)], "s struct<a:int,b:string>").write.parquet(p2)
    r1, r2 = spark.read.parquet(p1), spark.read.parquet(p2)
    q = r1.select("s").exceptAll(r2.select("s")).select("s.a")
    assert [r.a for r in q.collect()] == [1]
    sor = SchemaOnRead.generate(q)
    s1, s2 = sor.for_paths(p1), sor.for_paths(p2)
    rq = (
        spark.read.schema(s1).parquet(p1).select("s")
        .exceptAll(spark.read.schema(s2).parquet(p2).select("s"))
        .select("s.a")
    )
    assert [r.a for r in rq.collect()] == [1], (s1, s2)


def test_dropduplicates_keys_stay_full(spark, fx, tmp_path):
    p = str(tmp_path / "dd")
    spark.createDataFrame(
        [((1, "x"),), ((1, "y"),)], "s struct<a:int,b:string>"
    ).write.parquet(p)
    r = spark.read.parquet(p)
    q = r.select("s").dropDuplicates().select("s.a")
    assert sorted(x.a for x in q.collect()) == [1, 1]
    pruned = SchemaOnRead.generate(q).for_paths(p)
    rq = spark.read.schema(pruned).parquet(p).select("s").dropDuplicates().select("s.a")
    assert sorted(x.a for x in rq.collect()) == [1, 1], pruned


def test_bare_union_pending_branch_materializes_and_mirrors(spark, fx):
    # r8 review find, proven by execution: a POSITIONAL union with NO
    # per-branch Project (unlike unionByName, which inserts one) leaves the
    # untouched branch with no trie node for the struct at all — the
    # touched branch emitted STRUCT<col1> while its sibling DROPPED the
    # column, an arity mismatch the pruned re-read only survived via the
    # silent best-effort fallback. A branch-local touch must materialize
    # the pending sibling handles and mirror into them.
    pq = spark.read.parquet(fx["sample_parquet"])
    js = spark.read.option("multiline", True).json(fx["sample_json"])
    cols = pq.columns  # identical shape both sources; positional union is safe
    df = (
        pq.filter(F.col("struct.col1").isNotNull())
        .union(js.select(*cols))
        .select("someStr")
    )
    sor = gen(df)
    got_pq = sor.for_paths(fx["sample_parquet"])
    got_js = sor.for_paths(fx["sample_json"])
    # both branches carry the SAME narrowed struct (not dropped on one side);
    # top-level field ORDER follows each source's own schema — the query's
    # projections realign positions, the reader only decides what loads
    assert got_pq["struct"].dataType.fieldNames() == ["col1"]
    assert got_js["struct"].dataType.fieldNames() == ["col1"]
    assert sorted(f.name for f in got_pq) == sorted(f.name for f in got_js)
    # and the strict (no-fallback) re-read answers identically
    pruned = (
        spark.read.schema(got_pq).parquet(fx["sample_parquet"])
        .filter(F.col("struct.col1").isNotNull())
        .union(
            spark.read.schema(got_js).option("multiline", True)
            .json(fx["sample_json"]).select(*[c for c in cols if c in got_js.fieldNames()])
        )
        .select("someStr")
    )
    assert sorted(r[0] for r in pruned.collect()) == sorted(r[0] for r in df.collect())


# ------------------------------------------------- higher-order functions


def _roundtrip(spark, fx, build):
    """full-vs-pruned execution equivalence on the sample parquet fixture."""
    path = fx["sample_parquet"]
    full = build(spark.read.parquet(path))
    expected = sorted(map(str, full.collect()))
    pruned = gen(full).for_paths(path)
    got = sorted(map(str, build(spark.read.schema(pruned).parquet(path)).collect()))
    assert got == expected, pruned
    return pruned


def test_hof_exists_in_filter_keeps_lambda_field(spark, fx):
    # r11 probe find (the r10-subquery class of bug), proven by execution
    # BEFORE the fix: exists(arr, x -> x.col1 > 0) as a bare Filter
    # condition skeletonized someComplexArray to array<struct<>> — the
    # pruned re-read crashed FIELD_NOT_FOUND (silent wrong rows on lenient
    # sources). The lambda's GetStructField goes through a
    # NamedLambdaVariable leaf that belongs to no relation; _walk_hof now
    # binds it to the collection argument's trie handles. Precision: col1
    # is kept, col2 is NOT (the trie's array transparency records
    # arr.element.col1 exactly).
    pruned = _roundtrip(
        spark, fx,
        lambda df: df.filter(F.exists("someComplexArray", lambda x: x["col1"] > 0)).select("someStr"),
    )
    assert pruned["someComplexArray"].dataType.elementType.fieldNames() == ["col1"]


def test_hof_forall_and_sql_exists_in_filter(spark, fx):
    _roundtrip(
        spark, fx,
        lambda df: df.filter(F.forall("someComplexArray", lambda x: x["col1"] > 0)).select("someStr"),
    )
    pruned = _roundtrip(
        spark, fx,
        lambda df: df.filter(F.expr("exists(someComplexArray, x -> x.col1 > 0)")).select("someLong"),
    )
    assert pruned["someComplexArray"].dataType.elementType.fieldNames() == ["col1"]


def test_hof_transform_alias_narrows_to_lambda_field(spark, fx):
    # transform(arr, x -> x.col2) AS t consumed downstream: the alias binds
    # to the lambda BODY's handles, so a whole-`t` require keeps exactly
    # col2 — the true data dependency — not the whole element struct
    pruned = _roundtrip(
        spark, fx,
        lambda df: df.select(F.explode(F.transform("someComplexArray", lambda x: x["col2"])).alias("v")),
    )
    assert pruned["someComplexArray"].dataType.elementType.fieldNames() == ["col2"]


def test_hof_transform_identity_keeps_full_element(spark, fx):
    # transform(arr, x -> x): the body IS the bare var — it must resolve to
    # the collection handles so the final-output require keeps the element
    pruned = _roundtrip(
        spark, fx,
        lambda df: df.select(F.transform("someComplexArray", lambda x: x).alias("t")),
    )
    assert pruned["someComplexArray"].dataType.elementType.fieldNames() == ["col1", "col2"]


def test_hof_bare_var_value_comparison_requires_full_element(spark, fx):
    # exists(arr, x -> x == struct(..)): EqualTo observes the WHOLE element,
    # and the var is a bare leaf (no field access) — NamedLambdaVariable
    # must be a _PATH_EXPRS member for require mode to reach the collection
    pruned = _roundtrip(
        spark, fx,
        lambda df: df.filter(
            F.exists(
                "someComplexArray",
                lambda x: x == F.struct(F.lit(1).cast("long").alias("col1"), F.lit(2).cast("long").alias("col2")),
            )
        ).select("someStr"),
    )
    assert pruned["someComplexArray"].dataType.elementType.fieldNames() == ["col1", "col2"]


def test_hof_derived_collection_requires_sources_fully(spark, fx):
    # the collection is DERIVED (array(struct_col)): the generic walk
    # returns only the last child's handles, so instead of binding the var
    # the whole derived subtree is required — safe over-keep, never loss
    pruned = _roundtrip(
        spark, fx,
        lambda df: df.filter(F.exists(F.array(F.col("struct")), lambda x: x["col2"] > 0)).select("someStr"),
    )
    assert pruned["struct"].dataType.fieldNames() == ["col1", "col2", "col3", "subArray"]


def test_hof_nested_lambdas_narrow_both_levels(spark, fx):
    # exists(arrOfStruct, s -> exists(s.col2, v -> v > 1)): the inner HOF's
    # collection is a field access THROUGH the outer var — both levels
    # resolve, and the read schema narrows to exactly col2
    pruned = _roundtrip(
        spark, fx,
        lambda df: df.filter(
            F.exists("someArrayOfComplexArrays", lambda s: F.exists(s["col2"], lambda v: v > 1))
        ).select("someStr"),
    )
    assert pruned["someArrayOfComplexArrays"].dataType.elementType.fieldNames() == ["col2"]


def test_hof_aggregate_and_zip_with_in_filter(spark, fx):
    # aggregate's merge lambda reads x.col2; the `> 3` comparison walks the
    # whole subtree in require mode (value-comparison semantics), so the
    # FULL collection is kept — over-keep by design, never loss
    pruned = _roundtrip(
        spark, fx,
        lambda df: df.filter(F.expr("aggregate(someComplexArray, 0L, (acc, x) -> acc + x.col2) > 3")).select("someLong"),
    )
    assert "col2" in pruned["someComplexArray"].dataType.elementType.fieldNames()
    # zip_with reads a field from EACH side; vars over-bind to both
    # collections (descents that don't exist in a source drop at schema
    # intersection) — both sides keep their accessed field
    pruned = _roundtrip(
        spark, fx,
        lambda df: df.filter(
            F.exists(
                F.zip_with("someComplexArray", "someArrayOfComplexArrays", lambda a, b: a["col1"] + b["col3"]),
                lambda s: s > 0,
            )
        ).select("someStr"),
    )
    assert "col1" in pruned["someComplexArray"].dataType.elementType.fieldNames()
    assert "col3" in pruned["someArrayOfComplexArrays"].dataType.elementType.fieldNames()


def test_hof_element_preserving_alias_keeps_full_element(spark, fx):
    # r11 probe find #2 (proven silent DATA-LOSS before the fix): filter()'s
    # result carries the ORIGINAL elements whole, so `filter(arr, x ->
    # x.col1 > 0) AS t` in a non-upper Project followed by SELECT t must
    # keep the full element — binding the alias only to the lambda body's
    # handles pruned t to struct<col1> and silently dropped col2 from the
    # query result. Element-preserving HOFs (and unknown ones) now return
    # collection + body handles.
    pruned = _roundtrip(
        spark, fx,
        lambda df: df.select(F.filter("someComplexArray", lambda x: x["col1"] > 0).alias("t")).select("t"),
    )
    assert pruned["someComplexArray"].dataType.elementType.fieldNames() == ["col1", "col2"]
    # array_sort with a comparator lambda: same contract
    pruned = _roundtrip(
        spark, fx,
        lambda df: df.select(F.array_sort("someComplexArray", lambda a, b: (a["col1"] - b["col1"]).cast("int")).alias("t")).select("t"),
    )
    assert pruned["someComplexArray"].dataType.elementType.fieldNames() == ["col1", "col2"]


# -------------------------------------- branch-value exprs / withField


def test_branch_value_alias_reaches_all_branches(spark, fx, tmp_path):
    # r11 probe find, proven by execution: coalesce/CASE WHEN/if results
    # are ONE OF their value operands, but the generic last-child walk
    # bound an enclosing alias to only the LAST branch — `coalesce(s1, s2)
    # AS s; SELECT s.a` pruned s1 to struct<> and the re-read failed
    # analysis with DATA_DIFF_TYPES (and would silently lose on same-shape
    # narrowing). Value branches now bind together and their pruned shapes
    # reconcile through the set-op merge buckets.
    p = str(tmp_path / "bv")
    spark.createDataFrame(
        [(1, (10, 11), (20, 21), True), (2, None, (30, 31), False)],
        "id bigint, s1 struct<a:bigint,b:bigint>, s2 struct<a:bigint,b:bigint>, flag boolean",
    ).write.parquet(p)

    def run(build):
        full = build(spark.read.parquet(p))
        expected = sorted(map(str, full.collect()))
        pruned = gen(full).for_paths(p)
        got = sorted(map(str, build(spark.read.schema(pruned).parquet(p)).collect()))
        assert got == expected, pruned
        return pruned

    pruned = run(lambda df: df.select(F.coalesce("s1", "s2").alias("s"), "id").select("id", "s.a"))
    # precision: BOTH branches narrow to the accessed field
    assert pruned["s1"].dataType.fieldNames() == ["a"]
    assert pruned["s2"].dataType.fieldNames() == ["a"]
    run(lambda df: df.select(F.when(F.col("flag"), F.col("s1")).otherwise(F.col("s2")).alias("s")).select("s"))
    run(lambda df: df.select(F.expr("CASE WHEN flag THEN s1 WHEN id > 2 THEN s2 ELSE s2 END").alias("s"), "id").select("id", "s.b"))
    # a LITERAL branch has a fixed shape: no sibling may narrow against it
    pruned = run(lambda df: df.select(
        F.expr("CASE WHEN flag THEN s1 ELSE named_struct('a', CAST(1 AS BIGINT), 'b', CAST(2 AS BIGINT)) END").alias("s"), "id"
    ).select("id", "s.a"))
    assert pruned["s1"].dataType.fieldNames() == ["a", "b"]
    # nvl family flows through its RuntimeReplaceable replacement child
    run(lambda df: df.select(F.expr("nvl2(flag, s1, s2)").alias("s")).select("s"))
    run(lambda df: df.select(F.expr("nullif(s1, s2)").alias("s")).select("s"))


def test_update_fields_alias_keeps_base_struct(spark, fx, tmp_path):
    # r11 probe find, proven SILENT data loss: withField's result is the
    # base struct with ops applied, but the alias bound to the REPLACEMENT
    # value only — `s1.withField('b', id) AS s; SELECT s` returned
    # Row(b=..) instead of Row(a=.., b=..). UpdateFields now unions base +
    # value handles.
    p = str(tmp_path / "uf")
    spark.createDataFrame(
        [(1, (10, 11)), (2, (40, 41))], "id bigint, s1 struct<a:bigint,b:bigint>"
    ).write.parquet(p)

    def run(build):
        full = build(spark.read.parquet(p))
        expected = sorted(map(str, full.collect()))
        pruned = gen(full).for_paths(p)
        got = sorted(map(str, build(spark.read.schema(pruned).parquet(p)).collect()))
        assert got == expected, pruned
        return pruned

    pruned = run(lambda df: df.select(F.col("s1").withField("b", F.col("id")).alias("s")).select("s"))
    assert pruned["s1"].dataType.fieldNames() == ["a", "b"]
    run(lambda df: df.select(F.col("s1").dropFields("b").alias("s")).select("s"))
    # accessing only ORIGINAL fields through the alias still narrows
    pruned = run(lambda df: df.select(
        F.col("s1").withField("c", F.lit(9).cast("bigint")).alias("s"), "id"
    ).select("id", "s.a"))
    assert pruned["s1"].dataType.fieldNames() == ["a"]


# ------------------------------------------------ constructed complex values


def test_struct_ctor_alias_routes_by_constructed_name(spark, fx):
    # r11 probe find (alias-binding class): struct()/named_struct results
    # bound an enclosing alias to the LAST value only — `struct(s, n) AS
    # s2; SELECT s2` silently returned Row() for s (whole-alias require
    # landed on n), and `SELECT s2.inner.col1` crashed FIELD_NOT_FOUND
    # (descend by the CONSTRUCTED name touched a bogus child of n's node).
    # A StructSynthNode now maps constructed names to the real value nodes.
    pruned = _roundtrip(
        spark, fx,
        lambda df: df.select(
            F.struct(F.col("struct").alias("inner_s"), F.col("someLong").alias("n")).alias("s2")
        ).select("s2.inner_s.col1"),
    )
    # precision: descend by constructed name narrows the mapped source
    assert pruned["struct"].dataType.fieldNames() == ["col1"]
    pruned = _roundtrip(
        spark, fx,
        lambda df: df.select(
            F.struct(F.col("struct").alias("inner_s"), F.col("someLong").alias("n")).alias("s2")
        ).select("s2"),
    )
    assert pruned["struct"].dataType.fieldNames() == ["col1", "col2", "col3", "subArray"]
    pruned = _roundtrip(
        spark, fx,
        lambda df: df.select(F.expr("named_struct('a', nestedStruct, 'b', someStr)").alias("s2"))
        .select("s2.a.childStruct.col2"),
    )
    assert pruned["nestedStruct"].dataType["childStruct"].dataType.fieldNames() == ["col2"]
    # a literal constructed field needs no source data at all
    pruned = _roundtrip(
        spark, fx,
        lambda df: df.select(F.struct(F.lit(7).alias("seven"), F.col("someLong").alias("n")).alias("s2"))
        .select("s2.seven"),
    )
    assert "struct" not in pruned.fieldNames()


def test_collection_ctor_elements_are_one_value_stream(spark, fx):
    # array(a, b) elements are one value stream: element access must narrow
    # EVERY element source and their pruned shapes must agree (before r11
    # only the last element narrowed — DATA_DIFF_TYPES on the re-read)
    pruned = _roundtrip(
        spark, fx,
        lambda df: df.select(
            F.array(F.col("nestedStruct.childStruct"), F.col("someComplexArray")[0]).alias("arr2")
        ).select(F.get("arr2", 0)["col1"].alias("v")),
    )
    assert pruned["someComplexArray"].dataType.elementType.fieldNames() == ["col1"]
    assert pruned["nestedStruct"].dataType["childStruct"].dataType.fieldNames() == ["col1"]
    # constructed-map KEY sources can never narrow (rebuilt lookups compare
    # whole key values); value access through the map stays precise
    pruned = _roundtrip(
        spark, fx,
        lambda df: df.select(F.create_map(F.col("someStr"), F.col("nestedStruct")).alias("m"), "someStr")
        .select(F.col("m")[F.col("someStr")]["str"].alias("v")),
    )
    assert pruned["nestedStruct"].dataType.fieldNames() == ["str"]
    _roundtrip(
        spark, fx,
        lambda df: df.select(F.explode(F.create_map(F.lit("k"), F.col("struct"))).alias("k", "v"))
        .select("v.col3"),
    )
    _roundtrip(
        spark, fx,
        lambda df: df.select(
            F.map_from_arrays(F.transform("someComplexArray", lambda x: x["col1"]), F.col("someComplexArray")).alias("m")
        ).select(F.map_values("m")[0]["col2"].alias("v")),
    )


def test_concat_and_arrays_zip_value_streams(spark, fx, tmp_path):
    # r11 probe finds: concat(a1, a2) merges both element streams — element
    # access must narrow BOTH sources with agreeing shapes; arrays_zip is a
    # CONSTRUCTED struct over element streams (descend by zip name routed
    # to the LAST array before the fix — FIELD_NOT_FOUND).
    p = str(tmp_path / "cc")
    spark.createDataFrame(
        [(1, [(1, 2)], [(3, 4)])],
        "id bigint, a1 array<struct<x:bigint,y:bigint>>, a2 array<struct<x:bigint,y:bigint>>",
    ).write.parquet(p)
    full = spark.read.parquet(p).select(F.concat("a1", "a2").alias("c")).select(F.get("c", 0)["x"].alias("v"))
    pruned = gen(full).for_paths(p)
    got = (spark.read.schema(pruned).parquet(p)
           .select(F.concat("a1", "a2").alias("c")).select(F.get("c", 0)["x"].alias("v")))
    assert [r.v for r in got.collect()] == [r.v for r in full.collect()]
    assert pruned["a1"].dataType.elementType.fieldNames() == ["x"]
    assert pruned["a2"].dataType.elementType.fieldNames() == ["x"]

    pruned = _roundtrip(
        spark, fx,
        lambda df: df.select(
            F.arrays_zip(F.col("someComplexArray").alias("a"), F.col("someStrArray").alias("b")).alias("z")
        ).select(F.get("z", 0)["a"]["col1"].alias("v")),
    )
    assert pruned["someComplexArray"].dataType.elementType.fieldNames() == ["col1"]
    # explode of the zip + both zip fields; and the no-alias form (names
    # default to the source column names)
    _roundtrip(
        spark, fx,
        lambda df: df.select(
            F.explode(F.arrays_zip(F.col("someComplexArray").alias("a"), F.col("someStrArray").alias("b"))).alias("e")
        ).select("e.a.col1", "e.b"),
    )
    _roundtrip(
        spark, fx,
        lambda df: df.select(F.arrays_zip("someComplexArray", "someStrArray").alias("z"))
        .select(F.get("z", 0)["someComplexArray"]["col2"].alias("v")),
    )


def test_whole_value_observers_require_complex_operands(spark, fx, tmp_path):
    # r11 probe find (proven silent row loss): serializers/hashers observe
    # EVERY field of a complex operand, but outside a comparison wrapper
    # they sat in touch mode — filter(to_json(s).contains(..)) and
    # filter(cast(s as string).like(..)) skeletonized s and returned [].
    # Cast additionally can never narrow a complex operand (positional
    # field rebinding, declared-arity target). DISTINCT aggregates observe
    # whole-value equality — the flag lives on AggregateExpression.
    p = str(tmp_path / "wv")
    spark.createDataFrame(
        [(1, (10, 111111), True), (2, (10, 2), True), (3, (10, 333), False)],
        "id bigint, s struct<a:bigint,b:bigint>, flag boolean",
    ).write.parquet(p)

    def run(build):
        full = build(spark.read.parquet(p))
        expected = sorted(map(str, full.collect()))
        pruned = gen(full).for_paths(p)
        got = sorted(map(str, build(spark.read.schema(pruned).parquet(p)).collect()))
        assert got == expected, pruned
        return pruned

    run(lambda df: df.filter(F.to_json("s").contains("111111")).select("id"))
    run(lambda df: df.filter(F.col("s").cast("string").contains("333")).select("id"))
    run(lambda df: df.filter(F.to_json("s").like("%2%")).select("id"))
    # count(DISTINCT s) where the otherwise-projected subfield COLLIDES
    # across rows (all a=10): a subset-pruned distinct would count 1, not 3
    pruned = run(lambda df: df.groupBy().agg(F.count_distinct("s").alias("n"), F.max("s.a").alias("ma")))
    assert pruned["s"].dataType.fieldNames() == ["a", "b"]
    run(lambda df: df.select(
        F.map_from_entries(F.array(F.struct(F.col("id").alias("k"), F.col("s").alias("v")))).alias("m")
    ).select(F.map_values("m")[0]["b"].alias("x")))


def test_python_udf_complex_arg_required_fully(spark, fx, tmp_path):
    # r11 probe find: a UDF receives its argument VALUES whole — a bare
    # boolean UDF filter over a struct crashed the Python worker on the
    # pruned re-read (KeyError indexing a field the pruned struct lost).
    # UDF complex args are now required like comparisons.
    from pyspark.sql import types as T

    p = str(tmp_path / "udfarg")
    spark.createDataFrame(
        [(1, (10, 111111)), (2, (10, 2))], "id bigint, s struct<a:bigint,b:bigint>"
    ).write.parquet(p)

    @F.udf(returnType=T.BooleanType())
    def big_b(s):
        return s is not None and (s["b"] or 0) > 100

    build = lambda df: df.filter(big_b(F.col("s"))).select("id")  # noqa: E731
    full = build(spark.read.parquet(p))
    pruned = gen(full).for_paths(p)
    assert pruned["s"].dataType.fieldNames() == ["a", "b"], pruned
    got = build(spark.read.schema(pruned).parquet(p))
    assert [r.id for r in got.collect()] == [r.id for r in full.collect()]


def test_with_common_expression_defs_required(spark, fx, tmp_path):
    # r11 probe find: nullif/ifnull lower to With(child, defs) whose
    # CommonExpressionRef leaves carry NO usable id in the plan JSON — a
    # bare filter on nullif(s1, s2) skeletonized s1 (the def) while the
    # comparison kept s2 full, failing the re-read with
    # BINARY_OP_DIFF_TYPES. Defs are now required fully.
    p = str(tmp_path / "withce")
    spark.createDataFrame(
        [(1, (10, 11), (20, 21)), (2, (10, 11), (10, 11))],
        "id bigint, s1 struct<a:bigint,b:bigint>, s2 struct<a:bigint,b:bigint>",
    ).write.parquet(p)

    def run(build):
        full = build(spark.read.parquet(p))
        expected = sorted(map(str, full.collect()))
        pruned = gen(full).for_paths(p)
        got = sorted(map(str, build(spark.read.schema(pruned).parquet(p)).collect()))
        assert got == expected, pruned
        return pruned

    run(lambda df: df.filter(F.expr("nullif(s1, s2)").isNotNull()).select("id"))
    run(lambda df: df.filter(F.expr("nullif(s1, s1)").isNull()).select("id"))
    run(lambda df: df.filter(F.expr("ifnull(s1, s2)").isNotNull()).select("id"))


def test_map_lookup_struct_key_required(spark, fx, tmp_path):
    # r11 probe find: m[k] / element_at(m, k) compare the WHOLE key value,
    # but lookup-key operands walked in touch mode — a struct key COLUMN
    # pruned to a subset failed the re-read with MAP_FUNCTION_DIFF_TYPES
    # (and a same-shape narrowing would change which entries match). Keys/
    # ordinals now walk in require mode (int ordinals: no-op).
    p = str(tmp_path / "mk")
    spark.createDataFrame(
        [(1, {(10, 11): 5}, (10, 11)), (2, {(30, 31): 7}, (30, 31))],
        "id bigint, m map<struct<a:bigint,b:bigint>,bigint>, k struct<a:bigint,b:bigint>",
    ).write.parquet(p)

    def run(build):
        full = build(spark.read.parquet(p))
        expected = sorted(map(str, full.collect()))
        pruned = gen(full).for_paths(p)
        got = sorted(map(str, build(spark.read.schema(pruned).parquet(p)).collect()))
        assert got == expected, pruned
        return pruned

    pruned = run(lambda df: df.select(F.element_at("m", F.col("k")).alias("v"), "id").select("id", "v"))
    assert pruned["k"].dataType.fieldNames() == ["a", "b"]
    run(lambda df: df.select(F.col("m")[F.col("k")].alias("v"), "id").select("id", "v"))


def test_branch_value_unresolvable_path_child_forces_full(spark, fx):
    # r11 expression-grammar fuzz find: a path-CLASSED branch child whose
    # base hides a derived head (get(concat(a, a), 0)) resolved to no
    # handles, so its shape stayed FULL while the sibling narrowed to
    # struct<col1> — DATA_DIFF_TYPES on the pruned re-read. Two fixes
    # interact here: the resolved-handles guard in _walk_branch_value
    # (full-require when any branch cannot bind), and the later
    # _resolve_path routing through value-routing heads, which makes THIS
    # shape bindable after all — Concat returns both arrays' handles, the
    # Get strips the index, and every branch narrows to col1 with shapes
    # reconciled through the merge bucket. The roundtrip is the contract;
    # the schema assertion pins the (now precise) shape agreement.
    pruned = _roundtrip(
        spark, fx,
        lambda df: df.select(
            F.coalesce(
                F.get(F.concat("someComplexArray", "someComplexArray"), 0),
                F.col("nestedStruct.childStruct"),
            ).alias("e"),
            "someStr",
        ).select("someStr", F.col("e")["col1"].alias("v")),
    )
    assert pruned["nestedStruct"].dataType["childStruct"].dataType.fieldNames() == ["col1"]
    assert pruned["someComplexArray"].dataType.elementType.fieldNames() == ["col1"]


def test_inline_field_access_through_routing_heads_is_precise(spark, fx, tmp_path):
    # r11 precision follow-up: a path running THROUGH a value-routing head
    # inline — coalesce(s1, s2).a, named_struct('x', s).x.f,
    # arrays_zip(..)[0].a.f — used to fall to the full-require backstop;
    # _resolve_path now routes through the dedicated walkers, so descents
    # narrow precisely while branch shapes stay reconciled.
    p = str(tmp_path / "inl")
    spark.createDataFrame(
        [(1, (10, 11), (20, 21), True), (2, None, (30, 31), False)],
        "id bigint, s1 struct<a:bigint,b:bigint>, s2 struct<a:bigint,b:bigint>, flag boolean",
    ).write.parquet(p)

    def run(build, path):
        full = build(spark.read.parquet(path))
        expected = sorted(map(str, full.collect()))
        pruned = gen(full).for_paths(path)
        got = sorted(map(str, build(spark.read.schema(pruned).parquet(path)).collect()))
        assert got == expected, pruned
        return pruned

    pruned = run(lambda df: df.select(F.coalesce("s1", "s2")["a"].alias("v"), "id"), p)
    assert pruned["s1"].dataType.fieldNames() == ["a"]
    assert pruned["s2"].dataType.fieldNames() == ["a"]
    pruned = run(
        lambda df: df.select(F.expr("named_struct('x', nestedStruct, 'y', someStr).x.childStruct.col2").alias("v")),
        fx["sample_parquet"],
    )
    assert pruned["nestedStruct"].dataType["childStruct"].dataType.fieldNames() == ["col2"]
    pruned = run(
        lambda df: df.select(
            F.arrays_zip(F.col("someComplexArray").alias("a"), F.col("someStrArray").alias("b"))[0]["a"]["col2"].alias("v")
        ),
        fx["sample_parquet"],
    )
    assert pruned["someComplexArray"].dataType.elementType.fieldNames() == ["col2"]


def test_plan_json_pool_is_per_process(spark, monkeypatch):
    """r13 self-review: the toJSON overlap pool must be recreated after a
    fork — a child inheriting the parent's executor has a registered-but-
    dead worker thread, and its next submit() would hang fut.result()
    forever. Simulated here by faking a pid change."""
    from score_spark.schema_on_read import generator as G

    p1 = G._plan_json_pool()
    assert G._plan_json_pool() is p1  # same process: reused
    monkeypatch.setattr(G.os, "getpid", lambda: -1)
    p2 = G._plan_json_pool()
    assert p2 is not p1  # "forked": fresh pool with a live worker
    assert p2.submit(lambda: 42).result() == 42
    # the fresh worker opened its own py4j connection; the initializer
    # turned Nagle off on it too
    assert p2.submit(lambda: G._jvm_socket().getTcpNoDelay()).result() is True
    monkeypatch.undo()
    G._plan_json_pool()  # real pid again: recreated once more, still live


def test_plan_json_worker_socket_has_nodelay(spark, fx):
    """The plan-JSON reply is the analyzer's one large py4j reply (7-172 KB
    on the suite plans). Without TCP_NODELAY on the JVM end of the worker's
    connection, a reply over 8 KB can wait ~43 ms for a delayed ACK."""
    from score_spark.schema_on_read import generator as G

    df = spark.read.parquet(fx["sample_parquet"]).select("struct.col1")
    assert gen(df).for_paths(fx["sample_parquet"]) == st(struct_field(f("col1", LONG)))
    assert G._plan_json_pool().submit(lambda: G._jvm_socket().getTcpNoDelay()).result() is True


def test_plan_json_pool_survives_nodelay_failure(spark, fx, monkeypatch, caplog):
    """A raising pool initializer marks a ThreadPoolExecutor broken, and
    every later generate() would silently fall back to full schemas (e.g.
    PYSPARK_PIN_THREAD=false has no per-thread connection to tune). The
    initializer logs the failure and the pool keeps working with Nagle on."""
    from score_spark.schema_on_read import generator as G

    def no_socket():
        raise RuntimeError("no per-thread connection")

    monkeypatch.setattr(G, "_jvm_socket", no_socket)
    monkeypatch.setattr(G, "_PLAN_JSON_POOL", None)  # fresh pool, restored after
    monkeypatch.setattr(G, "_GENERATE_CACHE", {})  # generate() must reach the pool
    pool = G._plan_json_pool()
    try:
        with caplog.at_level("WARNING", logger=G.__name__):
            assert pool.submit(lambda: 42).result() == 42
        assert "RuntimeError: no per-thread connection" in caplog.text
        df = spark.read.parquet(fx["sample_parquet"]).select("nestedStruct.childStruct.col2")
        sor = gen(df)
        assert G._plan_json_pool() is pool
        assert not sor._failed and sor.error is None
        pruned = sor.for_paths(fx["sample_parquet"])
        assert pruned["nestedStruct"].dataType["childStruct"].dataType.fieldNames() == ["col2"]
    finally:
        pool.shutdown()


def test_fallback_keeps_its_reason(spark, fx, monkeypatch):
    """generate() still falls back to full schemas on any analysis failure,
    and now says why in ``error``."""
    from score_spark.schema_on_read import generator as G

    def broken_tree(flat):
        raise RuntimeError("plan JSON unreadable")

    monkeypatch.delenv("SCORE_SPARK_SOR_RAISE", raising=False)
    monkeypatch.setattr(G, "build_tree", broken_tree)
    monkeypatch.setattr(G, "_GENERATE_CACHE", {})
    path = fx["sample_parquet"]
    full = spark.read.parquet(path)
    sor = SchemaOnRead.generate(full.select("struct.col1"))
    assert sor._failed
    assert sor.error == "RuntimeError: plan JSON unreadable"
    assert sor.for_paths(path) == full.schema


def test_failing_handler_names_its_node(spark, fx, monkeypatch):
    """With the raise switch off, a plan-node handler that raises falls back
    to full schemas and ``error_node`` names that node's Catalyst class. It
    is None on success and when the export call itself failed."""
    from score_spark.schema_on_read import generator as G

    def broken_handler(self, node):
        raise ValueError("generate handler broke")

    def broken_export(jplan):
        raise RuntimeError("exporter unreachable")

    monkeypatch.delenv("SCORE_SPARK_SOR_RAISE", raising=False)
    monkeypatch.setattr(G, "_GENERATE_CACHE", {})
    path = fx["sample_parquet"]
    full = spark.read.parquet(path)
    ok = SchemaOnRead.generate(full.select("someStr", F.explode("someStrArray")))
    assert ok.error is None and ok.error_node is None

    monkeypatch.setattr(G.SchemaOnRead, "_on_Generate", broken_handler)
    sor = SchemaOnRead.generate(full.select("someStr", F.explode("someStrArray")).filter("someStr > ''"))
    assert sor.error == "ValueError: generate handler broke"
    assert sor.error_node == "org.apache.spark.sql.catalyst.plans.logical.Generate"
    assert sor.for_paths(path) == full.schema

    monkeypatch.setattr(G, "_export_plan", broken_export)
    failed = SchemaOnRead.generate(full.select("someLong"))
    assert failed.error == "RuntimeError: exporter unreachable" and failed.error_node is None


def test_failed_export_names_its_error(spark, fx, monkeypatch, caplog):
    """When the export call itself fails there is no relation list, so
    for_paths and for_view raise with ``sor.error`` in the message, and
    prune() still reads every source in full with one warning each."""
    import logging

    from score_spark.schema_on_read import generator as G, rewrite

    def broken_export(jplan):
        raise RuntimeError("exporter unreachable")

    monkeypatch.delenv("SCORE_SPARK_SOR_RAISE", raising=False)
    monkeypatch.setattr(G, "_export_plan", broken_export)
    monkeypatch.setattr(G, "_GENERATE_CACHE", {})
    path = fx["sample_parquet"]
    sor = SchemaOnRead.generate(spark.read.parquet(path).select("struct.col1"))
    assert sor._failed and sor.error == "RuntimeError: exporter unreachable"
    with pytest.raises(KeyError, match="the analysis failed: RuntimeError: exporter unreachable"):
        sor.for_paths(path)
    with pytest.raises(KeyError, match="exporter unreachable"):
        sor.for_view("sample_v")

    sources = {"a": rewrite.Source(path), "b": rewrite.Source(fx["partitioned"])}

    def query(t):
        return t["a"].select("someStr", "struct.col1").join(
            t["b"].select("someStr", "nestedStruct.str"), "someStr"
        )

    full = query({name: spark.read.parquet(src.path) for name, src in sources.items()})
    with caplog.at_level(logging.WARNING, logger=rewrite.__name__):
        out = rewrite.prune(spark, sources, query)
    warnings = [r.getMessage() for r in caplog.records if r.name == rewrite.__name__]
    assert len(warnings) == 2, warnings
    assert all("exporter unreachable" in w for w in warnings), warnings
    assert sorted(map(str, out.collect())) == sorted(map(str, full.collect()))


def test_cold_generate_makes_one_export_round_trip(spark, fx, monkeypatch):
    """A cold analysis reads the JVM through one PlanExport.export call on
    the worker, which resolves the analyzed plan itself; the calling thread
    makes no py4j call. Before the exporter, this plan cost more than 60
    py4j calls on the caller (~18 per file relation)."""
    import threading
    from collections import Counter

    import py4j.clientserver as cs

    from score_spark.schema_on_read import generator as G

    G._plan_json_pool().submit(lambda: None).result()  # initializer done
    spark.read.parquet(fx["sample_parquet"]).createOrReplaceTempView("rt_a")
    spark.read.option("multiline", True).schema(SAMPLE_SCHEMA).json(fx["sample_json"]).createOrReplaceTempView("rt_b")
    spark.read.parquet(fx["partitioned"]).createOrReplaceTempView("rt_c")
    q = spark.sql(
        "SELECT a.struct.col1, b.someStr, c.nestedStruct.str FROM rt_a a "
        "JOIN rt_b b ON a.someLong = b.someLong JOIN rt_c c ON a.someStr = c.someStr "
        "WHERE a.someLong IN (SELECT struct.col2 FROM rt_b) "
        "AND a.struct.col3 > (SELECT min(someLong) FROM rt_c)"
    )
    q.schema
    monkeypatch.setattr(G, "_GENERATE_CACHE", {})
    calls: Counter = Counter()
    send = cs.ClientServerConnection.send_command

    def counted(conn, command):
        calls[threading.current_thread().name] += 1
        return send(conn, command)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counted)
    sor = SchemaOnRead.generate(q)
    monkeypatch.undo()
    worker = sum(n for name, n in calls.items() if name.startswith("sor-plan-json"))
    assert worker == 1, calls
    assert calls[threading.current_thread().name] == 0, calls
    assert sor.error is None
    assert len(sor.relations) == 3 and len(sor._rels) == 5
    assert sor.for_paths(fx["sample_parquet"])["struct"].dataType.fieldNames() == ["col1", "col3"]
    assert set(sor.timings) == {"export_ms", "parse_ms", "walk_ms", "serialize_ms"}
    assert all(v > 0 for v in sor.timings.values())
    # serialize_ms is the JVM's share of export_ms; the other three are disjoint
    assert sor.timings["serialize_ms"] <= sor.timings["export_ms"]
    assert sor.timings["export_ms"] + sor.timings["parse_ms"] + sor.timings["walk_ms"] <= sor.duration * 1e3


# ------------------------------------------------ the view-keyed plan memo


@pytest.fixture
def py4j_calls(monkeypatch):
    """Counts py4j commands per Python thread (the worker's name starts
    with sor-plan-json) while the test body runs."""
    import threading
    from collections import Counter

    import py4j.clientserver as cs

    calls: Counter = Counter()
    send = cs.ClientServerConnection.send_command

    def counted(conn, command):
        calls[threading.current_thread().name] += 1
        return send(conn, command)

    monkeypatch.setattr(cs.ClientServerConnection, "send_command", counted)
    return calls


@pytest.fixture
def fresh_memo(monkeypatch):
    """An empty plan memo and identity index, restored afterwards."""
    import weakref

    from score_spark.schema_on_read import generator as G

    G._plan_json_pool().submit(lambda: None).result()  # initializer done
    monkeypatch.setattr(G, "_GENERATE_CACHE", {})
    monkeypatch.setattr(G, "_BY_FRAME", weakref.WeakKeyDictionary())
    return G


def test_reanalysis_of_one_dataframe_makes_no_py4j_call(spark, fx, fresh_memo, py4j_calls):
    """A DataFrame analyzed before is answered from the memo with no py4j
    call on any thread: its analyzed plan cannot change."""
    df = spark.read.parquet(fx["sample_parquet"]).select("someStr", "nestedStruct.childStruct.col2")
    py4j_calls.clear()
    first = SchemaOnRead.generate(df)
    assert first.error is None and sum(py4j_calls.values()) == 1, py4j_calls
    py4j_calls.clear()
    assert SchemaOnRead.generate(df) is first
    assert sum(py4j_calls.values()) == 0, py4j_calls


def test_equal_plans_share_one_analysis(spark, fx, fresh_memo, py4j_calls, monkeypatch):
    """Two DataFrames built separately over the same read with equal plans
    get equal export replies, so the second analysis is the first one's:
    one export call, and neither relation collector nor the walk runs."""
    G = fresh_memo
    base = spark.read.parquet(fx["sample_parquet"])
    first = SchemaOnRead.generate(base.select("someStr", "struct").filter("someLong > 0"))
    assert first.error is None
    ran: list[str] = []

    def tracked(name, fn):
        def run(*args):
            ran.append(name)
            return fn(*args)

        return run

    monkeypatch.setattr(G, "_collect_jvm_relations", tracked("relations", G._collect_jvm_relations))
    monkeypatch.setattr(
        G, "_collect_jvm_subquery_relations", tracked("subquery_relations", G._collect_jvm_subquery_relations)
    )
    monkeypatch.setattr(G.SchemaOnRead, "_analyze", tracked("walk", G.SchemaOnRead._analyze))
    df = base.select("someStr", "struct").filter("someLong > 0")
    py4j_calls.clear()
    second = SchemaOnRead.generate(df)
    assert second is first
    assert ran == []
    assert sum(py4j_calls.values()) == 1, py4j_calls
    assert all(name.startswith("sor-plan-json") for name in py4j_calls), py4j_calls


def test_identity_index_never_outlives_the_memo(spark, fx, fresh_memo, py4j_calls):
    """Once 64 other analyses have pushed a DataFrame's entry out of the
    memo, analyzing that DataFrame again exports again: the identity index
    answers only with what the memo still holds."""
    G = fresh_memo
    base = spark.read.parquet(fx["sample_parquet"])
    df = base.select("someStr")
    first = SchemaOnRead.generate(df)
    for i in range(G._MEMO_SIZE):
        SchemaOnRead.generate(base.select((F.col("someLong") + i).alias(f"x{i}")))
    assert len(G._GENERATE_CACHE) == G._MEMO_SIZE
    assert first not in G._GENERATE_CACHE.values()
    py4j_calls.clear()
    again = SchemaOnRead.generate(df)
    assert again is not first and again.error is None
    assert sum(py4j_calls.values()) == 1, py4j_calls
    assert again.for_paths(fx["sample_parquet"]) == first.for_paths(fx["sample_parquet"])


def test_memo_holds_no_java_object(spark, fx, fresh_memo):
    """The memo is keyed by reply text and holds Python analyses only: no
    py4j proxy (and so no JVM plan) is reachable from it."""
    import gc

    from py4j.java_gateway import JavaClass, JavaMember, JavaObject, JavaPackage

    G = fresh_memo
    base = spark.read.parquet(fx["sample_parquet"])
    spark.read.parquet(fx["partitioned"]).createOrReplaceTempView("memo_b")
    base.createOrReplaceTempView("memo_a")
    for df in (
        base.select("struct.col1", F.explode("someStrArray")),
        spark.sql("SELECT a.someStr FROM memo_a a WHERE a.someLong IN (SELECT struct.col2 FROM memo_b)"),
    ):
        assert SchemaOnRead.generate(df).error is None
    assert len(G._GENERATE_CACHE) == 2
    seen, todo, java = set(), [G._GENERATE_CACHE], []
    while todo:
        obj = todo.pop()
        if id(obj) in seen or isinstance(obj, type):
            continue
        seen.add(id(obj))
        if isinstance(obj, (JavaObject, JavaMember, JavaClass, JavaPackage)):
            java.append(type(obj).__name__)
            continue
        todo.extend(gc.get_referents(obj))
    assert java == []


def test_memoize_keeps_the_first_analysis_of_a_reply(monkeypatch):
    """Memoizing a reply key the memo already holds answers with the kept
    analysis and evicts nothing: the memo stays full and its oldest entry
    stays."""
    import weakref

    from score_spark.schema_on_read import generator as G

    monkeypatch.setattr(G, "_GENERATE_CACHE", {})
    monkeypatch.setattr(G, "_BY_FRAME", weakref.WeakKeyDictionary())

    class Frame:  # a weak-referenceable stand-in for a DataFrame
        pass

    kept = [G._memoize(Frame(), str(i), SchemaOnRead()) for i in range(G._MEMO_SIZE)]
    frame = Frame()
    assert G._memoize(frame, "5", SchemaOnRead()) is kept[5]
    assert list(G._GENERATE_CACHE) == [str(i) for i in range(G._MEMO_SIZE)]
    assert G._BY_FRAME[frame] == "5"
    assert G._memo_hit(Frame(), "absent") is None


def test_memo_bound_holds_under_threads(monkeypatch):
    """Eight threads memoizing at once, with a short switch interval, leave
    the memo at its bound."""
    import sys
    import threading
    import weakref

    from score_spark.schema_on_read import generator as G

    monkeypatch.setattr(G, "_GENERATE_CACHE", {})
    monkeypatch.setattr(G, "_BY_FRAME", weakref.WeakKeyDictionary())

    class Frame:  # a weak-referenceable stand-in for a DataFrame
        pass

    frames = [Frame() for _ in range(8)]
    errors: list[BaseException] = []

    def work(t: int) -> None:
        try:
            for i in range(400):
                G._memoize(frames[t], f"{t}/{i}", SchemaOnRead())
        except BaseException as e:  # collected for the assertion below
            errors.append(e)

    threads = [threading.Thread(target=work, args=(t,)) for t in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for th in threads:
            th.start()
        for th in threads:
            th.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(th.is_alive() for th in threads)
    assert errors == []
    assert len(G._GENERATE_CACHE) == G._MEMO_SIZE
    assert all(isinstance(sor, SchemaOnRead) for sor in G._GENERATE_CACHE.values())


def _full_json_export(export, jvm_id: str):
    """An export that sends Catalyst's full toJSON() as the reply's plan,
    with each relation key in toJSON()'s own exprId form: the reply the
    walker would get if the exporter dropped nothing."""
    import json

    def full(jdf):
        payload = json.loads(export(jdf))
        payload["plan"] = json.loads(jdf.queryExecution().analyzed().toJSON())
        for entry in payload["relations"] + payload["subquery_relations"]:
            for k in entry["key"]:
                k.setdefault("jvmId", jvm_id)
        return json.dumps(payload, separators=(",", ":"))

    return full


def _exporter_plans(spark, fx) -> dict:
    """Every plan shape the exporter tests cover: subqueries, CTE, lambdas,
    rollup/cube, posexplode, window, odd literals and names, sample, a
    400-deep Project chain, and SQL literals through a temp view."""
    from pyspark.sql import Window

    path = fx["sample_parquet"]
    spark.read.parquet(path).createOrReplaceTempView("pj_a")
    spark.read.parquet(fx["partitioned"]).createOrReplaceTempView("pj_b")
    base = spark.read.parquet(path)
    deep = base
    for i in range(400):
        deep = deep.withColumn(f"c{i}", F.col("someLong") + i)
    odd_name = 'we"ird\\name\n\t\x01é✓'
    plans = {
        "subqueries": spark.sql(
            "SELECT a.someStr, (SELECT max(someLong) FROM pj_b) AS mx FROM pj_a a "
            "WHERE a.someLong IN (SELECT struct.col2 FROM pj_b) "
            "AND EXISTS (SELECT 1 FROM pj_b b WHERE b.someStr = a.someStr)"
        ),
        "cte": spark.sql(
            "WITH c AS (SELECT someStr, struct.col1 AS v FROM pj_a WHERE someLong > 0) "
            "SELECT x.someStr, sum(y.v) FROM c x JOIN c y ON x.someStr = y.someStr GROUP BY x.someStr"
        ),
        "lambdas": base.select(
            F.transform("someComplexArray", lambda e: e["col1"] + 1).alias("t"),
            F.filter("struct.subArray", lambda x: x > 1).alias("f"),
            F.aggregate("struct.subArray", F.lit(0).cast("long"), lambda acc, x: acc + x).alias("agg"),
            F.exists("someArrayOfArrays", lambda a: F.size(a) > 2).alias("e"),
        ),
        "rollup": base.rollup("someStr", "struct.col1").agg(F.sum("someLong")),
        "cube": base.cube("someStr", "someBoolean").count(),
        "generate": base.select("someStr", F.posexplode("someComplexArray")).select("someStr", "pos", "col.col2"),
        "window": base.select(
            "someStr",
            F.row_number().over(Window.partitionBy("someStr").orderBy(F.col("struct.col2").desc())).alias("rk"),
        ),
        "literals": base.select(
            F.lit(12.345).cast("decimal(10,3)").alias("dec"),
            F.lit("2024-02-29").cast("date").alias("d"),
            F.lit("2024-02-29 12:34:56").cast("timestamp").alias("ts"),
            F.array(F.lit(1), F.lit(2)).alias("arr"),
            F.create_map(F.lit("k"), F.lit(1.5)).alias("m"),
            F.lit(None).cast("string").alias("nul"),
            F.lit('quote " backslash \\ newline \n tab \t ctl \x01').alias("s"),
            F.col("someStr").alias(odd_name),
        ).filter(F.col(odd_name).isNotNull()),
        "sample": base.sample(withReplacement=False, fraction=0.37, seed=3).select("someStr"),
        "deep_400": deep.select("someLong"),
    }
    spark.sql(
        "SELECT array(1, 2) a, map('k', 2.5D) m, DATE'2024-01-01' d, TIMESTAMP'2024-01-01 00:00:00' t, "
        "CAST(1.5 AS DECIMAL(20, 4)) x, X'0A0B' b, NULL n"
    ).createOrReplaceTempView("pj_lit")
    plans["sql_literals"] = spark.sql("SELECT * FROM pj_lit")
    return plans


def test_walker_reads_nothing_the_view_drops(spark, fx, fresh_memo, monkeypatch):
    """Differential: on every exporter test plan, plus a nested-Parquet
    plan, an analysis of the view reply and one of a reply carrying
    Catalyst's full toJSON() give the same for_paths for every source."""
    from tools.plan_corpus import view_rule

    G = fresh_memo
    plans = _exporter_plans(spark, fx)
    plans["nested_parquet"] = spark.read.parquet(fx["sample_parquet"]).select(
        "nestedStruct.childStruct.col2",
        F.explode("someComplexArray.col1").alias("c1"),
        F.col("struct.subArray")[0].alias("a0"),
    )
    view_export, full_export = G._export_plan, _full_json_export(G._export_plan, view_rule(spark).jvm_id)
    for name, df in plans.items():
        monkeypatch.setattr(G, "_export_plan", view_export)
        G._GENERATE_CACHE.clear()
        view = SchemaOnRead.generate(df)
        monkeypatch.setattr(G, "_export_plan", full_export)
        G._GENERATE_CACHE.clear()
        full = SchemaOnRead.generate(df)
        assert view.error is None and full.error is None, (name, view.error, full.error)
        assert view is not full and len(view.relations) == len(full.relations), name
        for rel in view.relations:
            assert view.for_paths(*rel.root_paths) == full.for_paths(*rel.root_paths), (name, rel.root_paths)


def _read_field_names(tree) -> set[str]:
    """String constants a module subscripts with, passes to ``.get(...)``,
    or tests with ``in``: the JSON fields its code reads."""
    import ast

    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Subscript) and isinstance(node.slice, ast.Constant):
            names.add(node.slice.value)
        elif isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute) and node.func.attr == "get":
            if node.args and isinstance(node.args[0], ast.Constant):
                names.add(node.args[0].value)
        elif isinstance(node, ast.Compare) and isinstance(node.left, ast.Constant):
            if any(isinstance(op, (ast.In, ast.NotIn)) for op in node.ops):
                names.add(node.left.value)
    return {n for n in names if isinstance(n, str)}


def test_walker_reads_no_field_the_view_drops():
    """No module of the analyzer reads a field the exporter leaves out. The
    dropped set is read from the exporter's source and must equal the one
    tools/plan_corpus.py projects toJSON() by."""
    import ast
    import glob
    import re

    from score_spark.schema_on_read import generator as G
    from tools.plan_corpus import VIEW_DROPPED

    src = os.path.join(os.path.dirname(G._PLAN_EXPORT_JAR), "plan-export-src", "score", "sor", "PlanJson.java")
    with open(src) as fh:
        m = re.search(r"Set<String> DROPPED = Set\.of\(([^)]*)\)", fh.read())
    dropped = set(re.findall(r'"([^"]+)"', m.group(1)))
    assert dropped == VIEW_DROPPED
    pkg = os.path.dirname(G.__file__)
    for path in sorted(glob.glob(os.path.join(pkg, "*.py"))):
        with open(path) as fh:
            read = _read_field_names(ast.parse(fh.read(), path))
        assert not read & dropped, (os.path.basename(path), sorted(read & dropped))


# ------------------------------------------- relation pairing by exprId key


def test_zero_column_relations_stay_apart(spark, fx):
    """A relation read with an empty schema has no output exprIds, so its
    leaf has no key to find its reply entry by. Two of them must not
    cross-wire: each is registered after the walk and for_paths returns its
    full (empty) schema. An alias over one binds nothing, so for_view
    raises KeyError."""
    empty = T.StructType([])
    a = spark.read.schema(empty).parquet(fx["sample_parquet"])
    b = spark.read.schema(empty).parquet(fx["crazy_parquet"])
    df = a.crossJoin(b)
    sor = gen(df)
    assert sor.error is None
    assert len(sor.relations) == 2
    assert sor.for_paths(fx["sample_parquet"]) == empty
    assert sor.for_paths(fx["crazy_parquet"]) == empty
    pruned = spark.read.schema(sor.for_paths(fx["sample_parquet"])).parquet(fx["sample_parquet"])
    assert pruned.crossJoin(b).count() == df.count()

    a.createOrReplaceTempView("zero_cols")
    sor = gen(spark.sql("SELECT * FROM zero_cols"))
    assert sor.for_paths(fx["sample_parquet"]) == empty
    with pytest.raises(KeyError):
        sor.for_view("zero_cols")


def test_self_join_of_one_dataframe_roundtrips(spark, fx):
    """df.join(df): the analyzer gives the right leaf fresh exprIds, so one
    file relation is found under two keys; both sides' columns are kept."""
    pruned = _roundtrip(
        spark, fx,
        lambda df: df.alias("l").join(df.alias("r"), F.col("l.someLong") == F.col("r.someLong"))
                     .select(F.col("l.struct.col1"), F.col("r.nestedStruct.str")),
    )
    assert pruned.fieldNames() == ["someLong", "struct", "nestedStruct"]
    assert pruned["struct"].dataType.fieldNames() == ["col1"]
    assert pruned["nestedStruct"].dataType.fieldNames() == ["str"]


def test_union_of_one_dataframe_roundtrips(spark, fx):
    """df.union(df): both branches read the one relation."""
    pruned = _roundtrip(spark, fx, lambda df: df.union(df).select("someStr", "struct.col2"))
    assert pruned == st(f("someStr", STR), struct_field(f("col2", LONG)))


def test_cte_referenced_only_from_a_subquery_roundtrips(spark, fx):
    """WITH c AS (...) ... WHERE x IN (SELECT ... FROM c): the CTE's only
    reference sits inside a subquery plan, so the def's relation is owned
    through _finalize's ref -> def step taken from inside that plan."""
    path = fx["sample_parquet"]
    sql = (
        "WITH c AS (SELECT someLong AS k FROM cte_sq WHERE struct.col1 = 1 AND someStr = 'bla') "
        "SELECT someStr, nestedStruct.str FROM cte_sq WHERE someLong IN (SELECT k FROM c)"
    )
    spark.read.parquet(path).createOrReplaceTempView("cte_sq")
    full = spark.sql(sql)
    assert "CTERelationRef" in full._jdf.queryExecution().analyzed().toString()
    expected = sorted(map(str, full.collect()))
    assert len(expected) == 1
    pruned = gen(full).for_paths(path)
    spark.read.schema(pruned).parquet(path).createOrReplaceTempView("cte_sq")
    assert sorted(map(str, spark.sql(sql).collect())) == expected, pruned
    assert pruned == st(
        f("someStr", STR),
        f("someLong", LONG),
        struct_field(f("col1", LONG)),
        f("nestedStruct", T.StructType([f("str", STR)])),
    )


def test_plan_export_jar_matches_its_source():
    """The committed jar was built from the committed sources: the build
    script stores a sorted SHA-256 manifest of every *.java under
    vendor/plan-export-src in the jar. Re-run vendor/build_plan_export_jar.sh
    after editing any of them."""
    import glob
    import hashlib
    import zipfile

    from score_spark.schema_on_read import generator as G

    src_root = os.path.join(os.path.dirname(G._PLAN_EXPORT_JAR), "plan-export-src")
    sources = sorted(
        os.path.relpath(p, src_root) for p in glob.glob(os.path.join(src_root, "**", "*.java"), recursive=True)
    )
    assert "score/sor/PlanExport.java" in sources and "score/sor/PlanJson.java" in sources
    want = []
    for rel in sources:
        with open(os.path.join(src_root, rel), "rb") as fh:
            want.append(f"{hashlib.sha256(fh.read()).hexdigest()}  {rel}")
    with zipfile.ZipFile(G._PLAN_EXPORT_JAR) as jar:
        built_from = jar.read("score/sor/sources.sha256").decode().splitlines()
        classes = {n for n in jar.namelist() if n.endswith(".class")}
    assert {"score/sor/PlanExport.class", "score/sor/PlanJson.class"} <= classes
    assert built_from == want, "vendor/score-spark-plan-export.jar is stale: run vendor/build_plan_export_jar.sh"


def test_exporter_plan_json_is_catalysts_to_json(spark, fx):
    """The exporter writes the plan JSON itself (score.sor.PlanJson); on
    every plan shape here its reply's plan is the walker view of
    plan.toJSON(), node for node, as tools/plan_corpus.py projects it, with
    no subtree or value handed back to Catalyst. The writer the exporter
    uses for whatever it does hand back (PlanExport.view) gives the same
    view of the same toJSON()."""
    import json

    from score_spark.schema_on_read import generator as G
    from tools.plan_corpus import check_json, view_rule

    rule = view_rule(spark)
    for name, df in _exporter_plans(spark, fx).items():
        checked = check_json(df)
        assert checked["same"], f"{name}: {checked['where']}"
        assert checked["fallbacks"] == 0, name
        full = df._jdf.queryExecution().analyzed().toJSON()
        via_fallback = G._plan_json_pool().submit(lambda: spark._jvm.score.sor.PlanExport.view(full)).result()
        assert json.loads(via_fallback) == rule.view(json.loads(full)), name


def test_plain_session_attaches_the_exporter(tmp_path):
    """A session from a plain SparkSession.builder has no vendor jars on
    spark.jars; the worker attaches the exporter jar at runtime and the
    analysis still prunes. In a subprocess because spark.jars is fixed when
    the JVM starts."""
    import json
    import subprocess
    import sys

    script = (
        "import json, sys\n"
        "from pyspark.sql import SparkSession\n"
        "from score_spark.schema_on_read import SchemaOnRead\n"
        "spark = (SparkSession.builder.master('local[1]').config('spark.ui.enabled', 'false')\n"
        "         .config('spark.driver.memory', '1g').getOrCreate())\n"
        "assert not spark.sparkContext.getConf().get('spark.jars', '')\n"
        "path = sys.argv[1]\n"
        "spark.range(3).selectExpr('id', 'named_struct(\"a\", id, \"b\", named_struct(\"c\", id, \"d\", id)) s')"
        ".write.parquet(path)\n"
        "sor = SchemaOnRead.generate(spark.read.parquet(path).select('s.b.c'))\n"
        "print(json.dumps([sor.error, sor.for_paths(path).jsonValue()]))\n"
    )
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {k: v for k, v in os.environ.items() if k != "SCORE_SPARK_SOR_RAISE"}
    r = subprocess.run(
        [sys.executable, "-c", script, str(tmp_path / "nested.parquet")],
        capture_output=True, text=True, cwd=repo, env=env, timeout=300,
    )
    assert r.returncode == 0, (r.stdout + r.stderr)[-2000:]
    error, pruned = json.loads(r.stdout.strip().splitlines()[-1])
    assert error is None
    assert T.StructType.fromJson(pruned) == st(f("s", st(f("b", st(f("c", LONG))))))


def test_missing_exporter_falls_back_naming_jar_and_get_session(spark, fx, monkeypatch):
    """When the exporter class stays invisible after the runtime attach,
    generate() falls back to full schemas and ``error`` says which jar to
    load and that get_session() loads it."""
    from score_spark.schema_on_read import generator as G

    monkeypatch.delenv("SCORE_SPARK_SOR_RAISE", raising=False)
    monkeypatch.setattr(G, "_PLAN_EXPORT_CLASS", "score.sor.NoSuchExport")
    monkeypatch.setattr(G, "_PLAN_JSON_POOL", None)  # fresh worker, restored after
    monkeypatch.setattr(G, "_GENERATE_CACHE", {})
    pool = G._plan_json_pool()
    try:
        sor = SchemaOnRead.generate(spark.read.parquet(fx["sample_parquet"]).select("struct.col1"))
    finally:
        pool.shutdown()
    assert sor._failed
    assert G._PLAN_EXPORT_JAR in sor.error and "get_session" in sor.error, sor.error

"""SchemaOnRead — derive each file source's minimal nested read-schema from a
query's analyzed Catalyst plan.

Rebuild of the reference pipeline (SchemaOnReadGenerator.java:42-63):
  1. pre-pass root-down for the upper-most selection nodes (:66-73);
  2. bottom-up walk with per-node-class handlers
     (TreeNodeProcessingRegistry.java:25-115);
  3. requirement-trie intersection with each relation's full schema;
  4. best-effort: any failure → full schema (README.md:9).

The analysis reads the JVM once: the vendored ``score.sor.PlanExport.export``
(vendor/plan-export-src, built by vendor/build_plan_export_jar.sh) resolves
the DataFrame's analyzed plan and returns its JSON plus every file
relation's files, root paths and schema in one py4j reply, the way the
reference reads them in-process as a JVM library. The plan JSON is the
*walker view* of Catalyst's ``toJSON()`` (``score.sor.PlanJson``): the fields
no handler here reads (``dataType``, ``nullable``, ``metadata``,
``qualifier``, ``nonInheritableMetadataKeys``) are left out at every depth,
an exprId is ``{id}`` (plus ``jvmId`` only for another JVM's id) and an
expression's class is its simple name. On the analyzer's 417-plan corpus
the reply is 37% of the bytes it takes with the full ``toJSON()``. It is
the analyzer's only JVM call, made on a worker thread: the calling thread
makes none. The reply keys every
file relation, in the main plan or in a subquery plan, by the exprIds of its
output, which the plan JSON carries too; the walk, in Python, finds each
``LogicalRelation`` leaf's relation by that one key.

Analyses are memoized by the reply text (everything before its timing
field): it is the walk's exact input, so equal replies give equal analyses
by construction, and the memo holds no JVM object. A DataFrame analyzed
before returns its memo entry without a JVM call, for as long as the memo
keeps that entry.

Architectural deviation from the reference (deliberate, SURVEY.md §7):
attributes are tracked by Catalyst **exprId** straight from the analyzed-plan
JSON, not by regex-re-parsing ``Expression.sql()`` strings
(SQLExpressionParser.java:12-44). This kills the reference's
"WindowExpression complete hack" (TreeNodeProcessingRegistry.java:62-68) and
its documented alias-shadows-real-column over-inclusion wart
(SchemaOnReadGeneratorTest.java:1680-1711) — exprIds are unambiguous.

Node semantics mirrored 1:1 (SchemaOnReadUtils.java:89-158):
  mandatory (always require full resolved path): Sort keys, Aggregate grouping
  exprs, Join condition, Window partition+order specs;
  conditional (require only at an upper-most selection node, else just touch):
  Project list, Aggregate agg exprs, Window window exprs, Generate
  generator+output.
Extensions beyond the reference (needed for modern analyzed plans): WithCTE /
CTERelationDef / CTERelationRef linking, Union/Intersect/Except positional
linking across branches, Expand (rollup/cube) projections.
"""

from __future__ import annotations

import functools
import json
import logging
import os
import threading
import time
import weakref
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Any

from py4j.java_gateway import JavaClass
from pyspark import SparkContext
from pyspark.sql import DataFrame, types as T

from score_spark.schema_on_read.plan_json import Node, build_tree, cls_name, expr_id, expr_trees, exprid_key
from score_spark.schema_on_read.trie import (
    FanNode,
    Handle,
    StructSynthNode,
    TrieNode,
    merge_requirements,
    prune_schema,
)

# Selection nodes "own" their columns (SchemaOnReadUtils.java:32-39). Join
# participates only when it has a condition (TreeNodeProcessingRegistry.java:77-82).
_SELECTION = {"Project", "Aggregate", "Window", "Sort", "Generate", "Join"}

_PATH_EXPRS = {
    "AttributeReference",
    "GetStructField",
    "GetArrayStructFields",
    "GetMapValue",
    "GetArrayItem",
    "ElementAt",
    "Get",  # F.get(arr, i): NULL-on-out-of-bounds ElementAt (r8 fuzz find)
    # correlated-subquery reference to an outer attribute (r10): a LEAF
    # expression whose wrapped attribute lives in the `e` FIELD, not in
    # _children — without this, `outer(s2).a` inside a LATERAL/correlated
    # subquery dead-ended and s2 emitted as a skeleton (proven by execution)
    "OuterReference",
    # HOF lambda variable (r11): a LEAF whose exprId resolves through the
    # collection-argument binding _walk_hof registered — needed here so a
    # BARE var in require mode (exists(arr, x -> x == someStruct)) requires
    # the full element, not just field accesses through it
    "NamedLambdaVariable",
}

# Expressions whose RESULT depends on every field of a complex operand —
# whole-value comparisons and order/equality-sensitive functions. Their
# operands must be walked in 'require' mode even inside touch-mode contexts
# (Filter conditions, agg expressions): a struct operand pruned to its
# separately-touched children changes the comparison itself (review r9,
# proven by execution — filter(s1 == s2) with both sides pruned compares a
# field subset, the same class r7 fixed for Deduplicate/Intersect/Except
# keys). Requiring a PRIMITIVE operand is a no-op (touch already keeps
# primitives by emission), so membership only affects complex operands.
# Deliberately absent: First/Last (positional pick, not value-comparing —
# narrowing their output is the ref test :320-337 contract), IsNull/IsNotNull
# (a container's null-ness is independent of which fields are read),
# Coalesce/If/CaseWhen (pass values through; their outputs prune like any
# projection).
_VALUE_COMPARISON_EXPRS = {
    "EqualTo", "EqualNullSafe", "LessThan", "LessThanOrEqual",
    "GreaterThan", "GreaterThanOrEqual", "In", "InSet",
    "Max", "Min", "Greatest", "Least", "CollectSet",
    "SortArray", "ArrayMin", "ArrayMax", "ArraySort",
    "ArrayContains", "ArrayPosition", "ArraysOverlap", "ArrayRemove",
    "ArrayDistinct", "ArrayUnion", "ArrayIntersect", "ArrayExcept",
    # value-comparing aggregates / subquery membership: the ordering or
    # compared operand observes the WHOLE value, so pruning a struct to a
    # field subset silently changes which row wins / which rows match.
    # MaxBy/MinBy strictly only need the ordering child required, but
    # requiring both operands is the safe over-keep.
    "MaxBy", "MinBy", "Mode", "InSubquery",
    # whole-value OBSERVERS (r11 probe, proven silent loss): serializers
    # and hashers read every field of a complex operand, but outside a
    # comparison wrapper they sat in touch mode — filter(to_json(s)
    # .contains(..)) / filter(cast(s as string).like(..)) skeletonized s
    # and silently dropped rows. Require their operands like comparisons.
    "StructsToJson", "StructsToCsv", "StructsToXml",
    "Murmur3Hash", "XxHash64", "HiveHash",
    "FormatString", "ToPrettyString", "TypeOf",
    # map_from_entries: the map's keys AND values come from the entry
    # structs' fields positionally (names arbitrary) — no name channel to
    # narrow through, and rebuilt key lookups read whole keys
    "MapFromEntries",
    # sketch aggregates hash the whole input value
    "HyperLogLogPlusPlus", "CountMinSketchAgg", "BloomFilterAggregate",
    # UDFs receive their argument VALUES whole (a Python worker indexing
    # s['b'] crashes when the struct arrives pruned — r11 probe; requiring
    # primitive args is a no-op as everywhere in this set)
    "PythonUDF", "PythonUDAF", "ScalaUDF", "ScalaAggregator",
    # Cast can NEVER narrow a complex operand: struct casts rebind fields
    # POSITIONALLY and require the operand arity to match the declared
    # target (a pruned struct<a> into cast(... as struct<a,b>) fails
    # analysis), and cast-to-string serializes every field. Requiring a
    # primitive cast operand is a no-op, so blanket membership is safe.
    "Cast", "TryCast", "UpCast",
}

# expressions KNOWN to carry a nested logical plan in their `plan` field —
# if one arrives with an unparseable plan the walker raises (best-effort
# fallback) instead of silently under-keeping the inner plan's columns.
# Unknown plan-bearing expressions are caught generically by the `plan`
# field probe in _walk_expr.
_SUBQUERY_PLAN_EXPRS = {
    "ListQuery", "ScalarSubquery", "Exists", "LateralSubquery",
    "DynamicPruningSubquery", "FunctionTableSubqueryArgumentExpression",
}

# Expressions whose RESULT is ONE OF their value operands (branch-value):
# If / CaseWhen / Coalesce pass a branch value through unchanged. Two r11
# execution-proven consequences the generic last-child walk missed:
# (a) an enclosing Alias must bind to EVERY value branch — binding only the
#     last one skeletonized the others (`coalesce(s1, s2) AS s; SELECT s.a`
#     left s1 as struct<>), and (b) the surviving branch SHAPES must agree
#     on the pruned re-read (coalesce(struct<>, struct<a>) fails analysis
#     with DATA_DIFF_TYPES) — the same one-value-stream contract as set-op
#     branches, reconciled through the same merge buckets. The nvl family
#     (Nvl/Nvl2/NullIf) needs no entry: RuntimeReplaceable serializes its
#     replacement (Coalesce/If/With) as the single child, which flows
#     through this handling on its own.
_BRANCH_VALUE_EXPRS = {
    "If", "CaseWhen", "Coalesce",
    # collection constructors: their elements/values are the same kind of
    # single value stream (array(a, b)[0].f must narrow BOTH a and b, and
    # their pruned shapes must agree); constructed-map keys are required
    # fully — rebuilt key lookups compare whole key values
    "CreateArray", "CreateMap", "MapFromArrays",
    # concatenations merge their operands into one element/entry stream
    # (primitive operands ride along harmlessly — no children to bucket)
    "Concat", "MapConcat",
}

# HOFs whose RESULT is built from the lambda body's values (transform-like):
# an enclosing Alias may bind to the body's handles — a later whole-result
# require then keeps exactly the body's paths, the true data dependency.
# Every OTHER lambda-bearing expression (ArrayFilter/ArraySort/MapFilter/
# TransformKeys/unknown) is treated as element-PRESERVING: its result
# carries the ORIGINAL elements (filter returns the surviving structs
# whole), so the alias must bind to the collection handles too — binding
# only the body under-kept `filter(arr, x -> x.col1 > 0) AS t; SELECT t`
# to struct<col1>, silently dropping col2 from t (r11 probe, proven by
# execution). Unknown-by-default = safe over-keep.
_HOF_RESULT_IS_BODY = {
    "ArrayTransform", "ZipWith", "TransformValues", "MapZipWith",
    "ArrayExists", "ArrayForAll", "ArrayAggregate",
}


@dataclass
class RelationInfo:
    ref: tuple[str, ...]  # sorted input files — relation identity (SchemaOnReadState.java:80-95,122-126)
    root_paths: tuple[str, ...]
    full_schema: T.StructType
    trie: TrieNode
    finalized: bool = False


@dataclass
class _State:
    relations: dict[tuple[str, ...], RelationInfo] = field(default_factory=dict)
    exprid_map: dict[tuple[str, int], list[Handle]] = field(default_factory=dict)
    alias_to_ref: dict[str, tuple[str, ...]] = field(default_factory=dict)
    cte_defs: dict[int, list[tuple[str, int]]] = field(default_factory=dict)  # cteId -> output exprIds
    upper_most: set[int] = field(default_factory=set)  # id(node) of upper-most selection nodes
    current_relation: RelationInfo | None = None
    # one bucket per set-op output position: Union/Intersect/Except branch
    # columns are the SAME value stream, so their pruned types must agree
    # across branches (see _merge_setop_groups)
    setop_groups: list[list[Handle]] = field(default_factory=list)


def _norm_path(p: str) -> str:
    p = p.rstrip("/")
    if p.startswith("file:"):
        p = p[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
    return p


# export reply text up to its timing field -> the analysis of that reply,
# oldest first, at most _MEMO_SIZE entries. The key is the walk's whole
# input, so a hit is the analysis a cold walk would produce.
_GENERATE_CACHE: dict[str, "SchemaOnRead"] = {}
_MEMO_SIZE = 64
# each DataFrame analyzed before -> its memo key. Every lookup goes through
# the memo, so this index never answers with an analysis the memo has
# evicted. It does not keep a DataFrame alive; a live DataFrame keeps its
# key text.
_BY_FRAME: "weakref.WeakKeyDictionary[DataFrame, str]" = weakref.WeakKeyDictionary()
# generate() may run on several threads at once: every memo and index write
# happens under this lock
_MEMO_LOCK = threading.Lock()

_log = logging.getLogger(__name__)

# the vendored exporter (vendor/build_plan_export_jar.sh): its one reply
# carries the plan JSON and every file relation's files, roots and schema
_PLAN_EXPORT_CLASS = "score.sor.PlanExport"
_PLAN_EXPORT_JAR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "vendor",
    "score-spark-plan-export.jar",
)

# single long-lived worker that makes the export call (see the generate()
# comment): one thread, so there is exactly ONE extra py4j connection for
# the process, created lazily and reused. Created PER PROCESS (r13
# self-review): a fork after first use would leave the child with a
# registered-but-dead worker thread, and the child's next submit() would
# queue work no thread ever runs — fut.result() hangs forever.
_PLAN_JSON_POOL: ThreadPoolExecutor | None = None
_PLAN_JSON_POOL_PID: int | None = None
# the worker thread's resolved PlanExport.export member, or why it could not
# be resolved (set by its initializer, per thread so pools never share it)
_WORKER = threading.local()


def _jvm_socket():
    """The JVM end of the calling thread's own py4j connection (PySpark's
    default pinned-thread mode gives every Python thread one)."""
    server = SparkContext._gateway.java_gateway_server
    return server.getCallbackClient().getPerThreadConnection().getSocket()


def _jvm_nodelay() -> None:
    """Turn off Nagle on the worker's JVM socket.

    py4j sets no TCP_NODELAY on either end, and the JVM writes a reply
    through an 8 KB BufferedWriter. An export reply over 8 KB leaves in
    more than one segment, and Nagle holds the tail back until Python's
    delayed ACK arrives: 43-50 ms added to an export that otherwise takes a
    few ms (BASELINE.md "Analyzer budget", re-measure 2026-10). A failure
    here (e.g. no per-thread connection with PYSPARK_PIN_THREAD=false) must
    not raise: a raising initializer breaks the pool, and every later
    generate() would fall back to full schemas."""
    try:
        _jvm_socket().setTcpNoDelay(True)
    except Exception as e:
        _log.warning("plan-JSON py4j socket keeps Nagle on: %s: %s", type(e).__name__, e)


def _plan_export_member():
    """``PlanExport.export`` as a py4j member bound once: looking the class
    up on every call costs two more round trips (~1.7 ms).

    A session not made by get_session() has no vendor jars on spark.jars.
    Attaching the jar through the session's resource loader also sets THIS
    JVM thread's context class loader, which py4j resolves classes through;
    other threads' loaders do not change, so the export call stays on the
    worker."""
    jvm = SparkContext._jvm

    def lookup():  # a JavaPackage, not a JavaClass, when the class is unknown
        return functools.reduce(getattr, _PLAN_EXPORT_CLASS.split("."), jvm)

    cls = lookup()
    if not isinstance(cls, JavaClass):
        jvm.org.apache.spark.sql.SparkSession.active().sessionState().resourceLoader().addJar(_PLAN_EXPORT_JAR)
        cls = lookup()
    if not isinstance(cls, JavaClass):
        raise RuntimeError("class not visible after attaching the jar")
    return cls.export


def _init_worker() -> None:
    """Pool initializer: Nagle off, then resolve the exporter once. Never
    raises (see _jvm_nodelay); a failed resolution is raised by each export
    call instead, and generate() falls back with that reason."""
    _jvm_nodelay()
    try:
        _WORKER.export, _WORKER.error = _plan_export_member(), None
    except Exception as e:
        _WORKER.export = None
        _WORKER.error = (
            f"{_PLAN_EXPORT_CLASS} unavailable from {_PLAN_EXPORT_JAR} ({type(e).__name__}: {e}); "
            "start the session with score_spark.session.get_session(), which loads vendor/*.jar"
        )


def _export_plan(jdf) -> str:
    """Runs on the worker: the one py4j round trip of an analysis."""
    if _WORKER.export is None:
        raise RuntimeError(_WORKER.error)
    return _WORKER.export(jdf)


def _plan_json_pool() -> ThreadPoolExecutor:
    global _PLAN_JSON_POOL, _PLAN_JSON_POOL_PID
    pid = os.getpid()
    if _PLAN_JSON_POOL is None or _PLAN_JSON_POOL_PID != pid:
        _PLAN_JSON_POOL = ThreadPoolExecutor(
            max_workers=1, thread_name_prefix="sor-plan-json", initializer=_init_worker
        )
        _PLAN_JSON_POOL_PID = pid
    return _PLAN_JSON_POOL


class SchemaOnRead:
    """Public API — mirrors SchemaOnReadGenerator.java:30-85:
    ``generate(df)`` / ``for_paths(*paths)`` / ``for_view(name)`` /
    ``duration`` (seconds, :75-77)."""

    def __init__(self) -> None:
        self._state = _State()
        self._failed = False
        # why generate() fell back to full schemas ("Type: message"), None
        # when the analysis succeeded
        self.error: str | None = None
        # Catalyst class of the plan node whose handler raised, None when
        # the analysis succeeded or failed outside the walk's handlers (the
        # export call, the reply parse)
        self.error_node: str | None = None
        self.duration: float = 0.0
        # phase split of a successful cold analysis (ms): the export round
        # trip, decoding and parsing its reply, the walk; serialize_ms is
        # the JVM's share of export_ms (building the reply), so
        # export_ms - serialize_ms is the py4j transit. A memo hit returns
        # the cached analysis with the timings of its cold run.
        self.timings: dict[str, float] = {}
        # every file relation of the export reply, main plan and subquery
        # plans alike, keyed by its output exprIds (_keyed_relations)
        self._rels: dict[Any, dict[str, Any] | None] = {}
        # walk state: CTE def nodes by cteId, and which defs a ref exposes as
        # final output
        self._cte_def_nodes: dict[int, Node] = {}
        self._cte_exposed: dict[int, bool] = {}

    # ------------------------------------------------------------------ API

    @classmethod
    def generate(cls, df: DataFrame) -> "SchemaOnRead":
        t0 = time.monotonic()
        # a DataFrame's analyzed plan is fixed when it is built, so one
        # analyzed before is answered by its memo entry while the memo still
        # holds that entry: no JVM call (a few µs)
        cached = _GENERATE_CACHE.get(_BY_FRAME.get(df))
        if cached is not None:
            cached.duration = time.monotonic() - t0
            return cached

        self = cls()
        try:
            # the analysis's one py4j round trip: PlanExport.export resolves
            # the analyzed plan and returns its JSON plus every file
            # relation's files, roots and schema. It runs on the worker: its
            # socket has TCP_NODELAY on (_jvm_nodelay), without which an
            # export reply over 8 KB (most suite plans) could stall ~43 ms on
            # a delayed ACK, and only its JVM thread sees a jar attached at
            # runtime (_plan_export_member). The worker is a LONG-LIVED
            # single-thread executor, not a thread per call:
            # pinned mode opens a fresh py4j connection + JVM thread for
            # every new Python thread (measured +12 ms per call), and the
            # pool amortizes that to once per process. Any export failure
            # is re-raised by .result() and lands in the best-effort
            # fallback.
            t = time.monotonic()
            reply = _plan_json_pool().submit(_export_plan, df._jdf).result()
            t_export = time.monotonic()
            # an equal reply (e.g. the same query built again over the same
            # reads) is the same walk input: reuse its analysis before
            # parsing anything
            key = reply[: reply.rindex(',"serialize_ms":')]
            cached = _memo_hit(df, key)
            if cached is not None:
                cached.duration = time.monotonic() - t0
                return cached
            payload = json.loads(reply)
            self._rels = {**_collect_jvm_relations(payload), **_collect_jvm_subquery_relations(payload)}
            root = build_tree(payload["plan"])
            t_parse = time.monotonic()
            self._analyze(root)
            self.timings = {
                "export_ms": (t_export - t) * 1e3,
                "parse_ms": (t_parse - t_export) * 1e3,
                "walk_ms": (time.monotonic() - t_parse) * 1e3,
                "serialize_ms": payload["serialize_ms"],
            }
        except Exception as e:
            # best-effort: fall back to full schemas (README.md:9), keeping
            # the reason. Tests set SCORE_SPARK_SOR_RAISE=1 so walker bugs
            # can't hide behind the fallback.
            if os.environ.get("SCORE_SPARK_SOR_RAISE"):
                raise
            self._failed = True
            self.error = f"{type(e).__name__}: {e}"
        # relations the walk never registered (a zero-column relation's leaf
        # pairs with nothing; a failed walk stops early) still answer
        # for_paths() with their full schema
        for info in self._rels.values():
            if info is not None:
                self._relation(info)
        if not self._failed:
            # another thread may have memoized an equal reply meanwhile:
            # answer with the analysis the memo keeps
            self = _memoize(df, key, self)
        self.duration = time.monotonic() - t0
        return self

    def for_paths(self, *paths: str) -> T.StructType:
        """Pruned read-schema for the relation identified by the same path(s)
        the query read (directory, glob root, or explicit file list)."""
        want = {_norm_path(p) for p in paths}
        for rel in self._state.relations.values():
            roots = {_norm_path(p) for p in rel.root_paths}
            files = {_norm_path(p) for p in rel.ref}
            if want == roots or want == files or all(
                any(f == w or f.startswith(w + "/") for w in want) for f in files
            ):
                return self._emit(rel)
        raise KeyError(self._not_found(f"no file relation in this plan matches paths {sorted(want)}"))

    def for_view(self, name: str) -> T.StructType:
        ref = self._state.alias_to_ref.get(name.lower())
        if ref is None:
            raise KeyError(self._not_found(f"no relation registered under alias {name!r}"))
        return self._emit(self._state.relations[ref])

    def _not_found(self, msg: str) -> str:
        # a failed analysis knows only the relations collected before it
        # failed (none when the export itself failed): say why
        return f"{msg}; the analysis failed: {self.error}" if self._failed else msg

    @property
    def relations(self) -> list[RelationInfo]:
        return list(self._state.relations.values())

    def _emit(self, rel: RelationInfo) -> T.StructType:
        # Fallbacks: analysis failure, relation never owned by a selection
        # node (e.g. filter-only plans, test :95-101), or an empty trie —
        # all → full schema (SchemaOnReadExtractor.java:154-158).
        if self._failed or not rel.finalized:
            return rel.full_schema
        pruned = prune_schema(rel.full_schema, rel.trie)
        if not pruned.fields:
            return rel.full_schema
        return pruned

    # ------------------------------------------------------- plan traversal

    def _analyze(self, root: Node) -> None:
        self._mark_upper_most(root, found=False)
        self._visit(root)
        self._merge_setop_groups()

    def _merge_setop_groups(self) -> None:
        """Reconcile set-op branch tries after the walk (r8 fuzz find).

        A Union/Intersect/Except output column is one value stream fed by
        every branch, so on the pruned re-read the branches' column types
        must stay union-compatible. Requirements arriving from ABOVE the
        set-op already reach all branches through the positional exprId
        link, but a branch-LOCAL touch — e.g. a filter on ``struct.col1``
        inside one branch while the other branch projects the same struct
        untouched — lands in only that branch's trie. The pruned re-read
        then unions ``STRUCT<col1>`` against skeleton ``STRUCT<>`` and
        fails analysis (found by the multi-source plan fuzz; the reference
        avoids the same hazard by merging per-branch results at set-ops,
        TreeNodeProcessingRegistry.java:108-115).

        Fix: for every linked output position, union the requirement
        subtrees across branches — sticky ``required`` wins everywhere,
        otherwise touched child sets merge recursively. If NO branch
        materialized the position's node, the whole group stays pending (a
        pending handle is not a touch, so no spurious columns appear — all
        branches then drop the column uniformly). But when at least ONE
        branch materialized it, every still-pending branch MUST materialize
        too (review r8, proven by execution): positional union/intersect/
        except (no per-branch Project, unlike unionByName) leaves untouched
        branches with no trie node at all, so the touched branch emitted the
        narrowed column while its siblings dropped it — an arity mismatch
        the pruned re-read could only survive via the silent best-effort
        fallback, i.e. pruning was silently lost. Iterated to a fixpoint
        because nested set-ops can chain groups through a shared branch."""
        groups = self._state.setop_groups
        if not groups:
            return
        for _ in range(64):  # fixpoint; depth bounded by nested set-op chains
            changed = False
            for bucket in groups:
                nodes, pending, seen = [], [], set()
                for h in bucket:
                    n = h.node.children.get(h.name) if h.name is not None else h.node
                    if n is None:
                        pending.append(h)
                    elif id(n) not in seen:
                        seen.add(id(n))
                        nodes.append(n)
                if nodes and pending:
                    for h in pending:
                        n = h.materialize()
                        if id(n) not in seen:
                            seen.add(id(n))
                            nodes.append(n)
                    changed = True
                if len(nodes) >= 2:
                    changed |= merge_requirements(nodes)
            if not changed:
                return

    def _mark_upper_most(self, root: Node, found: bool) -> None:
        """Root-down pre-pass (SchemaOnReadGenerator.java:66-73): the first
        selection node on each root-to-leaf branch is upper-most — its
        conditional columns are final output and must stay full.

        Iterative with an explicit stack, like build_tree: a loop of
        withColumn calls stacks one Project per iteration, and recursing
        once per level overflowed Python's recursion limit at about 1,000
        levels (the RecursionError became a silent full-schema fallback).
        A ``None`` found marks a CTE def whose pre-pass waits until the
        plan that references it has been pre-passed."""
        stack: list[tuple[Node, bool | None]] = [(root, found)]
        while stack:
            node, found = stack.pop()
            if found is None:
                exposed = self._cte_exposed.get(node["id"], False)
                stack.append((node["_children"][0], not exposed))
                continue
            cname = cls_name(node)
            if cname == "WithCTE":
                # defs are logically inlined at their refs: pre-pass the main
                # plan first; _visit exposes defs based on where refs sit.
                children = node["_children"]
                defs, plan = children[:-1], children[-1]
                for d in defs:
                    self._cte_def_nodes[d["id"]] = d
                # REVERSED def order (review r9), which the stack gives by
                # popping: refs only point at EARLIER defs, so exposure
                # discovered while pre-passing a later def (`WITH a AS (...),
                # b AS (TABLE a) TABLE b` — b's top-level ref exposes a) must
                # be recorded before a's own pre-pass consumes it; forward
                # order pre-passed a with found=True and skeletonized its
                # complex final outputs.
                stack.extend((d, None) for d in defs)
                stack.append((plan, found))
                continue
            if cname == "CTERelationRef":
                if not found:
                    self._cte_exposed[node["cteId"]] = True
                continue
            if cname == "LateralJoin":
                # the right side is a LateralSubquery EXPRESSION (a field, not
                # a child), invisible to this pre-pass. Unlike every other
                # subquery position, lateral outputs ARE user-facing: record
                # the found state here so _on_LateralJoin can pass it into the
                # subquery plan's own pre-pass — found=True unconditionally
                # skeletonized a complex lateral output whenever no defining
                # Project sat above the LateralJoin (API df.lateralJoin(...);
                # ADVICE r10, confirmed by execution: struct pruned to
                # struct<>).
                node["_lateral_found"] = found
            is_selection = cname in _SELECTION and (cname != "Join" or expr_trees(node.get("condition")))
            if is_selection and not found:
                self._state.upper_most.add(id(node))
                # Only Project and Aggregate fully DEFINE their output; Sort,
                # Join, Window, and Generate pass their children's columns
                # through to the final output, so the descent continues and
                # the first output-defining node below is ALSO upper-most.
                # The reference stops at the first selection node of any kind
                # (SchemaOnReadGenerator.java:66-73), which skeletonizes a
                # complex column projected as final output under e.g. an
                # orderBy — silent data loss on the pruned re-read (review
                # r7, confirmed by execution: select('s','x').orderBy('x')
                # pruned s to struct<>). Deliberate deviation, documented in
                # the module docstring's deviation list.
                if cname in ("Project", "Aggregate"):
                    found = True
            stack.extend((c, found) for c in reversed(node["_children"]))

    def _visit(self, root: Node) -> None:
        """Bottom-up (children first) — Catalyst's foreachUp
        (SchemaOnReadGenerator.java:51). Iterative for the same reason as
        _mark_upper_most. A handler that raises names its node in
        ``error_node``; the innermost one wins when a subquery plan's
        handler raises inside its enclosing node's handler."""
        stack: list[tuple[Node, bool]] = [(root, False)]
        while stack:
            node, children_done = stack.pop()
            if not children_done:
                stack.append((node, True))
                stack.extend((c, False) for c in reversed(node["_children"]))
                continue
            handler = getattr(self, "_on_" + cls_name(node), None)
            if handler is None:
                continue
            try:
                handler(node)
            except Exception:
                if self.error_node is None:
                    self.error_node = node["class"]
                raise

    # ------------------------------------------------------------- handlers

    def _on_LogicalRelation(self, node: Node) -> None:
        # The leaf's relation is the reply entry keyed by the leaf's output
        # exprIds, wherever the leaf sits (main plan, CTE def or subquery
        # plan). A missing key raises into generate()'s best-effort fallback
        # (full schemas), never a silent under-keep.
        outs = [(eid, out) for out in expr_trees(node.get("output")) if (eid := expr_id(out)) is not None]
        key = frozenset(eid for eid, _ in outs)
        if key and key not in self._rels:
            raise ValueError("file relation not found in the export reply")
        # None: a non-file relation (JDBC etc.), or a zero-column leaf whose
        # empty key pairs with nothing — both ignored, like LocalRelation
        info = self._rels.get(key)
        st = self._state
        if info is None:
            st.current_relation = None
            return
        rel = self._relation(info)
        st.current_relation = rel
        node["_rel"] = rel
        for eid, out in outs:
            st.exprid_map.setdefault(eid, []).append(Handle(rel.trie, out["name"].lower()))

    def _relation(self, info: dict[str, Any]) -> RelationInfo:
        """The one RelationInfo of a collected file relation, created on
        first sight."""
        st = self._state
        ref = info["ref"]
        if not ref:
            # an empty directory yields ZERO input files: a bare () ref
            # would (a) conflate every empty relation under one dict key —
            # the second empty source silently reuses the first's schema and
            # trie — and (b) vacuously satisfy for_paths' all()-over-files
            # subset check, shadowing the real relation for ANY requested
            # path (review r9). Synthesize a root-path identity; the marker
            # never collides with a real file path, so files-based matching
            # simply can't select an empty relation (roots-based still can).
            ref = tuple("<empty>:" + p for p in info["root_paths"]) or ("<empty>",)
        rel = st.relations.get(ref)
        if rel is None:
            # double-entry guard for self-joins: one trie per path-set
            # (SchemaOnReadState.java:106-126)
            rel = RelationInfo(
                ref=ref,
                root_paths=info["root_paths"],
                full_schema=info["schema"],
                trie=TrieNode(),
            )
            st.relations[ref] = rel
        return rel

    def _on_LocalRelation(self, node: Node) -> None:
        # in-memory data is never pruned (TreeNodeProcessingRegistry.java:32-33)
        self._state.current_relation = None

    def _on_SubqueryAlias(self, node: Node) -> None:
        # view/table alias -> relation ref (SchemaOnReadState.java:128-132);
        # like the reference, maps to the current (last-registered) relation.
        ident = node.get("identifier")
        name = ident.get("name") if isinstance(ident, dict) else None
        if name and self._state.current_relation is not None:
            self._state.alias_to_ref.setdefault(name.lower(), self._state.current_relation.ref)

    def _on_Project(self, node: Node) -> None:
        self._selection(node, mandatory=[], conditional=expr_trees(node.get("projectList")))

    def _on_Aggregate(self, node: Node) -> None:
        # grouping keys compare whole values -> mandatory-full
        # (SchemaOnReadUtils.java:126-136; struct-grouping tests :1592-1629)
        self._selection(
            node,
            mandatory=expr_trees(node.get("groupingExpressions")),
            conditional=expr_trees(node.get("aggregateExpressions")),
        )

    def _on_Window(self, node: Node) -> None:
        self._selection(
            node,
            mandatory=expr_trees(node.get("partitionSpec")) + expr_trees(node.get("orderSpec")),
            conditional=expr_trees(node.get("windowExpressions")),
        )

    def _on_Sort(self, node: Node) -> None:
        self._selection(node, mandatory=expr_trees(node.get("order")), conditional=[])

    def _on_Join(self, node: Node) -> None:
        cond = expr_trees(node.get("condition"))
        if not cond:
            return  # cross joins own nothing (TreeNodeProcessingRegistry.java:77-82)
        self._selection(node, mandatory=cond, conditional=[])

    def _on_CollectMetrics(self, node: Node) -> None:
        # df.observe(name, metrics...): a passthrough node whose metric
        # aggregates live in the `metrics` expression field — never walked
        # before r10, so a metric-only column vanished from the pruned
        # schema (UNRESOLVED_COLUMN on re-read, confirmed by execution),
        # and a metric over a narrowed struct would be silently wrong.
        # Touch mode suffices: aggregate operands route through
        # _VALUE_COMPARISON_EXPRS where ordering-sensitive (max/min/...).
        for e in expr_trees(node.get("metrics")):
            self._walk_expr(e, "touch")

    def _on_LateralJoin(self, node: Node) -> None:
        # SQL `FROM t, LATERAL (SELECT ...)`: the right side is a
        # LateralSubquery EXPRESSION carrying its plan — same channel as
        # scalar/IN subqueries (r10); the lateral's output exprIds are the
        # inner plan's own outputs, so outer references resolve normally.
        # found passthrough (ADVICE r10): lateral outputs are the one
        # subquery position that IS user-facing, so the subquery plan's
        # pre-pass gets the LateralJoin's own found state (recorded by
        # _mark_upper_most) instead of the unconditional found=True every
        # other subquery position correctly uses.
        found = node.get("_lateral_found", True)
        for e in expr_trees(node.get("right")):
            if self._walk_subquery(e, "touch", found) is None:
                self._walk_expr(e, "touch")
        for e in expr_trees(node.get("condition")):
            self._walk_expr(e, "touch")

    def _on_Generate(self, node: Node) -> None:
        # conditional generator + outputs (SchemaOnReadUtils.java:148-158).
        # Explode/PosExplode: the LAST generator-output attribute aliases the
        # exploded element (SchemaOnReadState.java:202-231) so `item.col1`
        # maps to arr.col1. Inline emits ONE output per element field, so
        # each output aliases arr.<field> instead (review r9 — the explode
        # aliasing left every Inline output but the last unmapped, and the
        # last mapped to the collection rather than its field). Any OTHER
        # generator (Stack — whose first child is the row-count literal, not
        # a data expr — JsonTuple, Python UDTFs, future classes) gets the
        # over-keep backstop: every child walked in require mode and no
        # output aliasing, because guessing the element mapping of an
        # unknown generator risks silent under-reads.
        gen = expr_trees(node.get("generator"))
        outputs = expr_trees(node.get("generatorOutput"))
        handles: list[Handle] = []
        mode = "require" if id(node) in self._state.upper_most else "touch"
        for g in gen:
            gname = cls_name(g)
            if gname in ("Explode", "PosExplode"):
                target = g["_children"][0] if g["_children"] else g
                handles = self._walk_expr(target, mode)
            elif gname == "Inline" and g["_children"]:
                base = self._walk_expr(g["_children"][0], mode)
                for out in outputs:
                    eid = expr_id(out)
                    nm = out.get("name")
                    if eid is not None and nm and base:
                        self._state.exprid_map.setdefault(eid, []).extend(
                            h.descend(nm) for h in base
                        )
                self._finalize(node)
                return
            else:
                for c in g["_children"]:
                    self._walk_expr(c, "require")
                handles = []
        if outputs:
            last = outputs[-1]
            eid = expr_id(last)
            if eid is not None and handles:
                self._state.exprid_map.setdefault(eid, []).extend(handles)
        self._finalize(node)

    def _on_Filter(self, node: Node) -> None:
        # NOT a selection node: attrs register, primitives latch, no
        # finalization (TreeNodeProcessingRegistry.java:44-49; test :95-101)
        for e in expr_trees(node.get("condition")):
            self._walk_expr(e, "touch")

    def _on_RepartitionByExpression(self, node: Node) -> None:
        for e in expr_trees(node.get("partitionExpressions")):
            self._walk_expr(e, "touch")

    def _on_Union(self, node: Node) -> None:
        self._link_positional(node)

    def _on_Intersect(self, node: Node) -> None:
        self._link_positional(node)
        self._require_outputs(node)

    def _on_Except(self, node: Node) -> None:
        self._link_positional(node)
        self._require_outputs(node)

    def _on_Deduplicate(self, node: Node) -> None:
        # dropDuplicates / SQL UNION DISTINCT: the dedup keys compare whole
        # values, exactly like Aggregate grouping keys — mandatory-full
        # (review r7: unmarked keys let a descendant prune a compared struct
        # field, making rows that differ only in the pruned field equal)
        for e in expr_trees(node.get("keys")):
            self._walk_expr(e, "require")

    def _require_outputs(self, node: Node) -> None:
        """Intersect/Except compare ENTIRE rows across branches: every
        branch's output column is mandatory-full, like Aggregate grouping
        keys (review r7, confirmed by execution: exceptAll branches pruned
        to a queried subfield made rows differing only in a pruned field
        compare equal — wrong result set, no error)."""
        st = self._state
        for c in node["_children"]:
            for eid in _node_output(c):
                for h in st.exprid_map.get(eid, []):
                    h.materialize().require()

    def _link_positional(self, node: Node) -> None:
        """Union/Intersect/Except output = head child's exprIds; link every
        other branch's same-position attr so requirements reach ALL branches
        (reference merges per-branch results instead,
        TreeNodeProcessingRegistry.java:108-115; tests :559-603)."""
        children = node["_children"]
        if not children:
            return
        outs = [_node_output(c) for c in children]
        head = outs[0]
        st = self._state
        for i, head_eid in enumerate(head):
            bucket = st.exprid_map.setdefault(head_eid, [])
            for other in outs[1:]:
                if i < len(other):
                    bucket.extend(st.exprid_map.get(other[i], []))
            # remember the group: _visit is bottom-up, so a branch-LOCAL
            # touch (a filter inside one branch) has already landed in that
            # branch's trie only; _merge_setop_groups reconciles after the
            # walk (r8 fuzz find — see its docstring)
            st.setop_groups.append(bucket)

    def _on_Expand(self, node: Node) -> None:
        # rollup/cube: output attrs take the union of every projection's
        # handles at that position
        projections = node.get("projections")
        outputs = expr_trees(node.get("output"))
        if not isinstance(projections, list):
            return
        proj_trees = [expr_trees(p) for p in projections]
        for i, out in enumerate(outputs):
            eid = expr_id(out)
            if eid is None:
                continue
            for row in proj_trees:
                if i < len(row):
                    handles = self._resolve_path(row[i]) if cls_name(row[i]) in _PATH_EXPRS else []
                    if handles:
                        self._state.exprid_map.setdefault(eid, []).extend(handles)

    def _on_WithCTE(self, node: Node) -> None:
        pass  # defs/refs handled below

    def _on_CTERelationDef(self, node: Node) -> None:
        out = _node_output(node["_children"][0])
        self._state.cte_defs[node["id"]] = out

    def _on_CTERelationRef(self, node: Node) -> None:
        st = self._state
        def_out = st.cte_defs.get(node["cteId"], [])
        ref_out = [expr_id(o) for o in expr_trees(node.get("output"))]
        for i, eid in enumerate(ref_out):
            if eid is not None and i < len(def_out):
                src = st.exprid_map.get(def_out[i], [])
                if src:
                    st.exprid_map.setdefault(eid, []).extend(src)
        # like LocalRelation: this subtree is not a direct file relation, so
        # an enclosing SubqueryAlias must NOT bind to whatever relation was
        # registered last elsewhere in the plan (review r7: for_view() of a
        # CTE-backed alias silently returned an unrelated relation's pruned
        # schema); best-effort means unregistered, never wrong
        st.current_relation = None

    # ------------------------------------------------------------ mechanics

    def _selection(self, node: Node, mandatory: list[Node], conditional: list[Node]) -> None:
        cond_mode = "require" if id(node) in self._state.upper_most else "touch"
        for e in mandatory:
            self._walk_expr(e, "require")
        for e in conditional:
            self._walk_expr(e, cond_mode)
        self._finalize(node)

    def _finalize(self, node: Node) -> None:
        """Selection-node exit: every relation below now has an owner —
        eligible for pruned emission (TreeNodeProcessingRegistry.java:108-115).

        Each node is marked once: a marked node's subtree, CTE defs reached
        through its refs included, was marked with it, so the descent stops
        there and a chain of selection nodes costs linear, not quadratic,
        time."""
        stack = [node]
        while stack:
            n = stack.pop()
            if "_finalized" in n:
                continue
            n["_finalized"] = True
            rel = n.get("_rel")
            if rel is not None:
                rel.finalized = True
            stack.extend(n["_children"])
            if cls_name(n) == "CTERelationRef":
                d = self._cte_def_nodes.get(n["cteId"])
                if d is not None:
                    stack.append(d)

    def _walk_expr(self, expr: Node, mode: str) -> list[Handle]:
        """Walk one expression tree, marking requirement state.

        mode='require': the resolved terminal keeps its full subtree (sticky,
        SchemaElementImpl.java:112-114). mode='touch': the path is recorded;
        complex terminals stay prunable by later descendants; primitives are
        kept by emission regardless (SchemaElementImpl.java:46-51).
        """
        cname = cls_name(expr)
        if cname in _PATH_EXPRS:
            handles = self._resolve_path(expr)
            for h in handles:
                n = h.materialize()
                if mode == "require":
                    n.require()
            if not handles and expr["_children"]:
                # backstop (r8 fuzz find): a path head whose base hides an
                # UNKNOWN extraction node (a Spark version adds a new
                # ElementAt-like head) resolves to nothing — recursing
                # generically in 'require' mode keeps any attribute buried
                # below fully, instead of silently dropping the dependency
                # from the read schema. Over-keeping is the best-effort
                # contract; under-keeping is silent data loss.
                for c in expr["_children"]:
                    self._walk_expr(c, "require")
            return handles
        if cname == "Alias":
            child_handles = self._walk_expr(expr["_children"][0], mode)
            eid = expr_id(expr)
            if eid is not None and child_handles:
                # shared-state alias clone (SchemaElementImpl.java:37-43):
                # the alias points at the SAME trie nodes
                self._state.exprid_map.setdefault(eid, []).extend(child_handles)
            return child_handles
        # generic expressions (functions, predicates, window/agg wrappers,
        # UDFs — test :546-557): recurse into children. Return the LAST
        # child's handles so an enclosing Alias binds to the last-touched
        # trie node — the reference's alias-clone semantics, which also
        # strip aggregate-call wrappers like first(arr)
        # (SchemaOnReadState.java:195-200; SQLExpressionParser.java:12-44;
        # test :320-337 explode over aggregated CTE output).
        #
        # WindowExpression is the one wrapper where "last child" is wrong:
        # its children are [windowFunction, windowSpec...], so the last
        # touched node would be the ORDER BY spec, and an enclosing Alias
        # would bind `f(x) OVER w AS a` to the spec column instead of x.
        # This is the same problem the reference patches with its
        # "complete hack" re-visit (TreeNodeProcessingRegistry.java:62-68);
        # here the fix is just returning the function child's handles.
        #
        # Subquery expressions (ListQuery/ScalarSubquery/Exists/...) carry a
        # whole LOGICAL PLAN as a *field* (num-children excludes it), so the
        # plan walker never sees it — before r10 the inner plan's column
        # uses were silently absent from the pruned schema (confirmed by
        # execution: `WHERE s1 IN (SELECT s2 FROM t)` dropped s2 entirely).
        # _walk_subquery visits the nested plan, then binds to its outputs
        # at `mode` — an InSubquery's ListQuery arrives already in require
        # mode via _VALUE_COMPARISON_EXPRS, so IN-compared outputs stay full.
        if "plan" in expr or cname in _SUBQUERY_PLAN_EXPRS:
            handles = self._walk_subquery(expr, mode)
            if handles is not None:
                return handles
        # a DISTINCT aggregate observes whole-value equality of its inputs
        # (count(DISTINCT s) over structs pruned to a field subset counts
        # the wrong groups) — the flag lives on the AggregateExpression
        # wrapper, not the function class (r11)
        distinct_agg = cname == "AggregateExpression" and expr.get("isDistinct") is True
        child_mode = "require" if (cname in _VALUE_COMPARISON_EXPRS or distinct_agg) else mode
        lambdas = [c for c in expr["_children"] if cls_name(c) == "LambdaFunction"]
        if lambdas:
            return self._walk_hof(expr, lambdas, child_mode)
        if cname in _BRANCH_VALUE_EXPRS:
            return self._walk_branch_value(expr, child_mode)
        if cname == "CreateNamedStruct":
            # children alternate Literal(name) / value
            ch = expr["_children"]
            pairs = [(ch[i].get("value"), ch[i + 1]) for i in range(0, len(ch) - 1, 2)]
            return self._walk_struct_synth(pairs, child_mode)
        if cname == "ArraysZip":
            # zip names ride in the parallel `names` Literal field; a names
            # list shorter than the children leaves the rest unnamed
            names = [t.get("value") for t in expr_trees(expr.get("names"))]
            pairs = [(names[i] if i < len(names) else None, c) for i, c in enumerate(expr["_children"])]
            return self._walk_struct_synth(pairs, child_mode)
        if cname == "With":
            # Spark 4 common-expression binding (nullif/ifnull/... lower to
            # With(child, defs) with CommonExpressionRef leaves): the refs'
            # CommonExpressionId serializes as null in the plan JSON, so
            # defs cannot be name-bound the way lambda vars are. Require
            # every def's sources fully instead — refs then resolve to
            # nothing WITHOUT under-keeping (before r11: nullif(s1, s2) in
            # a bare filter skeletonized s1 while EqualTo's other operand
            # kept s2 full — BINARY_OP_DIFF_TYPES on the re-read).
            out = self._walk_expr(expr["_children"][0], child_mode)
            for d in expr["_children"][1:]:
                self._walk_expr(d, "require")
            return out
        if cname == "UpdateFields":
            # withField/dropFields: the result is the BASE struct with field
            # ops applied — it carries every base field (minus drops), so an
            # enclosing Alias must reach the base AND the replacement
            # values. The generic last-child walk bound `s1.withField('b',
            # id) AS s; SELECT s` to id only, silently dropping s1.a from
            # the result (r11 probe, proven by execution). Union over-keeps
            # a replaced field's original data — never loses.
            handles: list[Handle] = []
            for c in expr["_children"]:
                handles.extend(self._walk_expr(c, child_mode))
            return handles
        last: list[Handle] = []
        first_child_handles: list[Handle] | None = None
        for c in expr["_children"]:
            got = self._walk_expr(c, child_mode)
            if first_child_handles is None:
                first_child_handles = got
            if got:
                last = got
        if cname == "WindowExpression":
            return first_child_handles or []
        return last

    def _walk_branch_value(self, expr: Node, mode: str) -> list[Handle]:
        """If / CaseWhen / Coalesce (see _BRANCH_VALUE_EXPRS): the result is
        one of the value operands, so downstream narrowing and requires
        apply to ALL value branches, and the branches' pruned shapes must
        stay type-compatible on the re-read.

        Value-child positions: If -> children[1:]; CaseWhen -> children are
        [cond1, val1, cond2, val2, ...] with an optional trailing else
        (odd indices, plus the last when the count is odd); Coalesce -> all.

        CreateArray's elements are the same kind of single value stream
        (`array(a, b)[0].f` narrowed only the last element before r11 —
        DATA_DIFF_TYPES on the re-read), and CreateMap carries TWO streams
        (keys, values). Constructed-map KEY children are walked in require
        mode unconditionally: a key lookup on the rebuilt map compares the
        whole key values, so key-feeding columns can never narrow.

        Precision rule (per stream): when EVERY value child is a pure path
        expression, bind the union of their handles and register them as
        one merge bucket (the set-op machinery) so branch-local narrowing
        reconciles. If ANY value child is derived or literal, its shape is
        FIXED (named_struct('a', x, 'b', 99) always carries both fields),
        so no sibling may narrow against it — every value child of that
        stream is required fully instead (a no-op for primitives, exactly
        the needed over-keep for complex branches)."""
        ch = expr["_children"]
        n = len(ch)
        cname = cls_name(expr)
        require_idx: set[int] = set()  # walked at require regardless (map keys)
        if cname == "If":
            groups = [list(range(1, n))]
        elif cname == "CaseWhen":
            vals = [i for i in range(n) if i % 2 == 1]
            if n % 2 == 1:
                vals.append(n - 1)
            groups = [vals]
        elif cname == "CreateMap":
            require_idx = {i for i in range(n) if i % 2 == 0}
            groups = [[i for i in range(n) if i % 2 == 1]]
        elif cname == "MapFromArrays":
            require_idx = {0}
            groups = [[1]] if n > 1 else []
        elif cname == "MapConcat":
            # entries merge: values are one stream; every operand's KEYS
            # feed rebuilt lookups — but map keys are never pruned by the
            # trie, so one all-children stream suffices
            groups = [list(range(n))]
        else:  # Coalesce / CreateArray / Concat
            groups = [list(range(n))]
        grouped = {i for g in groups for i in g}
        out: list[Handle] = []
        for i in sorted(require_idx):
            out.extend(self._walk_expr(ch[i], "require"))
        for i, c in enumerate(ch):
            if i in grouped or i in require_idx:
                continue
            self._walk_expr(c, mode)  # conditions
        for g in groups:
            all_paths = all(cls_name(ch[i]) in _PATH_EXPRS for i in g)
            bucket: list[Handle] = []
            per_child: list[list[Handle]] = []
            for i in g:
                got = self._walk_expr(ch[i], "require" if not all_paths else mode)
                per_child.append(got)
                out.extend(got)
                bucket.extend(got)
            # a path-CLASSED child can still resolve to NOTHING (its base
            # hides a derived head — get(concat(a, a), 0) — and the
            # _walk_expr backstop full-requires it instead): that branch's
            # shape is then FULL, so siblings must not narrow against it.
            # Found by the r11 expression-grammar fuzz: coalesce(
            # get(concat(a, a), 0), s).col1 narrowed s to struct<col1>
            # against the full first branch — DATA_DIFF_TYPES on re-read.
            if all_paths and any(not got for got in per_child):
                for i in g:
                    self._walk_expr(ch[i], "require")
                continue
            if all_paths and len(bucket) > 1:
                self._state.setop_groups.append(bucket)
        return out

    def _walk_struct_synth(self, pairs: list[tuple[Any, Node]], mode: str) -> list[Handle]:
        """A CONSTRUCTED struct over (field name, value expression) pairs:
        CreateNamedStruct — struct()/named_struct — and ArraysZip, whose
        result is array<struct<name_i: element_i>> over the argument
        arrays' element streams (array transparency makes each array's
        node the element handle). r11 probe finds, the alias-binding
        class: the generic last-child walk bound `struct(s1, n) AS s2` to
        n only — `SELECT s2` silently returned Row() for s1, and
        `SELECT s2.inner.col1` / `arrays_zip(ca, sa)[0].a.f` crashed
        FIELD_NOT_FOUND (descend by the CONSTRUCTED name touched a bogus
        child of the last value's node).

        Fix: build a StructSynthNode mapping each constructed field name to
        its value's real trie node(s) and return a handle to it — descents
        route by name to the right source paths and stay precise
        (`SELECT s2.inner.col1` narrows s1 to struct<col1>); requiring the
        constructed value fans to every mapped value's full subtree.
        Literal values map nothing (they need no source data); multi-handle
        values fan through a FanNode."""
        synth = StructSynthNode()
        for nm, value in pairs:
            got = self._walk_expr(value, mode)
            if not got:
                continue
            if not isinstance(nm, str):
                # unmappable field name (non-string literal, or a zip child
                # past the names list) but the value resolved to real source
                # paths: the synth can't route to it, so a later whole-value
                # require would fan over mapped children only and silently
                # under-keep this source — keep it fully instead, matching
                # the over-keep contract everywhere else (ADVICE r11)
                self._walk_expr(value, "require")
                continue
            nodes = [h.materialize() for h in got]
            synth.children[nm.lower()] = nodes[0] if len(nodes) == 1 else FanNode(members=nodes)
        if mode == "require":
            synth.require()
        return [Handle(synth)]

    def _walk_hof(self, expr: Node, lambdas: list[Node], mode: str) -> list[Handle]:
        """Higher-order function — any expression with LambdaFunction children
        (ArrayExists/ArrayFilter/ArrayTransform/ArrayForAll/ArrayAggregate/
        ZipWith/MapFilter/TransformKeys/TransformValues/MapZipWith/...).

        r11 probe find (confirmed by execution, the r10-subquery class of
        bug): the lambda body's field accesses go through NamedLambdaVariable
        leaves whose exprIds belong to NO relation, so the generic walk saw
        `exists(arr, x -> x.col1 > 0)` in a Filter as a bare touch of `arr`
        with no child paths — the trie collapsed arr to array<struct<>> and
        the pruned re-read lost col1 (FIELD_NOT_FOUND on parquet; silently
        wrong rows on lenient sources). The passing shapes before this fix
        survived only by accident: a value-comparison wrapper (size(..)>0)
        forced require mode on the whole subtree.

        Fix: bind each lambda variable's exprId to the COLLECTION arguments'
        trie handles before walking the body. Array and map layers are
        transparent in the trie (children of array<struct> are the element's
        fields; children of a map are the value's fields), so the collection
        node itself IS the element handle — `x.col1` then records
        arr.element.col1 precisely, narrowing the read schema instead of
        keeping the whole element struct. Vars are over-bound to ALL path
        arguments (zip_with's y also binds to left): field descents that
        don't exist in a source are dropped at schema intersection, name
        collisions over-keep — never under-keep. A DERIVED collection
        argument (concat(a1,a2), array(s), ...) is required fully instead:
        the generic walk returns only its LAST child's handles, so binding
        could miss sibling sources (a1's fields would never be recorded).

        Returns the last lambda body's handles (falling back to the bound
        collection handles) so an enclosing Alias binds `transform(arr,
        x -> x.col1) AS t` to arr.element.col1 — a later whole-`t` require
        keeps exactly col1, the true data dependency.
        """
        st = self._state
        bind: list[Handle] = []
        for c in expr["_children"]:
            if cls_name(c) == "LambdaFunction":
                continue
            got = self._walk_expr(c, mode)
            if cls_name(c) in _PATH_EXPRS:
                bind.extend(got)
            elif got:
                self._walk_expr(c, "require")
        last: list[Handle] = []
        for lam in lambdas:
            # scope the lambda-var bindings to THIS body walk (ADVICE r11):
            # a global setdefault+extend relied on NamedLambdaVariable
            # exprIds being plan-unique and grew duplicate handle lists on
            # every re-walk of a shared subtree (CTE defs visited per
            # CTERelationRef). Handles point at trie nodes directly, so
            # restoring the map after the walk loses nothing.
            saved: dict[tuple, list[Handle] | None] = {}
            for var in lam["_children"][1:]:
                veid = expr_id(var)
                if veid is not None and bind:
                    if veid not in saved:
                        saved[veid] = st.exprid_map.get(veid)
                    st.exprid_map[veid] = list(saved[veid] or []) + bind
            try:
                got = self._walk_expr(lam["_children"][0], mode)
            finally:
                for veid, prev in saved.items():
                    if prev is None:
                        st.exprid_map.pop(veid, None)
                    else:
                        st.exprid_map[veid] = prev
            if got:
                last = got
        if cls_name(expr) in _HOF_RESULT_IS_BODY:
            return last or bind
        # element-preserving (or unknown) HOF: the result carries the
        # original elements — downstream requires must reach them
        # (duplicate handles are harmless: materialize/require idempotent)
        return bind + last

    def _walk_subquery(self, expr: Node, mode: str, found: bool = True) -> list[Handle] | None:
        """A subquery expression: visit each nested plan (_visit_subquery),
        then walk the expression's children (outer refs, join conditions).
        Returns the plans' output handles, or None when ``expr`` carries no
        plan and is no known subquery class — a plain expression."""
        subplans = expr_trees(expr.get("plan"))
        if not subplans:
            if (cname := cls_name(expr)) in _SUBQUERY_PLAN_EXPRS:
                raise ValueError(f"subquery expression {cname} carries no parseable plan")
            return None
        handles: list[Handle] = []
        for sp in subplans:
            handles.extend(self._visit_subquery(sp, mode, found))
        for c in expr["_children"]:
            self._walk_expr(c, mode)
        return handles

    def _visit_subquery(self, sp: Node, mode: str, found: bool = True) -> list[Handle]:
        """Visit a subquery expression's nested logical plan (review r10).

        The plan is logically inlined at its consumption site: by default no
        node inside is upper-most (found=True — its outputs are consumed by
        the enclosing comparison/scalar slot, never final user output), and
        its outputs bind at the caller's mode. The one exception is a
        LATERAL subquery under a LateralJoin with no defining Project above
        it: there the outputs are final user output and the caller passes
        its own found state through (ADVICE r10). current_relation is saved/
        restored so a SubqueryAlias ABOVE the enclosing filter doesn't bind
        to the subquery's relation."""
        st = self._state
        saved = st.current_relation
        try:
            self._mark_upper_most(sp, found=found)
            self._visit(sp)
        finally:
            st.current_relation = saved
        handles: list[Handle] = []
        for eid in _node_output(sp):
            handles.extend(st.exprid_map.get(eid, []))
        for h in handles:
            n = h.materialize()
            if mode == "require":
                n.require()
        return handles

    def _resolve_path(self, expr: Node) -> list[Handle]:
        cname = cls_name(expr)
        if cname in ("AttributeReference", "NamedLambdaVariable"):
            # NamedLambdaVariable resolves through the binding _walk_hof
            # registered (HOF lambda var -> its collection argument's trie
            # handles); unbound vars (derived collections, index vars)
            # resolve to nothing — _walk_hof already required the derived
            # sources fully, so nothing is lost (r11 probe find)
            eid = expr_id(expr)
            return list(self._state.exprid_map.get(eid, [])) if eid else []
        if cname == "OuterReference":
            # transparent wrapper around an outer-plan attribute; a LEAF
            # expression — the attribute is the `e` FIELD, not a child (r10)
            inner = expr_trees(expr.get("e"))
            return self._resolve_path(inner[0]) if inner else []
        if cname == "GetStructField":
            base = self._resolve_path(expr["_children"][0])
            name = expr.get("name")
            return [h.descend(name) for h in base] if name else base
        if cname == "GetArrayStructFields":
            base = self._resolve_path(expr["_children"][0])
            fld = expr.get("field")
            name = fld.get("name") if isinstance(fld, dict) else None
            return [h.descend(name) for h in base] if name else base
        if cname in ("GetMapValue", "GetArrayItem", "ElementAt", "Get"):
            # collection index/key access never narrows (SQLExpressionParser
            # strips [0] / ['key'] — :12-44); keys/ordinals may still
            # reference columns. Keys walk in REQUIRE mode (r11): a map
            # lookup compares the WHOLE key value, so m[k] with a struct
            # key column k pruned to a subset fails the re-read with
            # MAP_FUNCTION_DIFF_TYPES (proven by execution) — and a
            # same-shape narrowing would change which entries match.
            # Requiring an int ordinal is a no-op, as everywhere.
            for extra in expr["_children"][1:]:
                self._walk_expr(extra, "require")
            return self._resolve_path(expr["_children"][0])
        if cname in _BRANCH_VALUE_EXPRS or cname in ("CreateNamedStruct", "ArraysZip", "UpdateFields"):
            # a path may run THROUGH a value-routing head inline —
            # coalesce(s1, s2).a, named_struct('x', s).x.f — and the
            # dedicated walkers already return the right handles (branch
            # unions with shape buckets; synth nodes route constructed
            # names), so descents stay precise instead of falling to the
            # full-require backstop (r11 precision follow-up; conditions
            # and key children are walked inside)
            return self._walk_expr(expr, "touch")
        return []


def _node_output(node: Node) -> list[tuple[str, int]]:
    """Output attr exprIds of a plan node (enough shapes for CTE-def linking)."""
    cname = cls_name(node)
    if cname in ("LogicalRelation", "CTERelationRef", "LocalRelation"):
        return [e for e in (expr_id(o) for o in expr_trees(node.get("output"))) if e]
    if cname == "Project":
        return [e for e in (expr_id(p) for p in expr_trees(node.get("projectList"))) if e]
    if cname == "Aggregate":
        return [e for e in (expr_id(p) for p in expr_trees(node.get("aggregateExpressions"))) if e]
    if cname == "Window":
        return _node_output(node["_children"][0]) + [
            e for e in (expr_id(p) for p in expr_trees(node.get("windowExpressions"))) if e
        ]
    if cname == "Generate":
        return _node_output(node["_children"][0]) + [
            e for e in (expr_id(p) for p in expr_trees(node.get("generatorOutput"))) if e
        ]
    if cname == "Join":
        return [e for c in node["_children"] for e in _node_output(c)]
    if cname == "Union":
        return _node_output(node["_children"][0]) if node["_children"] else []
    if node["_children"]:
        return _node_output(node["_children"][0])  # passthrough (Filter/Sort/SubqueryAlias/View/Limit/...)
    return []


def _memo_hit(df: DataFrame, key: str) -> SchemaOnRead | None:
    """The memoized analysis of reply ``key``, indexed for ``df``; None on a
    miss."""
    with _MEMO_LOCK:
        hit = _GENERATE_CACHE.get(key)
        if hit is not None:
            _BY_FRAME[df] = key
        return hit


def _memoize(df: DataFrame, key: str, sor: SchemaOnRead) -> SchemaOnRead:
    """The memo's analysis of reply ``key``, indexed for ``df``: the one
    already kept, else ``sor``, inserted after evicting the oldest entry
    beyond _MEMO_SIZE."""
    with _MEMO_LOCK:
        kept = _GENERATE_CACHE.get(key)
        if kept is None:
            if len(_GENERATE_CACHE) >= _MEMO_SIZE:
                del _GENERATE_CACHE[next(iter(_GENERATE_CACHE))]
            kept = _GENERATE_CACHE[key] = sor
        _BY_FRAME[df] = key
        return kept


def _collect_jvm_relations(payload: dict[str, Any]) -> dict[Any, dict[str, Any] | None]:
    """The main plan's file relations from an export reply."""
    return _keyed_relations(payload["relations"])


def _collect_jvm_subquery_relations(payload: dict[str, Any]) -> dict[Any, dict[str, Any] | None]:
    """The file relations inside subquery-EXPRESSION plans (review r10),
    which the main plan's collectLeaves() never reaches: the nested plan is
    an expression field, not a plan child."""
    return _keyed_relations(payload["subquery_relations"])


def _keyed_relations(entries: list[dict[str, Any]]) -> dict[Any, dict[str, Any] | None]:
    """Export-reply relation entries as {key: info}. The key is the
    frozenset of the leaf's output exprIds as expr_id reads them: unique per relation
    instance, and the plan JSON carries the same ids, so _on_LogicalRelation
    finds any leaf's entry by it. A zero-column relation's key is empty and
    pairs with no leaf; it is kept under its entry's id() so that two of
    them never share a slot. The plan JSON drops the relation object, so
    this is where each leaf's paths and full schema come from; None for a
    non-file relation. Identity = sorted qualified input files
    (SchemaOnReadState.java:80-95,122-126)."""
    return {frozenset(map(exprid_key, e["key"])) or id(e): _relation_info(e["rel"]) for e in entries}


def _relation_info(rel: dict[str, Any] | None) -> dict[str, Any] | None:
    if rel is None:
        return None
    return {
        "ref": tuple(sorted(rel["files"])),
        "root_paths": tuple(rel["roots"]),
        "schema": T.StructType.fromJson(rel["schema"]),
    }

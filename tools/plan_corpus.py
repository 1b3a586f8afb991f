#!/usr/bin/env python
"""The analyzer's 417-plan corpus, and two checks over it.

The plans are the ones perfbench's ``analyze_mix`` draws from, built by its
own code: the 39 registry queries that bench.py compares against DuckDB,
plus each of the 14 shape-family sub-shapes over the Parquet, JSON and Avro
copies of its wide-nested fixture, at leaf depth 1-3 and projection chain
0/2/4 (39 + 14 x 3 x 3 x 3 = 417). Names are ``suite/<query>`` and
``<family>/v<variant>/<format>/d<depth>/c<chain>``.

  --check-json  the plan JSON in the exporter's reply
                (score.sor.PlanExport.export) is the walker view of
                plan.toJSON(), node for node, as view() below projects it
                (independently of the exporter's Java code), and no subtree
                or value of it fell back to Catalyst's serializer; prints the total reply bytes next to the total
                toJSON() bytes; exit status 1 on any plan that fails
  --digest      one line per plan: the name and a SHA-256 of its for_paths
                output from a cold SchemaOnRead.generate (every source's
                schema, plus the error if the analysis failed), to diff two
                checkouts

Usage:
  python tools/plan_corpus.py --check-json [--sf DIR] [--match REGEX]
  python tools/plan_corpus.py --digest [--sf DIR] [--match REGEX] > digests.txt

``--sf`` defaults to $SPARK_GRAFT_SF_DIR; ``--match`` keeps the plans whose
name matches (re.search). Called in-process on a running session, ``main``
uses that session and never stops it.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import re
import sys
import tempfile
import types
from collections.abc import Iterator

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

CORPUS_SIZE = 417
FIXTURE_SEED = 0

# the view rule (score.sor.PlanJson's javadoc): these fields are left out at
# every depth, an ExprId is {id[, jvmId]} with this JVM's id left out, and an
# Expression node's class is its name after the last dot
VIEW_DROPPED = frozenset({"dataType", "nullable", "metadata", "qualifier", "nonInheritableMetadataKeys"})
_EXPR_ID = "org.apache.spark.sql.catalyst.expressions.ExprId"


def _perfbench():
    """perfbench's analyze_mix module (it imports its siblings by bare name)."""
    bench_dir = os.path.join(ROOT, "perfbench")
    if bench_dir not in sys.path:
        sys.path.insert(0, bench_dir)
    import analyze_mix

    return analyze_mix


def _suite() -> dict:
    """The 39 DuckDB-compared registry queries, construct-only builders."""
    import score_spark.queries as registry
    from suite_heavy import QUERIES as HEAVY

    raw = {}
    for mod in vars(registry).values():
        if isinstance(mod, types.ModuleType) and isinstance(getattr(mod, "QUERIES", None), dict):
            raw.update(mod.QUERIES)
    return {n: raw[n] for n in sorted(registry.QUERIES) if n not in HEAVY}


def _family_names(am) -> list[tuple[str, tuple]]:
    return [
        (f"{fam}/v{v}/{fmt}/d{depth}/c{chain}", (fam, fmt, depth, chain, v))
        for fam, n in am.VARIANTS.items()
        for v in range(n)
        for fmt in am.FORMATS
        for depth in (1, 2, 3)
        for chain in (0, 2, 4)
    ]


def plans(spark, sf: str, fixture_dir: str, match: str | None = None) -> Iterator[tuple[str, object, list]]:
    """(name, analyzed DataFrame, sources as for_paths argument lists) per
    corpus plan, in name order within the suite, then the families."""
    am = _perfbench()
    keep = re.compile(match).search if match else (lambda name: True)
    suite = _suite()
    if len(suite) != 39:
        raise RuntimeError(f"expected 39 DuckDB-compared queries, found {len(suite)}")
    for name in sorted(suite):
        if keep(f"suite/{name}"):
            df = suite[name](spark, sf)
            df.schema
            yield f"suite/{name}", df, [[f] for f in sorted(set(df.inputFiles()))]
    families = [(n, spec) for n, spec in _family_names(am) if keep(n)]
    if not families:
        return
    # the set-up half of AnalyzeMix.setup(): fixtures, no check job
    mix = am.AnalyzeMix(spark, FIXTURE_SEED, None, fixture_dir)
    mix.paths = {}
    for table, fmt in (("t0", "parquet"), ("t0", "json"), ("t1", "parquet"), ("t2", "parquet")):
        path = mix.paths[(table, fmt)] = os.path.join(mix.fixture_dir, f"{table}.{fmt}")
        am._write_fixture(am._fixture_rows(FIXTURE_SEED, table), path, fmt)
    mix.schema = spark.read.parquet(mix.paths[("t0", "parquet")]).schema
    path = mix.paths[("t0", "avro")] = os.path.join(mix.fixture_dir, "t0.avro")
    spark.read.parquet(mix.paths[("t0", "parquet")]).write.format(am.FORMATS["avro"]).save(path)
    for name, spec in families:
        plan = mix._build_family(*spec)
        yield name, plan["df"], plan["sources"]


class _ViewRule:
    """view(): the walker view of a parsed ``toJSON()``, by the rule above.
    Whether a class is an Expression is asked of the JVM, once per name."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._jvm = jvm
        self._expression = jvm.java.lang.Class.forName("org.apache.spark.sql.catalyst.expressions.Expression")
        self._loader = jvm.org.apache.spark.util.Utils.getContextOrSparkClassLoader()
        # this JVM's id, as any attribute it creates carries it
        self.jvm_id = spark.range(1)._jdf.queryExecution().analyzed().output().head().exprId().jvmId().toString()
        self._names: dict[str, str] = {}

    def _class(self, name: str) -> str:
        if name not in self._names:
            try:
                is_expr = self._expression.isAssignableFrom(self._jvm.java.lang.Class.forName(name, False, self._loader))
            except Exception:  # not loadable here: keep the full name, as the exporter does
                is_expr = False
            self._names[name] = name.rsplit(".", 1)[-1] if is_expr else name
        return self._names[name]

    def view(self, v):
        if isinstance(v, list):
            return [self.view(x) for x in v]
        if not isinstance(v, dict):
            return v
        if v.get("product-class") == _EXPR_ID:
            out = {"id": v["id"]}
            if v.get("jvmId", self.jvm_id) != self.jvm_id:
                out["jvmId"] = v["jvmId"]
            return out
        out = {k: self.view(x) for k, x in v.items() if k not in VIEW_DROPPED}
        if isinstance(out.get("class"), str):
            out["class"] = self._class(out["class"])
        return out


_RULES: dict[int, _ViewRule] = {}


def view_rule(spark) -> _ViewRule:
    """The view rule for ``spark``'s JVM (built once per session)."""
    key = id(spark._jvm)
    if key not in _RULES:
        _RULES[key] = _ViewRule(spark)
    return _RULES[key]


def check_json(df) -> dict:
    """The exporter's reply for ``df`` against ``toJSON()`` of its analyzed
    plan, both taken on the analyzer's export worker: ``same`` (the reply's
    plan is the view of ``toJSON()``, node for node), the ``fallbacks`` the
    reply reports, ``where`` the first difference ("" when same), and the
    UTF-8 sizes ``reply_bytes`` and ``tojson_bytes``."""
    from score_spark.schema_on_read import generator as G

    jdf = df._jdf
    reply, full = G._plan_json_pool().submit(
        lambda: (G._export_plan(jdf), jdf.queryExecution().analyzed().toJSON())
    ).result()
    payload = json.loads(reply)
    rule = view_rule(df.sparkSession)
    got, want = payload["plan"], rule.view(json.loads(full))
    out = {
        "same": got == want,
        "fallbacks": payload["fallbacks"],
        "where": "",
        "reply_bytes": len(reply.encode()),
        "tojson_bytes": len(full.encode()),
    }
    if got != want:
        at = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b), min(len(got), len(want)))
        g, w = (json.dumps(nodes[at])[:300] if at < len(nodes) else None for nodes in (got, want))
        out["where"] = f"first difference at node {at} of {len(want)}: got {g} want {w}"
    return out


def digest(df, sources: list) -> str:
    """SHA-256 of a cold analysis's for_paths output for every source."""
    from score_spark.schema_on_read import SchemaOnRead
    from score_spark.schema_on_read import generator as G

    G._GENERATE_CACHE.clear()
    sor = SchemaOnRead.generate(df)
    parts = []
    for paths in sources:
        try:
            parts.append(sor.for_paths(*paths).json())
        except KeyError as e:
            parts.append(f"KeyError: {e}")
    parts.append(f"error={sor.error}")
    return hashlib.sha256("\n".join(parts).encode()).hexdigest()


def main(argv: list[str] | None = None) -> dict:
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from score_spark.session import get_session

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    mode = ap.add_mutually_exclusive_group(required=True)
    mode.add_argument("--check-json", action="store_true", help="exporter plan JSON == view of toJSON(), 0 fallbacks")
    mode.add_argument("--digest", action="store_true", help="print a for_paths SHA-256 per plan")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"), help="testdata directory")
    ap.add_argument("--match", help="only plans whose name matches this regex")
    args = ap.parse_args(argv)
    if args.sf is None:
        ap.error("pass --sf or set SPARK_GRAFT_SF_DIR")

    created = SparkContext._active_spark_context is None
    spark = get_session(app_name="plan-corpus") if created else SparkSession.active()
    report: dict = {"sf_dir": args.sf, "match": args.match, "plans": 0}
    try:
        with tempfile.TemporaryDirectory(prefix="plan-corpus-") as tmp:
            if args.check_json:
                report.update(failed={}, fallbacks=0, reply_bytes=0, tojson_bytes=0)
                for name, df, _ in plans(spark, args.sf, tmp, args.match):
                    checked = check_json(df)
                    report["plans"] += 1
                    for k in ("fallbacks", "reply_bytes", "tojson_bytes"):
                        report[k] += checked[k]
                    if not checked["same"] or checked["fallbacks"]:
                        report["failed"][name] = checked["where"] or f"{checked['fallbacks']} fallbacks"
            else:
                report["digests"] = {}
                for name, df, sources in plans(spark, args.sf, tmp, args.match):
                    report["plans"] += 1
                    report["digests"][name] = digest(df, sources)
    finally:
        if created:
            spark.stop()
    if args.match is None and report["plans"] != CORPUS_SIZE:
        raise RuntimeError(f"built {report['plans']} plans, expected {CORPUS_SIZE}")
    return report


if __name__ == "__main__":
    out = main()
    if "digests" in out:
        print("\n".join(f"{name} {sha}" for name, sha in out["digests"].items()))
    else:
        print(json.dumps(out, indent=2))
        sys.exit(1 if out["failed"] else 0)

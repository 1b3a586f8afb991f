"""Schema-on-read: derive the minimal nested read-schema per file source from
an analyzed Spark SQL plan — the PySpark-native rebuild of taboola/ScORe.

Usage (mirrors the reference's README flow,
/root/reference/README.md:23-28):

    from score_spark.schema_on_read import SchemaOnRead

    df = spark.read.json(path).select("struct.col1")
    sor = SchemaOnRead.generate(df)
    pruned = sor.for_paths(path)          # minimal StructType
    fast = spark.read.schema(pruned).json(path).select("struct.col1")

Best-effort contract: `generate` never raises; on an analysis failure
`sor.error` holds the reason and `for_paths` returns the full schema of each
source the analysis had collected before it failed (reference: README.md:9,
SchemaOnReadExtractor.java:154-158). When it had collected none, as when
the plan export call itself failed, `for_paths` and `for_view` raise a
KeyError whose message carries `sor.error`; `prune` then reads every source
in full with one warning each. When a plan-node handler of the walk raised,
`sor.error_node` names that node's Catalyst class; it is None otherwise.
"""

from score_spark.schema_on_read.generator import SchemaOnRead
from score_spark.schema_on_read.rewrite import prune

__all__ = ["SchemaOnRead", "prune"]

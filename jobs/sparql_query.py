"""SPARQL-algebra query CLI over a constructed knowledge graph.

Closes the engine's loop: ``run_pipeline.py`` materializes the graph
as a pred_key-partitioned Icebergish ``triples`` table; this tool runs
a JSON-specified SPARQL SELECT over it (``operators/bgp.py`` — BGP,
property paths, OPTIONAL/UNION/EXISTS/NOT EXISTS/MINUS/VALUES,
FILTER/BIND, aggregates/HAVING, DISTINCT/ORDER/LIMIT) and prints the
bindings as NDJSON or writes them to parquet.

The table is projected to ``subj, pred, obj`` before the query sees
it, so constant-predicate patterns filter ``pred`` in the scan but do
NOT prune the pred_key partition directories: every data file of the
table is read.  Everything else is the documented join/aggregate
compilation.

Query spec (JSON)::

    {"patterns":  [["?c", "http://…#broader", "?p"], …],
     "optional":  [[[…], …]],          # list of pattern GROUPS
     "union":     [[[…], …]],          # further UNION branches
     "exists":    [[[…], …]],
     "not_exists":[[[…], …]],
     "minus":     [[[…], …]],
     "values":    [["v1", …], [[row], …]],
     "bind":      {"var": "sql expr"},
     "filter":    "sql boolean expr",
     "group_by":  ["var", …],
     "aggregates":{"out": ["count", null]},   # fn, var[, sep]
     "having":    "sql boolean expr",
     "project":   ["x", "y"],            # SELECT list (pre-DISTINCT)
     "distinct":  false, "order_by": ["-n", "var"],
     "limit": 100, "offset": 0}

Other query forms (keys override SELECT):

    {"construct": [["?p","narrower","?c"], …], "patterns": [...]}
    {"ask": true, "patterns": [...]}          # one boolean row
    {"rules": [[template, where], …], "max_rounds": 25}   # fixpoint

A pattern's predicate may be a property-path object::

    {"op": "plus", "args": ["http://…#broader"]}
    {"op": "seq",  "args": ["p1", {"op": "star", "args": ["p2"]}]}

with ops seq/alt/inv/plus/star/zero_or_one/negated.

Usage::

    python jobs/sparql_query.py --warehouse /path/kgwh --query q.json
        [--table triples] [--output out.parquet] [--max-rows 1000]
"""

from __future__ import annotations

import argparse
import json

_PATH_OPS = ("seq", "alt", "inv", "plus", "star", "zero_or_one",
             "negated")


def parse_path(obj):
    """JSON term → predicate string or Path combinator."""
    if isinstance(obj, str):
        return obj
    if isinstance(obj, dict) and obj.get("op") in _PATH_OPS:
        from mc2skos_spark.operators import bgp
        fn = getattr(bgp, obj["op"])
        return fn(*[parse_path(a) for a in obj.get("args", [])])
    raise ValueError("bad predicate term %r (string or "
                     "{op: one of %s, args: […]})" % (obj, _PATH_OPS))


def parse_patterns(raw):
    out = []
    for pat in raw:
        if len(pat) != 3:
            raise ValueError("pattern must have 3 terms: %r" % (pat,))
        out.append((pat[0], parse_path(pat[1]), pat[2]))
    return out


def _select_kwargs(spec: dict) -> dict:
    groups = {k: tuple(parse_patterns(g) for g in spec.get(k, []))
              for k in ("optional", "union", "exists", "not_exists",
                        "minus")}
    values = spec.get("values")
    if values is not None:
        values = (tuple(values[0]), [tuple(r) for r in values[1]])
    aggregates = {k: tuple(v) for k, v in
                  spec.get("aggregates", {}).items()} or None
    return dict(
        optional=groups["optional"], union=groups["union"],
        exists=groups["exists"], not_exists=groups["not_exists"],
        minus=groups["minus"], values=values,
        bind=spec.get("bind"), filter=spec.get("filter"),
        group_by=spec.get("group_by"), aggregates=aggregates,
        having=spec.get("having"),
        project=spec.get("project"),
        distinct=bool(spec.get("distinct", False)),
        order_by=spec.get("order_by"), limit=spec.get("limit"),
        offset=int(spec.get("offset", 0)),
        allow_product=bool(spec.get("allow_product", False)))


def run_query(spark, triples, spec: dict):
    """Dispatch on query form: ``rules`` → fixpoint materialization,
    ``construct`` → template graph, ``ask`` → 1-row boolean,
    otherwise SELECT bindings."""
    from mc2skos_spark.operators.bgp import (ask_query, construct_query,
                                             materialize_rules,
                                             select_query)
    if "rules" in spec:
        rules = [(r[0], parse_patterns(r[1]), *(r[2:] or []))
                 for r in spec["rules"]]
        return materialize_rules(triples, rules,
                                 max_rounds=int(spec.get("max_rounds",
                                                         25)))
    if "construct" in spec:
        return construct_query(triples, spec["construct"],
                               parse_patterns(spec["patterns"]),
                               **_select_kwargs(spec))
    if spec.get("ask"):
        ok = ask_query(triples, parse_patterns(spec["patterns"]),
                       **_select_kwargs(spec))
        from pyspark.sql import functions as F  # noqa: F401
        return spark.createDataFrame([(ok,)], "ask boolean")
    return select_query(triples, parse_patterns(spec["patterns"]),
                        **_select_kwargs(spec))


def main() -> None:
    parser = argparse.ArgumentParser(
        description="SPARQL-algebra query over a constructed KG")
    parser.add_argument("--warehouse", required=True,
                        help="Icebergish warehouse dir (run_pipeline "
                             "output) OR a plain parquet path with "
                             "--plain-parquet")
    parser.add_argument("--table", default="triples")
    parser.add_argument("--plain-parquet", action="store_true",
                        help="treat --warehouse as a parquet path of "
                             "(subj, pred, obj) rows")
    parser.add_argument("--query", required=True,
                        help="JSON query spec file (see module doc)")
    parser.add_argument("--output", default=None,
                        help="write bindings to this parquet dir "
                             "instead of printing")
    parser.add_argument("--max-rows", type=int, default=1000,
                        help="print at most this many NDJSON rows "
                             "(use --output for full results)")
    args = parser.parse_args()

    import os
    import sys
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if repo_root not in sys.path:
        sys.path.insert(0, repo_root)

    with open(args.query) as fp:
        spec = json.load(fp)

    from pyspark.sql import SparkSession

    spark = (SparkSession.builder.appName("mc2skos-sparql")
             .getOrCreate())
    from mc2skos_spark.plans.shiplib import ensure_shipped
    ensure_shipped(spark)

    if args.plain_parquet:
        triples = spark.read.parquet(args.warehouse)
    else:
        from mc2skos_spark.sinks.icebergish import IcebergishCatalog
        triples = IcebergishCatalog(args.warehouse, spark).read(
            args.table)
    triples = triples.select("subj", "pred", "obj")

    out = run_query(spark, triples, spec)
    if args.output:
        out.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"rows": spark.read.parquet(args.output)
                          .count(), "output": args.output}))
    else:
        rows = out.limit(args.max_rows).collect()
        for r in rows:
            print(json.dumps(r.asDict(), default=str))
        print(json.dumps({"rows": len(rows),
                          "truncated": len(rows) >= args.max_rows}))
    spark.stop()


if __name__ == "__main__":
    main()

"""spark-submit entry point: run a GQL pattern query OR a native KGDSL
script against a catalog.

    spark-submit --py-files linkgraph.zip jobs/gql_job.py \\
        --catalog /path/catalog.json \\
        --query "MATCH (a:Page)-[e:links]->(b:Page) RETURN a.url AS src, count(*) AS n" \\
        [--out /path/out] [--show 20] [--explain]

    # native dialect: GraphStructure{} Rule{} Action{} / Define scripts
    spark-submit ... jobs/gql_job.py --catalog cat.json \\
        --dsl-file rules.dsl [--param seed=7 --param pat=v1%] \\
        [--ddl-out /path/store] [--out /path/out]

    # concept-rule mark language (the reference's concept.rule files)
    spark-submit ... jobs/gql_job.py --catalog cat.json \\
        --rule-file concept.rule [--fixpoint] \\
        [--subject-type NS.Concept=NS.Entity] [--out /path/out]

The reference's primary lifecycle (DSL string -> parse -> plan ->
execute, OpenSPGDslParser.scala:86-116) as a deployable job: the catalog
JSON binds labels/types to parquet/Iceberg tables (see
linkgraph/catalog.py), the query compiles onto the DataFrame operator
layer, and the result writes to parquet or prints. Prints one JSON line
(rows, wall time).
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import SparkSession


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--catalog", required=True, help="catalog JSON file")
    p.add_argument("--query", default=None, help="GQL MATCH ... RETURN ...")
    p.add_argument("--dsl-file", default=None,
                   help="KGDSL script file (GraphStructure/Rule/Action, Define)")
    p.add_argument("--rule-file", default=None,
                   help="concept.rule mark-language file (namespace + "
                        "`Type`/`name`: rule: [[...]] blocks)")
    p.add_argument("--subject-type", action="append", default=[],
                   help="ConceptType=SubjectLabel mapping for headless "
                        "rules (repeatable)")
    p.add_argument("--fixpoint", action="store_true",
                   help="re-run the rule file until no frame changes "
                        "(concept.rule causation chains)")
    p.add_argument("--param", action="append", default=[],
                   help="name=value runtime binding (repeatable); values "
                        "coerce to int/float only when they round-trip "
                        "exactly ('007' and '1e3' stay strings)")
    p.add_argument("--param-str", action="append", default=[],
                   help="name=value runtime binding, always kept a string")
    p.add_argument("--root", default=None, help="explicit traversal root alias")
    p.add_argument("--out", default=None, help="parquet output path")
    p.add_argument("--ddl-out", default=None,
                   help="TableStore root for Action DDL upserts (kgdsl)")
    p.add_argument("--show", type=int, default=0, help="print first N rows")
    p.add_argument("--explain", action="store_true", help="dump the physical plan")
    args = p.parse_args()
    modes = [m for m in (args.query, args.dsl_file, args.rule_file)
             if m is not None]
    if len(modes) != 1:
        p.error("exactly one of --query / --dsl-file / --rule-file is required")
    params = {}
    for kv in args.param:
        k, _, v = kv.partition("=")
        # coerce only on an exact round-trip: a string-typed id that
        # merely looks numeric ('007', '1e3') must stay a string, or an
        # equality against a string column silently matches nothing
        try:
            if str(int(v)) == v:
                params[k] = int(v)
                continue
        except ValueError:
            pass
        try:
            if str(float(v)) == v:
                params[k] = float(v)
                continue
        except ValueError:
            pass
        params[k] = v
    for kv in args.param_str:
        k, _, v = kv.partition("=")
        params[k] = v

    spark = SparkSession.builder.appName("linkgraph-gql").getOrCreate()
    from linkgraph.catalog import GraphCatalog
    from linkgraph.gql import compile_query
    from linkgraph.tables import committed_rows

    with open(args.catalog) as f:
        cat = GraphCatalog(spark, json.load(f))
    t0 = time.monotonic()
    if args.rule_file is not None:
        from linkgraph.concept_rules import run_rule_file

        if params:
            p.error("--param/--param-str have no effect with --rule-file")
        store = None
        if args.ddl_out:
            from linkgraph.tables import TableStore

            store = TableStore(spark, args.ddl_out)
        subject_types = {}
        for kv in args.subject_type:
            k, sep, v = kv.partition("=")
            if not sep or not k or not v:
                p.error(
                    f"--subject-type needs ConceptType=SubjectLabel, got {kv!r}"
                )
            subject_types[k] = v
        with open(args.rule_file) as f:
            res = run_rule_file(
                f.read(), cat.property_graph(),
                subject_types=subject_types or None,
                store=store, fixpoint=args.fixpoint,
            )
        if args.out:
            for name, frame in res.ddl.items():
                frame.write.mode("overwrite").parquet(
                    f"{args.out}/{name.replace('.', '_')}"
                )
        print(json.dumps({
            "rows": 0,
            "ddl_tables": sorted(res.ddl),
            "wall_s": round(time.monotonic() - t0, 3),
        }))
        spark.stop()
        return
    if args.dsl_file is not None:
        from linkgraph.kgdsl import run_script

        store = None
        if args.ddl_out:
            from linkgraph.tables import TableStore

            store = TableStore(spark, args.ddl_out)
        with open(args.dsl_file) as f:
            res = run_script(f.read(), cat.property_graph(),
                             params=params or None, store=store)
        if res.table is None:
            print(json.dumps({
                "rows": 0,
                "ddl_tables": sorted(res.ddl),
                "wall_s": round(time.monotonic() - t0, 3),
            }))
            spark.stop()
            return
        df = res.table
    else:
        df = compile_query(args.query, cat.property_graph(), root=args.root,
                           params=params or None)
    if args.explain:
        df.explain("formatted")
    if args.out:
        df.write.mode("overwrite").parquet(args.out)
        n = committed_rows(args.out)
    else:
        rows = df.collect()
        n = len(rows)
        for r in rows[: args.show]:
            print(r, file=sys.stderr)
    print(json.dumps({"rows": n, "wall_s": round(time.monotonic() - t0, 3)}))
    spark.stop()


if __name__ == "__main__":
    main()

"""spark-submit entry point: any linkgraph algorithm over an edge table.

    spark-submit --py-files linkgraph.zip jobs/graph_job.py \\
        --algo cc --edges /path/edges --out /path/out

Algorithms: pagerank | cc | cc-two-phase | lpa | triangles | hits |
kcore | wpagerank | ppr | walks.
kcore reads --k (default 3); ppr reads --seeds (comma ids); walks reads
--iters as the walk length.
Prints one JSON line (rows, iterations, wall time, per-superstep times).
"""

from __future__ import annotations

import argparse
import json
import time

from pyspark.sql import SparkSession


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--algo", required=True,
                   choices=["pagerank", "cc", "cc-two-phase", "lpa",
                            "triangles", "hits", "kcore", "wpagerank",
                            "ppr", "walks"])
    p.add_argument("--edges", required=True)
    p.add_argument("--out", default=None)
    p.add_argument("--iters", type=int, default=None,
                   help="iteration cap (default: 20; kcore peel rounds: 30; "
                        "walks: walk length 10)")
    p.add_argument("--tol", type=float, default=None)
    p.add_argument("--checkpoint-dir", default=None)
    p.add_argument("--k", type=int, default=3, help="k for kcore")
    p.add_argument("--seeds", default=None, help="comma vids for ppr")
    p.add_argument("--init-scores", default=None,
                   help="parquet of a previous converged run's state "
                        "((vid, score) for pagerank/wpagerank/ppr, "
                        "(vid, component) for cc, (vid, hub, auth) for "
                        "hits): warm-starts the iteration so an "
                        "incremental crawl delta converges in a few "
                        "supersteps")
    p.add_argument("--prior-edges", default=None,
                   help="(cc only, required with --init-scores) parquet of "
                        "the edge table the init labels were computed over; "
                        "used to verify the delta is edge-additive before "
                        "warm-starting (a removed edge splits components "
                        "and invalidates the labels)")
    args = p.parse_args()
    _WARMSTART_ALGOS = {"pagerank", "wpagerank", "ppr", "cc", "hits"}
    if args.init_scores and args.algo not in _WARMSTART_ALGOS:
        raise SystemExit(
            f"--init-scores is not supported by {args.algo} "
            f"(warm-startable algos: {sorted(_WARMSTART_ALGOS)}); "
            "refusing to silently run cold"
        )
    if args.algo == "cc" and args.init_scores and not args.prior_edges:
        raise SystemExit(
            "cc --init-scores needs --prior-edges (the edge parquet the "
            "labels came from) so the warm start can verify the delta is "
            "edge-additive; without it a component split would go undetected"
        )
    if args.prior_edges and not (args.algo == "cc" and args.init_scores):
        raise SystemExit("--prior-edges only applies to cc with --init-scores")
    if args.iters is None:
        args.iters = {"kcore": 30, "walks": 10}.get(args.algo, 20)
    if args.checkpoint_dir and args.algo == "walks":
        import sys as _sys

        print("WARNING: --checkpoint-dir is not supported by walks; "
              "the run will not be resumable", file=_sys.stderr)

    spark = SparkSession.builder.appName(f"linkgraph-{args.algo}").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from linkgraph.algos import (
        connected_components,
        label_propagation,
        pagerank,
    )
    from linkgraph.algos.hits import hits
    from linkgraph.algos.kcore import k_core
    from linkgraph.algos.pagerank import personalized_pagerank, weighted_pagerank
    from linkgraph.algos.triangles import triangle_list
    from linkgraph.algos.walks import random_walks
    from linkgraph.tables import committed_rows

    edges = spark.read.parquet(args.edges)
    n_edges = edges.count()
    t0 = time.monotonic()
    info: dict = {"algo": args.algo, "n_edges": n_edges}
    if args.algo == "triangles":
        tl = triangle_list(edges)
        if args.out:
            tl.write.mode("overwrite").parquet(args.out)
            info["rows"] = committed_rows(args.out)
        else:
            info["rows"] = tl.count()
    else:
        init_scores = (
            spark.read.parquet(args.init_scores) if args.init_scores else None
        )
        prior_edges = (
            spark.read.parquet(args.prior_edges) if args.prior_edges else None
        )
        if args.algo == "pagerank":
            res = pagerank(edges, tol=args.tol,
                           checkpoint_dir=args.checkpoint_dir, max_iter=args.iters,
                           init_scores=init_scores)
        elif args.algo == "cc":
            res = connected_components(edges, checkpoint_dir=args.checkpoint_dir,
                                       max_iter=args.iters,
                                       init_labels=init_scores,
                                       prior_edges=prior_edges)
        elif args.algo == "cc-two-phase":
            res = connected_components(edges, algorithm="two-phase",
                                       checkpoint_dir=args.checkpoint_dir,
                                       max_iter=args.iters)
        elif args.algo == "hits":
            res = hits(edges, max_iter=args.iters, tol=args.tol,
                       checkpoint_dir=args.checkpoint_dir,
                       init_state=init_scores)
        elif args.algo == "kcore":
            res = k_core(edges, k=args.k, max_iter=args.iters,
                         checkpoint_dir=args.checkpoint_dir)
        elif args.algo == "wpagerank":
            if "weight" not in edges.columns:
                raise SystemExit(
                    "wpagerank needs a 'weight' column in the edge table "
                    f"(found: {edges.columns})"
                )
            res = weighted_pagerank(edges, max_iter=args.iters, tol=args.tol,
                                    init_scores=init_scores,
                                    checkpoint_dir=args.checkpoint_dir)
        elif args.algo == "ppr":
            seeds = [int(x) for x in (args.seeds or "").split(",") if x != ""]
            res = personalized_pagerank(edges, seeds, tol=args.tol,
                                        max_iter=args.iters,
                                        init_scores=init_scores,
                                        checkpoint_dir=args.checkpoint_dir)
        elif args.algo == "walks":
            from linkgraph.pregel import PregelResult

            res = PregelResult(
                state=random_walks(edges, walk_length=args.iters),
                iterations=args.iters,
                converged=True,
                metrics=[],
            )
        else:
            res = label_propagation(edges, checkpoint_dir=args.checkpoint_dir,
                                    max_iter=args.iters)
        if args.out:
            res.state.write.mode("overwrite").parquet(args.out)
            info["rows"] = committed_rows(args.out)
        else:
            info["rows"] = res.state.count()
        info["iterations"] = res.iterations
        info["converged"] = res.converged
        info["iter_times_s"] = [round(m["wall_s"], 3) for m in res.metrics]
    info["total_wall_s"] = round(time.monotonic() - t0, 3)
    print(json.dumps(info))
    spark.stop()


if __name__ == "__main__":
    main()

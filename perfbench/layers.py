"""Per-layer metrics of a traced run, folded from its spans.

Every workload reports every metric below; a layer the workload leaves
idle reads 0. perfbench/README.md maps each metric to the end-to-end
metric and workload it should move.
"""

from __future__ import annotations

import statistics

KERNELS = ("pagerank", "cc", "lpa", "triangles")
SPARK = ("jobs", "tasks", "task_s", "shuffle_read_mb", "shuffle_write_mb", "spill_mb")
STAGES = {  # manifest stage -> metric prefix
    "extract": "extract",
    "normalize": "normalize",
    "host_graph": "host_graph",
    "pagerank": "pipeline_pagerank",
    "dedup": "dedup",
    "resolve": "resolve",
}
FAMILIES = ("gql", "kgdsl", "concept", "thinker")
PAGERANK_JOBS = ("pagerank", "pipeline_pr")  # run_pregel job ids of PageRank

_UNIT = {
    "jobs": "count", "tasks": "count", "task_s": "s", "shuffle_read_mb": "MB",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "driver_idle_s": "s", "cpu_util": "ratio",
    "s": "s", "wall_s": "s",
}

PER_LAYER: dict[str, str] = {  # name -> unit
    "session.start_s": "s",
    "session.jvm_start_s": "s",
    "setup.load_s": "s",
    "driver.peak_rss_mb": "MB",
    "driver.heap_mb": "MB",
    "failed_frac": "ratio",
    "trace.cycle_s": "s",
    "trace.spans": "count",
    "pregel.superstep_s": "s",
    "pregel.first_superstep_s": "s",
    "pregel.superstep_jobs": "count",
    "pregel.checkpoint_s": "s",
    "pregel.checkpoints": "count",
    "pagerank_edges_per_s": "1/s",
    **{
        f"{k}.{m}": _UNIT[m]
        for k in KERNELS
        for m in ("s", *SPARK, "driver_idle_s", "cpu_util")
    },
    "cc.supersteps": "count",
    **{f"{p}.{m}": _UNIT[m] for p in STAGES.values() for m in ("wall_s", *SPARK)},
    "extract.pages_per_s": "1/s",
    "dedup.pairs": "count",
    "jobs.commit_s": "s",
    "pipeline_pages_per_s": "1/s",
    **{f"{f}.{m}": u for f in FAMILIES for m, u in (("build_s", "s"), ("collect_s", "s"), ("jobs", "count"))},
    "query_p50_s": "s",
    "query_samples": "count",
}


def _med(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


def per_layer(wl, record: dict, spans: list[dict]) -> dict[str, float]:
    from workloads import QUERY_FAMILY

    out = dict.fromkeys(PER_LAYER, 0.0)
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    ops = [s for s in spans if s["name"] == "op"]
    samples = record["samples"]
    setups = record["setups"]

    out["session.jvm_start_s"] = setups[0][0]
    out["session.start_s"] = _med(a for a, _ in setups[1:])
    out["setup.load_s"] = _med(b for _, b in setups[1:])
    out["driver.peak_rss_mb"] = record["driver_peak_rss_mb"]
    out["driver.heap_mb"] = record["driver_heap_mb"]
    out["failed_frac"] = len(record["failures"]) / record["attempted"]
    out["trace.cycle_s"] = record["end_to_end"]["cycle_s"]
    out["trace.spans"] = len(spans)

    # pregel: PageRank runs only, so analytics and crawl_pipeline compare
    runs = [s for s in spans if s["name"] == "pregel.run" and s["job_id"] in PAGERANK_JOBS]
    walls = [r["superstep_wall_s"] for r in runs if r.get("superstep_wall_s")]
    steps = [c for r in runs for c in kids.get(r["id"], []) if c["name"] == "pregel.superstep"]
    # a checkpoint runs while the superstep it saves is still the open span
    ckpts = [c for s in steps for c in kids.get(s["id"], []) if c["name"] == "pregel.checkpoint"]
    out["pregel.superstep_s"] = _med(w for ws in walls for w in ws[1:])
    out["pregel.first_superstep_s"] = _med(ws[0] for ws in walls)
    out["pregel.superstep_jobs"] = _med(s["self_jobs"] for s in steps if s["superstep"] > 1)
    out["pregel.checkpoint_s"] = _med(c["wall_s"] for c in ckpts)
    out["pregel.checkpoints"] = len(ckpts) / len(runs) if runs else 0.0
    edges = wl.extra().get("pagerank_edges", 0)
    if out["pregel.superstep_s"]:
        out["pagerank_edges_per_s"] = edges / out["pregel.superstep_s"]

    for k in KERNELS:
        mine = [s for s in ops if s["kind"] == k]
        if not mine:
            continue
        out[f"{k}.s"] = _med(samples.get(k, []))
        for m in (*SPARK, "driver_idle_s", "cpu_util"):
            out[f"{k}.{m}"] = _med(s[m] for s in mine)
    out["cc.supersteps"] = wl.extra().get("cc_supersteps", 0.0)

    passes = [s for s in ops if s["kind"] == "pass"]
    for stage, prefix in STAGES.items():
        mine = [s for s in spans if s["name"] == f"stage.{stage}"]
        for m in ("wall_s", *SPARK):
            out[f"{prefix}.{m}"] = _med(s[m] for s in mine)
    if passes:
        pages = record["inputs"]["pages"]
        stage_sum = [
            sum(c["wall_s"] for c in kids.get(p["id"], []) if c["name"].startswith("stage."))
            for p in passes
        ]
        out["jobs.commit_s"] = _med(p["wall_s"] - s for p, s in zip(passes, stage_sum))
        out["pipeline_pages_per_s"] = pages / _med(samples["pass"])
        if out["extract.wall_s"]:
            out["extract.pages_per_s"] = pages / out["extract.wall_s"]
        out["dedup.pairs"] = wl.extra().get("dedup_pairs", 0.0)

    queries = [s for s in ops if s["kind"][:1] in QUERY_FAMILY and s["kind"][1:2].isdigit()]
    for fam in FAMILIES:
        mine = [s for s in queries if QUERY_FAMILY[s["kind"][0]] == fam]
        if not mine:
            continue
        for phase in ("build", "collect"):
            out[f"{fam}.{phase}_s"] = _med(
                c["wall_s"] for s in mine for c in kids.get(s["id"], []) if c["name"] == phase
            )
        out[f"{fam}.jobs"] = _med(s["jobs"] for s in mine)
    if queries:
        lat = [x for q in {s["kind"] for s in queries} for x in samples.get(q, [])]
        out["query_p50_s"] = _med(lat)
        out["query_samples"] = float(len(lat))
    return out

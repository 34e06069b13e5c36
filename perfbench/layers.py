"""Reduction of one harness result to the printed report: the correctness
verdict, operation counts, and either the end-to-end metrics (untraced
run) or the per-layer metrics (traced run).
"""

import glob
import json
import os
import re

import stats

with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "spec.json")) as _fh:
    _SPEC = json.load(_fh)

QUERY_KEYS = _SPEC["workloads"]["queries"]["params"]["queries"].split(",")
# Queries whose shuffle volume and job count the traced run reports: the
# ROADMAP's slowest queries and the scan fan-out ("tpar") "wash" sites, as
# far as the workload runs them.
DETAIL_QUERIES = [k for k in ["q07", "q08", "q24", "q28", "q30", "q32", "q33",
                              "q34", "q45", "q48", "q53", "q60"] if k in QUERY_KEYS]
OPERATORS = ["Clean", "Corpus", "Dedup", "Graphs", "Multimodal", "Recrawl",
             "Similarity", "Sketches", "Spans", "TextOps"]

CRAWL_LAYER = [
    ("pipeline.round_s", "s"), ("pipeline.driver_s", "s"),
    ("pipeline.jobs", "count"), ("pipeline.stages", "count"),
    ("pipeline.rate_1core_per_s", "1/s"), ("pipeline.scaling_eff", "ratio"),
    ("fetch.stage_s", "s"), ("fetch.cpu_s", "s"), ("fetch.gc_s", "s"),
    ("fetch.task_skew", "ratio"), ("fetch.sim_us_per_url", "us"),
    ("fetch.correlate_us_per_url", "us"), ("fetch.error_ratio", "ratio"),
    ("sources.commit_s", "s"), ("sources.commit_cpu_s", "s"),
    ("sources.commit_gc_s", "s"), ("sources.shuffle_write_mb", "MB"),
    ("sources.spill_mb", "MB"), ("sources.commit_task_skew", "ratio"),
    ("sources.frontier_bytes_per_url", "B"), ("sources.docs_bytes_per_url", "B"),
    ("sources.pool_rows_per_url", "ratio"),
    ("frontier.seen_write_s", "s"), ("frontier.seen_bytes_per_url", "B"),
    ("frontier.new_url_ratio", "ratio"), ("frontier.bucket_skew", "ratio"),
    ("frontier.seed_dedup_s", "s"), ("frontier.seen_index_load_ms", "ms"),
    ("frontier.seen_probe_ns", "ns"),
    ("streaming.admit_ratio", "ratio"), ("streaming.state_write_s", "s"),
    ("jvm.gc_pause_s", "s"),
]
JVM_LAYER = [("jvm.heap_live_mb", "MB")]
QUERY_LAYER = (
    [("queries.suite_s", "s"), ("queries.geomean_s", "s")]
    + [(f"query.{k}.s", "s") for k in QUERY_KEYS]
    + [(f"query.{k}.shuffle_mb", "MB") for k in DETAIL_QUERIES]
    + [(f"query.{k}.jobs", "count") for k in DETAIL_QUERIES]
    + [(f"operators.{o}.s", "s") for o in OPERATORS]
    + [("functions.s", "s")])
TRACE_LAYER = [("trace.listener_ms", "ms")]
PER_LAYER = CRAWL_LAYER + QUERY_LAYER + JVM_LAYER + TRACE_LAYER


def _stage_span(st):
    return (st["start_ms"] / 1e3, st["end_ms"] / 1e3)


def _op_span(op):
    return (op["start_ms"] / 1e3, op["end_ms"] / 1e3)


def _sum(stages, key, scale=1.0):
    return sum(st[key] for st in stages) * scale


def _stage_wall(stages):
    """Wall time the stages were running (overlaps counted once)."""
    return stats.union_length([_stage_span(st) for st in stages])


def _stage_skew(stages):
    """Task skew (max / median task time) of the longest stage."""
    big = [st for st in stages if st["task_median_ms"] > 0]
    if not big:
        return 0.0
    st = max(big, key=lambda s: s["end_ms"] - s["start_ms"])
    return st["task_max_ms"] / st["task_median_ms"]


def crawl_layers(res, stages_by_op):
    """Per-layer metrics of the measured rounds at local[nproc]."""
    ops = res["ops"]
    rounds = stats._ok(ops, "round", "ncore")
    m = {}
    per_round = []
    for r in rounds:
        sts = stages_by_op.get(r["id"], [])
        by = {}
        for st in sts:
            by.setdefault(stats.attribute(st["callsite"], st["write_path"]), []).append(st)
        fetch, src = by.get("fetch", []), by.get("sources", [])
        popped = r["popped"]
        per_round.append({
            "pipeline.round_s": r["wall_s"],
            "pipeline.driver_s": stats.self_time(_op_span(r), [_stage_span(s) for s in sts]),
            "pipeline.jobs": len({s["job"] for s in sts}),
            "pipeline.stages": len(sts),
            "fetch.stage_s": _stage_wall(fetch),
            "fetch.cpu_s": _sum(fetch, "cpu_ns", 1e-9),
            "fetch.gc_s": _sum(fetch, "gc_ms", 1e-3),
            "fetch.task_skew": _stage_skew(fetch),
            "fetch.error_ratio": r["errors"] / popped,
            "sources.commit_s": _stage_wall(src),
            "sources.commit_cpu_s": _sum(src, "cpu_ns", 1e-9),
            "sources.commit_gc_s": _sum(src, "gc_ms", 1e-3),
            "sources.shuffle_write_mb": _sum(src, "shuffle_write_bytes", 1e-6),
            "sources.spill_mb": _sum(src, "spill_bytes", 1e-6),
            "sources.commit_task_skew": _stage_skew(src),
            "sources.frontier_bytes_per_url": r["frontier_bytes"] / popped,
            "sources.docs_bytes_per_url": r["docs_bytes"] / popped,
            "sources.pool_rows_per_url": r["pool_rows_rewritten"] / popped,
            "frontier.seen_write_s": _stage_wall(by.get("frontier.seen_write", [])),
            "frontier.seen_bytes_per_url": r["seen_bytes"] / popped,
            "frontier.new_url_ratio": r["new_urls"] / (popped * res["facts"]["links"]),
            "frontier.bucket_skew": r["bucket_skew"],
            "streaming.admit_ratio": popped / r["offered"],
            "streaming.state_write_s": _stage_wall(by.get("streaming", [])),
            "jvm.gc_pause_s": r["gc_s"],
        })
    for k in per_round[0] if per_round else []:
        m[k] = stats.median([pr[k] for pr in per_round])
    # local[1] replays the first measured rounds on identical input; it runs
    # last, in the warmest JVM, so it is set against every measured
    # local[nproc] round rather than only the (less warm) first ones
    low = stats._ok(ops, "round", "1core")
    m["pipeline.rate_1core_per_s"] = stats.median([stats._round_rate(r) for r in low])
    m["pipeline.scaling_eff"] = stats.median([stats._round_rate(r) for r in rounds]) / (
        res["cores"] * m["pipeline.rate_1core_per_s"]) if low and rounds else None
    # normalizeCandidates and newOnly build a lazy plan that runs inside the
    # pool commit's write, so every stage of a timed seed call is the fused
    # normalize -> anti-join -> pool write (median over the calls)
    m["frontier.seed_dedup_s"] = stats.median([
        _stage_wall(stages_by_op.get(o["id"], [])) for o in stats._ok(ops, "ingest")])
    m.update(res["probes"])
    return m


def operator_map(root):
    """{query key: set of operator objects and 'functions'} from the direct
    references in each `SparkEntry.queries` entry."""
    path = os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala")
    with open(path) as fh:
        src = fh.read()
    body = src[src.index("def queries"):src.index("def oracleSql")]
    objs = [os.path.basename(f)[:-6] for f in glob.glob(
        os.path.join(root, "src", "main", "scala", "graft", "operators", "*.scala"))]
    parts = re.split(r'\n\s*"(q\d+)_\w+"\s*->', body)
    out = {}
    for key, text in zip(parts[1::2], parts[2::2]):
        used = {o for o in objs if re.search(rf"\b{o}\.", text)}
        if re.search(r"\b(GraftExpressions|UrlFns)\.", text):
            used.add("functions")
        out[key] = used
    return out


def query_layers(res, stages_by_op, root):
    ops = res["ops"]
    med = stats.query_medians(ops)
    by_key = {q.split("_")[0]: v[0] for q, v in med.items()}
    m = {"queries.suite_s": sum(by_key.values()),
         "queries.geomean_s": stats.geomean(list(by_key.values()))}
    for k in QUERY_KEYS:
        m[f"query.{k}.s"] = by_key.get(k)
    timed = stats._ok(ops, "query")
    for k in DETAIL_QUERIES:
        mine = [o for o in timed if o["name"].split("_")[0] == k]
        m[f"query.{k}.shuffle_mb"] = stats.median([
            _sum(stages_by_op.get(o["id"], []), "shuffle_write_bytes", 1e-6) for o in mine])
        m[f"query.{k}.jobs"] = stats.median([
            len({s["job"] for s in stages_by_op.get(o["id"], [])}) for o in mine])
    used = operator_map(root)
    for o in OPERATORS + ["functions"]:
        name = f"operators.{o}.s" if o != "functions" else "functions.s"
        m[name] = sum(v for k, v in by_key.items() if o in used.get(k, ()))
    return m


def per_layer(res, root):
    spans = res["spans"]
    stages_by_op = {}
    for sp in spans:
        for st in sp["stages"]:
            stages_by_op.setdefault(st["op"], []).append(st)
    m = dict.fromkeys(name for name, _ in PER_LAYER)
    if res["workload"] == "queries":
        m.update({name: 0.0 for name, _ in CRAWL_LAYER})
        m.update(query_layers(res, stages_by_op, root))
    else:
        m.update({name: 0.0 for name, _ in QUERY_LAYER})
        m.update({k: v for k, v in crawl_layers(res, stages_by_op).items() if k in m})
    m["jvm.heap_live_mb"] = res["facts"].get("heap_live_mb")
    m["trace.listener_ms"] = sum(sp["listener_ms"] for sp in spans)
    return m


def report(res, oracle_checks, traced, root, n_queries):
    """The printed result: correctness, operation counts and metrics."""
    ops = res["ops"]
    failed_ids = {o["id"] for o in ops if not o.get("ok")}
    bad_legs = {c["leg"] for c in res["checks"] if not c["ok"]}
    failed_ids |= {o["id"] for o in ops if o["leg"] in bad_legs}
    bad_queries = {q for q, (ok, _) in oracle_checks.items() if not ok}
    failed_ids |= {o["id"] for o in ops if o["name"] in bad_queries}
    attempted = max(1, len(ops))
    if traced:
        metrics = per_layer(res, root)
        units = dict(PER_LAYER)
    else:
        metrics = stats.end_to_end(res, n_queries)
        units = stats.UNITS
    correct = (not res["fatal"] and not failed_ids and not bad_legs
               and not bad_queries and all(v is not None for v in metrics.values()))
    return {"correct": correct, "attempted": attempted,
            "failed": len(failed_ids) if ops else 1,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}

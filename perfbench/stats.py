"""Arithmetic of the benchmark: medians and quartiles, span algebra
(interval unions and self time), stage-to-layer attribution, and the
reduction of one harness result file to end-to-end and per-layer metrics.
"""

import math
import re
import statistics

# ------------------------------------------------------------------ numbers


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else None


def quartile_spread(xs):
    """(q3 - q1) / median, with quartiles as statistics.quantiles(n=4)."""
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / q2


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else None

# -------------------------------------------------------------------- spans


def union_length(intervals):
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(parent, children):
    """Parent span length minus the part of it that child spans cover."""
    ps, pe = parent
    clipped = [(max(s, ps), min(e, pe)) for s, e in children]
    return (pe - ps) - union_length(clipped)

# -------------------------------------------------------------- attribution

_FRAME = re.compile(r"^(?P<cls>[\w.$]+)\.(?P<method>[^.(]+)\((?P<file>[^:)]*)(?::(?P<line>\d+))?\)$")


def parse_frame(frame):
    """'graft.x.Obj$.$anonfun$m$3(Obj.scala:12)' -> ('graft.x.Obj', 'm', 12)."""
    m = _FRAME.match(frame.strip())
    if not m:
        return None
    cls = m.group("cls").rstrip("$")
    method = m.group("method")
    if method.startswith("$anonfun$"):
        method = method[len("$anonfun$"):]
    method = method.split("$")[0] or method
    line = int(m.group("line")) if m.group("line") else None
    return cls, method, line


# Program write targets that tell apart the jobs one method launches.
WRITE_TARGETS = [("/docs/round=", "fetch"), ("/seen/", "frontier.seen_write"),
                 ("/politeness/", "streaming"), ("/frontier/", "sources")]
# (class suffix, method or None, layer); the first match wins.
FRAME_RULES = [
    ("sources.IcebergishTable", "commit", "sources"),
    ("sources.IcebergishTable", "appendDelta", "sources"),
    ("frontier.Frontier", "newOnly", "frontier.seed_dedup"),
    ("frontier.Frontier", "normalizeCandidates", "frontier.seed_dedup"),
]
PACKAGE_LAYERS = ["pipeline", "frontier", "sources", "fetch", "streaming",
                  "functions", "warehouse"]


def attribute(callsite, write_path=""):
    """Layer of one stage, from its first program frame and write target."""
    for marker, layer in WRITE_TARGETS:
        if marker in (write_path or ""):
            return layer
    parsed = parse_frame(callsite) if callsite else None
    if parsed is None:
        return "client"
    cls, method, _ = parsed
    for suffix, meth, layer in FRAME_RULES:
        if cls.endswith(suffix) and (meth is None or meth == method):
            return layer
    parts = cls.split(".")
    if len(parts) >= 3 and parts[1] == "operators":
        return "operators." + parts[2]
    if len(parts) >= 2 and parts[1] in PACKAGE_LAYERS:
        return parts[1]
    return "graft"

# ------------------------------------------------------------ end to end

E2E = ["setup_s", "rate_per_s", "cpu_ms_per_item", "core_eff", "ingest_s",
       "cold_s"]
UNITS = {"setup_s": "s", "rate_per_s": "1/s", "cpu_ms_per_item": "ms",
         "core_eff": "ratio", "ingest_s": "s", "cold_s": "s"}


def _ok(ops, kind, leg=None):
    return [o for o in ops if o["kind"] == kind and o.get("ok")
            and (leg is None or o["leg"] == leg)]


def _round_rate(r):
    return r["popped"] / r["wall_s"]


def _cpu_eff(ops, cores):
    wall = sum(o["wall_s"] for o in ops)
    return sum(o["cpu_s"] for o in ops) / (wall * cores) if ops else None


def query_medians(ops, kind="query"):
    """{query: (median wall s, median cpu s)} over the operations of `kind`
    (timed executions, or builder calls)."""
    by = {}
    for o in _ok(ops, kind):
        by.setdefault(o["name"], []).append(o)
    return {q: tuple(median([o[k] for o in os_]) for k in ("wall_s", "cpu_s"))
            for q, os_ in by.items()}


def end_to_end(res, expected_queries=0):
    """The end-to-end metrics of one run (None where the run could not
    measure one)."""
    ops, w, cores = res["ops"], res["workload"], res["cores"]
    m = dict.fromkeys(E2E)
    m["setup_s"] = median(res["setups_s"])
    if w == "crawl":
        rounds = _ok(ops, "round", "ncore")
        if rounds and len(rounds) == res["facts"].get("ncore.rounds_measured", -1):
            m["rate_per_s"] = median([_round_rate(r) for r in rounds])
            m["cpu_ms_per_item"] = 1e3 * median([r["cpu_s"] / r["popped"] for r in rounds])
            m["core_eff"] = _cpu_eff(rounds, cores)
        m["ingest_s"] = median([o["wall_s"] for o in _ok(ops, "ingest")])
        m["cold_s"] = median([o["wall_s"] for o in _ok(ops, "resume")])
    else:
        med = query_medians(ops)
        if med and len(med) == expected_queries:
            suite = sum(v[0] for v in med.values())
            m["rate_per_s"] = len(med) / suite
            m["cpu_ms_per_item"] = 1e3 * sum(v[1] for v in med.values()) / len(med)
            m["core_eff"] = _cpu_eff(_ok(ops, "query"), cores)
        # the builders' table reads, scan planning and query planning: the
        # sum over the read-and-plan builders of each one's median call
        built = query_medians(ops, "build")
        if built and len(built) == res["facts"].get("builders", -1):
            m["ingest_s"] = sum(v[0] for v in built.values())
        cold = _ok(ops, "cold")
        if cold and len(cold) == expected_queries:
            m["cold_s"] = sum(o["wall_s"] for o in cold)
    return m


def sample_counts(res):
    """{end-to-end metric: samples behind its in-run median}; on `queries`
    a per-query median has one sample per timed pass."""
    ops, facts = res["ops"], res["facts"]
    n = {"setup_s": len(res["setups_s"])}
    if res["workload"] == "crawl":
        rounds = len(_ok(ops, "round", "ncore"))
        n.update(rate_per_s=rounds, cpu_ms_per_item=rounds, core_eff=rounds,
                 ingest_s=len(_ok(ops, "ingest")), cold_s=len(_ok(ops, "resume")))
    else:
        passes = facts.get("passes", 0)
        builds = len(_ok(ops, "build")) // max(1, facts.get("builders", 1))
        n.update(rate_per_s=passes, cpu_ms_per_item=passes, core_eff=passes,
                 ingest_s=builds, cold_s=1)
    return n

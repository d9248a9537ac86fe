"""Pure derivations from a run's raw samples and spans: medians, the tail
percentile rule, span self time, and the end-to-end and per-layer metrics."""
import math
import re
import statistics

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
# percentiles a tail may be reported at, highest first
LADDER = (99.9, 99.5, 99.0, 95.0, 90.0, 75.0)
OPS = ("vector", "filtered", "term", "ranked", "hybrid")


def median(xs):
    return statistics.median(xs) if xs else 0.0


def nearest_rank(sorted_xs, p):
    """The p-th percentile by nearest rank, and how many samples lie beyond it."""
    n = len(sorted_xs)
    rank = max(1, math.ceil(round(p * n / 100.0, 9)))
    return sorted_xs[rank - 1], n - rank


def tail(xs, beyond=10):
    """(percentile, value): the highest ladder percentile with at least
    `beyond` samples beyond it, or the median (reported as 50) when the
    sample is too small for any."""
    s = sorted(xs)
    if not s:
        return 50.0, 0.0
    for p in LADDER:
        v, n_beyond = nearest_rank(s, p)
        if n_beyond >= beyond:
            return p, v
    return 50.0, median(s)


def self_times(spans):
    """{span id: self seconds}: each span's duration minus the part of it
    that its child spans cover. `spans` are dicts with id, parent, t0_ns, t1_ns."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        covered = 0
        end = s["t0_ns"]
        for c in sorted(children.get(s["id"], []), key=lambda c: c["t0_ns"]):
            lo, hi = max(c["t0_ns"], end, s["t0_ns"]), min(c["t1_ns"], s["t1_ns"])
            if hi > lo:
                covered += hi - lo
            end = max(end, c["t1_ns"])
        out[s["id"]] = (s["t1_ns"] - s["t0_ns"] - covered) / 1e9
    return out


def span_dicts(raw):
    fields = raw["span_fields"]
    return [dict(zip(fields, row)) for row in raw["spans"]]


def span_stats(spans):
    """Per span name: count, p50_ms, self_s (total), and per-call medians of
    jobs, tasks, input and shuffle MB, bytes written and freed."""
    selfs = self_times(spans)
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)
    out = {}
    for name, ss in sorted(by.items()):
        out[name] = {
            "count": len(ss),
            "p50_ms": median([(s["t1_ns"] - s["t0_ns"]) / 1e6 for s in ss]),
            "self_s": sum(selfs[s["id"]] for s in ss),
            "jobs": median([s["jobs"] for s in ss]),
            "tasks": median([s["tasks"] for s in ss]),
            "input_mb": median([s["input_bytes"] / 1e6 for s in ss]),
            "shuffle_mb": median([s["shuffle_bytes"] / 1e6 for s in ss]),
            "jobs_core": median([s["jobs_core"] for s in ss]),
            "jobs_operators": median([s["jobs_operators"] for s in ss]),
            "written": sum(s["written"] for s in ss),
            "freed": sum(s["freed"] for s in ss),
        }
    return out


# (name, unit) of every end-to-end metric, in BENCHMARK.json order
END_TO_END = [
    ("setup_s", "s"), ("served_p50_ms", "ms"), ("served_tail_ms", "ms"),
    ("served_qps", "req/s"), ("query_p50_ms", "ms"), ("query_tail_ms", "ms"),
    ("recall_at_10", "fraction"), ("insert_p50_ms", "ms"),
    ("write_docs_per_s", "memories/s"), ("flush_p50_s", "s"),
    ("compact_s_per_round", "s"), ("fresh_read_p50_ms", "ms"),
    ("space_amp", "ratio"), ("heap_used_mb", "MB"), ("op_ok_ratio", "fraction"),
]


def op_p50(samples, prefix):
    """Geometric mean over the ops of each op's median latency: a pooled
    median of a mix of fast and slow ops sits at the edge of one op's
    distribution and jumps between them."""
    meds = [median(v) for k, v in samples.items() if k.startswith(prefix + ".") and v]
    return math.exp(statistics.fmean(math.log(m) for m in meds)) if meds else 0.0


def pooled(samples, prefix):
    return [x for k, v in samples.items() if k.startswith(prefix + ".") for x in v]


def window_tail(samples, prefix):
    """(percentile, value): the median over the windows (fixed runs of
    served requests) of each window's tail, so that one stall moves one
    window's tail and not the figure."""
    tails = [tail(v) for k, v in sorted(samples.items()) if k.startswith(prefix + ".") and v]
    if not tails:
        return 50.0, 0.0
    return min(p for p, _ in tails), median([v for _, v in tails])


def end_to_end(raw):
    """{name: value} and {name: percentile} of the tails."""
    smp = raw["samples"]
    sc = raw["scalars"]
    served = pooled(smp, "served_ms")
    served_p, served_tail = window_tail(smp, "served_window_ms")
    query_p, query_tail = tail(pooled(smp, "query_ms"))
    # too few samples for a tail: report the p50 figure, as the median
    # of a pooled mix of ops jumps between them
    if query_p == 50.0:
        query_tail = op_p50(smp, "query_ms")
    values = {
        "setup_s": median(smp.get("setup_s", [])),
        "served_p50_ms": op_p50(smp, "served_ms"),
        "served_tail_ms": served_tail,
        "served_qps": len(served) / max(1e-9, sum(smp.get("served_wall_s", []))),
        "query_p50_ms": op_p50(smp, "query_ms"),
        "query_tail_ms": query_tail,
        "recall_at_10": raw["recall_hits"] / max(1, raw["recall_total"]),
        "insert_p50_ms": 1e3 * median(smp.get("insert_s", [])),
        "write_docs_per_s": sc.get("docs_acked", 0) / max(1e-9, sum(smp.get("writer_s", []))),
        "flush_p50_s": median(smp.get("flush_s", [])),
        "compact_s_per_round": statistics.fmean(smp["compact_s"]) if smp.get("compact_s") else 0.0,
        "fresh_read_p50_ms": median(smp.get("fresh_ms", [])),
        "space_amp": sc.get("space_amp", 0.0),
        "heap_used_mb": raw["heap_used_mb"],
        "op_ok_ratio": 1.0 - raw["failed"] / max(1, raw["attempted"]),
    }
    return values, {"served_tail_ms": served_p, "query_tail_ms": query_p}


def per_layer(raw):
    """(name, unit, value) of every per-layer metric, from the spans and notes."""
    spans = span_dicts(raw)
    notes = raw["notes"]
    by = {}
    for s in spans:
        by.setdefault(s["name"], []).append(s)

    def group(pred):
        return [s for s in spans if pred(s["name"])]

    def p50_ms(ss):
        return median([(s["t1_ns"] - s["t0_ns"]) / 1e6 for s in ss])

    def per_call(ss, field, scale=1.0):
        return median([s[field] / scale for s in ss])

    def mean(xs):
        return statistics.fmean(xs) if xs else 0.0

    plan = group(lambda n: n.startswith("core.plan."))
    exe = group(lambda n: n.startswith("operators.exec."))
    build = by.get("core.serve_build", [])
    flush = by.get("core.flush", [])
    compact = by.get("core.compact", [])
    expire = by.get("core.expire", [])
    insert = by.get("core.insert", [])
    written = sum(s["written"] for s in insert + flush + compact)
    out = [("core.served.%s.p50_ms" % op, "ms", p50_ms(by.get("core.served.%s" % op, [])))
           for op in OPS]
    out += [
        ("core.fingerprint.p50_ms", "ms", p50_ms(by.get("core.fingerprint", []))),
        ("core.serve_build.p50_s", "s", p50_ms(build) / 1e3),
        ("core.serve_build.jobs", "count", per_call(build, "jobs")),
        ("core.served.cache_hit_ratio", "fraction", mean(notes.get("core.served.cache_hit", []))),
        ("core.snapshot.p50_ms", "ms", p50_ms(by.get("core.snapshot", []))),
        ("core.snapshot.jobs", "count", per_call(by.get("core.snapshot", []), "jobs")),
        ("core.plan.p50_ms", "ms", p50_ms(plan)),
        ("core.plan.jobs", "count", per_call(plan, "jobs")),
        ("core.plan.fastpath_ratio", "fraction", mean(notes.get("core.plan.fastpath", []))),
        ("operators.exec.p50_ms", "ms", p50_ms(exe)),
        ("operators.exec.jobs", "count", per_call(exe, "jobs")),
        ("operators.exec.tasks", "count", per_call(exe, "tasks")),
        ("operators.exec.input_mb", "MB", per_call(exe, "input_bytes", 1e6)),
        ("operators.exec.shuffle_mb", "MB", per_call(exe, "shuffle_bytes", 1e6)),
        ("core.insert.p50_ms", "ms", p50_ms(insert)),
        ("core.insert.bytes_written", "bytes", per_call(insert, "written")),
        ("core.delete.p50_ms", "ms", p50_ms(by.get("core.delete", []))),
        ("core.flush.p50_s", "s", p50_ms(flush) / 1e3),
        ("core.flush.jobs", "count", per_call(flush, "jobs")),
        ("core.flush.jobs.operators", "count", per_call(flush, "jobs_operators")),
        ("core.flush.bytes_written", "bytes", per_call(flush, "written")),
        ("core.compact.s", "s", mean([(s["t1_ns"] - s["t0_ns"]) / 1e9 for s in compact])),
        ("core.compact.merges", "count", sum(notes.get("core.compact.merged", []))),
        ("core.compact.bytes_rewritten", "bytes", per_call(compact, "written")),
        ("core.expire.s", "s", mean([(s["t1_ns"] - s["t0_ns"]) / 1e9 for s in expire])),
        ("core.expire.bytes_freed", "bytes", per_call(expire, "freed")),
        ("core.write_amp", "ratio", written / max(1, raw["scalars"]["user_bytes_written"])),
    ]
    return out

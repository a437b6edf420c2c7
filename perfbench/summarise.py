#!/usr/bin/env python3
"""Turns one run's raw result (written by perfbench.Main) into metrics.

    python3 perfbench/summarise.py <result.json>

prints the per-operation layer table of a traced result: self time of
every span name, the layer measures of every operation, and the jobs that
ran while a public call was still constructing its result, by call site
(the list of eager actions inside the engine's API calls).

run.py imports `end_to_end`, `detail` and `per_layer` from here.
"""
import json
import math
import statistics
import sys

# The `tail` of an operation is the highest percentile that still has at
# least ten samples beyond it in a run; fixed per operation from the sample
# counts a full-size run makes (see perfbench/README.md).
TAIL_PERCENTILE = {"operators.extract": 65}

# operation → the stem of its per-operation figures (bm25_p50_ms, ...)
OP_NAMES = {
    "operators.convert": "convert", "operators.extract": "extract",
    "operators.describe": "describe", "operators.validate": "validate",
    "llm.bm25": "bm25", "llm.ann": "ann", "llm.hybrid": "hybrid",
    "llm.upsert": "upsert", "llm.delete": "delete", "llm.compact": "compact",
    "llm.dedup": "dedup", "llm.quality": "quality", "llm.neardup": "neardup",
    "llm.sketch": "sketch",
}
WRITERS = {"operators.convert", "llm.upsert", "llm.delete", "llm.compact"}
MEASURES = ["construct_ms", "plan_ms", "outside_jobs_ms", "jobs", "sched_wait_ms",
            "task_busy_ms", "input_bytes", "shuffle_bytes"]


def percentile(xs, p):
    s = sorted(xs)
    if not s:
        return float("nan")
    k = (len(s) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def geomean(xs):
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def p50_ms(samples):
    """Geometric mean over the run's operations of each one's median."""
    return geomean([statistics.median(v) for v in samples.values() if v])


def end_to_end(r):
    return {
        "setup_s": (statistics.median(r["setup_s"]), "s"),
        "p50_ms": (p50_ms(r["samples"]), "ms"),
        "heap_mb": (r["heap_mb"], "MB"),
    }


def detail(r):
    """The per-operation end-to-end figures: each operation's median,
    sample count and (where a run has the samples) tail, the geo and
    curate throughputs at those medians, and the workload's figures."""
    out = {}
    p50 = {op: statistics.median(xs) for op, xs in r["samples"].items()}
    for op, xs in r["samples"].items():
        stem = OP_NAMES[op]
        out[f"{stem}_p50_ms"] = p50[op]
        out[f"{stem}_n"] = len(xs)
        if op in TAIL_PERCENTILE:
            out[f"{stem}_tail_ms"] = percentile(xs, TAIL_PERCENTILE[op])
    for op, name in (("operators.convert", "convert_rows_per_s"),
                     ("operators.validate", "validate_rows_per_s")):
        if op in p50:
            out[name] = r["sizes"]["features"] / (p50[op] / 1000)
    if "llm.dedup" in p50:
        out["curate_docs_per_s"] = r["sizes"]["docs"] / (sum(p50.values()) / 1000)
    out.update(r["figures"])
    return out


def union_ms(intervals):
    total, end = 0.0, -math.inf
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


def calls(r):
    """One record per traced call: its spans, jobs and stages."""
    t = r["trace"]
    spans = t["spans"]
    jobs = {}
    for j in t["jobs"]:
        jobs.setdefault(j["group"], []).append(j)
    out = []
    for s in spans:
        if s["parent"] != -1:
            continue
        kids = {c["name"]: c for c in spans if c["parent"] == s["id"]}
        js = jobs.get(s["request"], [])
        stages = [st for j in js for st in j["stages"]]
        wall = s["end_ms"] - s["start_ms"]
        inside = union_ms([(max(j["start_ms"], s["start_ms"]), min(j["end_ms"], s["end_ms"]))
                           for j in js if j["end_ms"] >= 0])
        c = kids.get("construct")
        out.append({
            "op": s["name"], "request": s["request"], "wall_ms": wall,
            "construct_ms": c["end_ms"] - c["start_ms"] if c else 0.0,
            "plan_ms": (kids["plan"]["end_ms"] - kids["plan"]["start_ms"]) if "plan" in kids else 0.0,
            "outside_jobs_ms": wall - inside,
            "jobs": len(js),
            "sched_wait_ms": sum(max(0, st["first_launch_ms"] - st["submit_ms"]) for st in stages),
            "task_busy_ms": sum(st["run_ms"] for st in stages),
            "input_bytes": sum(st["input_bytes"] for st in stages),
            "input_records": sum(st["input_records"] for st in stages),
            "shuffle_bytes": sum(st["shuffle_read_bytes"] + st["shuffle_write_bytes"] for st in stages),
            "written_bytes": sum(st["output_bytes"] for st in stages),
            "returned": t["returned"].get(s["request"]),
            "construct_jobs": [j for j in js if c and c["start_ms"] <= j["start_ms"] <= c["end_ms"]],
        })
    return out


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def op_layers(r):
    """`<module>.<op>.<measure>`: the mean per traced call of each
    operation, leaving out measures that are zero on every call."""
    by_op = {}
    for c in calls(r):
        by_op.setdefault(c["op"], []).append(c)
    out = {}
    for op, cs in by_op.items():
        for m in MEASURES + (["written_bytes"] if op in WRITERS else []):
            v = mean([c[m] for c in cs])
            if any(c[m] for c in cs):
                out[f"{op}.{m}"] = v
    def ratio(op, num, den):
        cs = [c for c in by_op.get(op, []) if c["returned"] is not None]
        d = sum(den(c) for c in cs)
        return sum(num(c) for c in cs) / d if cs and d else None
    for name, v in [
        ("operators.extract.rows_read_per_row_returned",
         ratio("operators.extract", lambda c: c["input_records"], lambda c: c["returned"])),
        ("llm.bm25.rows_read_per_hit",
         ratio("llm.bm25", lambda c: c["input_records"], lambda c: c["returned"])),
        ("llm.dedup.shuffle_bytes_per_doc",
         mean([c["shuffle_bytes"] for c in by_op.get("llm.dedup", [])]) / r["sizes"]["docs"]
         if "llm.dedup" in by_op else None),
    ]:
        if v is not None:
            out[name] = v
    out.update(r["store"])
    return out, by_op


def per_layer(r):
    """The per-layer metrics every workload reports: each measure summed
    over one call of every operation the workload runs (a `round`), the
    runtime figures, and the tracing overhead."""
    _, by_op = op_layers(r)
    out = {}
    for m in MEASURES:
        out[f"round.{m}"] = sum(mean([c[m] for c in cs]) for cs in by_op.values())
    all_calls = [c for cs in by_op.values() for c in cs]
    returned = sum(c["returned"] for c in all_calls if c["returned"])
    read = sum(c["input_records"] for c in all_calls if c["returned"])
    out["round.rows_read_per_row_returned"] = read / returned if returned else 0.0
    out["spark.gc_ms"] = r["gc_ms"]
    out["spark.outside_jobs_share"] = (sum(c["outside_jobs_ms"] for c in all_calls) /
                                       sum(c["wall_ms"] for c in all_calls))
    traced = {op: xs for op, xs in r["traced_samples"].items() if xs}
    untraced = {op: xs for op, xs in r["samples"].items() if op in traced and xs}
    out["trace.overhead_p50_ms"] = p50_ms(traced) - p50_ms(untraced)
    out["trace.overhead_heap_mb"] = r["heap_mb"] - r["heap_mb_without_spans"]
    return out


def construct_jobs(r):
    """Jobs that ran before a public call returned, by call site."""
    sites = {}
    for c in calls(r):
        for j in c["construct_jobs"]:
            k = (c["op"], j["call_site"])
            n, ms = sites.get(k, (0, 0.0))
            sites[k] = (n + 1, ms + j["end_ms"] - j["start_ms"])
    return sorted(((op, site, n, ms) for (op, site), (n, ms) in sites.items()),
                  key=lambda x: -x[3])


def self_times(r):
    """Self time per span name: duration minus what child spans cover."""
    spans = r["trace"]["spans"]
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover = union_ms([(c["start_ms"], c["end_ms"]) for c in kids.get(s["id"], [])])
        name = s["name"] if s["parent"] == -1 else f"{spans[s['parent']]['name']}/{s['name']}"
        out.setdefault(name, []).append(s["end_ms"] - s["start_ms"] - cover)
    return {k: (len(v), mean(v)) for k, v in out.items()}


def main(path):
    with open(path) as f:
        r = json.load(f)
    if "trace" not in r:
        sys.exit("summarise: not a traced result (run with --trace 1)")
    print(f"# {r['workload']} seed {r['seed']}: traced calls per operation")
    layers, by_op = op_layers(r)
    for k, v in sorted(layers.items()):
        print(f"{k:55s} {v:14.3f}")
    print("\n# self time per span (calls, mean ms)")
    for k, (n, ms) in sorted(self_times(r).items()):
        print(f"{k:40s} {n:5d} {ms:10.3f}")
    print("\n# construct-time jobs by call site (operation, call site, jobs, ms)")
    for op, site, n, ms in construct_jobs(r):
        print(f"{op:20s} {site:60s} {n:5d} {ms:10.1f}")
    print("\n# tracing overhead (traced minus untraced)")
    for k, v in per_layer(r).items():
        if k.startswith("trace."):
            print(f"{k:40s} {v:10.3f}")


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit(__doc__)
    main(sys.argv[1])

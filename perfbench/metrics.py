"""Pure metric logic of the benchmark: percentiles, span self time, layer
attribution and the output schema. No Spark, no I/O; run.py feeds it the
records the JVM harness writes, and test_metrics.py covers it."""
import math
import re
import statistics

MIN_BEYOND = 10  # a reported percentile needs this many samples above it


def percentile(values, q):
    """Nearest-rank percentile: the smallest value with at least a share
    `q` of the samples at or below it."""
    if not values:
        raise ValueError("percentile of no samples")
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def samples_beyond(n, q):
    """How many of `n` samples lie above the nearest-rank `q` percentile."""
    return n - max(1, math.ceil(q * n))


def median(values):
    return statistics.median(values) if values else 0.0


def mean(values):
    return sum(values) / len(values) if values else 0.0


def self_times(spans):
    """Span id -> duration minus the part of its interval that its child
    spans cover (children clipped to the parent, overlaps counted once)."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        ivs = sorted((max(c["start"], s["start"]), min(c["end"], s["end"]))
                     for c in children.get(s["id"], []))
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in ivs:
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


_CALLSITE = re.compile(r" at ([A-Za-z0-9_$]+\.scala):\d+")


def callsite_file(callsite):
    """'parquet at Tables.scala:26' -> 'Tables.scala' (None if no file)."""
    m = _CALLSITE.search(callsite or "")
    return m.group(1) if m else None


HARNESS_SPAN = -1  # the harness thread outside every span while tracing


def job_layer(job, span_names):
    """Layer of one Spark job, from the span whose thread submitted it and
    the job's call site. `span_names` maps span id -> span name; span 0
    means a thread the harness does not drive (a server thread)."""
    if job.get("span", 0) == HARNESS_SPAN:
        return "harness"
    phase = span_names.get(job.get("span", 0))
    in_tables = callsite_file(job.get("callsite")) == "Tables.scala"
    if phase == "build":
        return "tables" if in_tables else "queries"
    if phase == "write":
        return "exec"
    if phase is not None and phase.startswith("flow."):
        return "flow"
    if phase == "register":
        return "serve"
    if phase == "check":
        return "harness"
    if phase is None:
        return "tables" if in_tables else "request"
    return "other"


def unattributed_jobs(jobs, span_names):
    """Jobs no layer owns: submitted by the harness thread outside every
    span, or carrying a span id that was never recorded. Zero on a sound
    trace; every such job would otherwise be counted on the request side."""
    return [j for j in jobs if j.get("span", 0) == HARNESS_SPAN
            or (j.get("span", 0) and j["span"] not in span_names)]


def check_output(obj, bench, trace):
    """Problems with a result line against BENCHMARK.json (empty = valid)."""
    problems = []
    if set(obj) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"keys {sorted(obj)}")
    if not isinstance(obj.get("correct"), bool):
        problems.append("correct is not a bool")
    for k in ("attempted", "failed"):
        if not isinstance(obj.get(k), int) or isinstance(obj.get(k), bool):
            problems.append(f"{k} is not an int")
    if isinstance(obj.get("attempted"), int) and obj["attempted"] < 1:
        problems.append("attempted < 1")
    want = bench["per_layer" if trace else "end_to_end"]
    got = obj.get("metrics", {})
    if set(got) != {m["name"] for m in want}:
        missing = sorted({m["name"] for m in want} - set(got))
        extra = sorted(set(got) - {m["name"] for m in want})
        problems.append(f"metric names: missing {missing}, extra {extra}")
    for m in want:
        v = got.get(m["name"])
        if v is None:
            continue
        if set(v) != {"value", "unit"} or v["unit"] != m["unit"]:
            problems.append(f"{m['name']}: {v}")
        elif not isinstance(v["value"], (int, float)) or isinstance(v["value"], bool) \
                or not math.isfinite(v["value"]):
            problems.append(f"{m['name']}: value {v['value']!r}")
    return problems

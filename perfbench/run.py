#!/usr/bin/env python3
"""graft benchmark: one command for every workload.

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds graft and the JVM harness from source (perfbench/build.py),
generates the workload's inputs from the seed, runs the workload, checks
its outputs and prints one JSON line as the last line of stdout:
`--trace 0` prints the end-to-end metrics of BENCHMARK.json, `--trace 1`
the per-layer ones. Human-readable detail (sample counts, environment)
goes to stderr. Everything it writes stays under .bench_build/.
"""
import argparse
import bisect
import glob
import hashlib
import json
import math
import os
import random
import shutil
import signal
import subprocess
import sys
import threading
import time
import http.client

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_serve  # noqa: E402
import gen_tables  # noqa: E402
import metrics as M  # noqa: E402

CONFIG = json.load(open(os.path.join(HERE, "workloads.json")))
BENCH_FILE = os.path.join(ROOT, "BENCHMARK.json")

JVM_HEAP = "2g"
FAILED_VALUE = 1e9
TIMED_TICKS = 2  # per serve segment; see serve_metrics
RUN_LIMIT_S = 170  # after the build; the JVM is killed on the way out
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    return len(os.sched_getaffinity(0))


def ensure_tables(out_root):
    """The sf0.1 tables, generated once per generator version."""
    with open(os.path.join(HERE, "gen_tables.py"), "rb") as fh:
        tag = hashlib.sha256(fh.read()).hexdigest()[:12]
    d = os.path.join(out_root, f"tables-sf0.1-{tag}")
    if not os.path.isdir(d):
        tmp = d + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_tables.write(tmp, gen_tables.TABLES_SEED)
        os.rename(tmp, d)
    return d


class Jvm:
    """The engine JVM running perfbench.Harness over a run directory."""

    def __init__(self, classes, run_dir, params, fixtures_dir, interactive=False):
        with open(os.path.join(run_dir, "params.properties"), "w") as fh:
            for k, v in params.items():
                fh.write(f"{k}={v}\n")
        for sub in ("tmp", "spark-local", "warehouse"):
            os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()), GRAFT_FIXTURES_DIR=fixtures_dir,
                   SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"))
        jars = os.path.join(build.spark_jars(), "*")
        cmd = (["java"] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + [f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
                  "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                  f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
                  f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
                  "-cp", os.pathsep.join([classes, jars]), "perfbench.Harness", run_dir])
        self.log = open(os.path.join(run_dir, "jvm.log"), "wb")
        self.launch_ms = time.time() * 1000
        # only the serve protocol talks over stdin/stdout; otherwise stdout
        # goes to the log, where it cannot fill a pipe nobody reads
        pipe = subprocess.PIPE if interactive else None
        self.proc = subprocess.Popen(cmd, cwd=run_dir, env=env,
                                     stdin=pipe or subprocess.DEVNULL, stdout=pipe or self.log,
                                     stderr=self.log, text=True, bufsize=1)
        self.run_dir = run_dir

    def expect(self, prefix, timeout):
        """Read stdout lines until one starts with `prefix`; return its words."""
        box = {}

        def read():
            for line in self.proc.stdout:
                if line.startswith(prefix):
                    box["words"] = line.split()
                    return
        t = threading.Thread(target=read, daemon=True)
        t.start()
        t.join(timeout)
        if "words" not in box:
            raise RuntimeError(f"JVM did not print {prefix!r} within {timeout}s (see {self.log.name})")
        return box["words"]

    def send(self, line):
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()

    def finish(self, timeout):
        """Wait for the JVM to exit and return its result records."""
        try:
            if self.proc.stdin and not self.proc.stdin.closed:
                self.proc.stdin.close()
            rc = self.proc.wait(timeout)
        finally:
            self.stop()
        path = os.path.join(self.run_dir, "result.json")
        if rc != 0 or not os.path.exists(path):
            raise RuntimeError(f"JVM exited with {rc} (see {self.log.name})")
        with open(path) as fh:
            return json.load(fh)

    def stop(self):
        if self.proc.poll() is None:
            self.proc.kill()
            self.proc.wait()
        self.log.close()


def median_valid(n):
    """A run must leave ten samples beyond its reported latency median."""
    ok = M.samples_beyond(n, 0.5) >= M.MIN_BEYOND
    if not ok:
        log(f"only {n} latency samples: the median has fewer than {M.MIN_BEYOND} beyond it")
    return ok


# ---------------------------------------------------------------- catalog_short

def catalog_passes(names, seed, n):
    """Pass 0 (warm-up and output capture) in name order, then `n` passes,
    each a fresh seeded shuffle (pass 1 is the second, untimed warm-up)."""
    rng = random.Random(seed)
    out = [sorted(names)]
    for _ in range(n):
        p = sorted(names)
        rng.shuffle(p)
        out.append(p)
    return out


def run_catalog(args, classes, tables, run_dir):
    cfg = CONFIG["catalog_short"]
    names = cfg["entries"]
    with open(os.path.join(run_dir, "passes.txt"), "w") as fh:
        fh.write("\n".join(",".join(p) for p in catalog_passes(names, args.seed, 64)))
    jvm = Jvm(classes, run_dir, {"workload": "catalog_short", "sf_dir": tables,
                                 "seconds": args.seconds, "trace": args.trace,
                                 "min_passes": cfg["min_passes"]},
              os.path.join(ROOT, "fixtures"))
    res = jvm.finish(timeout=RUN_LIMIT_S)
    res["launch_ms"] = jvm.launch_ms
    for k, e in res["errors"].items():
        log(f"query FAILED {k}: {e}")
    checks = oracle_check(res, names, tables, run_dir)
    return catalog_metrics(res, checks, args.trace)


def oracle_check(res, names, tables, run_dir):
    """Compare each entry's warm-up output with its DuckDB oracle, using the
    canonical compare of tools/check.py. Returns name -> error or None."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute(f"SET threads={nproc()}")
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables}/{t}.parquet')")
    out = {}
    for name in names:
        err = res["errors"].get(name)
        files = glob.glob(os.path.join(run_dir, "out", name, "*.parquet"))
        sql = res.get("oracle_sql", {}).get(name)
        if err is None and not files:
            err = "no output"
        if err is None and sql:
            try:
                got = check.canon(pd.concat([pd.read_parquet(f) for f in files], ignore_index=True))
                exp = check.canon(con.execute(sql).df())
                err = compare(got, exp, check.cell_eq)
            except Exception as e:  # an oracle that cannot run is a failed check
                err = f"{type(e).__name__}: {e}"
        out[name] = err
    return out


def compare(got, exp, cell_eq):
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} != {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} != {len(exp)}"
    for c in got.columns:
        for i, (a, b) in enumerate(zip(got[c].tolist(), exp[c].tolist())):
            if not cell_eq(a, b)[1]:
                return f"cell {c}[{i}]: {a!r} != {b!r}"
    return None


def catalog_metrics(res, checks, trace):
    ops = [s for s in res["spans"] if s["name"] == "query"]
    passes = [s for s in res["spans"] if s["name"] == "pass"]
    untraced_ops = [s for s in ops if not s["traced"]]
    untraced_passes = [s for s in passes if not s["traced"]]
    lat = [s["end"] - s["start"] for s in untraced_ops if s["ok"]]
    failed_ops = sum(1 for s in ops if not s["ok"])
    failed_checks = sum(1 for e in checks.values() if e)
    for n, e in sorted(checks.items()):
        if e:
            log(f"output check FAILED {n}: {e[:300]}")
    e2e = {
        "setup_s": ((res["first_op_ms"] - res["launch_ms"]) / 1000, "s"),
        "latency_ms_p50": (M.percentile(lat, 0.5), "ms"),
        "refresh_s": (M.median([(s["end"] - s["start"]) / 1000 for s in untraced_passes]), "s"),
        "rss_peak_mb": (res["jvm"]["rss_peak_kb"] / 1024, "MB"),
    }
    counts = {"latency_ms_p50": len(lat),
              "refresh_s": len(untraced_passes), "setup_s": 1, "rss_peak_mb": 1}
    valid = median_valid(len(lat))
    attempted = len(ops) + len(checks)
    failed = failed_ops + failed_checks
    out = {"correct": failed == 0 and valid, "attempted": attempted, "failed": failed}
    env = dict(res["env"], pass_s=[round((s["end"] - s["start"]) / 1000, 3) for s in passes])
    if not trace:
        return out, e2e, counts, env
    return out, catalog_layers(res, e2e, attempted, failed), counts, env


def stage_totals(stages):
    keys = ["tasks", "run_ms", "cpu_ms", "gc_ms", "input_bytes", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes"]
    return {k: sum(s[k] for s in stages) for k in keys}


def jvm_env_layers(res):
    env = res["env"]
    return {
        "jvm.gc_ms": (res["jvm"]["gc_ms"], "ms"),
        "jvm.gc_count": (res["jvm"]["gc_count"], "count"),
        "jvm.heap_after_gc_mb": (res["jvm"]["heap_after_gc_mb"], "MB"),
        "env.ext_cpu_share": (M.mean(env["ext_cpu_share"]), "ratio"),
        "env.loadavg": (max(env["loadavg"] or [0.0]), "load"),
    }


def catalog_layers(res, e2e, attempted, failed):
    """Per-layer split of the traced passes, as means per query execution."""
    spans = res["spans"]
    name_of = {s["id"]: s["name"] for s in spans}
    tq = [s for s in spans if s["name"] == "query" and s["traced"]]
    n = max(1, len(tq))
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    jobs = [j for j in res["jobs"] if "end" in j]
    layer = {j["job"]: M.job_layer(j, name_of) for j in jobs}
    by_layer = {}
    for j in jobs:
        by_layer.setdefault(layer[j["job"]], []).append(j)
    dur = lambda xs: sum(x["end"] - x["start"] for x in xs)  # noqa: E731
    builds = [c for q in tq for c in kids.get(q["id"], []) if c["name"] == "build"]
    writes = [c for q in tq for c in kids.get(q["id"], []) if c["name"] == "write"]
    write_ids = {w["id"] for w in writes}
    # tables jobs are children of their build span for self time
    job_spans = [{"id": -j["job"] - 1, "parent": j["span"], "start": j["start"], "end": j["end"]}
                 for j in by_layer.get("tables", [])]
    self_t = M.self_times(builds + job_spans)
    qe_write = [q for q in res["qes"] if q.get("observed_in") in write_ids]
    exec_jobs = {j["job"] for j in by_layer.get("exec", [])}
    exec_stages = [s for s in res["stages"] if s["job"] in exec_jobs]
    st = stage_totals(exec_stages)
    out = {
        "tables.jobs": (len(by_layer.get("tables", [])) / n, "count"),
        "tables.ms": (dur(by_layer.get("tables", [])) / n, "ms"),
        "queries.build_ms": (dur(builds) / n, "ms"),
        "queries.build_self_ms": (sum(self_t[b["id"]] for b in builds) / n, "ms"),
        "queries.build_jobs": (len(by_layer.get("queries", [])) / n, "count"),
        "plan.analysis_ms": (sum(q.get("analysis_ms", 0) for q in qe_write) / n, "ms"),
        "plan.optimization_ms": (sum(q.get("optimization_ms", 0) for q in qe_write) / n, "ms"),
        "plan.planning_ms": (sum(q.get("planning_ms", 0) for q in qe_write) / n, "ms"),
        "exec.ms": (dur(writes) / n, "ms"),
        "exec.jobs": (len(exec_jobs) / n, "count"),
        "exec.stages": (len(exec_stages) / n, "count"),
        "exec.skew_max": (max([s["skew"] for s in exec_stages] or [1.0]), "ratio"),
    }
    for k, v in st.items():
        out[f"exec.{k}"] = (v / n, "bytes" if k.endswith("bytes") else
                            "count" if k == "tasks" else "ms")
    out.update(stream_layers(res, {q["id"] for q in tq}, n))
    out.update(jvm_env_layers(res))
    # self-check 1: every job seen while a query ran is attributed to its
    # build or write phase, and the harness submits none outside a span
    unattributed = len(M.unattributed_jobs(jobs, name_of))
    for q in tq:
        phase_ids = {c["id"] for c in kids.get(q["id"], [])}
        seen = [j for j in jobs if j.get("observed_in") in phase_ids | {q["id"]}]
        unattributed += sum(1 for j in seen if j["span"] not in phase_ids)
    # self-check 2: traced build + write per entry against its untraced wall
    untraced, traced = {}, {}
    for s in spans:
        if s["name"] == "query" and s["ok"]:
            (traced if s["traced"] else untraced).setdefault(s["query"], []).append(s)
    gaps = []
    for name, qs in traced.items():
        parts = [sum(c["end"] - c["start"] for c in kids.get(q["id"], [])) for q in qs]
        if name in untraced:
            gaps.append(abs(M.median(parts) - M.median([u["end"] - u["start"] for u in untraced[name]])))
    tlat = [s["end"] - s["start"] for s in tq if s["ok"]]
    tpass = [(s["end"] - s["start"]) / 1000 for s in spans if s["name"] == "pass" and s["traced"]]
    out.update({
        "overhead.latency_ms_p50": (M.percentile(tlat, 0.5) - e2e["latency_ms_p50"][0], "ms"),
        "overhead.refresh_s": (M.median(tpass) - e2e["refresh_s"][0], "s"),
        "check.jobs_unattributed": (unattributed, "count"),
        "check.wall_gap_ms": (M.median(gaps), "ms"),
        "fail_ratio": (failed / attempted, "ratio"),
    })
    return out


def stream_layers(res, parent_ids, n):
    """Streaming lifecycles observed inside the given spans (or their
    children), as means per `n`."""
    spans = res["spans"]
    inside = set(parent_ids) | {s["id"] for s in spans if s["parent"] in parent_ids}
    runs = {}
    for e in res["stream_events"]:
        if e.get("observed_in") in inside:
            runs.setdefault(e["run"], []).append(e)
    tot = dict.fromkeys(["lifecycles", "batches", "lifecycle_ms", "fixed_ms", "add_batch_ms",
                         "wal_commit_ms", "query_planning_ms", "input_rows", "state_rows",
                         "state_bytes"], 0.0)
    for evs in runs.values():
        start = [e["at"] for e in evs if e["kind"] == "start"]
        end = [e["at"] for e in evs if e["kind"] == "end"]
        prog = [e for e in evs if e["kind"] == "progress"]
        if not (start and end):
            continue
        life = end[0] - start[0]
        trig = sum(p["duration_ms"].get("triggerExecution", 0) for p in prog)
        tot["lifecycles"] += 1
        tot["batches"] += len(prog)
        tot["lifecycle_ms"] += life
        tot["fixed_ms"] += life - trig
        tot["add_batch_ms"] += sum(p["duration_ms"].get("addBatch", 0) for p in prog)
        tot["wal_commit_ms"] += sum(p["duration_ms"].get("walCommit", 0) for p in prog)
        tot["query_planning_ms"] += sum(p["duration_ms"].get("queryPlanning", 0) for p in prog)
        tot["input_rows"] += sum(p["input_rows"] for p in prog)
        if prog:
            tot["state_rows"] += prog[-1]["state_rows"]
            tot["state_bytes"] += prog[-1]["state_bytes"]
    unit = lambda k: "ms" if k.endswith("_ms") else "bytes" if k.endswith("bytes") else "count"  # noqa: E731
    return {f"stream.{k}": (v / n, unit(k)) for k, v in tot.items()}


# ---------------------------------------------------------------- serve_refresh

def http_get(conn, url):
    conn.request("GET", url)
    r = conn.getresponse()
    return r.status, r.read()


def reference_pass(port, urls):
    """One answer per distinct request, fetched before the timed region;
    every later answer must match it byte for byte."""
    refs, errors = {}, []

    def worker(part):
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        for u in part:
            try:
                status, body = http_get(conn, u)
            except (OSError, http.client.HTTPException) as e:
                status, body = 0, repr(e).encode()
            if status != 200:
                errors.append(f"{u}: HTTP {status} {body[:200]!r}")
            refs[u] = body
        conn.close()
    ts = [threading.Thread(target=worker, args=(urls[i::nproc()],), daemon=True)
          for i in range(nproc())]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    if errors:
        raise RuntimeError("reference requests failed: " + "; ".join(errors))
    return refs


def endpoint(url):
    """'/query/geo_centroid?limit=50' -> 'query'."""
    return url.split("?")[0].split("/")[1]


def open_loop(port, seq, start_s, rate, refs):
    """Start operation i at start + i / rate from at most nproc connections,
    whatever the server's pace; an operation's requests go one after the
    other on one connection, as its client sends them. Latency runs from
    the due time to the last byte of the last request, so a stall also
    delays the operations queued behind it."""
    due = [start_s + i / rate for i in range(len(seq))]
    recs = [None] * len(seq)
    nxt = iter(range(len(seq)))
    lock = threading.Lock()

    def worker():
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
        while True:
            with lock:
                i = next(nxt, None)
            if i is None:
                break
            kind, urls = seq[i]
            time.sleep(max(0.0, due[i] - time.time()))
            reqs = []
            for url in urls:
                sent = time.time()
                try:
                    status, body = http_get(conn, url)
                except (OSError, http.client.HTTPException) as e:
                    status, body = 0, repr(e).encode()
                    conn.close()
                    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=120)
                reqs.append({"endpoint": endpoint(url), "sent": sent, "done": time.time(),
                             "ok": status == 200 and body == refs[url], "status": status})
            recs[i] = {"kind": kind, "due": due[i], "sent": reqs[0]["sent"],
                       "done": reqs[-1]["done"], "ok": all(r["ok"] for r in reqs),
                       "requests": reqs}
        conn.close()
    ts = [threading.Thread(target=worker, daemon=True) for _ in range(nproc())]
    for t in ts:
        t.start()
    for t in ts:
        t.join()
    return recs


def run_serve(args, classes, tables, run_dir):
    cfg = CONFIG["serve_refresh"]
    segments = 2 if args.trace else 1
    n = int(round(cfg["rate_per_s"] * args.seconds))
    inputs = os.path.join(run_dir, "inputs")
    pools, reqs, expected = gen_serve.write(inputs, args.seed, n, segments)
    fixtures = os.path.join(inputs, "fixtures")
    jvm = Jvm(classes, run_dir, {"workload": "serve_refresh", "sf_dir": tables,
                                 "fixtures_dir": fixtures,
                                 "tick_inputs": os.path.join(inputs, "ticks")}, fixtures,
              interactive=True)
    try:
        # the static answers are fetched while the first tick runs; /sql
        # reads the lake, so its answers wait for that tick
        port = int(jvm.expect("PERFBENCH SERVING", 150)[2])
        static = sorted({u for k, p in pools.items() if k != "sql" for op in p for u in op})
        box = {}
        t = threading.Thread(target=lambda: box.update(reference_pass(port, static)), daemon=True)
        t.start()
        jvm.expect("PERFBENCH READY", 150)
        refs = reference_pass(port, [u for op in pools["sql"] for u in op])
        t.join()
        if len(box) != len(static):
            raise RuntimeError("reference requests failed")
        refs.update(box)
        # untimed warm-up: one tick beside the first operations of the mix,
        # so JIT has settled on both before the timed segments
        warm = reqs[0][:int(round(cfg["rate_per_s"] * cfg["warmup_s"]))]
        segs = []
        for k, seq, window_ms, min_ticks in [(-1, warm, 0, 1)] + [
                (k, reqs[k], args.seconds * 1000, TIMED_TICKS) for k in range(segments)]:
            start = time.time() + 0.2
            jvm.send(f"GO {k} {1 if k == 1 else 0} {start * 1000:.3f} {window_ms:.0f} {min_ticks}")
            segs.append(open_loop(port, seq, start, cfg["rate_per_s"], refs))
            jvm.send(f"END {k}")
            jvm.expect("PERFBENCH SEGDONE", 150)
        warm_recs = segs.pop(0)
        jvm.send("QUIT")
        res = jvm.finish(timeout=60)
    finally:
        jvm.stop()
    res["launch_ms"] = jvm.launch_ms
    with open(os.path.join(run_dir, "load.json"), "w") as fh:
        json.dump({"segments": segs}, fh)
    return serve_metrics(res, segs, warm_recs, expected, args.trace)


def serve_metrics(res, segs, warm_recs, expected, trace):
    slo = CONFIG["serve_refresh"]["slo_ms"]
    lat_of = lambda recs: [(r["done"] - r["due"]) * 1000 if r["ok"] else math.inf for r in recs]  # noqa: E731
    ticks = res["ticks"]
    tick_spans = {s["tick"]: s for s in res["spans"] if s["name"] == "tick"}
    all_tick_s = lambda seg: [(tick_spans[t["tick"]]["end"] - tick_spans[t["tick"]]["start"]) / 1000  # noqa: E731
                              for t in ticks if t["segment"] == seg]
    # A segment's ticks run back to back: at least two, and another while
    # its window is open, so three on a faster box. The first two run beside
    # the operations; a third starts near the window's end and runs mostly
    # alone, so it keeps the last operations beside a tick but is not timed.
    tick_s = lambda seg: all_tick_s(seg)[:TIMED_TICKS]  # noqa: E731
    failed = 0
    for t in ticks:
        want = expected[min(t["tick"], len(expected) - 1)]
        if t["errors"] or t["news_rows"] != want:
            failed += 1
            log(f"tick {t['tick']} FAILED: errors {t['errors']}, news rows {t['news_rows']} != {want}")
    checked = warm_recs + [r for s in segs for r in s]
    bad = [r for r in checked if not r["ok"]]
    for r in bad[:5]:
        log(f"operation FAILED: {r}")
    failed += len(bad)
    attempted = len(ticks) + len(checked)
    lat0 = lat_of(segs[0])
    e2e = {
        "setup_s": ((res["first_op_ms"] - res["launch_ms"]) / 1000, "s"),
        "latency_ms_p50": (M.percentile(lat0, 0.5), "ms"),
        "refresh_s": (M.median(tick_s(0)), "s"),
        "rss_peak_mb": (res["jvm"]["rss_peak_kb"] / 1024, "MB"),
    }
    counts = {"latency_ms_p50": len(lat0),
              "refresh_s": len(tick_s(0)), "setup_s": 1, "rss_peak_mb": 1}
    valid = median_valid(len(lat0)) and len(tick_s(0)) == TIMED_TICKS
    head = {"correct": failed == 0 and valid, "attempted": attempted, "failed": failed}
    env = dict(res["env"], tick_s=all_tick_s(0) + all_tick_s(1))
    if not trace:
        return head, e2e, counts, env
    lay = serve_layers(res, segs[1], ticks)
    lat1 = lat_of(segs[1])
    lay.update({
        "overhead.latency_ms_p50": (M.percentile(lat1, 0.5) - e2e["latency_ms_p50"][0], "ms"),
        "overhead.refresh_s": (M.median(tick_s(1)) - e2e["refresh_s"][0], "s"),
        "fail_ratio": (failed / attempted, "ratio"),
        "slo_miss_ratio": (sum(1 for s in segs for x in lat_of(s) if x > slo)
                           / sum(len(s) for s in segs), "ratio"),
    })
    return head, lay, counts, env


def serve_layers(res, seg, ticks):
    """Per-layer split of the traced segment `seg` and its ticks."""
    spans = res["spans"]
    name_of = {s["id"]: s["name"] for s in spans}
    n_ops = max(1, len(seg))
    jobs = [j for j in res["jobs"] if "end" in j]
    layer = {j["job"]: M.job_layer(j, name_of) for j in jobs}
    req_side = [j for j in jobs if layer[j["job"]] in ("tables", "request")]
    tables_jobs = [j for j in req_side if layer[j["job"]] == "tables"]
    exec_jobs = [j for j in req_side if layer[j["job"]] == "request"]
    exec_ids = {j["job"] for j in exec_jobs}
    exec_stages = [s for s in res["stages"] if s["job"] in exec_ids]
    dur = lambda xs: sum(x["end"] - x["start"] for x in xs)  # noqa: E731
    for j in M.unattributed_jobs(jobs, name_of)[:5]:
        log(f"job owned by no layer: {j}")
    out = {
        "tables.jobs": (len(tables_jobs) / n_ops, "count"),
        "tables.ms": (dur(tables_jobs) / n_ops, "ms"),
        "exec.ms": (dur(exec_jobs) / n_ops, "ms"),
        "exec.jobs": (len(exec_jobs) / n_ops, "count"),
        "exec.stages": (len(exec_stages) / n_ops, "count"),
        "exec.skew_max": (max([s["skew"] for s in exec_stages] or [1.0]), "ratio"),
        "serve.jobs_per_req": (len(req_side) / max(1, sum(len(r["requests"]) for r in seg)),
                               "ratio"),
        "check.jobs_unattributed": (len(M.unattributed_jobs(jobs, name_of)), "count"),
    }
    for k, v in stage_totals(exec_stages).items():
        out[f"exec.{k}"] = (v / n_ops, "bytes" if k.endswith("bytes") else
                            "count" if k == "tasks" else "ms")
    traced_ticks = {s["id"] for s in spans if s["name"] == "tick" and s.get("segment") == 1}
    out.update(stream_layers(res, traced_ticks, max(1, len(traced_ticks))))
    timed = [t for t in ticks if t["segment"] >= 0]
    for f in ("cases", "france_hospital", "france_virtests", "news_crawl", "vocab_index", "compact"):
        out[f"flow.{f}_ms"] = (M.median([t["flows"][f]["ms"] for t in timed if f in t["flows"]]), "ms")
    out["flow.rows"] = (M.median([sum(v["rows"] for v in t["flows"].values()) for t in timed]), "count")
    last = ticks[-1]
    out["lake.files"] = (last["lake_files"], "count")
    out["lake.bytes_per_row"] = (last["news_bytes"] / max(1, last["news_rows"]), "bytes")
    out["serve.register_ms"] = (M.median([t["register_ms"] for t in timed]), "ms")
    # one request's time on the wire: from its send to its last byte
    reqs = [q for r in seg for q in r["requests"] if q["ok"]]
    for ep in ("search", "suggest", "ann", "query", "sql"):
        lat = [(q["done"] - q["sent"]) * 1000 for q in reqs if q["endpoint"] == ep]
        out[f"req.{ep}.ms_p50"] = (M.percentile(lat, 0.5) if lat else 0.0, "ms")
    late = [(r["sent"] - r["due"]) * 1000 for r in seg]
    dues = [r["due"] for r in seg]
    backlog = [bisect.bisect_right(dues, r["sent"]) - i - 1 for i, r in enumerate(seg)]
    out["loadgen.late_ms_max"] = (max(late), "ms")
    out["loadgen.backlog_max"] = (max(0, max(backlog)), "count")
    out.update(jvm_env_layers(res))
    return out


# ------------------------------------------------------------------------ main

def on_alarm(signum, frame):
    raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")


def load_bench():
    with open(BENCH_FILE) as fh:
        return json.load(fh)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    bench = load_bench()
    if args.workload not in {w["name"] for w in bench["workloads"]}:
        raise SystemExit(f"unknown workload {args.workload}")
    classes = build.build()
    out_root = build.out_dir()
    tables = ensure_tables(out_root)
    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(RUN_LIMIT_S)
    run_dir = os.path.join(out_root, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    runner = {"catalog_short": run_catalog, "serve_refresh": run_serve}[args.workload]
    head, mets, counts, env = runner(args, classes, tables, run_dir)
    log("environment " + json.dumps(env))
    want = bench["per_layer" if args.trace else "end_to_end"]
    absent = [m["name"] for m in want if m["name"] not in mets]
    if absent:
        log(f"not measured on {args.workload}, reported as 0: {', '.join(absent)}")
    values = {m["name"]: float(mets.get(m["name"], (0.0,))[0]) for m in want}
    for k, v in values.items():
        if not math.isfinite(v):  # a failed request makes a percentile infinite
            log(f"{k} is not finite ({v}); reported as {FAILED_VALUE}")
            values[k] = FAILED_VALUE
            head = dict(head, correct=False)
    result = dict(head, metrics={m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                                 for m in want})
    for m in want:
        v = result["metrics"][m["name"]]
        log(f"{m['name']:32s} {v['value']:14.4f} {v['unit']:6s} n={counts.get(m['name'], 1)}")
    problems = M.check_output(result, bench, args.trace)
    if problems:
        raise SystemExit("result does not match BENCHMARK.json: " + "; ".join(problems))
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()

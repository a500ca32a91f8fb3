#!/usr/bin/env python3
"""Benchmark of the word-count engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload wc_zipf --seed 1 --seconds 15 --trace 0

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed, runs the workload in one Spark driver at
local[nproc] for --seconds seconds, checks the outputs, and prints as its
last line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they
are the per-layer ones, taken from spans the benchmark records around its
calls into the program. The full record (host stamp, samples, spans) is
written under .perfbench/runs/. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave nothing behind in perfbench/

import build  # noqa: E402
import corpus  # noqa: E402

ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
DEADLINE_S = 170
SETUPS = 3
# Files per stream arrival (one micro-batch). Spark's default packing
# makes one scan task of each file, so at nproc = 4 an arrival is one
# wave of tasks; five files made a second wave of one task.
GROUP_FILES = 4
WORKLOADS = ("wc_zipf", "wc_highcard", "curation", "wc_stream")
MIX = ("dd_exact", "dd_minhash_lsh", "dd_ngram_jaccard", "dd_containment",
       "dd_pipeline_manifest", "sim_int8_topk", "ta_dsir")

END_TO_END = {
    "cpu_s": "s", "process_cpu_s": "s", "setup_s": "s", "live_heap_mb": "MB",
}
PER_LAYER = dict(
    [("job_s_p50", "s"), ("tokens_per_s", "1/s"),
     ("sources.scan_s", "s"), ("sources.input_mb", "MB"),
     ("sources.rows", "count"),
     ("functions.tokenize_normalize_s", "s"),
     ("functions.kernel_self_s", "s"), ("functions.tokens", "count"),
     ("core.count_s", "s"), ("core.aggregate_self_s", "s"),
     ("core.sink_self_s", "s"), ("core.combine_ratio", "ratio"),
     ("core.distinct_words", "count"), ("core.output_mb", "MB"),
     ("exchange.shuffle_write_mb", "MB"), ("exchange.shuffle_records", "count"),
     ("exchange.shuffle_write_s", "s"), ("exchange.fetch_wait_s", "s"),
     ("exchange.max_partition_ratio", "ratio"),
     ("spark.jobs", "count"), ("spark.stages", "count"),
     ("spark.tasks", "count"), ("spark.gc_s", "s"), ("spark.spill_mb", "MB"),
     ("spark.peak_task_mem_mb", "MB"), ("spark.peak_rss_mb", "MB")] +
    [("queries.%s.%s" % (q, m), u) for q in MIX
     for m, u in (("wall_s", "s"), ("cpu_s", "s"), ("gc_s", "s"),
                  ("shuffle_mb", "MB"), ("spill_mb", "MB"), ("jobs", "count"))] +
    [("streaming.batches", "count"), ("streaming.batch_latency_s_p50", "s"),
     ("streaming.batch_latency_s_p90", "s"), ("streaming.add_batch_s", "s"),
     ("streaming.wal_commit_s", "s"), ("streaming.commit_offsets_s", "s"),
     ("streaming.state_commit_s", "s"), ("streaming.state_rows", "count"),
     ("streaming.state_rows_updated", "count"), ("streaming.state_mb", "MB"),
     ("trace.overhead_frac", "ratio")])

MB = 1e6


def median(xs):
    return statistics.median(xs) if xs else 0.0


def percentile(xs, p):
    """Nearest-rank percentile (p in 0..100)."""
    if not xs:
        return 0.0
    s = sorted(xs)
    k = max(0, min(len(s) - 1, int(-(-p * len(s) // 100)) - 1))
    return s[k]


def layer_self_times(spans, chain):
    """Self time of each layer of a nested-prefix pass, median over passes.

    `spans` are dicts with name, trace, start, end. `chain` lists span
    names from the shortest prefix of the pipeline to the full pipeline;
    each layer's self time is its prefix's duration minus the previous
    prefix's, taken within one trace (one pass), then the median over
    passes. Returns {name: (prefix duration, self time)}.
    """
    by_trace = {}
    for s in spans:
        by_trace.setdefault(s["trace"], {})[s["name"]] = s["end"] - s["start"]
    out = {}
    for i, name in enumerate(chain):
        durs, selfs = [], []
        for t in by_trace.values():
            if name in t and (i == 0 or chain[i - 1] in t):
                durs.append(t[name])
                selfs.append(t[name] - (t[chain[i - 1]] if i else 0.0))
        out[name] = (median(durs), median(selfs))
    return out


def counter_median(samples, key, scale=1.0):
    return median([s["c"].get(key, 0.0) / scale for s in samples])


# ---- checks ---------------------------------------------------------------


def sink_digest(out_dir):
    """(tokens, distinct, digest) of a "word count" text sink."""
    tokens = distinct = 0
    acc = 0
    for p in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(p, "rb") as fh:
            for line in fh.read().split(b"\n"):
                if not line:
                    continue
                tokens += int(line.rsplit(b" ", 1)[1])
                distinct += 1
                acc = (acc + int.from_bytes(hashlib.blake2b(
                    line, digest_size=8).digest(), "little")) & 0xFFFFFFFFFFFFFFFF
    return tokens, distinct, "%016x" % acc


def check_oracle(data_dir, check_dir):
    """Names of mix queries whose Spark output differs from the DuckDB
    oracle (row count, column names, or sorted row values; columns sorted
    by name, as the engine's oracle tool compares them)."""
    import duckdb
    with open(os.path.join(check_dir, "oracle_sql.json")) as fh:
        oracles = json.load(fh)
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')"
                    % (t, os.path.join(data_dir, t + ".parquet")))
    bad = []
    for name in MIX:
        pq = glob.glob(os.path.join(check_dir, name, "*.parquet"))
        if name not in oracles or len(pq) != 1:
            bad.append(name)
            continue
        s = con.execute("SELECT * FROM read_parquet('%s')" % pq[0]).fetchdf()
        o = con.execute(oracles[name]).fetchdf()
        sc, oc = sorted(s.columns), sorted(o.columns)
        if sc != oc or len(s) != len(o) or \
                sorted(map(repr, s[sc].itertuples(index=False, name=None))) != \
                sorted(map(repr, o[oc].itertuples(index=False, name=None))):
            bad.append(name)
    return bad


def stream_job_tokens(exp, first, landed):
    """Tokens in each of stream arrivals first..landed-1 (the timed ones)."""
    ft = exp["file_tokens"]
    group = [sum(ft[i:i + GROUP_FILES]) for i in range(0, len(ft), GROUP_FILES)]
    return [group[i % len(group)] for i in range(first, landed)]


# ---- metrics ----------------------------------------------------------------


def end_to_end(raw):
    jobs = raw["jobs"]
    return {
        "cpu_s": counter_median(jobs, "cpu_s"),
        "process_cpu_s": counter_median(jobs, "process_cpu_s"),
        "setup_s": median(raw["setup_s"]),
        "live_heap_mb": raw["live_heap_mb"],
    }


def per_layer(raw, exp, job_tokens):
    m = dict.fromkeys(PER_LAYER, 0.0)
    # Wall time of the untraced jobs, which traced runs alternate with
    # traced passes.
    jobs = raw["jobs"]
    m["job_s_p50"] = median([j["wall_s"] for j in jobs])
    m["tokens_per_s"] = median([t / j["wall_s"] for t, j in zip(job_tokens, jobs)])
    w = raw["workload"]
    spans, traced = raw["spans"], raw["traced"]
    if w in ("wc_zipf", "wc_highcard"):
        chain = ["sources.ingest", "functions.tokenize_normalize",
                 "core.count", "core.sink"]
        st = layer_self_times(spans, chain)
        m["sources.scan_s"] = st["sources.ingest"][0]
        m["functions.tokenize_normalize_s"] = st["functions.tokenize_normalize"][0]
        m["functions.kernel_self_s"] = st["functions.tokenize_normalize"][1]
        m["functions.tokens"] = exp["tokens"]
        m["core.count_s"] = st["core.count"][0]
        m["core.aggregate_self_s"] = st["core.count"][1]
        m["core.sink_self_s"] = st["core.sink"][1]
        m["core.combine_ratio"] = counter_median(traced, "shuffle_records") / exp["tokens"]
        m["core.distinct_words"] = counter_median(traced, "output_rows")
        m["core.output_mb"] = counter_median(traced, "output_bytes", MB)
    elif w == "curation":
        tab = [s for s in spans if s["name"] == "sources.tables"]
        m["sources.scan_s"] = median([s["end"] - s["start"] for s in tab])
        m["sources.input_mb"] = counter_median(tab, "input_bytes", MB)
        m["sources.rows"] = counter_median(tab, "input_rows")
        for q in MIX:
            qs = [s for s in spans if s["name"] == "queries." + q]
            p = "queries.%s." % q
            m[p + "wall_s"] = median([s["end"] - s["start"] for s in qs])
            m[p + "cpu_s"] = counter_median(qs, "cpu_s")
            m[p + "gc_s"] = counter_median(qs, "gc_s")
            m[p + "shuffle_mb"] = counter_median(qs, "shuffle_write_bytes", MB)
            m[p + "spill_mb"] = counter_median(qs, "spill_bytes", MB)
            m[p + "jobs"] = counter_median(qs, "jobs")
    else:
        ex = raw["extra"]
        prog = ex["traced.progress"]
        lat = [t["wall_s"] for t in traced]
        m["streaming.batches"] = len(prog)
        m["streaming.batch_latency_s_p50"] = median(lat)
        m["streaming.batch_latency_s_p90"] = percentile(lat, 90)
        for k, key in (("add_batch_s", "addBatch.ms"),
                       ("wal_commit_s", "walCommit.ms"),
                       ("commit_offsets_s", "commitOffsets.ms"),
                       ("state_commit_s", "state_commit.ms")):
            m["streaming." + k] = median([p.get(key, 0.0) / 1e3 for p in prog])
        m["streaming.state_rows"] = prog[-1]["state_rows"] if prog else 0.0
        m["streaming.state_rows_updated"] = median(
            [p["state_rows_updated"] for p in prog])
        m["streaming.state_mb"] = prog[-1]["state_bytes"] / MB if prog else 0.0
        tokens = stream_job_tokens(exp, ex["warm_arrivals"], ex["traced_landed"])
        m["functions.tokens"] = median(tokens)
        m["core.distinct_words"] = m["streaming.state_rows"]
        m["core.combine_ratio"] = median([
            t["c"].get("shuffle_records", 0.0) / k for t, k in zip(traced, tokens)])
    if not m["sources.input_mb"]:
        m["sources.input_mb"] = counter_median(traced, "input_bytes", MB)
        m["sources.rows"] = counter_median(traced, "input_rows")
    m["exchange.shuffle_write_mb"] = counter_median(traced, "shuffle_write_bytes", MB)
    m["exchange.shuffle_records"] = counter_median(traced, "shuffle_records")
    m["exchange.shuffle_write_s"] = counter_median(traced, "shuffle_write_s")
    m["exchange.fetch_wait_s"] = counter_median(traced, "fetch_wait_s")
    m["exchange.max_partition_ratio"] = counter_median(traced, "max_partition_ratio")
    m["spark.jobs"] = counter_median(traced, "jobs")
    m["spark.stages"] = counter_median(traced, "stages")
    m["spark.tasks"] = counter_median(traced, "tasks")
    m["spark.gc_s"] = counter_median(traced, "gc_s")
    m["spark.spill_mb"] = counter_median(traced, "spill_bytes", MB)
    m["spark.peak_task_mem_mb"] = counter_median(traced, "peak_task_mem_bytes", MB)
    m["spark.peak_rss_mb"] = raw["peak_rss_mb"]
    m["trace.overhead_frac"] = median([t["wall_s"] for t in traced]) / m["job_s_p50"] - 1
    return m


# ---- run --------------------------------------------------------------------


def mem_total_kb():
    with open("/proc/meminfo") as fh:
        return next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))


def heap_size():
    """Driver heap from MemTotal, as the repository's test command sizes
    it: half the RAM in GiB, clamped to 2..8 GiB."""
    return "%dg" % min(8, max(2, mem_total_kb() // 2097152))


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except OSError:
        return None


JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def prune(data_root, keep):
    """Keeps the `keep` most recently used input sets."""
    ds = sorted((d for d in glob.glob(os.path.join(data_root, "*"))
                 if os.path.isdir(d)), key=os.path.getmtime, reverse=True)
    for d in ds[keep:]:
        shutil.rmtree(d, ignore_errors=True)


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    start = time.monotonic()

    try:
        classes, build_key = build.build()
        jars = build.spark_jars()
    except build.BuildError as e:
        print("perfbench: %s" % e, file=sys.stderr)
        return 2

    data_root = os.path.join(STATE, "data")
    if a.workload == "curation":
        import docs
        data, exp, gen_s = docs.ensure(data_root, a.seed)
    else:
        profile = "highcard" if a.workload == "wc_highcard" else "zipf"
        data, exp, gen_s = corpus.ensure(data_root, profile, a.seed)
    os.utime(data)
    prune(data_root, keep=4)

    work = os.path.join(STATE, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cpus = len(os.sched_getaffinity(0))
    heap = heap_size()
    log_path = os.path.join(work, "driver.log")
    cmd = (["java", "-Xmx" + heap, "-Djava.io.tmpdir=" + work,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] +
           [x for p in JAVA_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")] +
           ["-cp", classes + os.pathsep + os.path.join(jars, "*"),
            "perfbench.PerfBench", "--workload", a.workload,
            "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--data", data, "--work", work,
            "--cpus", str(cpus),
            # One set-up for curation: its cold first pass alone takes ~35 s.
            "--setups", str(1 if a.workload == "curation" else SETUPS),
            "--group-files", str(GROUP_FILES), "--mix", ",".join(MIX)])
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=max(10, DEADLINE_S - (time.monotonic() - start)))
        except subprocess.TimeoutExpired:
            print("perfbench: driver timed out; log %s" % log_path, file=sys.stderr)
            return 3
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        with open(log_path, errors="replace") as fh:
            sys.stderr.write(fh.read()[-4000:])
        print("perfbench: driver exited %d" % rc, file=sys.stderr)
        return 4
    with open(os.path.join(work, "raw.json")) as fh:
        raw = json.load(fh)

    # Output checks, outside the timed region.
    jobs = raw["jobs"] + raw["traced"]
    attempted = len(jobs)
    w = a.workload
    if w in ("wc_zipf", "wc_highcard"):
        got = sink_digest(os.path.join(work, "sink"))
        ok = got == (exp["tokens"], exp["distinct"], exp["digest"])
        failed = attempted if not ok else sum(
            1 for j in jobs if j["c"].get("output_rows") != exp["distinct"])
        job_tokens = [exp["tokens"]] * len(raw["jobs"])
        checks = {"sink": got, "expected": [exp["tokens"], exp["distinct"],
                                            exp["digest"]]}
    elif w == "wc_stream":
        landed = raw["extra"]["landed"]
        got = sink_digest(os.path.join(work, "stream_state"))
        deliveries = [0] * exp["files"]
        for g in range(landed):
            first = (g % -(-exp["files"] // GROUP_FILES)) * GROUP_FILES
            for f in range(first, min(first + GROUP_FILES, exp["files"])):
                deliveries[f] += 1
        want = corpus.delivered_digest(data, deliveries)
        ok = got == want
        failed = 0 if ok else attempted
        job_tokens = stream_job_tokens(exp, raw["extra"]["warm_arrivals"], landed)
        checks = {"state": got, "expected": list(want)}
    else:
        bad = check_oracle(data, os.path.join(work, "check"))
        failed = attempted if bad else 0
        job_tokens = [exp["tokens"]] * len(raw["jobs"])
        checks = {"oracle_mismatch": bad}

    if a.trace:
        metrics = per_layer(raw, exp, job_tokens)
        units = PER_LAYER
    else:
        metrics = end_to_end(raw)
        units = END_TO_END
    host = dict(raw["host"], nproc=cpus, mem_total_mb=mem_total_kb() // 1024,
                heap=heap, git_commit=git_commit(), source_digest=build_key)
    record = {"workload": w, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "host": host, "input": exp,
              "input_gen_s": gen_s, "checks": checks,
              "samples": {"jobs": len(raw["jobs"]), "traced": len(raw["traced"])},
              "metrics": metrics, "raw": raw}
    runs = os.path.join(STATE, "runs")
    os.makedirs(runs, exist_ok=True)
    record_path = os.path.join(runs, "%s-s%d-t%d.json" % (w, a.seed, a.trace))
    with open(record_path, "w") as fh:
        json.dump(record, fh)
    print("record: " + os.path.relpath(record_path, ROOT))
    print("host: " + json.dumps(host, sort_keys=True))
    print("samples: jobs=%d traced=%d input_gen_s=%.3f" % (
        len(raw["jobs"]), len(raw["traced"]), gen_s))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

#!/usr/bin/env python3
"""graft benchmark: one command, two workloads, checked outputs.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the program and
the benchmark with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Each run works in a fresh
directory under perfbench/.work/ and removes it at exit. The last
stdout line is the JSON record; see README.md for the metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
BUILD = os.path.join(WORK, "build")
CORES = 4
JVM_TIMEOUT_S = 170
WORKLOADS = ("cdc_stream", "serving_reads")

# cdc_stream warm-up envelopes; the measured trickle adds 20 envelopes/s
# per core for --seconds
WARM_ENVELOPES = gen.LATE_AFTER
# serving_reads tables are written from a fixed envelope set, so the
# golden results do not depend on the run's seed
SERVE_TABLE_SEED = 0
SERVE_TABLE_ENVELOPES = 2000

END_TO_END = (
    ("setup_s", "s"),
    ("throughput_per_s", "1/s"),
    ("latency_p50_ms", "ms"),
    ("latency_geomean_ms", "ms"),
    ("peak_rss_mb", "MB"),
)

SINKS = ("counts", "alerts", "mirror", "rank", "landing", "neardup")
STATEFUL = ("counts", "alerts", "rank", "landing", "neardup")
REQUESTS = ("trending", "timeline", "wordcloud", "search", "category_stats",
            "daily_counts", "state_range", "mirror_range", "vector_search")
LAYERS = ("model", "functions", "streaming", "operators", "api", "plans", "engine")

PER_LAYER = (
    [("model.parse_ms_per_1k", "ms"), ("model.dropped_unexplained", "count"),
     ("functions.fanout_ms_per_1k", "ms"), ("functions.keywords_per_envelope", "count")]
    + [(f"streaming.{s}.{m}", "ms") for s in SINKS
       for m in ("trigger_ms", "add_batch_ms", "planning_ms", "commit_ms")]
    + [(f"streaming.{s}.{m}", u) for s in STATEFUL
       for m, u in (("state_rows", "count"), ("state_mb", "MB"), ("late_rows_dropped", "count"))]
    + [("streaming.mirror.buckets_rewritten_per_trigger", "count"),
       ("streaming.mirror.bytes_written_per_trigger", "MB")]
    + [(f"streaming.{s}.apply_ms", "ms") for s in ("mirror", "counts", "rank")]
    + [("operators.curate_stream_ms", "ms"), ("operators.lsh_candidates_ms", "ms")]
    + [(f"api.{r}.{m}", "ms") for r in REQUESTS for m in ("p50_ms", "plan_ms_p50")]
    + [("serve.plan_share", "ratio"), ("sources.rows_read_per_row_returned", "ratio"),
       ("sources.bytes_read_per_request", "KB"), ("engine.jobs_per_request", "count")]
    + [("engine.exchanges", "count"), ("engine.shuffle_write_mb", "MB"),
       ("engine.spill_mb", "MB"), ("engine.task_cpu_s", "s"), ("engine.gc_s", "s"),
       ("engine.plan_s", "s"), ("engine.core_util", "ratio"), ("sources.scan_mb", "MB")]
    + [("stream.generator_late_ms_max", "ms"), ("stream.backlog_end", "count"),
       ("stream.eps_per_core", "1/s"), ("stream.trigger_ms_p50", "ms")]
    + [(f"layer.{l}.self_ms", "ms") for l in LAYERS]
    + [("trace.spans", "count"), ("trace.span_cost_us", "us"),
       ("trace.overhead_share", "ratio"), ("trace.e2e_latency_p50_ms", "ms")]
)


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def source_digest():
    """Hash of everything the build reads, so a stale build is redone."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt"),
            os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, log_path, env=None):
    """Run cmd in its own process group; kill the group on timeout and
    wait for it. Returns the exit code (None on timeout)."""
    with open(log_path, "wb") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True, env=env)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=30):
    with open(path, "rb") as f:
        return b"\n".join(f.read().splitlines()[-n:]).decode("utf-8", "replace")


def classpath():
    """Build with sbt when the sources changed; return the classpath."""
    digest = source_digest()
    stamp = os.path.join(BUILD, "digest")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.exists(stamp) and open(stamp).read() == digest and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log_path = os.path.join(BUILD, "sbt.log")
    log("[perfbench] building with sbt ...")
    code = run_bounded(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], HERE, 840, log_path)
    if code != 0:
        log(tail(log_path))
        raise SystemExit("[perfbench] build failed")
    lines = [l for l in open(log_path).read().splitlines()
             if "graftbench" not in l and ".jar" in l and not l.startswith("[")]
    if not lines:
        log(tail(log_path))
        raise SystemExit("[perfbench] no classpath in sbt output")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


JDK_OPENS = ("java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar")


def write_lines(path, lines):
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")


def prepare_inputs(args, gen_dir):
    """Seeded inputs for the workload; returns facts the report needs."""
    events, docs = gen.load_tables(os.path.join(HERE, "data"))
    facts = {}
    if args.workload == "cdc_stream":
        trickle = 20 * CORES * args.seconds
        lines = gen.envelopes(args.seed, WARM_ENVELOPES + trickle, events, docs)
        write_lines(os.path.join(gen_dir, "warm.jsonl"), lines[:WARM_ENVELOPES])
        write_lines(os.path.join(gen_dir, "trickle.jsonl"), lines[WARM_ENVELOPES:])
        facts["generated"] = len(lines)
        facts["malformed"] = sum(1 for l in lines if not _is_json(l))
    elif args.workload == "serving_reads":
        write_lines(os.path.join(gen_dir, "tables.jsonl"),
                    gen.envelopes(SERVE_TABLE_SEED, SERVE_TABLE_ENVELOPES, events, docs))
    return facts


def _is_json(line):
    try:
        json.loads(line)
        return True
    except ValueError:
        return False


def run_jvm(args, cp, run_dir, gen_dir, raw_path):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # fixed heap and young generation: with adaptive sizing the collector's
    # growth decisions swung peak RSS by a fifth from run to run
    cmd = [java, "-Xms2g", "-Xmx2g", "-Xmn600m"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(run_dir, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            f"-Dderby.system.home={run_dir}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", os.path.join(run_dir, "w"), "--data", os.path.join(HERE, "data"),
            "--gen", gen_dir, "--golden", os.path.join(HERE, "golden", f"{args.workload}.json"),
            "--out", raw_path]
    if args.write_golden:
        cmd.append("--write-golden")
    log_path = os.path.join(run_dir, "jvm.log")
    code = run_bounded(cmd, run_dir, JVM_TIMEOUT_S, log_path)
    if code != 0 or not os.path.exists(raw_path):
        log(tail(log_path, 60))
        raise SystemExit(f"[perfbench] workload JVM exited with {code}")
    with open(raw_path) as f:
        return json.load(f)


# per workload: the latency samples, the same split by operation type,
# and the throughput value behind the generic end-to-end names
E2E_SOURCES = {
    "cdc_stream": ("stream.freshness_ms", ["stream.freshness_ms"], "stream.eps"),
    "serving_reads": ("serve.latency_ms", [f"api.{r}.ms" for r in REQUESTS], "serve.rps"),
}


def end_to_end(workload, raw):
    samples, by_type, rate = E2E_SOURCES[workload]
    lat = raw["samples"].get(samples, [])
    v = raw["values"]
    if not lat or "setup_s" not in v:
        raise SystemExit("[perfbench] the workload produced no measurements")
    # the median of each operation type, types weighted equally: a plain
    # median of a mix of request types jumps between the types' levels
    medians = [stats.percentile(raw["samples"][k], 50) for k in by_type
               if raw["samples"].get(k)]
    return {
        "setup_s": v["setup_s"],
        "throughput_per_s": v[rate],
        "latency_p50_ms": stats.geomean(medians),
        "latency_geomean_ms": stats.geomean(lat),
        "peak_rss_mb": v["peak_rss_mb"],
    }


def p50_or_zero(xs):
    return stats.percentile(xs, 50) if xs else 0.0


def per_layer(workload, raw, facts, e2e):
    v, s = raw["values"], raw["samples"]
    out = {name: v.get(name, 0.0) for name, _ in PER_LAYER}
    for name, _ in PER_LAYER:
        if name in s:
            out[name] = p50_or_zero(s[name])
    out["stream.trigger_ms_p50"] = p50_or_zero(s.get("stream.trigger_ms", []))
    if workload == "cdc_stream":
        out["model.dropped_unexplained"] = (
            v.get("model.parsed_rows", 0) - (facts["generated"] - facts["malformed"]))
        out["stream.eps_per_core"] = v.get("stream.eps", 0.0) / CORES
    for r in REQUESTS:
        out[f"api.{r}.p50_ms"] = p50_or_zero(s.get(f"api.{r}.ms", []))
        out[f"api.{r}.plan_ms_p50"] = p50_or_zero(s.get(f"api.{r}.plan_ms", []))
    spans = raw["spans"]
    for layer, ms in stats.layer_self_ms(spans).items():
        if f"layer.{layer}.self_ms" in out:
            out[f"layer.{layer}.self_ms"] = ms
    out["trace.spans"] = len(spans)
    # recording cost of all spans over the measured window
    out["trace.overhead_share"] = (len(spans) * v.get("trace.span_cost_us", 0.0)
                                   / (v.get("engine.wall_s", 1.0) * 1e6))
    # the traced run's headline; the untraced runs' median minus this is
    # the tracing overhead seen end to end
    out["trace.e2e_latency_p50_ms"] = e2e["latency_p50_ms"]
    return out


def baseline_verdict(raw):
    eps_core = raw["values"].get("stream.eps", 0.0) / CORES
    trig = p50_or_zero(raw["samples"].get("stream.trigger_ms", []))
    ok = eps_core >= 20 and 0 < trig < 1000
    return (f"[perfbench] BASELINE.md: {eps_core:.1f} envelopes/s/core (needs >= 20), "
            f"trigger p50 {trig:.0f} ms (needs < 1000 ms): {'PASS' if ok else 'FAIL'}")


# per workload: the workload-specific names of the throughput and latency
NAMES = {"cdc_stream": ("stream.eps", "stream.freshness"),
         "serving_reads": ("serve.rps", "serve.latency")}


def named_report(workload, raw, e2e):
    """The end-to-end figures under their workload names, for people.
    Tail percentiles are printed with the sample count; the highest one
    that leaves ten samples beyond it is named by `tail_supported_pct`."""
    rate_name, lat_name = NAMES[workload]
    lat = raw["samples"][E2E_SOURCES[workload][0]]
    rows = [(rate_name, e2e["throughput_per_s"], "1/s")]
    rows += [(f"{lat_name}_p{p}_ms", stats.percentile(lat, p), "ms") for p in (50, 95, 99)]
    rows += [(f"{lat_name}.samples", len(lat), "count"),
             (f"{lat_name}.tail_supported_pct", stats.tail_percentile(len(lat)) or 0, "%"),
             ("failed_ratio", raw["failed"] / max(1, raw["attempted"]), "ratio")]
    return rows


def _terminate(signum, frame):
    # unwind through the finally blocks: they stop the JVM and clean up
    raise SystemExit(f"[perfbench] stopped by signal {signum}")


def main(argv=None):
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--write-golden", action="store_true",
                    help="record this run's results as the golden values")
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise SystemExit("[perfbench] no graft sources next to the benchmark; "
                         "run from the root of a graft checkout")

    cp = classpath()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}-{int(time.time() * 1000)}")
    gen_dir = os.path.join(run_dir, "gen")
    os.makedirs(gen_dir)
    try:
        facts = prepare_inputs(args, gen_dir)
        raw = run_jvm(args, cp, run_dir, gen_dir, os.path.join(run_dir, "raw.json"))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = end_to_end(args.workload, raw)
    failed = raw["failed"]
    layers = per_layer(args.workload, raw, facts, e2e)
    if args.workload == "cdc_stream" and layers["model.dropped_unexplained"] != 0:
        failed += 1
        raw["errors"].append("model: envelopes dropped without explanation")
    for err in raw["errors"]:
        log(f"[perfbench] failure: {err}")
    units = dict(END_TO_END)
    for name, value in e2e.items():
        print(f"{name:40s} {value:14.4f} {units[name]}")
    for name, value, unit in named_report(args.workload, raw, e2e):
        print(f"{name:40s} {value:14.4f} {unit}")
    if args.trace:
        for name, unit in PER_LAYER:
            print(f"{name:56s} {layers[name]:14.4f} {unit}")
    print(baseline_verdict(raw) if args.workload == "cdc_stream"
          else "[perfbench] BASELINE.md: stream budget not measured by this workload")
    metrics = ({n: (layers[n], u) for n, u in PER_LAYER} if args.trace
               else {n: (e2e[n], u) for n, u in END_TO_END})
    print(stats.record(failed == 0, raw["attempted"], min(failed, raw["attempted"]), metrics))


if __name__ == "__main__":
    main()

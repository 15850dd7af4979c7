#!/usr/bin/env python3
"""zenospark crawl benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload bfs-wide --seed 42 --seconds 10 --trace 0

Run from the repository root. Builds the repo and the benchmark from source
into .bench_build/ (see build.py), runs one process at local[N] with
N = the usable CPU count, checks the crawl's outputs, prints a table of
every metric with its unit and, as the last line, one JSON object. Exits
non-zero when a correctness check fails. See perfbench/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import accounting as acc  # noqa: E402
import build  # noqa: E402

WORKLOADS = ("bfs-wide", "frontier-deep")
DEFAULT_SEED = 42
DEADLINE_S = 170          # a run must end within 180 s of its start
FIRST_RUN_DEADLINE_S = 880  # ... or 900 s when it also builds

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# metric -> unit; the end-to-end set is BENCHMARK.json's
END_TO_END = {
    "urls_per_s": "URL/s",
    "wave_p50_s": "s",
    "cpu_s_per_murl": "s",
    "store_bytes_per_url": "B",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=DEFAULT_SEED)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def cores():
    return len(os.sched_getaffinity(0))


def run_jvm(classpath, args, out_dir, deadline):
    """Run the measuring JVM; returns its result dict or None on a failure
    (non-zero exit or deadline kill). Always waits for the process."""
    cmd = (["java", "-Xms3g", "-Xmx3g", "-Xmn1g", "-Xss4m", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(out_dir, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in JVM_OPENS]
           + ["-cp", classpath, "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cores", str(cores()), "--out", out_dir])
    os.makedirs(os.path.join(out_dir, "tmp"), exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=out_dir, stdout=sys.stderr,
                            start_new_session=True)

    def stop(signum=None, frame=None):
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        if signum is not None:
            sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop)
    try:
        code = proc.wait(timeout=max(10.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        stop()
        print("perfbench: run killed at its deadline", file=sys.stderr)
        return None
    result_file = os.path.join(out_dir, "result.json")
    if code != 0 or not os.path.exists(result_file):
        print(f"perfbench: measuring JVM exited with {code}", file=sys.stderr)
        return None
    with open(result_file) as f:
        return json.load(f)


def timed_waves(r):
    return [w for w in r["waves"] if w["timed"]]


def end_to_end(r):
    eps = r["episodes"]
    work = sum(e["work"] for e in eps)
    wall = sum(e["wall_s"] for e in eps)
    walls = sorted(w["wall_s"] for w in timed_waves(r))
    return {
        "urls_per_s": work / wall,
        "wave_p50_s": acc.median(walls),
        "cpu_s_per_murl": sum(e["cpu_s"] for e in eps) / (work / 1e6),
        "store_bytes_per_url": acc.median(
            [e["store_bytes"] / max(1, e["check"]["seen_rows"]) for e in eps]),
        # to the first timed step: the session start, the crawl set-up and
        # the untimed warm-up wave, of the first episode
        "setup_s": r["session_ready_s"] + r["setup_s"][0] + r["warmup_s"][0],
        "peak_rss_mb": r["peak_rss_kb"] / 1024.0,
    }, {"wave_tail_s": (walls[-1], f"max of {len(walls)} waves"),
        "timed_waves": len(walls), "timed_s": wall, "work": work}


def per_layer(r, e2e):
    """Per-layer metrics of a traced run, per timed wave where a sum."""
    actions = acc.group_actions(r["executions"], r["jobs"])
    spans = r["spans"]
    steps = [s for s in spans if s["name"].startswith("loop.step[")]
    inits = [s for s in spans if s["name"] == "loop.init"]
    jobs = [(j["start_ms"], j["end_ms"]) for j in r["jobs"] if j["end_ms"] >= 0]
    n = len(steps)

    def in_step(a, s):
        return s["start_ms"] <= a["start_ms"] <= s["end_ms"]

    compact = [a for a in actions if a["kind"] in ("compact_bg", "compact_valve")]
    wave_actions = [a for a in actions if a not in compact and any(in_step(a, s) for s in steps)]

    def total(kind, key):
        return sum(a[key] for a in wave_actions if a["kind"] == kind)

    def wall(kind, pool=wave_actions):
        return sum((a["end_ms"] - a["start_ms"]) / 1e3 for a in pool if a["kind"] == kind)

    logs = [a for a in wave_actions if a["kind"] == "log"]
    deltas = [a for a in wave_actions if a["kind"] == "delta"]
    counters = [w["counters"] for w in timed_waves(r)]
    claimed = sum(c["claimed"] for c in counters)
    log_rows = sum(a["write"].get("rows", 0) for a in logs)
    links_out = log_rows - claimed
    passed = links_out - sum(c["excluded"] for c in counters)
    queued = sum(c["queued"] for c in counters)
    serial = [acc.uncovered(s["start_ms"], s["end_ms"], jobs) / 1e3 for s in steps]
    jobs_per_wave = [sum(1 for j in r["jobs"] if s["start_ms"] <= j["start_ms"] <= s["end_ms"])
                     for s in steps]
    timed_wall = sum(e["wall_s"] for e in r["episodes"])
    task_run = sum(a["run_s"] for a in wave_actions) + sum(a["run_s"] for a in compact)
    files = [sum(w["files"].values()) for w in timed_waves(r)]
    micro = r["micro"]
    m = {
        "loop.init_s": acc.median([(s["end_ms"] - s["start_ms"]) / 1e3 for s in inits]),
        "loop.jobs_per_wave": acc.median(jobs_per_wave),
        "loop.driver_serial_s": acc.median(serial),
        "loop.util": task_run / (r["cores"] * timed_wall),
        "loop.await_bg_s": sum(e["await_bg_s"] for e in r["episodes"]),
        "loop.seeds_finished_s": wall("seeds_finished") / n,
        "wave.log_s": wall("log") / n,
        "wave.log_task_s": total("log", "run_s") / n,
        "wave.log_cpu_s": total("log", "cpu_s") / n,
        "wave.fetch_rows": sum(acc.scan_metric(a, {"web"}, "rows") for a in logs) / n,
        "wave.corpus_bytes_read": sum(acc.scan_metric(a, {"web"}, "bytes") for a in logs) / n,
        "wave.links_out": links_out / n,
        "wave.log_bytes": sum(a["write"].get("bytes", 0) for a in logs) / n,
        "wave.claim_rows": claimed / n,
        "wave.frontier_rows_scanned": sum(acc.scan_metric(a, acc.FRONTIER_TABLES, "rows")
                                          for a in logs) / n,
        "wave.finish_s": wall("delta") / n,
        "wave.finish_task_s": total("delta", "run_s") / n,
        "wave.finish_cpu_s": total("delta", "cpu_s") / n,
        "wave.seen_rows_scanned": sum(acc.scan_metric(a, acc.SEEN_TABLES, "rows")
                                      for a in deltas) / n,
        "wave.dedupe_hit_ratio": (passed - queued) / passed if passed > 0 else 0.0,
        "wave.shuffle_bytes": sum(a["shuffle_bytes"] for a in wave_actions) / n,
        "wave.delta_bytes": sum(a["write"].get("bytes", 0) for a in deltas) / n,
        "frontier.files": files[-1],
        "frontier.compactions": sum(e["compactions"] for e in r["episodes"]),
        "frontier.valve_fired": sum(e["valve_dirs"] for e in r["episodes"]),
        "frontier.compact_s": wall("compact_bg", compact) + wall("compact_valve", compact),
        "frontier.compact_task_s": sum(a["run_s"] for a in compact),
        "frontier.compact_bytes": sum(a["write"].get("bytes", 0) for a in compact),
        "canon.canonicalize_ns": micro["canonicalize_ns"],
        "extract.page_us": micro["extract_page_us"],
        "extract.links_per_page": micro["links_per_page"],
        "gen.corpus_build_s": r["gen_s"],
        "trace.urls_per_s": e2e["urls_per_s"],
    }
    for name, f in r.get("functions", {}).items():
        m[f"functions.{name}_s"] = f["s"]
    # a step's self time: its wall minus the Spark actions it ran
    self_s = [acc.uncovered(s["start_ms"], s["end_ms"],
                            [(a["start_ms"], a["end_ms"]) for a in wave_actions
                             if in_step(a, s)]) / 1e3 for s in steps]
    per_wave = [{"wave": w["wave"], "wall_s": w["wall_s"], "driver_serial_s": s, "self_s": o,
                 "jobs": j, "files": f}
                for w, s, o, j, f in zip(timed_waves(r), serial, self_s, jobs_per_wave, files)]
    return m, per_wave


PER_LAYER_UNITS = {
    "loop.init_s": "s", "loop.jobs_per_wave": "count", "loop.driver_serial_s": "s",
    "loop.util": "ratio", "loop.await_bg_s": "s", "loop.seeds_finished_s": "s",
    "wave.log_s": "s", "wave.log_task_s": "s", "wave.log_cpu_s": "s",
    "wave.fetch_rows": "rows", "wave.corpus_bytes_read": "B", "wave.links_out": "rows",
    "wave.log_bytes": "B", "wave.claim_rows": "rows", "wave.frontier_rows_scanned": "rows",
    "wave.finish_s": "s", "wave.finish_task_s": "s", "wave.finish_cpu_s": "s",
    "wave.seen_rows_scanned": "rows", "wave.dedupe_hit_ratio": "ratio",
    "wave.shuffle_bytes": "B", "wave.delta_bytes": "B",
    "frontier.files": "count", "frontier.compactions": "count",
    "frontier.valve_fired": "count", "frontier.compact_s": "s",
    "frontier.compact_task_s": "s", "frontier.compact_bytes": "B",
    "canon.canonicalize_ns": "ns", "extract.page_us": "us",
    "extract.links_per_page": "count", "gen.corpus_build_s": "s",
    "trace.urls_per_s": "URL/s",
}
# the functions layer's operators (perfbench.Main.functions), timed in s
FUNCTIONS = ("dedup_exact", "dedup_minhash", "dedup_simhash", "dedup_jaccard_capped",
             "text_quality", "lang_id", "token_counts", "ann_lsh_buckets")
PER_LAYER_UNITS.update({f"functions.{f}_s": "s" for f in FUNCTIONS})


def action_spans(r):
    """One span per Spark action, parented to the loop span it started in
    (a compactor action to the wave during which it started), else to the
    run span."""
    run = next(s for s in r["spans"] if s["name"] == "run")
    loop_spans = [s for s in r["spans"] if s is not run]
    next_id = max(s["id"] for s in r["spans"]) + 1
    spans = []
    for a in sorted(acc.group_actions(r["executions"], r["jobs"]), key=lambda a: a["start_ms"]):
        parent = next((s["id"] for s in loop_spans
                       if s["start_ms"] <= a["start_ms"] <= s["end_ms"]), run["id"])
        spans.append({"id": next_id, "name": f"spark.{a['kind']}", "start_ms": a["start_ms"],
                      "end_ms": a["end_ms"], "parent": parent, "run_id": r["run_id"],
                      "attrs": {"writes": a["write"].get("dir", ""), "task_s": a["run_s"]}})
        next_id += 1
    return spans


def check(r, args, state_dir):
    """Correctness checks; returns a list of failure messages."""
    problems = []
    if r["failure"]:
        problems.append(f"crawl threw: {r['failure']}")
    eps = r["episodes"]
    if not eps:
        return problems + ["no episode completed"]
    outputs = []
    for e in eps:
        waves = [w["counters"] for w in r["waves"] if w["episode"] == e["episode"]]
        c = e["check"]
        outputs.append({"counters": waves, "seen_fp": c["seen_fp"],
                        "frontier_fp": c["frontier_fp"]})
        if c["max_claims_per_host_wave"] > c["budget_per_host_wave"]:
            problems.append(f"{c['max_claims_per_host_wave']} claims of one host in one "
                            f"wave, budget {c['budget_per_host_wave']}")
        if c["frontier_dup_keys"]:
            problems.append(f"{c['frontier_dup_keys']} duplicate frontier url_canon keys")
        if e["work"] <= 0:
            problems.append("no work done")
    if any(o != outputs[0] for o in outputs):
        problems.append("episodes of one run disagree on counters or fingerprints")
    # every run of a workload and seed built from the same sources must
    # agree; the default seed must also match the outputs recorded
    # with the benchmark. Traced runs also compare the functions layer's
    # output row counts.
    records = {"": outputs[0]}
    if "functions" in r:
        records["-functions"] = {k: f["rows"] for k, f in r["functions"].items()}
    for suffix, record in records.items():
        seen_file = os.path.join(state_dir, f"{args.workload}-{args.seed}{suffix}.json")
        references = [seen_file]
        if args.seed == DEFAULT_SEED:
            references.append(os.path.join(HERE, "expected", f"{args.workload}{suffix}.json"))
        for ref in references:
            if os.path.exists(ref):
                with open(ref) as f:
                    if json.load(f) != record:
                        problems.append(f"outputs differ from {os.path.relpath(ref)}")
        if not os.path.exists(seen_file) and not problems:
            os.makedirs(state_dir, exist_ok=True)
            with open(seen_file, "w") as f:
                json.dump(record, f, indent=1)
    return problems


def main():
    t_start = time.time()
    args = parse_args()
    root = os.getcwd()
    for need in ("src/main/scala/graft", "perfbench/src"):
        if not os.path.isdir(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a zenospark checkout")
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    first = not os.path.exists(os.path.join(out, "bench", ".stamp"))
    try:
        classpath, stamp = build.build(root, out)
    except (subprocess.CalledProcessError, OSError) as e:
        fail(f"build failed: {e}")
    deadline = t_start + (FIRST_RUN_DEADLINE_S if first else DEADLINE_S)

    run_dir = os.path.join(out, "runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        r = run_jvm(classpath, args, run_dir, deadline)
        if r is not None and args.trace:
            trace_file = os.path.join(out, "traces", os.path.basename(run_dir) + ".json")
            os.makedirs(os.path.dirname(trace_file), exist_ok=True)
            with open(trace_file, "w") as f:
                json.dump({"run_id": r["run_id"], "spans": r["spans"] + action_spans(r),
                           "jobs": r["jobs"], "executions": r["executions"]}, f)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    if r is None or not r["episodes"]:
        why = "the measuring JVM failed" if r is None else f"no episode completed: {r['failure']}"
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        print(f"perfbench: {why}", file=sys.stderr)
        sys.exit(1)

    problems = check(r, args, os.path.join(out, "outputs", stamp[:16]))
    e2e, extra = end_to_end(r)
    attempted = extra["timed_waves"]
    steal = sum(e["steal_s"] for e in r["episodes"])
    print(f"# {args.workload} seed={args.seed} cores={r['cores']} "
          f"trace={args.trace} waves={attempted} work={extra['work']} "
          f"steal_s={steal:.2f} (hypervisor steal over the timed window, all CPUs)")
    c = r["episodes"][0]["check"]
    print(f"# checks: max claims per host per wave {c['max_claims_per_host_wave']} "
          f"(budget {c['budget_per_host_wave']}), duplicate frontier keys "
          f"{c['frontier_dup_keys']}, seen {c['seen_rows']}, frontier {c['frontier_rows']}")
    print(f"# phases (s): session {r['session_ready_s']:.1f}, corpus {r['gen_s']:.1f}, "
          f"set-up {sum(r['setup_s']):.1f}, warm-up wave {sum(r['warmup_s']):.1f}, "
          f"timed {extra['timed_s']:.1f}, rest {r['run_span_s'] - r['gen_s'] - sum(r['setup_s']) - sum(r['warmup_s']) - extra['timed_s']:.1f}, "
          f"whole run {time.time() - t_start:.1f}")
    for name, value in e2e.items():
        print(f"{name:<24} {value:>14.4f} {END_TO_END[name]}")
    tail, how = extra["wave_tail_s"]
    print(f"{'wave_tail_s':<24} {tail:>14.4f} s ({how}; no percentile has ten waves beyond it)")
    print(f"{'gen.corpus_build_s':<24} {r['gen_s']:>14.4f} s (excluded from setup_s)")

    if args.trace:
        if r["open_jobs_after_drain"]:
            problems.append(f"{r['open_jobs_after_drain']} jobs still open after the drain")
        layers, per_wave = per_layer(r, e2e)
        w = r["window"]
        print(f"window stamp (graft.Bench.windowProbe, before the session): "
              f"serial_over_model={w['serial_over_model']:.2f} "
              f"parallel_over_model={w['parallel_over_model']:.2f}")
        for pw in per_wave:
            print(f"  wave {pw['wave']}: wall={pw['wall_s']:.3f}s "
                  f"driver_serial={pw['driver_serial_s']:.3f}s "
                  f"self_outside_actions={pw['self_s']:.3f}s jobs={pw['jobs']} "
                  f"files={pw['files']}")
            if not 0 <= pw["driver_serial_s"] <= pw["wall_s"] + 0.05:
                problems.append(f"driver_serial_s out of range on wave {pw['wave']}")
        for name, value in layers.items():
            print(f"{name:<28} {value:>16.4f} {PER_LAYER_UNITS[name]}")
        untraced = os.path.join(out, "untraced", f"{args.workload}.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["urls_per_s"]
            print(f"tracing overhead: urls_per_s traced={e2e['urls_per_s']:.1f} "
                  f"untraced={base:.1f} difference={base - e2e['urls_per_s']:.1f} URL/s")
        metrics = {k: {"value": v, "unit": PER_LAYER_UNITS[k]} for k, v in layers.items()}
    else:
        os.makedirs(os.path.join(out, "untraced"), exist_ok=True)
        with open(os.path.join(out, "untraced", f"{args.workload}.json"), "w") as f:
            json.dump({"seed": args.seed, "urls_per_s": e2e["urls_per_s"]}, f)
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}

    failed = attempted if problems else 0
    print(f"{'failed_ratio':<24} {failed / attempted:>14.4f} ratio")
    for p in problems:
        print(f"CHECK FAILED: {p}", file=sys.stderr)
    print(json.dumps({"correct": not problems, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(1 if problems else 0)


if __name__ == "__main__":
    main()

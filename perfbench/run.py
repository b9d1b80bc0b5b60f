"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --workload W --record   # rewrite expected digests

Builds the engine and harness (perfbench/build.py), writes the seeded
inputs (perfbench/gen_inputs.py) into a private run directory under
.bench_build/runs, and runs harness JVMs there, each with its own emptied
java.io.tmpdir and spark.local.dir: in an untraced run, SETUP_SAMPLES - 1
setup-only JVMs, then the JVM that runs the passes. Every face output of
every pass is checked against perfbench/expected.json, and the PageRank
kernel against its invariants and expected rank vector. The last stdout
line is the result JSON; the line before it carries the host probe, host
and Spark confs (not gated).
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402
import gen_inputs  # noqa: E402

WORKLOADS = ["graph_supersteps", "streaming_microbatch"]
GRAPH_COPIES = 8
TARGET_FACES = ["q65_sessionize_stream", "qbb_dedup_stream_lsh"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]
DEADLINE_S = 170
# setup_s is the median of this many setups, each timed from the start of
# its own JVM process
SETUP_SAMPLES = 2


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run_jvm(cp, workload, inputs, out, args, run_id, deadline, extra=()):
    """One harness JVM with its private tmpdir and local dir under `out`;
    returns its result.json."""
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(out, "local"))
    cmd = ["java", "-XX:-UsePerfData", "-Xms3g", "-Xmx3g", "-Xss8m",
           f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", ":".join(cp), "graft.perfbench.Harness",
            "--workload", workload, "--inputs", inputs, "--out", out,
            "--expected", os.path.join(HERE, "expected.json"),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--run-id", run_id, *extra]
    log_path = os.path.join(out, "jvm.log")
    with open(log_path, "w") as log:
        cmd += ["--launched-ms", str(int(time.time() * 1000))]
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                cwd=out)
        try:
            rc = proc.wait(timeout=max(10, deadline - time.time()))
        except subprocess.TimeoutExpired:
            raise SystemExit("perfbench: harness ran past the deadline")
        finally:
            # also on SIGTERM (see main) and ^C: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
            for d in ("tmp", "local"):
                shutil.rmtree(os.path.join(out, d), ignore_errors=True)
    result = os.path.join(out, "result.json")
    if rc != 0 or not os.path.exists(result):
        sys.stderr.write(open(log_path).read()[-3000:])
        raise SystemExit(f"perfbench: harness exited {rc}")
    with open(result) as fh:
        return json.load(fh)


def check(res, expected):
    """(attempted, failed, reasons) over every step execution of the run."""
    attempted = failed = 0
    reasons = []
    for p in res["passes"]:
        for s in p["steps"]:
            attempted += 1
            why = None
            if not s["ok"]:
                why = s.get("error", "failed")
            elif s["kernel"]:
                if s.get("check") != "ok":
                    why = s.get("check")
            else:
                exp = expected.get(s["name"])
                if exp is None:
                    why = "no expected digest"
                elif [s["rows"], s["digest"]] != [exp["rows"], exp["digest"]]:
                    why = f"digest {s['rows']}/{s['digest']} != " \
                          f"{exp['rows']}/{exp['digest']}"
            if why:
                failed += 1
                reasons.append(f"{p['kind']} {s['name']}: {why}")
    return attempted, failed, reasons


def warm_time(passes):
    """Sum over steps of each step's median time across the passes."""
    return sum(median([s["wall_s"] for s in step])
               for step in zip(*(p["steps"] for p in passes)))


def end_to_end(res, setups):
    warm = [p for p in res["passes"] if p["kind"] == "warm"]
    cold = next(p for p in res["passes"] if p["kind"] == "cold")
    return {
        "setup_s": (median([r["setup_s"] for r in [res, *setups]]), "s"),
        "cold_pass_s": (cold["wall_s"], "s"),
        "warm_pass_s": (warm_time(warm), "s"),
    }


def per_layer(res, fail_frac):
    traced = [p for p in res["passes"] if p["kind"] == "traced"]
    untraced = [p for p in res["passes"] if p["kind"] == "untraced"]
    cold = next(p for p in res["passes"] if p["kind"] == "cold")

    def per_pass(key, scale=1.0):
        return median([sum(s.get(key, 0.0) for s in p["steps"]) * scale
                       for p in traced])

    def step_wall(passes, name):
        return median([s["wall_s"] for p in passes for s in p["steps"]
                       if s["name"] == name])

    run_s = per_pass("run_ms", 1e-3)
    cpu_s = per_pass("cpu_ns", 1e-9)
    kernels = [s for p in traced for s in p["steps"] if s["kernel"]]
    m = {
        "session.start_s": (res["session_start_s"], "s"),
        "jvm.cpu_s": (median([p["cpu_s"] for p in traced]), "s"),
        "jvm.jit_s": (median([p["jit_s"] for p in traced]), "s"),
        "tables.register_s": (res["register_s"], "s"),
        "catalyst.analysis_ms": (per_pass("analysis_ms"), "ms"),
        "catalyst.optimization_ms": (per_pass("optimization_ms"), "ms"),
        "catalyst.planning_ms": (per_pass("planning_ms"), "ms"),
        "face.build_s": (per_pass("build_s"), "s"),
        "face.exec_s": (per_pass("exec_s"), "s"),
        "scheduler.jobs": (per_pass("jobs"), "count"),
        "scheduler.stages": (per_pass("stages"), "count"),
        "scheduler.tasks": (per_pass("tasks"), "count"),
        "scheduler.sched_delay_s": (per_pass("sched_delay_ms", 1e-3), "s"),
        "task.run_s": (run_s, "s"),
        "task.cpu_s": (cpu_s, "s"),
        "task.gc_s": (per_pass("gc_ms", 1e-3), "s"),
        "task.cpu_per_run": (cpu_s / run_s if run_s else 0.0, "ratio"),
        "shuffle.write_mb": (per_pass("shuffle_write_b", 2 ** -20), "MB"),
        "shuffle.read_mb": (per_pass("shuffle_read_b", 2 ** -20), "MB"),
        "spill.mem_mb": (per_pass("spill_mem_b", 2 ** -20), "MB"),
        "spill.disk_mb": (per_pass("spill_disk_b", 2 ** -20), "MB"),
        "tables.bytes_read": (per_pass("bytes_read"), "bytes"),
        "graph.pagerank_s": (step_wall(traced, "pagerank"), "s"),
        "graph.jobs_per_kernel": (
            sum(s.get("jobs", 0.0) for s in kernels) / len(kernels)
            if kernels else 0.0, "count"),
        "graph.edge_build_s": (step_wall([cold], "q30_cograph_edges"), "s"),
        "graph.brandes_s": (step_wall([cold], "q33_betweenness"), "s"),
        "stream.batches": (per_pass("stream_batches"), "count"),
        "stream.trigger_ms": (per_pass("stream_trigger_ms"), "ms"),
        "stream.add_batch_ms": (per_pass("stream_add_batch_ms"), "ms"),
        "stream.query_planning_ms": (
            per_pass("stream_query_planning_ms"), "ms"),
        "stream.wal_commit_ms": (per_pass("stream_wal_commit_ms"), "ms"),
        "stream.commit_offsets_ms": (
            per_pass("stream_commit_offsets_ms"), "ms"),
        "stream.latest_offset_ms": (per_pass("stream_latest_offset_ms"), "ms"),
        "stream.state_rows": (per_pass("stream_state_rows"), "count"),
        "stream.state_commit_ms": (per_pass("stream_state_commit_ms"), "ms"),
        "cache.persistent_rdds": (float(res["persistent_rdds"]), "count"),
        "cache.mb": (res["storage_mb"], "MB"),
        "cache.hit_faces": (median([
            sum(1 for s in p["steps"] if s.get("cache_hit")) for p in traced]),
            "count"),
        "cached_mb": (res["cached_mb"], "MB"),
        "fail_frac": (fail_frac, "ratio"),
    }
    for f in TARGET_FACES:
        m[f"face.{f}.warm_s"] = (step_wall(untraced, f), "s")
    tw, uw = warm_time(traced), warm_time(untraced)
    m["trace.overhead_frac"] = (tw / uw - 1.0 if uw else 0.0, "ratio")
    return m


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true",
                    help="write the cold pass's digests to expected.json")
    args = ap.parse_args()
    t_start = time.time()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(os.path.join(os.getcwd(), "src", "main", "scala")):
        raise SystemExit("perfbench: run from the root of a graft checkout "
                         "(src/main/scala not found)")
    os.makedirs(build.BUILD, exist_ok=True)
    cp = build.build()

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(build.BUILD, "runs", run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    inputs = os.path.join(run_dir, "inputs")
    os.makedirs(inputs)
    deadline = t_start + DEADLINE_S
    try:
        gen_inputs.permute_tables(inputs, args.seed)
        if args.workload == "graph_supersteps":
            gen_inputs.synth_graph(inputs, args.seed, GRAPH_COPIES)
        # traced runs report no setup_s, so they take one setup sample
        setups = [] if args.trace or args.record else [
            run_jvm(cp, args.workload, inputs,
                    os.path.join(run_dir, f"setup{i}"), args, run_id,
                    deadline, ["--setup-only", "1"])
            for i in range(1, SETUP_SAMPLES)]
        res = run_jvm(cp, args.workload, inputs, run_dir, args, run_id,
                      deadline)
    finally:
        shutil.rmtree(inputs, ignore_errors=True)

    exp_path = os.path.join(HERE, "expected.json")
    expected = json.load(open(exp_path)) if os.path.exists(exp_path) else {}
    if args.record:
        cold = next(p for p in res["passes"] if p["kind"] == "cold")
        for s in cold["steps"]:
            if not s["kernel"] and s["ok"]:
                expected[s["name"]] = {"rows": s["rows"],
                                       "digest": s["digest"]}
        with open(exp_path, "w") as fh:
            json.dump(dict(sorted(expected.items())), fh, indent=1)
            fh.write("\n")

    attempted, failed, reasons = check(res, expected)
    for r in reasons:
        sys.stderr.write(f"perfbench: FAIL {r}\n")
    fail_frac = failed / attempted
    metrics = (per_layer(res, fail_frac) if args.trace
               else end_to_end(res, setups))
    side = {"run_id": run_id, "host_probe": res["host_probe"],
            "host": res["host"]}
    with open(os.path.join(run_dir, "summary.json"), "w") as fh:
        json.dump({**side, "attempted": attempted, "failed": failed,
                   "reasons": reasons, "metrics": metrics}, fh, indent=1)
    print(json.dumps(side))
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()}}))


if __name__ == "__main__":
    main()

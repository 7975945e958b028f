#!/usr/bin/env python3
"""One run of the graft benchmark.

    python3 perfbench/run.py --workload tile-kernels --seed 1 --trace 0

Builds the benchmark (the program's sources plus perfbench/src) with sbt when
the sources changed, prepares the fixtures once per build, runs one JVM for
the workload, checks its outputs against DuckDB derivations made apart from
the program, appends a run record to perfbench/.state/records.jsonl and prints
the result as one JSON line, the last line of standard output.
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
ROOT = os.path.dirname(HERE)
STATE = os.path.join(HERE, ".state")
HEAP = "3g"
RUN_LIMIT_S = 170

WORKLOADS = ["tile-kernels", "checkpoint-chain"]

# (name, unit, better, bound). Both are CPU seconds of the benchmark JVM: on a
# shared host the wall times of the same code moved by half between sets of
# runs while CPU seconds held. Wall times are kept in the run record
# (setup_wall_s, ops_per_s, op_s_p50) and the traced run (trace.op_s).
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("op_cpu_s", "s", "lower", 0.25),
]

SPECKLE = ["lee", "refinedlee", "leesigma", "gammamap", "frost", "boxcar"]
CHAIN_STAGES = ["split", "span_cells", "calibration", "speckle_lee", "terrain_correction", "mosaic"]

# (name, unit, better)
PER_LAYER = (
    [("gen.ensure_s", "s", "lower"),
     ("spark.session_s", "s", "lower"),
     ("plan.build_s", "s", "lower"),
     ("plan.physical_s", "s", "lower"),
     ("plan.codegen_fallbacks", "count", "lower"),
     ("plan.codegen_compiles", "count", "lower"),
     ("exec.warmup_s", "s", "lower"),
     ("exec.warmup_rounds", "count", "lower"),
     ("exec.jobs", "count", "lower"),
     ("exec.stages", "count", "lower"),
     ("exec.tasks", "count", "lower"),
     ("exec.task_cpu_s", "s", "lower"),
     ("exec.task_run_s", "s", "lower"),
     ("exec.idle_s", "s", "lower"),
     ("exec.core_busy", "cores", "higher"),
     ("exec.spill_bytes", "bytes", "lower"),
     ("scan.input_bytes", "bytes", "lower"),
     ("scan.records", "count", "lower"),
     ("exchange.shuffle_write_bytes", "bytes", "lower"),
     ("exchange.shuffle_read_bytes", "bytes", "lower"),
     ("exchange.fetch_wait_s", "s", "lower"),
     ("exchange.broadcast_bytes", "bytes", "lower"),
     ("exchange.broadcast_build_s", "s", "lower")]
    + [(f"kernels.{k}.ns_per_px", "ns/px", "lower")
       for k in SPECKLE + ["intensity", "halo_strip", "halo_assemble", "rollup_q"]]
    + [("kernels.cpu_share", "ratio", "higher"),
       ("join.candidates", "count", "lower"),
       ("join.results", "count", "higher"),
       ("join.candidates_per_result", "ratio", "lower")]
    + [(f"lineage.stage_s.{s}", "s", "lower") for s in CHAIN_STAGES]
    + [("lineage.replay_s", "s", "lower"),
       ("lineage.commit_s", "s", "lower"),
       ("lineage.bytes_written", "bytes", "lower"),
       ("lineage.files_written", "count", "lower"),
       ("jvm.gc_s", "s", "lower"),
       ("jvm.jit_s", "s", "lower"),
       ("jvm.cpu_s", "s", "lower"),
       ("jvm.heap_peak_mb", "MB", "lower"),
       ("trace.op_s", "s", "lower"),
       ("trace.timed_s", "s", "lower")]
    + [(f"trace.self_s.{l}", "s", "lower") for l in ["bench", "plan", "exec", "lineage"]]
)

JDK_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def threads():
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(4, n))


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def run_proc(cmd, cwd, timeout, out_path, env=None):
    """Run cmd in its own process group, output to out_path; the whole group
    is killed if it outlives timeout. Returns the exit code (None on timeout)."""
    with open(out_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             env=env, start_new_session=True)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def build(stamp):
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(STATE, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    if shutil.which("sbt") is None:
        die("sbt is not on PATH")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building with sbt")
    t0 = time.time()
    code = run_proc(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                     "writeClasspath"], HERE, 780, os.path.join(STATE, "build.log"), env)
    if code != 0 or not os.path.exists(cp_file):
        die(f"build failed (exit {code}); see perfbench/.state/build.log", 3)
    log(f"built in {time.time() - t0:.1f}s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return open(cp_file).read().strip()


def java(cp, args, run_dir, timeout):
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(STATE, 'tmp')}"]
           + [x for p in JDK_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", "--state", STATE, "--run-dir", run_dir,
              "--threads", str(threads())] + args)
    env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR")}
    os.makedirs(run_dir, exist_ok=True)
    t0 = time.time()
    code = run_proc(cmd, ROOT, timeout, os.path.join(run_dir, "jvm.log"), env)
    if code != 0:
        die(f"JVM {'timed out' if code is None else f'exited {code}'}; see {run_dir}/jvm.log", 4)
    with open(os.path.join(run_dir, "result.json")) as f:
        return json.load(f), time.time() - t0


def prepare(cp, stamp):
    """Fixtures.ensure once per build: verifies the fixtures, or generates them
    when they are missing or their generator changed."""
    stamp_file = os.path.join(STATE, "prepared.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return {"regenerated": False, "prepare_s": 0.0}
    log("preparing fixtures")
    res, _ = java(cp, ["--prepare"], os.path.join(STATE, "prepare"), 700)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"fixtures ready in {res['prepare_s']:.1f}s (regenerated: {res['regenerated']})")
    return res


def failing_labels(jvm_failed, oracles, verdicts):
    """Labels of operations whose output a check refused."""
    out = set(jvm_failed)
    for key, v in verdicts.items():
        if not v["ok"]:
            out |= set(oracles[key]["labels"])
    return out


def count_failed(ops, failing):
    return sum(1 for o in ops if not o["ok"] or o["label"] in failing)


def contention():
    try:
        load = float(open("/proc/loadavg").read().split()[0])
    except OSError:
        load = None
    steal = None
    try:
        for line in open("/proc/stat"):
            if line.startswith("cpu "):
                steal = int(line.split()[8])
                break
    except (OSError, IndexError, ValueError):
        pass
    return {"loadavg1": load, "steal_ticks": steal}


def commit():
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() or None if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, help="default: run_seconds of BENCHMARK.json")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.seconds is None:
        try:
            with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
                a.seconds = float(json.load(f)["run_seconds"])
        except (OSError, ValueError, KeyError) as e:
            die(f"no --seconds and no run_seconds in BENCHMARK.json ({e})")
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("the program's sources (src/main/scala/graft) are not next to perfbench/")
    os.makedirs(os.path.join(STATE, "tmp"), exist_ok=True)
    import oracle  # after the source check: a bare checkout must fail fast

    stamp = source_stamp()
    cp = build(stamp)
    prep = prepare(cp, stamp)
    run_id = time.strftime("%Y%m%dT%H%M%S") + f"-{a.workload}-{a.seed}-{a.trace}"
    run_dir = os.path.join(STATE, "runs", run_id)
    before = contention()
    res, jvm_s = java(cp, ["--workload", a.workload, "--seed", str(a.seed),
                           "--seconds", str(a.seconds), "--trace", str(a.trace)],
                      run_dir, RUN_LIMIT_S - 5)
    after = contention()

    verdicts = oracle.check_all(res["oracle"], res["oracle_fixtures"], res["fixtures"],
                                os.path.join(STATE, "oracle-cache"))
    ops = res["ops"]
    failed = count_failed(ops, failing_labels(res["failed_labels"], res["oracle"], verdicts))
    correct = len(ops) > 0 and all(v["checked"] for v in verdicts.values())

    specs = PER_LAYER if a.trace else [m[:3] for m in END_TO_END]
    metrics = {name: {"value": res["metrics"].get(name, 0.0), "unit": unit}
               for name, unit, _ in specs}
    # keep the run directory of the last runs only; the record keeps the figures
    runs = sorted(os.listdir(os.path.join(STATE, "runs")))
    for old in runs[:-8]:
        shutil.rmtree(os.path.join(STATE, "runs", old), ignore_errors=True)

    record = {
        "ts": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "commit": commit(), "source_stamp": stamp,
        "threads": res["threads"], "heap_max_mb": res["heap_max_mb"],
        "attempted": len(ops), "failed": failed,
        "regenerated": bool(prep["regenerated"] or res["regenerated"]),
        "prepare_s": prep["prepare_s"], "jvm_s": jvm_s,
        "warmup_rounds": res["warmup_rounds"],
        "warmup_s": res["warmup_s"],
        "warmup_settled": res["warmup_settled"],
        "op_cpu": res["op_cpu"],
        "contention": {"before": before, "after": after},
        "notes": res["notes"] + [f"{k}: {v['detail']}" for k, v in sorted(verdicts.items()) if not v["ok"]],
        "metrics": res["metrics"],
    }
    with open(os.path.join(STATE, "records.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    for n in record["notes"]:
        log(f"check: {n}")
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()

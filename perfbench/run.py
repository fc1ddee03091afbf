"""Run one perfbench workload and print its result as one JSON line.

    python3 perfbench/run.py --workload <dashboard|curate> --seed <n> \\
        --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
benchmark with sbt (see perfbench/build.sbt); later runs reuse the build
until a source file changes. Inputs are generated from the seed into
``.perfbench/data`` and each run works under ``.perfbench/work``. The JVM is
launched directly, so sbt start-up stays out of every timing. The last line
of standard output is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it records the environment of the run.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

JVM_TIMEOUT_S = 170
# set-ups per run; setup_s reports their median
SETUP_REPS = {"dashboard": 2, "curate": 3}
# a fixed heap, so figures from different runs compare; the build's 24 GB
# default is larger than a 16 GB box
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def _sources():
    """Every file the build reads, for the rebuild check and the tree hash."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for dp, dns, fs in os.walk(top):
            dns[:] = [d for d in dns if d not in ("target", "project")]
            files += [os.path.join(dp, f) for f in fs
                      if f.endswith((".scala", ".sbt", ".properties", ".java"))]
    return sorted(f for f in files if os.path.isfile(f))


def source_sha():
    h = hashlib.sha1()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def git_sha():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def build():
    """Compile the engine and the benchmark; return the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    newest = max(os.path.getmtime(f) for f in _sources())
    if os.path.exists(cp_file) and os.path.getmtime(cp_file) >= newest:
        with open(cp_file) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts + ["-Xmx2g"])
    os.makedirs(STATE, exist_ok=True)
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        try:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                                cwd=HERE, stdout=out, stderr=subprocess.STDOUT, env=env,
                                timeout=850).returncode
        except subprocess.TimeoutExpired:
            fail(f"the build ran past 850 s, see {log}")
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail(f"build failed (exit {rc}), see {log}")
    with open(cp_file) as f:
        return f.read().strip()


def mem_total_mb():
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return int(line.split()[1]) // 1024
    except OSError:
        pass
    return None


def run_jvm(cp, args, work, cpus):
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           # a fixed, pre-touched heap: the resident set then always holds all
           # of it, and mem_mb swaps it for the live heap (Probe.memMb)
           [f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--data", args.data, "--work", work,
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cpus", str(cpus), "--setup-reps", str(SETUP_REPS[args.workload])])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as log:
        # few malloc arenas, so native memory does not move with how many
        # threads happened to allocate at once
        env = dict(os.environ, MALLOC_ARENA_MAX="2")
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=log, text=True,
                                env=env)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the JVM ran past {JVM_TIMEOUT_S} s, see {log_path}")
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-30:]))
        fail(f"the JVM exited with {proc.returncode}, see {log_path}")
    return json.loads(lines[-1])


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=["dashboard", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources under {ROOT}; run from a full checkout")
    bench_file = os.path.join(ROOT, "BENCHMARK.json")
    with open(bench_file) as f:
        bench = json.load(f)
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]

    cp = build()
    import gen
    from check import check
    args.data = gen.generate(args.workload, args.seed, os.path.join(STATE, "data"))
    work = os.path.join(STATE, "work", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    cpus = len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()
    started = time.time()
    res = run_jvm(cp, args, work, cpus)
    problems, checked, notes = check(args.workload, args.data, work)
    for p in problems[:20]:
        print(f"perfbench: mismatch: {p}", file=sys.stderr)

    metrics, missing = {}, []
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None:
            missing.append(m["name"])
        else:
            metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    if missing:
        fail(f"the run reported no value for {missing}")

    env = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
           "seconds": args.seconds, "nproc": cpus, "heap": HEAP,
           "mem_total_mb": mem_total_mb(), "git_sha": git_sha(),
           "source_sha": source_sha(), "session_s": res["session_s"],
           "op_samples": res["op_samples"],
           "outputs_checked": checked, "mismatches": len(problems), **notes,
           "wall_s": round(time.time() - started, 3)}
    result = {"correct": not problems and checked > 0, "attempted": res["attempted"],
              "failed": res["failed"], "metrics": metrics}
    os.makedirs(os.path.join(STATE, "results"), exist_ok=True)
    with open(os.path.join(STATE, "results",
                           f"{args.workload}-{args.seed}-{args.trace}.json"), "w") as f:
        json.dump({"env": env, **result}, f, indent=1)
    # keep the logs and spans of the run, drop its layouts and outputs
    for entry in os.listdir(work):
        if entry not in ("jvm.log", "spans.jsonl"):
            shutil.rmtree(os.path.join(work, entry), ignore_errors=True)
    print(json.dumps({"env": env}))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and res["failed"] == 0 else 1)


if __name__ == "__main__":
    main()

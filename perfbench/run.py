#!/usr/bin/env python3
"""graft benchmark: build the engine from source, run one workload, print metrics.

Usage (from the repository root):

    python3 perfbench/run.py --workload graph --seed 1 --seconds 6 --trace 0

Workloads: graph, corpus-dedup (see perfbench/README.md).
The first run in a checkout compiles the engine and the benchmark with sbt
(offline) into the checkout's target directories; later runs reuse the
classpath recorded under .bench_build/perfbench/ while the sources are
unchanged. Each run starts one JVM with Spark at local[<cores>], prints one
line with the full record (inputs, configuration, per-op samples) and, as
the last line, one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1.

Exits non-zero, without a result line, when the engine sources are missing
or the build or the run fails.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("graph", "corpus-dedup")

# The JVM options spark-submit would add on JDK 17, as in the root build.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

RUN_TIMEOUT_S = 170     # a run (after any build) ends within this
BUILD_TIMEOUT_S = 840   # the first run in a checkout also builds


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file whose change requires a rebuild."""
    roots = [os.path.join(ROOT, "src", "main"),
             os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for dirpath, _, names in os.walk(r):
            files += [os.path.join(dirpath, n) for n in names]
    return sorted(f for f in files if os.path.isfile(f))


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run a command in its own process group; kill the group on timeout
    and wait for it, so nothing it started outlives the run."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        return None, proc.returncode
    return out, proc.returncode


def build(digest):
    """Compile with sbt and record the runtime classpath."""
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == digest:
                with open(cp_file) as fh:
                    return fh.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as fh:
        out, rc = run_group(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
            stderr=fh, stdin=subprocess.DEVNULL, text=True)
        if out is not None:
            fh.write(out)
    if out is None or rc != 0:
        die(f"build failed (exit {rc}); see {os.path.relpath(log, ROOT)}", 1)
    lines = [ln.strip() for ln in out.splitlines() if ln.strip()]
    cp = lines[-1] if lines else ""
    if "classes" not in cp:
        die(f"build printed no classpath; see {os.path.relpath(log, ROOT)}", 1)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp, "w") as fh:
        fh.write(digest)
    return cp


def heap_size():
    """Half the host memory in GiB, clamped to [2, 8] (the Tier-1 rule)."""
    try:
        with open("/proc/meminfo") as fh:
            for ln in fh:
                if ln.startswith("MemTotal:"):
                    g = int(ln.split()[1]) // 2097152
                    return f"{min(8, max(2, g))}g"
    except OSError:
        pass
    return "2g"


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if out.returncode == 0:
            return out.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    return None


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in spec[key]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--detail-out",
                    help="also write the full record as JSON to this file")
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala"),
                 "BENCHMARK.json"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"{need} not found at the repository root; "
                "run from a full checkout")
    want = expected_metrics(a.trace)
    os.makedirs(WORK, exist_ok=True)
    digest = source_digest()
    cp = build(digest)

    cores = len(os.sched_getaffinity(0))
    heap = heap_size()
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    cmd = (["java", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.sql.codegen.cache.maxEntries=4096"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace),
              "--cores", str(cores), "--local-dir", local])
    log = os.path.join(WORK, f"{a.workload}-seed{a.seed}-trace{a.trace}.log")
    t0 = time.time()
    with open(log, "w") as fh:
        out, rc = run_group(cmd, RUN_TIMEOUT_S, cwd=ROOT,
                            stdout=subprocess.PIPE, stderr=fh,
                            stdin=subprocess.DEVNULL, text=True)
    jvm_s = time.time() - t0
    if out is None:
        die(f"run timed out after {RUN_TIMEOUT_S} s; see "
            f"{os.path.relpath(log, ROOT)}", 1)
    detail = result = None
    for ln in out.splitlines():
        if ln.startswith("PERFBENCH_DETAIL "):
            detail = json.loads(ln[len("PERFBENCH_DETAIL "):])
        elif ln.startswith("PERFBENCH_RESULT "):
            result = json.loads(ln[len("PERFBENCH_RESULT "):])
    if rc != 0 or result is None or detail is None:
        die(f"run failed (exit {rc}); see {os.path.relpath(log, ROOT)}", 1)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        die(f"metrics {sorted(got.items())} differ from BENCHMARK.json "
            f"{sorted(want.items())}", 1)
    detail["config"].update({
        "heap": heap, "cores": cores, "jvm_wall_s": jvm_s,
        "git_commit": git_commit(), "source_digest": digest,
    })
    if a.detail_out:
        with open(a.detail_out, "w") as fh:
            json.dump({"detail": detail, "result": result}, fh, indent=1,
                      sort_keys=True)
            fh.write("\n")
    print(json.dumps({"detail": detail}, sort_keys=True))
    print(json.dumps(result, sort_keys=True))


if __name__ == "__main__":
    main()

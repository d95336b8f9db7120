#!/usr/bin/env python3
"""Run one benchmark workload against the engine sources in this checkout.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 9 --trace 0

Builds the engine and the benchmark with sbt (offline) when the sources
changed since the last build, runs one JVM on local[N] with N = nproc, and
prints every metric with its unit, then, as the last line of standard
output, one JSON object with the keys correct, attempted, failed and
metrics. With --trace 0 the metrics are the end-to-end metrics of
BENCHMARK.json, with --trace 1 the per-layer ones.

Everything a run writes stays under .bench_build/ in the checkout; the
per-run scratch directory is removed when the run ends.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build" / "perfbench"
CLASSPATH = HERE / "target" / "bench-classpath.txt"
ADD_OPENS = HERE / "target" / "bench-add-opens.txt"
STAMP = BUILD / "source.sha"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# The heap is fixed in size and touched up front, and the young generation
# is fixed: page faults on fresh heap and adaptive heap sizing made
# operation times drift by up to 40% within a run. The JIT compiles at a
# quarter of its default invocation counts, so a run of tens of seconds
# gets close to the compiled steady state of a long-lived driver (cycle
# times 10-15% lower after the same warm-up cycles).
JVM_OPTS = ["-Xms2g", "-Xmx2g", "-Xmn256m", "-XX:+UseG1GC", "-XX:+AlwaysPreTouch",
            "-XX:CompileThresholdScaling=0.25"]

# Layers only one workload exercises; the other workloads bypass them, and
# their per-layer metrics read 0 there.
OWN_LAYERS = {"batch": {"core", "ext", "functions"}, "incremental": {"v2", "stream"}}


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: the engine's build and main sources, and
    the benchmark's own build and sources."""
    files = [ROOT / "build.sbt", HERE / "build.sbt"]
    for d in (ROOT / "project", HERE / "project"):
        files += sorted(p for p in d.glob("*") if p.suffix in (".sbt", ".properties", ".scala"))
    for d in (ROOT / "src" / "main", HERE / "src" / "main"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    return files


def source_sha():
    h = hashlib.sha256(str(ROOT).encode())
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:16]


def build(sha):
    if CLASSPATH.exists() and ADD_OPENS.exists() and STAMP.exists() and STAMP.read_text() == sha:
        return
    if shutil.which("sbt") is None:
        fail("sbt is not on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    home = Path.home()
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
    repos = home / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    CLASSPATH.unlink(missing_ok=True)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "classpathFile"],
                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            rc = -1
    if rc != 0 or not CLASSPATH.exists():
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (rc={rc}); log in {log}")
    STAMP.write_text(sha)


def source_id(sha):
    """The commit when the checkout is a git work tree, else the hash of
    the sources the build read."""
    if (ROOT / ".git").exists():
        try:
            return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                                  capture_output=True, timeout=10).stdout.strip() or sha
        except (OSError, subprocess.TimeoutExpired):
            pass
    return f"src-sha256:{sha}"


def run_jvm(args, sha):
    run_dir = BUILD / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    result = run_dir / "result.json"
    cmd = ["java"] + JVM_OPTS
    for p in ADD_OPENS.read_text().split():
        cmd += ["--add-opens", p]
    cmd += [
        f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        f"-Dderby.system.home={run_dir}",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={run_dir / 'local'}",
        f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
        "-cp", CLASSPATH.read_text().strip(),
        "graftbench.Main",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--root", str(run_dir / "data"),
        "--out", str(result), "--source", source_id(sha),
    ]
    # SPARK_LOCAL_DIRS, when set, would override spark.local.dir
    env = dict(os.environ, GRAFT_SCRATCH_ROOT=str(run_dir / "scratch"),
               SPARK_LOCAL_DIRS=str(run_dir / "local"))
    log = BUILD / f"{args.workload}-{args.seed}-{args.trace}.log"
    proc = None
    try:
        with open(log, "w") as err:
            proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=subprocess.PIPE,
                                    stderr=err, stdin=subprocess.DEVNULL, text=True,
                                    start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail(f"run exceeded {RUN_TIMEOUT_S} s; log in {log}")
        sys.stdout.write(out)
        if proc.returncode != 0 or not result.exists():
            sys.stderr.write(log.read_text()[-4000:])
            fail(f"run failed (rc={proc.returncode}); log in {log}")
        return json.loads(result.read_text())
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)


def main():
    # a terminated run still stops its JVM (run_jvm's finally kills it)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.exists():
        fail("BENCHMARK.json not found at the checkout root")
    spec = json.loads(spec_path.read_text())
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload!r}")
    if not (ROOT / "build.sbt").exists() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("the engine sources (build.sbt, src/main/scala) are not in this checkout")
    if shutil.which("java") is None:
        fail("java is not on PATH")

    BUILD.mkdir(parents=True, exist_ok=True)
    sha = source_sha()
    build(sha)
    res = run_jvm(args, sha)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    bypassed = set().union(*OWN_LAYERS.values()) - OWN_LAYERS.get(args.workload, set())
    metrics = {}
    for m in wanted:
        value = res["metrics"].get(m["name"])
        if value is None and args.trace and m["name"].split(".")[0] in bypassed:
            value = 0.0
        if value is None:
            fail(f"the run did not report {m['name']}")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        print(f"  {m['name']:<32} {value:.6g} {m['unit']}")
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()

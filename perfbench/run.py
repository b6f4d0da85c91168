"""Benchmark entry point.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source (see build.py), starts one
JVM that runs the workload on Spark `local[4]`, and prints as its last line
one JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics of BENCHMARK.json with `--trace 0`, the per-layer ones
with `--trace 1`). Everything the run writes stays under perfbench/work.

Extra options, used by the benchmark's own tests:
    --size tiny          tiny inputs, for a quick smoke run
    --corrupt NAME       corrupt one output before it is checked
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
sys.dont_write_bytecode = True
import build  # noqa: E402

JVM_TIMEOUT_S = 170
# Per-layer metric namespaces each workload exercises; a traced run reports
# another workload's namespace as 0.
LAYERS = {"serve": ("serve.", "ingest."), "analytics": ("analytics.",)}
ADD_OPENS = [a for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")
    for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


def fail(msg: str, code: int = 1) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def stray_jvms() -> list:
    """Forked program or sbt JVMs left running skew every timing."""
    try:
        out = subprocess.run(["jps", "-J-XX:-UsePerfData", "-l"], stdout=subprocess.PIPE,
                             stderr=subprocess.DEVNULL,
                             text=True, timeout=30).stdout
    except (OSError, subprocess.TimeoutExpired):
        return ["jps unavailable"]
    return [l for l in out.splitlines()
            if any(k in l for k in ("graft", "sbt", "perfbench", "scalatest"))]


def delete_outputs(work: Path) -> None:
    """Delete what a finished run wrote, keeping its log, spans and digests.

    On a file system mounted with `discard`, unlinking a file that has
    reached the disk waits for its freed blocks to be trimmed. Deleting here
    rather than at the next run's start keeps that wait out of the next
    run's set-up, and catches some files while they are still only in the
    page cache, where deleting them costs nothing.
    """
    for p in work.iterdir():
        if p.is_dir():
            shutil.rmtree(p, ignore_errors=True)
        elif p.name != "jvm.log" and not p.name.endswith((".jsonl", ".json")):
            p.unlink()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    ap.add_argument("--corrupt", default="none")
    a = ap.parse_args()

    spec_path = ROOT / "BENCHMARK.json"
    if not spec_path.exists():
        fail("BENCHMARK.json not found at the checkout root", 2)
    spec = json.loads(spec_path.read_text())
    workloads = [w["name"] for w in spec["workloads"]]
    if a.workload not in workloads:
        fail(f"unknown workload {a.workload!r}; one of {workloads}", 2)

    t0 = time.time()
    try:
        build.build()
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}", 2)
    build_s = time.time() - t0
    stray = stray_jvms()

    work = HERE / "work" / a.workload
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "graft"):
        (work / d).mkdir(parents=True)
    env = dict(os.environ, GRAFT_WORK_DIR=str(work / "graft"),
               SPARK_LOCAL_DIRS=str(work / "spark-local"))
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = [build.java(), *ADD_OPENS, "-XX:-UsePerfData", "-Xmx2g",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-Dspark.ui.enabled=false", "-cp", build.classpath(), "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
           "--trace", str(a.trace), "--work", str(work), "--data", str(HERE / "data"),
           "--size", a.size, "--corrupt", a.corrupt]
    log_path = work / "jvm.log"
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=log,
                                text=True, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"the {a.workload} run exceeded {JVM_TIMEOUT_S} s; log: {log_path}")
    t1 = time.time()
    if proc.returncode == 0:
        delete_outputs(work)
    cleanup_s = time.time() - t1
    lines = [l for l in stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        tail = log_path.read_text().splitlines()[-25:]
        fail(f"the JVM exited with {proc.returncode}:\n" + "\n".join(tail))
    result = json.loads(lines[-1])
    for l in lines[:-1]:
        print(l)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    others = {p for w, ps in LAYERS.items() if w != a.workload for p in ps} - set(LAYERS[a.workload])
    metrics = {}
    for m in wanted:
        name = m["name"]
        v = result["metrics"].get(name)
        if v is None and a.trace and name.startswith(tuple(others)):
            v = 0.0
        if v is None:
            fail(f"the run did not report metric {name!r}")
        metrics[name] = {"value": v, "unit": m["unit"]}
    print("perfbench.run " + json.dumps({"build_s": round(build_s, 3),
                                        "cleanup_s": round(cleanup_s, 3), "stray_jvms": stray,
                                        "unlisted_metrics": sorted(set(result["metrics"]) - set(metrics))}))
    print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()

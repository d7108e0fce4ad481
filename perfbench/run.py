#!/usr/bin/env python3
"""Run one benchmark workload and print its result.

Usage (from the repo root):
    python3 perfbench/run.py --workload serve_mixed --seed 1 --seconds 15 --trace 0

Builds the engine and the benchmark (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the workload in
one JVM on local[nproc] (perfbench/src), and prints as its last stdout
line:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
--trace 0 reports the end-to-end metrics, --trace 1 the per-layer ones.
The line before it carries the environment stamp and the details.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

WORKLOADS = {
    # workload -> (input table, scale factor)
    "serve_mixed": ("orders", 0.1),
    "ingest_compact": ("lineitem", 0.02),
}
JAVA_OPTS = [
    "-Xms4g", "-Xmx4g", "-Xss4m", "-XX:-UsePerfData", "-XX:+UseParallelGC",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]
# the whole run must end within 180 s
DEADLINE_S = 170


def host_stamp():
    with open("/proc/loadavg") as f:
        load1 = float(f.read().split()[0])
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    steal = int(cpu[8]) if len(cpu) > 8 else -1
    return {"load_avg_1m": load1, "steal_jiffies": steal}


def source_id():
    """git commit when the checkout is a repository, else a digest of the
    engine sources."""
    if os.path.isdir(".git"):
        try:
            out = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                                 text=True, timeout=10)
            if out.returncode == 0:
                return out.stdout.strip()
        except (OSError, subprocess.SubprocessError):
            pass
    import build
    return "src-sha256:" + build.stamp(build.sources())[:16]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    stamp_start = host_stamp()

    import build
    import gen
    build_dir = os.environ.get("CARGO_TARGET_DIR") or ".bench_build"
    try:
        classes = build.build(build_dir)
    except (FileNotFoundError, RuntimeError) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 2

    work = os.path.abspath(os.path.join(
        build_dir, "runs", f"{args.workload}-{args.seed}-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    table, sf = WORKLOADS[args.workload]
    t0 = time.time()
    gen.write(data, args.seed, sf, [table])
    gen_s = time.time() - t0

    out_json = os.path.join(work, "result.json")
    log_path = os.path.join(work, "jvm.log")
    cmd = ["java"] + JAVA_OPTS + [
        f"-Djava.io.tmpdir={work}/tmp",
        "-cp", f"{os.path.abspath(classes)}:{build.spark_jars()}/*",
        "perfbench.Main", args.workload, str(args.seed), str(args.seconds),
        str(args.trace), data, work, out_json]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(10, DEADLINE_S - (time.time() - t_start)))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    if proc.returncode != 0 or not os.path.isfile(out_json):
        with open(log_path, errors="replace") as f:
            sys.stderr.write(f.read()[-6000:])
        print(f"perfbench: JVM exited with {proc.returncode}", file=sys.stderr)
        shutil.rmtree(work, ignore_errors=True)
        return 3
    with open(out_json) as f:
        res = json.load(f)

    attempted, failed = res["attempted"], res["failed"]
    if "spans" in res:
        keep = os.path.join(build_dir, "traces")
        os.makedirs(keep, exist_ok=True)
        dest = os.path.join(keep, f"{args.workload}-{args.seed}.spans.jsonl")
        shutil.copyfile(res["spans"], dest)
        res["spans"] = dest
    shutil.rmtree(work, ignore_errors=True)

    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "failed_frac": failed / max(1, attempted),
        "env": {
            "nproc": os.cpu_count(), "start": stamp_start, "end": host_stamp(),
            "jvm_max_heap_mb": res["jvm_max_heap_mb"],
            "spark_version": res["spark_version"], "source": source_id(),
        },
        "input_gen_s": round(gen_s, 3), "wall_s": round(time.time() - t_start, 3),
    }
    detail.update({k: v for k, v in res.items()
                   if k not in ("attempted", "failed", "metrics")})
    print(json.dumps(detail))
    for name, m in res["metrics"].items():
        print(f"  {name:40s} {m['value']:>16.6g} {m['unit']}", file=sys.stderr)
    correct = attempted > 0 and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": res["metrics"]}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())

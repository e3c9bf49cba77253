#!/usr/bin/env python3
"""graft benchmark: one workload per run, measured end to end or per layer.

    python3 perfbench/run.py --workload llm --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --all [--seed 1] [--seconds S] [--trace 0]

--seconds defaults to BENCHMARK.json's run_seconds.

Run from the root of a graft checkout. The first run builds the harness
(perfbench/build.py compiles graft's sources with the harness) and later
runs reuse the build while the sources are unchanged. Inputs are generated
from the seed into perfbench/work/inputs and reused while their manifest
matches. Each run gets its own scratch directory under perfbench/work
(java.io.tmpdir, job cache, streaming scratch, Spark local dir), removed
when the run ends.

The last line of stdout is one JSON object: correct, attempted, failed and
the metrics BENCHMARK.json names (end_to_end with --trace 0, per_layer with
--trace 1). The lines before it are a readable report. The full record,
with the effective configuration and, when traced, the spans, goes to
perfbench/results. --all runs every workload and exits 1 if any output
check failed.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen_inputs  # noqa: E402

WORK = os.path.join(HERE, "work")
RESULTS = os.path.join(HERE, "results")
JVM_TIMEOUT_S = 172
# the cores this process may use, as nproc counts them
NPROC = len(os.sched_getaffinity(0))
INPUT_SEEDS_KEPT = 24
# A fixed heap: a growing one made early passes pay for its growth in GC
# time, so timings kept falling across passes.
XMX = "1g"
# Spark on JDK 17 outside spark-submit needs these (as graft's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def inputs_for(seed):
    base = os.path.join(WORK, "inputs")
    out = os.path.join(base, f"seed-{seed}")
    manifest = gen_inputs.ensure(out, seed)
    os.utime(out)
    others = sorted((os.path.join(base, d) for d in os.listdir(base) if d.startswith("seed-")),
                    key=os.path.getmtime)
    for d in others[:-INPUT_SEEDS_KEPT]:
        shutil.rmtree(d, ignore_errors=True)
    return out, manifest


def env_stamp(seed, digest):
    commit = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
        if p.returncode == 0:
            commit = p.stdout.strip()
    return {
        "seed": seed, "commit": commit, "source_sha256": digest, "xmx": XMX,
        "nproc": NPROC,
        "env": {k: v for k, v in sorted(os.environ.items())
                if k.startswith(("GRAFT_", "SPARK_GRAFT_"))},
    }


def run_jvm(workload, seed, seconds, trace, inputs):
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {k: os.path.join(run_dir, k) for k in ("tmp", "jobs", "stream", "local", "cwd")}
    for d in dirs.values():
        os.makedirs(d)
    result = os.path.join(run_dir, "result.json")
    spans = os.path.join(run_dir, "spans.jsonl")
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    cmd = [build.java(), f"-Xms{XMX}", f"-Xmx{XMX}", "-XX:-UsePerfData",
           "-Djava.io.tmpdir=" + dirs["tmp"], "-Dgraft.jobs.dir=" + dirs["jobs"],
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", build.runtime_classpath(), "graftbench.Main",
            "--workload", workload, "--inputs", inputs, "--seconds", str(seconds),
            "--trace", str(trace), "--result", result, "--spans", spans]
    env = dict(os.environ, GRAFT_STREAM_SCRATCH=dirs["stream"], SPARK_LOCAL_DIRS=dirs["local"],
               SPARK_GRAFT_CPUS=str(NPROC))
    # Spark binds to the loopback whatever the host name resolves to
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    env.setdefault("SPARK_LOCAL_HOSTNAME", "localhost")
    log = os.path.join(run_dir, "stderr.log")
    try:
        with open(log, "w") as err:
            p = subprocess.Popen(cmd, cwd=dirs["cwd"], env=env, stdout=err, stderr=err,
                                 start_new_session=True)
            try:
                code = p.wait(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                code = "timeout"
            except BaseException:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
                raise
        if code != 0 or not os.path.isfile(result):
            with open(log) as f:
                sys.stderr.write(f.read()[-4000:])
            fail(f"{workload}: benchmark JVM exited with {code}")
        with open(result) as f:
            record = json.load(f)
        if trace and os.path.isfile(spans):
            os.makedirs(RESULTS, exist_ok=True)
            name = f"{workload}-seed{seed}-{time.strftime('%Y%m%dT%H%M%S')}-spans.jsonl"
            shutil.move(spans, os.path.join(RESULTS, name))
            record["spans_file"] = os.path.join("perfbench", "results", name)
        return record
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def one(args, spec, digest):
    inputs, manifest = inputs_for(args.seed)
    record = run_jvm(args.workload, args.seed, args.seconds, args.trace, inputs)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    measured = record["metrics"]
    if not args.trace:
        missing = [m["name"] for m in wanted if m["name"] not in measured]
        if missing:
            fail(f"{args.workload}: no value for {missing}")
    metrics = {m["name"]: {"value": measured.get(m["name"], 0.0), "unit": m["unit"]}
               for m in wanted}
    record["stamp"].update(env_stamp(args.seed, digest))
    record["inputs"] = {k: {x: v[x] for x in ("rows", "bytes", "sha256")}
                        for k, v in manifest["tables"].items()}
    record["trace"] = args.trace
    os.makedirs(RESULTS, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json"
    with open(os.path.join(RESULTS, name), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)

    print(f"== {args.workload} seed={args.seed} trace={args.trace} "
          f"passes={record['passes']} calls={len(record['call_ms'])} "
          f"({record['stamp']['master']}, -Xmx{XMX})")
    for k, v in metrics.items():
        print(f"  {k:38s} {v['value']:.6g} {v['unit']}")
    if record["call_ms"]:
        for k in ("call_p50_ms", "call_p90_ms"):
            print(f"  {k:38s} {record[k]:.6g} ms (not bounded: spreads too widely between runs)")
    print(f"  {'fail_frac':38s} {record['failed'] / max(record['attempted'], 1):.6g} "
          f"({record['failed']} of {record['attempted']})")
    for msg in record["failures"]:
        print(f"  check failed: {msg}")
    print(f"  record: perfbench/results/{name}")
    return {"correct": record["correct"], "attempted": record["attempted"],
            "failed": record["failed"], "metrics": metrics}


def main():
    # a terminated run still stops its JVM and removes its scratch directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--all", action="store_true", help="run every workload in BENCHMARK.json")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}/src/main/scala/graft; run from a graft checkout", 2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    if args.seconds is None:
        args.seconds = spec["run_seconds"]
    if not args.all and args.workload not in names:
        fail(f"--workload must be one of {names}", 2)

    try:
        digest = build.build()
    except build.BuildError as e:
        fail(str(e))
    if not args.all:
        print(json.dumps(one(args, spec, digest)))
        return
    summary = {}
    for w in names:
        args.workload = w
        summary[w] = one(args, spec, digest)
    print(json.dumps(summary))
    sys.exit(0 if all(r["correct"] for r in summary.values()) else 1)


if __name__ == "__main__":
    main()

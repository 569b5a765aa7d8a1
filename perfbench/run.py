#!/usr/bin/env python3
"""The repository benchmark: one command, one workload per call.

    python3 perfbench/run.py --workload etl_small --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. It builds the program from source
(`perfbench/build.py`), generates the workload's inputs from the seed
(`perfbench/gen.py`), runs the workload in its own JVM
(`perfbench/scala/Harness.scala`) as a closed loop with one client for
`--seconds`, checks the outputs, prints every metric by name and unit, and
prints as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end ones of BENCHMARK.json;
with `--trace 1` the listeners and spans are installed and the metrics are
the per-layer ones. Everything it writes goes under `.bench_build/` of the
checkout. See perfbench/README.md for the workloads and the metric map.
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

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
# layers a workload never calls: their per-layer figures are zero there
UNCALLED = {"etl": ("snapshot.",),
            "snapshot": ("etl.", "quality.", "pipeline.", "io.sources.", "io.sinks."),
            "registry": ("snapshot.", "etl.", "quality.", "pipeline.", "io.")}
WORKLOADS = ["etl_small", "etl_bulk", "snapshot_commits", "registry_sample"]
# scale factor of the registry tables (TESTDATA.md's sf), and of the tiny smoke run
REGISTRY_SF, REGISTRY_TINY_SF = 0.01, 0.001
JVM_TIMEOUT_S = 160

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def heap_size():
    """MemTotal/2, capped at 8g, at least 2g (the test-suite formula)."""
    gb = 2
    try:
        with open("/proc/meminfo") as fh:
            for line in fh:
                if line.startswith("MemTotal:"):
                    gb = int(line.split()[1]) // 2097152
    except OSError:
        pass
    return f"{min(max(gb, 2), 8)}g"


def cores():
    return len(os.sched_getaffinity(0))


def make_inputs(workload, seed, work, tiny):
    """Generate the workload's inputs; return the properties the JVM reads."""
    data = os.path.join(work, "inputs")
    if workload in ("etl_small", "etl_bulk"):
        scale = workload.split("_")[1]
        got = gen.etl_inputs(seed, data, scale, plays=2_000 if tiny else None,
                             small_dims=tiny)
        return {k: str(v) for k, v in got.items()}
    if workload == "registry_sample":
        got = gen.registry_tables(seed, data, REGISTRY_TINY_SF if tiny else REGISTRY_SF)
        return {k: str(v) for k, v in got.items()}
    return {k: str(v) for k, v in gen.snapshot_ops(seed, data, tiny=tiny).items()}


def run_jvm(workload, work, seconds, trace, classpath):
    mem = heap_size()
    n = cores()
    env = dict(os.environ, SPARK_MASTER=f"local[{n}]", SPARK_GRAFT_CPUS=str(n),
               SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = (["java"] + ADD_OPENS +
           # no hsperfdata file: nothing is written outside the checkout
           ["-XX:-UsePerfData",
            f"-Xms{mem}", f"-Xmx{mem}", "-XX:+UnlockExperimentalVMOptions",
            "-XX:G1MaxNewSizePercent=10", "-XX:MaxGCPauseMillis=100",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-cp", os.pathsep.join(classpath), "perfbench.Harness",
            workload, work, str(seconds), str(trace)])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    log = open(os.path.join(work, "jvm.log"), "w")
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit(f"{workload}: JVM exceeded {JVM_TIMEOUT_S}s (log: {log.name})")
    finally:
        log.close()
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"{workload}: JVM exited with {rc}")
    with open(os.path.join(work, "result.json")) as fh:
        return json.load(fh)


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--tiny", action="store_true",
                    help="smoke scale: tiny inputs (for the benchmark's own tests)")
    args = ap.parse_args(argv)

    spec = load_spec()
    classpath = build.build()
    work = os.path.join(ROOT, ".bench_build", "runs",
                        f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    t0 = time.time()
    props = make_inputs(args.workload, args.seed, work, args.tiny)
    props["run_seed"] = str(args.seed)
    props["warmup_scale"] = "0" if args.tiny else "1"
    gen_s = time.time() - t0
    with open(os.path.join(work, "inputs.properties"), "w") as fh:
        for k, v in sorted(props.items()):
            fh.write(f"{k}={v}\n".replace("\\", "\\\\"))
    res = run_jvm(args.workload, work, args.seconds, args.trace, classpath)
    problems, bad_ops = checks.check(args.workload, props, res)
    res["input_gen_s"] = gen_s
    res["check_problems"] = problems
    with open(os.path.join(work, "result.json"), "w") as fh:
        json.dump(res, fh, indent=1, sort_keys=True)

    attempted = int(res["attempted"])
    failed = min(attempted, int(res["failed"]) + bad_ops)
    correct = not problems and failed == 0
    report(args, res, attempted, failed, spec)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = res.get("layers", {}) if args.trace else res
    metrics = {}
    uncalled = UNCALLED[args.workload.split("_")[0]] if args.trace else ()
    for m in wanted:
        name = m["name"]
        if name in source:
            value = float(source[name])
        elif name.startswith(uncalled):
            value = 0.0
        else:
            raise SystemExit(f"{args.workload}: metric {name} not measured")
        metrics[name] = {"value": value, "unit": m["unit"]}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def unit_of(name, spec):
    """A figure's unit: from BENCHMARK.json, else from its name's suffix."""
    for m in spec["end_to_end"] + spec["per_layer"]:
        if m["name"] == name:
            return m["unit"]
    for suffix, u in (("per_s", "1/s"), ("_ms", "ms"), ("_mb", "MB"), ("_bytes", "B"),
                      ("_pct", "%"), ("_n", "count"), ("_share", "ratio"),
                      ("_ratio", "ratio"), ("_amp", "ratio"), ("coverage", "ratio")):
        if name.endswith(suffix) or suffix + "_" in name:
            return u
    if name.endswith("_s") or "_s_" in name:
        return "s"
    return "count"


def report(args, res, attempted, failed, spec):
    """Every measured figure by name and unit, before the result line."""
    print(f"# {args.workload} seed={args.seed} seconds={args.seconds} "
          f"trace={args.trace}; a _tail figure is the highest percentile with "
          f"ten samples beyond it (_tail_pct), given only when _n >= 21")
    print(f"fail_ratio = {failed / attempted:.6f} ratio")
    figures = {k: v for k, v in res.items()
               if isinstance(v, (int, float)) and not isinstance(v, bool)}
    figures.update(res.get("layers", {}))
    for k, v in sorted(figures.items()):
        print(f"{k} = {v:.6g} {unit_of(k, spec)}")
    for k, v in sorted(res.get("machine", {}).items()):
        print(f"machine.{k} = {v}")
    for p in res.get("check_problems", []) + res.get("problems", []):
        print(f"CHECK FAILED: {p}")


if __name__ == "__main__":
    sys.exit(main())

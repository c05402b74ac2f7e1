"""Benchmark runner: one closed-loop run of one workload.

    python3 perfbench/run.py --workload catalog_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. The runner builds the engine with the harness
(perfbench/build.py), generates the workload's inputs from --seed, starts one
JVM with a `local[nproc]` Spark session (perfbench/scala/Harness.scala), and
checks every operation's output. The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics"}; with --trace 0 the metrics are
the end-to-end metrics, with --trace 1 the per-layer metrics of a traced run
(see perfbench/README.md). Everything the run writes lives under the build
directory and is removed when the run ends.
"""
import argparse
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import workloads  # noqa: E402

JVM_TIMEOUT_S = 165
HEAP = "3g"

END_TO_END = [("op_p50_s", "s"), ("op_tail_s", "s"), ("ops_per_s", "1/s"),
              ("setup_s", "s"), ("stored_bytes_per_input_byte", "ratio")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def jvm_cmd(classpath, plan_path, result_path, run_dir):
    opens = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
    cmd = ["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
           f"-Dderby.system.home={os.path.join(run_dir, 'tmp')}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
    for p in opens:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    return cmd + ["-cp", classpath, "perfbench.Harness", plan_path, result_path]


def percentile(xs, p):
    """Nearest-rank percentile."""
    s = sorted(xs)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def run_jvm(cmd, run_dir):
    """Run the harness JVM to completion (or kill it at the timeout)."""
    out_path = os.path.join(run_dir, "jvm.log")
    with open(out_path, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    with open(out_path) as f:
        text = f.read()
    for line in text.splitlines():
        if line.startswith("[harness]"):
            log(line)
    if rc != 0:
        raise RuntimeError(f"harness exited with {rc}:\n{text[-6000:]}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "smoke"], default="full",
                    help="smoke: smallest inputs and fewest passes (for the smoke test)")
    args = ap.parse_args()

    try:
        classpath = build.build()
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2

    cores = nproc()
    run_dir = os.path.join(build.build_dir(), f"run-{os.getpid()}-{args.workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    dirs = {d: os.path.join(run_dir, d) for d in ("input", "data", "reference", "tmp", "spark")}
    for d in dirs.values():
        os.makedirs(d)
    try:
        wl = workloads.WORKLOADS[args.workload]
        n_passes = workloads.passes(args.seconds, args.size)
        t0 = time.time()
        spec, checker = wl.prepare(args.seed, dirs["input"], args.size, n_passes)
        log(f"inputs for {args.workload} seed {args.seed} in {time.time() - t0:.1f}s: "
            f"{spec.get('sizes')}")
        plan = {"workload": args.workload, "seed": args.seed, "trace": bool(args.trace),
                "nproc": cores, "dirs": dirs, "spec": spec,
                "passes": n_passes}
        plan_path = os.path.join(run_dir, "plan.json")
        result_path = os.path.join(run_dir, "result.json")
        launch_ns = time.time_ns()
        plan["launch_epoch_ns"] = launch_ns
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        run_jvm(jvm_cmd(classpath, plan_path, result_path, run_dir), run_dir)
        t1 = time.time()
        log(f"harness ran {t1 - launch_ns / 1e9:.1f}s")
        with open(result_path) as f:
            res = json.load(f)

        ops = res["ops"]
        failures = [o for o in ops if not o["ok"]]
        # Output checks the JVM cannot make itself (DuckDB twins, final table
        # state): each returns the operations it proves wrong.
        extra_failed, notes = checker(res, ops)
        log(f"output checks took {time.time() - t1:.1f}s")
        for o in failures[:5]:
            log(f"FAILED {o['kind']}: {o['error']}")
        for n in notes[:10]:
            log(n)
        failed = len(failures) + extra_failed
        timed = [o["seconds"] for o in ops if not o["traced"]]
        completed = sum(1 for o in ops if o["ok"] and not o["traced"]) - extra_failed
        setup_s = (res["setup_end_epoch_ns"] - launch_ns) / 1e9
        env = dict(res["env"], seed=args.seed, workload=args.workload, sizes=spec.get("sizes"),
                   tail_percentile=workloads.TAIL_PERCENTILE, passes=res["passes"],
                   timed_wall_s=round(res["timed_wall_s"], 3),
                   ops_attempted=len(ops), ops_failed=failed)
        print("[perfbench] env " + json.dumps(env, sort_keys=True), flush=True)
        if args.trace:
            metrics = {k: {"value": v, "unit": workloads.layer_unit(k)}
                       for k, v in sorted(workloads.all_layers(res["layers"]).items())}
        else:
            values = {
                "op_p50_s": statistics.median(timed),
                "op_tail_s": percentile(timed, workloads.TAIL_PERCENTILE),
                # timed wall time: the sum of the timed regions, which in a
                # closed loop follow one another; the loop's own clock also
                # counts the untimed output checks and between-pass GC
                "ops_per_s": max(completed, 0) / sum(timed),
                "setup_s": setup_s,
                "stored_bytes_per_input_byte": res["stored_bytes"] / res["input_bytes"],
            }
            metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END}
        print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                          "failed": failed, "metrics": metrics}), flush=True)
        return 0
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception as e:  # no result line on any failure
        log(f"run failed: {type(e).__name__}: {e}")
        sys.exit(1)

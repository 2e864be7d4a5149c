"""Runs one benchmark workload and prints its result.

    python3 perfbench/run.py --workload serve-warm --seed 3 --seconds 15 --trace 0

Run it from the root of a checkout. It builds the engine and the
benchmark from source (see build.py), generates the workload's inputs
from the seed, starts one JVM on a local Spark session, and prints the
metrics named in BENCHMARK.json: the end-to-end ones with --trace 0, the
per-layer ones with --trace 1. The last stdout line is one JSON object
with the keys correct, attempted, failed and metrics. Everything it
writes stays under `.bench_build/perfbench/` in the checkout; the
per-run scratch directory is removed when the run ends.

Extra flags: --corrupt (drops a row from every served answer, to show
the checks fail),
--plan-only and --gen-only (print the seeded op sequence or input
digests), --pin-out FILE (write the answer digests of this run).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

RUN_TIMEOUT_S = 170
JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def stop(*_):
    raise SystemExit(1)


def main():
    # a timeout or a stop request unwinds through the finally blocks below,
    # which end the compiler or the JVM before this process exits
    signal.signal(signal.SIGALRM, stop)
    signal.signal(signal.SIGTERM, stop)
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--corrupt", action="store_true")
    p.add_argument("--plan-only", action="store_true")
    p.add_argument("--gen-only", action="store_true")
    p.add_argument("--pin-out")
    a = p.parse_args()

    root = os.getcwd()
    spec_path = os.path.join(root, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("run from the root of a checkout: BENCHMARK.json not found")
    with open(spec_path) as f:
        spec = json.load(f)
    metrics = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]
    if a.seconds is None:
        a.seconds = spec["run_seconds"]

    classes = build.build(root)  # exits non-zero when the sources are missing
    out_root = os.path.join(root, ".bench_build", "perfbench")
    work = os.path.join(out_root, f"work-{os.getpid()}")
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    for d in ("logs", "traces"):
        os.makedirs(os.path.join(out_root, d), exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))

    jars = os.path.join(build.spark_jars(), "*")
    opens = [x for o in JDK_OPENS for x in ("--add-opens", o + "=ALL-UNNAMED")]
    cmd = (["java", "-XX:-UsePerfData", "-Xmx3g", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-cp", classes + os.pathsep + jars] + opens +
           ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work,
            "--metrics", ",".join(metrics),
            "--pinned", os.path.join(HERE, "pinned_digests.json"),
            "--trace-out", os.path.join(out_root, "traces", tag + ".json")])
    for flag in ("corrupt", "plan_only", "gen_only"):
        if getattr(a, flag):
            cmd.append("--" + flag.replace("_", "-"))
    if a.pin_out:
        cmd += ["--pin-out", os.path.abspath(a.pin_out)]

    log_path = os.path.join(out_root, "logs", tag + ".log")
    result = None
    rc = 1
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        try:
            signal.alarm(RUN_TIMEOUT_S)
            for line in proc.stdout:
                if line.startswith("PERFBENCH_RESULT "):
                    result = line[len("PERFBENCH_RESULT "):].strip()
                else:
                    sys.stdout.write(line)
                    sys.stdout.flush()
            rc = proc.wait()
            signal.alarm(0)
        except SystemExit:
            sys.stderr.write("perfbench: run stopped (timeout or signal)\n")
            result = None
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            shutil.rmtree(work, ignore_errors=True)
    if a.plan_only or a.gen_only:
        sys.exit(rc)
    if rc != 0 or result is None:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        sys.stderr.write(f"perfbench: run failed (exit {rc}); log in {os.path.relpath(log_path, root)}\n")
        sys.exit(rc or 1)
    print(result)


if __name__ == "__main__":
    main()

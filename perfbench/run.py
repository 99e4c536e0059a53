"""Observation-shape benchmark for birlispark.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. Builds the program from source on first use
(perfbench/build.py), runs one workload in one JVM, and prints the result
JSON as the last line of stdout. Everything the run writes stays under the
build directory ($CARGO_TARGET_DIR, else .bench_build): classes, generated
inputs, outputs, logs, per-run records (results/) and the executed AQE
plans of traced runs (plans/). See perfbench/NOTES.md.
"""
import argparse
import json
import os
import signal
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

# single-run budget: a run must end within 180 s of its start once built
RUN_LIMIT_S = 170
HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
    "jdk.management/com.sun.management.internal",
]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()

    root = os.getcwd()
    out = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(out, exist_ok=True)
    try:
        classes = build.build(root, out)
    except (subprocess.CalledProcessError, SystemExit) as e:
        print(f"perfbench: build failed: {e}", file=sys.stderr)
        return 1

    tmp = os.path.join(out, "tmp")
    logs = os.path.join(out, "logs")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    cp = os.pathsep.join([classes] + build.spark_jars())
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + opens + ["-cp", cp, "perfbench.Main",
                      "--workload", a.workload, "--seed", str(a.seed),
                      "--seconds", str(a.seconds), "--trace", a.trace,
                      "--out", out])
    env = {k: v for k, v in os.environ.items()
           if k not in ("SPARK_LOCAL_DIRS", "SPARK_CONF_DIR", "JAVA_TOOL_OPTIONS")}
    log = os.path.join(logs, f"{a.workload}_seed{a.seed}_trace{a.trace}.log")
    with open(log, "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err, env=env,
                             start_new_session=True, text=True)
        try:
            stdout, _ = p.communicate(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            print(f"perfbench: run exceeded {RUN_LIMIT_S} s; log {log}",
                  file=sys.stderr)
            return 1
    lines = [ln for ln in stdout.splitlines() if ln.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    if p.returncode != 0 or result is None:
        with open(log) as f:
            sys.stderr.write(f.read()[-4000:])
        print(f"perfbench: run failed (exit {p.returncode}); log {log}",
              file=sys.stderr)
        return 1
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())

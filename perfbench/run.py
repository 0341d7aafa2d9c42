#!/usr/bin/env python3
"""Repository benchmark: builds the program from source, then runs one
workload in one JVM and prints the result object as the last line of
stdout. Run from the root of a checkout:

    python3 perfbench/run.py --workload ocr_pages --seed 1 --seconds 12 --trace 0

Workloads, their inputs, the prediction table and the pinned result
digests are recorded in perfbench/workloads.json. With --trace 1 the
spans of the traced run are written to .bench_build/spans/.

Pinning query digests from a Verify dump (the dump must have passed
tools/check_oracles.py first):

    python3 perfbench/run.py --digest <verify_out_dir>
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

JVM_TIMEOUT_S = 170
XMX = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def jvm_cmd(root, classes, jars, work, main, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return ["java", *opens, f"-Xmx{XMX}",
            "-Dfile.encoding=UTF-8", "-Dsun.jnu.encoding=UTF-8",
            "-Dstdout.encoding=UTF-8", "-Dstderr.encoding=UTF-8",
            f"-Djava.io.tmpdir={work}/tmp",
            f"-Dlog4j2.configurationFile={root}/perfbench/log4j2.properties",
            "-cp", f"{classes}:{jars}/*", main, *args]


def run_jvm(cmd, work):
    """Runs the JVM to completion; on a timeout or a signal it is
    killed and waited for before this process exits."""
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, encoding="utf-8")
    try:
        out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] JVM killed after {JVM_TIMEOUT_S} s", file=sys.stderr)
        sys.exit(3)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out.splitlines()


def main():
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--digest", help="print digests of a Verify dump's query results")
    a = ap.parse_args()
    root = pathlib.Path.cwd()
    here = root / "perfbench"
    spec = json.loads((here / "workloads.json").read_text())
    bench = json.loads((root / "BENCHMARK.json").read_text())
    if not a.digest and (a.workload not in spec["workloads"] or a.seed is None
                         or a.seconds is None):
        ap.error("--workload (one of %s), --seed and --seconds are required"
                 % ", ".join(spec["workloads"]))
    try:
        classes, jars = build.build(root)
    except (build.BuildError, subprocess.TimeoutExpired) as e:
        print(f"[perfbench] build failed: {e}", file=sys.stderr)
        sys.exit(2)
    work = root / build.BUILD_DIR / "work" / f"{a.workload or 'digest'}-{os.getpid()}"

    if a.digest:
        queries = sorted(spec["pins"])
        code, lines = run_jvm(jvm_cmd(root, classes, jars, work, "perfbench.Pin",
                                      [a.digest, *queries]), work)
        print("\n".join(lines))
        sys.exit(code)

    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", str(work),
            "--data", str(root / spec["sf_dir"]),
            "--spans", str(root / build.BUILD_DIR / "spans" / f"{a.workload}-seed{a.seed}.jsonl")]
    for q, pin in sorted(spec["pins"].items()):
        args += ["--pin", f"{q}={pin}"]
    code, lines = run_jvm(jvm_cmd(root, classes, jars, work, "perfbench.PerfBench", args), work)
    if not lines:
        print(f"[perfbench] JVM exited with {code} and printed nothing", file=sys.stderr)
        sys.exit(code or 4)
    for ln in lines[:-1]:
        print(ln, file=sys.stderr)
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        print(f"[perfbench] JVM exited with {code}; last line is not a result: {lines[-1]}",
              file=sys.stderr)
        sys.exit(code or 4)
    want = {m["name"] for m in bench["per_layer" if a.trace else "end_to_end"]}
    if set(result["metrics"]) != want:
        print(f"[perfbench] metric names differ from BENCHMARK.json: "
              f"{sorted(set(result['metrics']) ^ want)}", file=sys.stderr)
        sys.exit(5)
    print(json.dumps(result))
    sys.exit(code)


if __name__ == "__main__":
    main()

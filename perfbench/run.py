#!/usr/bin/env python3
"""Runs one benchmark workload in its own JVM and prints the result.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload lloyd_iter --seed 1 --seconds 10 --trace 0

Builds the program first when needed (perfbench/build.py), then starts
perfbench.Main on local[nproc]. The last line of standard output is the
JSON result; the traced run (--trace 1) also writes its span tree to
.bench_work/trace-<workload>-s<seed>.json. Extra arguments (--size tiny,
--corrupt) are passed through to perfbench.Main.
"""
import os
import shutil
import signal
import subprocess
import sys
import threading

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_TIMEOUT_S = 170


def main(argv):
    root = os.getcwd()
    jar = build.build(root)
    work = os.path.join(root, ".bench_work", f"run-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    jsa = build.archive(os.path.dirname(jar))
    extra = [f"-XX:SharedArchiveFile={jsa}", "-Xlog:cds=off"] if os.path.isfile(jsa) else []
    proc = subprocess.Popen(build.java_cmd(root, jar, work, extra) + argv,
                            stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                            start_new_session=True)
    killer = threading.Timer(JVM_TIMEOUT_S, lambda: os.killpg(proc.pid, signal.SIGKILL))
    killer.start()
    last = None
    try:
        for line in proc.stdout:
            sys.stdout.write(line)
            sys.stdout.flush()
            if line.strip():
                last = line.strip()
        code = proc.wait()
    except KeyboardInterrupt:
        os.killpg(proc.pid, signal.SIGKILL)
        code = proc.wait()
    finally:
        killer.cancel()
        shutil.rmtree(work, ignore_errors=True)
    if code != 0 or last is None or not last.startswith("{"):
        print(f"run: benchmark JVM exited with code {code}", file=sys.stderr)
        return code or 1
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

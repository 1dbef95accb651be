"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <pipeline_batch|corpus_cycle>
                             --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Run from the root of a checkout. The engine and the benchmark are compiled
once into `.bench_build/` (see build.py) and launched with plain `java` on
the class-data-sharing archive the build made, so no sbt start-up is paid
per run. Every file the run makes lives under
`.bench_build/`; the per-run work and temp directories are removed at exit.

The last line of stdout is the result object
`{"correct", "attempted", "failed", "metrics"}`; the line before it carries
the per-workload detail (workload-specific metric names, sample counts, tail
percentiles). The exit code is 0 only when every output check passed.
"""

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("pipeline_batch", "corpus_cycle")
RUN_LIMIT_S = 175      # a run must end within 180 s
FIRST_RUN_LIMIT_S = 880  # the run that compiles may take 900 s

def parse_result(line):
    """The result line: exactly four keys, whole-number counts, and every
    metric a finite number with a unit."""
    r = json.loads(line)
    if set(r) != {"correct", "attempted", "failed", "metrics"}:
        raise ValueError(f"result keys {sorted(r)}")
    if not isinstance(r["correct"], bool):
        raise ValueError("correct is not a boolean")
    for k in ("attempted", "failed"):
        if not isinstance(r[k], int) or isinstance(r[k], bool) or r[k] < 0:
            raise ValueError(f"{k} is not a whole number")
    if r["attempted"] < 1:
        raise ValueError("nothing attempted")
    for name, m in r["metrics"].items():
        if set(m) != {"value", "unit"} or not isinstance(m["value"], (int, float)) \
                or m["value"] != m["value"] or m["value"] in (float("inf"), float("-inf")):
            raise ValueError(f"bad metric {name}: {m}")
    return r


def launch(cp, main_args, limit_s, tmp):
    cmd = build.java_cmd(cp, tmp, main_args, build.cds_flags())
    log_path = os.path.join(build.BUILD_DIR, "last_run.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                             start_new_session=True)
        try:
            out, _ = p.communicate(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            print(f"perfbench: run exceeded {limit_s:.0f} s (log: {log_path})", file=sys.stderr)
            return None, 124
    if p.returncode not in (0, 1):
        with open(log_path) as fh:
            sys.stderr.write(fh.read()[-4000:])
    return out, p.returncode


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    t0 = time.time()
    had_build = os.path.exists(build.STAMP)
    cp = build.build()
    limit = (RUN_LIMIT_S if had_build else FIRST_RUN_LIMIT_S) - (time.time() - t0)
    run_id = f"run-{os.getpid()}"
    work = os.path.abspath(os.path.join(build.BUILD_DIR, "work", run_id))
    tmp = os.path.abspath(os.path.join(build.BUILD_DIR, "tmp", run_id))
    os.makedirs(work)
    os.makedirs(tmp)
    try:
        if a.selftest:
            args = ["--selftest", "--work", work]
        else:
            args = ["--workload", a.workload, "--seed", str(a.seed),
                    "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work]
        out, code = launch(cp, args, limit, tmp)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(tmp, ignore_errors=True)
    if out is None:
        return code
    lines = [l for l in out.splitlines() if l.strip()]
    if a.selftest:
        print("\n".join(lines))
        if code != 0:
            return code
        # the JVM self-test prints a sample result line last; it must pass
        # the same parser the benchmark's real output goes through
        parse_result(lines[-1])
        print("perfbench selftest: result line parses", file=sys.stderr)
        return 0
    if not lines:
        print("perfbench: no output from the run", file=sys.stderr)
        return code or 1
    try:
        parse_result(lines[-1])
    except (ValueError, KeyError, TypeError) as e:
        print(f"perfbench: malformed result line: {e}", file=sys.stderr)
        return 1
    print("\n".join(lines))
    return code


if __name__ == "__main__":
    sys.exit(main())

"""Runs one benchmark workload and prints its result.

    python3 perfbench/run.py --workload indicators --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --self-test

Builds the library and the benchmark from source on first use (see
build.py), then runs ``perfbench.Main`` in one JVM with ``local[nproc]``.
Progress and every metric go to standard output as ``[perfbench]`` lines;
the last line is one JSON object with the keys ``correct``, ``attempted``,
``failed`` and ``metrics``, holding the metrics ``BENCHMARK.json`` lists
(``end_to_end``, or ``per_layer`` with ``--trace 1``). Spark's own log goes to
``perfbench/.work/logs``. Exits non-zero, without a result line, if the
build, the run or its result fails.
"""
import argparse
import json
import os
import pathlib
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import build  # noqa: E402

HERE = pathlib.Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
RUN_TIMEOUT_S = 175


def git_sha():
    if not (ROOT / ".git").exists():
        return "none"
    try:
        out = subprocess.run(["git", "rev-parse", "--short", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def heap():
    """A quarter of the host's memory, between 2 and 4 GB."""
    try:
        total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        total = 8 << 30
    return f"{max(2, min(4, total // 4 >> 30))}g"


def java_cmd(classpath, archive, source, t0_ms, main, main_args):
    return build.java(classpath, main, main_args, archive=archive, heap=heap(), props=[
        f"perfbench.t0ms={t0_ms}", f"perfbench.git={git_sha()}", f"perfbench.source={source[:12]}"])


def declared(trace):
    """The metric names BENCHMARK.json lists for this kind of run."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def run_jvm(cmd, log_path):
    """Runs the JVM, relaying its output lines except a trailing JSON
    result, which is returned once the JVM has exited cleanly."""
    log_path.parent.mkdir(parents=True, exist_ok=True)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=build.ENV, stdout=subprocess.PIPE,
                                stderr=log, text=True, start_new_session=True)
        deadline = time.monotonic() + RUN_TIMEOUT_S
        result = None
        try:
            for line in proc.stdout:
                if line.startswith("{"):
                    result = line.strip()
                else:
                    result = None
                    print(line, end="", flush=True)
                if time.monotonic() > deadline:
                    raise subprocess.TimeoutExpired(cmd, RUN_TIMEOUT_S)
            code = proc.wait(timeout=max(1, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            sys.exit(f"perfbench: run exceeded {RUN_TIMEOUT_S} s (log: {log_path.relative_to(ROOT)})")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0:
        tail = log_path.read_text().splitlines()[-20:]
        sys.exit("perfbench: run failed with exit code %d; log tail:\n%s" % (code, "\n".join(tail)))
    return result


def main():
    t_start = time.time()
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=["indicators", "dedup_graph", "tick_stream"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--self-test", action="store_true",
                   help="run the benchmark's own tests instead of a workload")
    a = p.parse_args()
    if not a.self_test and not a.workload:
        p.error("--workload is required")

    names = None if a.self_test else declared(a.trace)
    b0 = time.time()
    classpath, archive, source = build.build()
    # setup_s is measured from here: the process start, minus the build
    t0_ms = int((t_start + (time.time() - b0)) * 1000)

    if a.self_test:
        cmd = java_cmd(classpath, archive, source, t0_ms, "perfbench.SelfTest", [])
        sys.exit(subprocess.run(cmd, cwd=ROOT, env=build.ENV, timeout=RUN_TIMEOUT_S).returncode)

    cmd = java_cmd(classpath, archive, source, t0_ms, "perfbench.Main", [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--work", str(WORK)])
    result = run_jvm(cmd, WORK / "logs" / f"{a.workload}-{a.seed}-trace{a.trace}.log")
    try:
        parsed = json.loads(result or "")
        assert set(parsed) == {"correct", "attempted", "failed", "metrics"}
        parsed["metrics"] = {n: parsed["metrics"][n] for n in names}
        assert all(isinstance(m["value"], (int, float)) for m in parsed["metrics"].values())
    except (ValueError, AssertionError, KeyError):
        sys.exit(f"perfbench: no valid result line (got {result!r})")
    print(json.dumps(parsed), flush=True)


if __name__ == "__main__":
    main()

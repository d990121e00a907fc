"""The repository benchmark: one command, three workloads.

    python3 perfbench/run.py --workload {report,curation,daily} \\
        --seed N --seconds S --trace {0,1} [--fixture sf0.1|sf0.01|sf0.001]

Run from the repository root. The input tables are copies of the
engine's test fixtures (the same parquet files at three scale factors),
kept in ``perfbench/data/<fixture>/``. Each run starts
``perfbench/bench.py`` in a fresh process with its own temporary Spark
local dirs, index root, warehouse, temp dir and pipeline workdir, all
under ``perfbench/_work/`` and all removed on exit. ``--seed`` fixes the
query order of every round and the point-lookup key sets. The last
line of stdout is the run's JSON result; with ``--trace 1`` the span
dump is kept in ``perfbench/_traces/``. DuckDB oracle answers are
cached in ``perfbench/_cache/``, keyed by the fixture and the SQL.
See METRICS.md for what each workload and metric measures.
"""

from __future__ import annotations

import argparse
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "morphl_community_edition_spark"
TIMEOUT_S = 170
# fixture of each workload; curation's cost is mostly fixed per loop
# iteration, and its 19 s rounds at sf0.1 would not fit the run budget
FIXTURE = {"report": "sf0.1", "curation": "sf0.01", "daily": "sf0.1"}


def _stop_group(proc: subprocess.Popen) -> None:
    """Kill every process left in the child's session (the Spark JVM and
    Python workers) and wait until none remains."""
    try:
        os.killpg(proc.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    proc.wait()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)


def _remove_tree(path: str) -> None:
    """``shutil.rmtree``, with the unlinks and rmdirs of one depth run
    side by side: on some disks each one waits tens of ms (a discard),
    which would make a daily run's teardown take about 20 s."""
    files, dirs = [], {}
    for dirpath, _dirs, names in os.walk(path):
        files += [os.path.join(dirpath, n) for n in names]
        dirs.setdefault(dirpath.count(os.sep), []).append(dirpath)
    try:
        with ThreadPoolExecutor(16) as pool:
            list(pool.map(os.unlink, files))
            for depth in sorted(dirs, reverse=True):
                list(pool.map(os.rmdir, dirs[depth]))
    except OSError:
        shutil.rmtree(path, ignore_errors=True)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(FIXTURE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--fixture", choices=("sf0.1", "sf0.01", "sf0.001"),
                    help="input tables (default: the workload's own, see FIXTURE)")
    args = ap.parse_args()
    data = os.path.join(HERE, "data", args.fixture or FIXTURE[args.workload])

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: the engine package {PACKAGE}/ is not next to perfbench/", file=sys.stderr)
        return 2
    if not os.path.isdir(data):
        print(f"error: no input tables in {data}", file=sys.stderr)
        return 2
    os.makedirs(os.path.join(HERE, "_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=os.path.join(HERE, "_work"))
    try:
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        env = dict(
            os.environ,
            PYTHONPATH=os.pathsep.join([ROOT, HERE]),
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            SPARK_LOCAL_DIRS=os.path.join(work, "local"),
            SPARK_GRAFT_INDEX_ROOT=os.path.join(work, "index"),
            SPARK_GRAFT_WAREHOUSE=os.path.join(work, "warehouse"),
            TMPDIR=tmp,
            JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp}",
        )
        env.pop("PYSPARK_SUBMIT_ARGS", None)
        cmd = [sys.executable, os.path.join(HERE, "bench.py"),
               "--workload", args.workload, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace),
               "--sf-dir", data, "--work", work,
               "--cache", os.path.join(HERE, "_cache")]
        if args.trace:
            os.makedirs(os.path.join(HERE, "_traces"), exist_ok=True)
            cmd += ["--trace-out", os.path.join(
                HERE, "_traces", f"{args.workload}-seed{args.seed}.json")]
        out_path, log_path = os.path.join(work, "stdout.log"), os.path.join(work, "stderr.log")
        with open(out_path, "w") as out, open(log_path, "w") as log:
            env["PERFBENCH_T0"] = repr(time.time())
            proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out, stderr=log,
                                    start_new_session=True)
            try:
                proc.wait(timeout=TIMEOUT_S)
            except subprocess.TimeoutExpired:
                pass
            finally:
                _stop_group(proc)
        with open(out_path) as f:
            lines = f.read().strip().splitlines()
        with open(log_path) as f:
            log_text = f.read()
        if proc.returncode != 0 or not lines:
            why = "timed out" if proc.returncode == -signal.SIGKILL else f"exited with {proc.returncode}"
            print(f"error: benchmark process {why}\n{log_text[-4000:]}", file=sys.stderr)
            return 1
        for line in log_text.splitlines():
            if line.startswith("# "):
                print(line, file=sys.stderr)
        print(lines[-1])
        return 0
    finally:
        _remove_tree(work)


if __name__ == "__main__":
    sys.exit(main())

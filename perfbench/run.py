"""Benchmark entry point: one cold pass of one workload, in a fresh process.

    python3 perfbench/run.py --workload llm_dedup --seed 1 --seconds 40 --trace 0
    python3 perfbench/run.py --workload all --seed 1          # every workload

Run from the root of a checkout. Each workload run is a child process
(``workload.py``) started with a pinned environment and a fresh run
directory under ``.perfbench/`` that holds the Spark local dirs, temp
files, staged inputs, outputs, stream checkpoint, lake table and event log;
the directory is removed afterwards and every process of the child's
process group is stopped and waited for.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics of a traced child (Spark event log on, one job group per
operation, executed plans forced). ``trace_overhead`` is the traced pass
time over the pass time of a paired untraced child with the same seed,
which runs first. The last stdout line is
``{"correct", "attempted", "failed", "metrics"}``; the line before it holds
the run's detail (environment, host contention, per-operation times and
checks, per-job-group event-log sums).

``--seconds`` is the pass budget. A pass is fixed work (one cold pass
sized to fit the budget on a 4-core host), never a time-boxed loop, so that
``batch_s`` compares across commits; a pass that overruns its budget is
flagged in the detail line.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from workload import WORKLOADS  # noqa: E402

DRIVER_MEM = "1g"
TIME_LIMIT_S = 170


def units(section: str) -> dict[str, str]:
    """name → unit of the ``end_to_end`` or ``per_layer`` metrics."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def _group_pids(pgid: int) -> list[int]:
    """Live (not yet exited) processes of a process group."""
    pids = []
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    raw = fh.read()
            except OSError:
                continue
            state, _, pgrp = raw[raw.rindex(")") + 2:].split()[:3]
            if int(pgrp) == pgid and state != "Z":
                pids.append(int(name))
    return pids


def _stop_group(pgid: int) -> None:
    """SIGTERM, then SIGKILL, the child's process group; wait until empty."""
    for sig, grace in ((signal.SIGTERM, 10.0), (signal.SIGKILL, 10.0)):
        deadline = time.monotonic() + grace
        while _group_pids(pgid):
            try:
                os.killpg(pgid, sig)
            except ProcessLookupError:
                break
            if time.monotonic() > deadline:
                break
            time.sleep(0.1)
    if _group_pids(pgid):
        raise RuntimeError(f"processes of group {pgid} survived SIGKILL")


def run_child(root: str, workload: str, seed: int, trace: int, deadline: float) -> dict:
    run_dir = os.path.join(root, ".perfbench", f"{workload}-{os.getpid()}-{trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.makedirs(os.path.join(run_dir, "local"))
    submit = ["--conf", "spark.ui.showConsoleProgress=false"]
    if trace:
        os.makedirs(os.path.join(run_dir, "eventlog"))
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{run_dir}/eventlog",
            "--conf", "spark.eventLog.compress=false",
            # Spark 4 rolls event logs by default; one plain file is parsed
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    pinned = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONHASHSEED": "0",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                             f"-XX:ErrorFile={run_dir}/hs_err_pid%p.log",
        "PYSPARK_SUBMIT_ARGS": " ".join(submit + ["pyspark-shell"]),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": root,
    }
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "PYSPARK_"))}
    env.update(pinned, PERFBENCH_RUN_DIR=run_dir, PERFBENCH_T0=repr(time.time()))
    cmd = [sys.executable, os.path.join(HERE, "workload.py"),
           "--workload", workload, "--seed", str(seed), "--trace", str(trace)]
    proc = subprocess.Popen(cmd, cwd=root, env=env, stdout=sys.stderr,
                            start_new_session=True)
    try:
        proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        with open(os.path.join(run_dir, "result.json")) as fh:
            result = json.load(fh)
    except (subprocess.TimeoutExpired, OSError, ValueError) as exc:
        raise RuntimeError(f"{workload} run failed (exit {proc.returncode}): {exc!r}")
    finally:
        _stop_group(proc.pid)
        proc.wait()
        shutil.rmtree(run_dir, ignore_errors=True)
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} run exited with {proc.returncode}")
    result["detail"]["env"] = pinned
    return result


def bench(root: str, args) -> tuple[dict, dict]:
    """(final line, detail line) of one workload run."""
    deadline = time.monotonic() + TIME_LIMIT_S
    if not args.trace:
        run = run_child(root, args.workload, args.seed, 0, deadline)
        metrics = {name: {"value": float(run["e2e"][name]), "unit": unit}
                   for name, unit in units("end_to_end").items()}
        detail = {"layers": run["layers"]}
    else:
        # trace_overhead divides by a paired untraced pass with the same seed
        ref = run_child(root, args.workload, args.seed, 0, deadline)["e2e"]["batch_s"]
        run = run_child(root, args.workload, args.seed, 1, deadline)
        values = {**run["layers"], "trace_overhead": run["e2e"]["batch_s"] / ref}
        metrics = {name: {"value": float(values.get(name, 0.0)), "unit": unit}
                   for name, unit in units("per_layer").items()}
        detail = {"untraced_batch_s": ref, "traced_e2e": run["e2e"]}
    detail.update(run["detail"], pass_budget_s=args.seconds,
                  over_budget=run["e2e"]["batch_s"] > args.seconds)
    line = {"correct": run["failed"] == 0, "attempted": run["attempted"],
            "failed": run["failed"], "metrics": metrics}
    return line, detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=[*WORKLOADS, "all"], required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=40)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its child's processes (the finally in run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    missing = [p for p in ("apachebeam_python_spark/session.py", "tests/parity.py")
               if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: run from a checkout root; missing {missing}", file=sys.stderr)
        return 2
    try:
        for workload in WORKLOADS if args.workload == "all" else [args.workload]:
            args.workload = workload
            line, detail = bench(root, args)
            print(json.dumps({"workload": workload, "detail": detail}, default=str))
            print(json.dumps(line), flush=True)
    except RuntimeError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())

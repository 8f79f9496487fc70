"""The engine's benchmark of record.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Generates the seeded inputs (cached under
``.perfbench/data``), starts one fresh worker process for the workload on
``local[N]`` (``N`` from ``SPARK_GRAFT_CPUS``, default all cores), waits
for it, and prints every metric by name with its unit, then one JSON line:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics of ``BENCHMARK.json``, ``--trace 1`` its per-layer
metrics (spans are written to ``.perfbench/traces/<workload>.json``).

Exits 1 when an oracle or fingerprint check fails (after printing the
result with ``"correct": false``) and 2 on bad arguments or a checkout
without the engine; everything the run writes stays under ``.perfbench/``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_PACKAGE = "data_algorithms_with_pyspark_spark"
# A run must end within 180 s; generation and start-up come first.
RUN_BUDGET_S = 175.0
PR_SET_CHILD_SUBREAPER = 36  # prctl option, <linux/prctl.h>


def fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def parse_cpus(raw: str | None, default: int) -> int:
    """SPARK_GRAFT_CPUS as a positive core count, validated before any work."""
    if raw is None or raw.strip() == "":
        return default
    try:
        n = int(raw)
    except ValueError:
        n = 0
    if n < 1:
        raise ValueError(f"SPARK_GRAFT_CPUS must be a positive integer, got {raw!r}")
    return n


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, as BENCHMARK.json
    declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return tuple(
        {m["name"]: m["unit"] for m in spec[section]}
        for section in ("end_to_end", "per_layer")
    )


def select_metrics(measured: dict[str, float], trace: bool) -> dict[str, float]:
    """The metrics one mode reports: every end-to-end metric (``trace``
    false) or every per-layer one (``trace`` true), in declaration order.
    Raises ValueError when the worker measured a figure BENCHMARK.json does
    not declare, or missed one the mode reports."""
    e2e, layer = declared_metrics()
    undeclared = sorted(set(measured) - set(e2e) - set(layer))
    wanted = layer if trace else e2e
    missing = sorted(set(wanted) - set(measured))
    if undeclared or missing:
        raise ValueError(
            f"metrics not declared in BENCHMARK.json: {undeclared}; "
            f"declared but not measured: {missing}"
        )
    return {name: measured[name] for name in wanted}


def child_pids(parent: int) -> list[int]:
    """Pids of the live or unreaped children of ``parent``, from /proc."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                if int(fh.read().rsplit(")", 1)[1].split()[1]) == parent:
                    out.append(int(name))
        except OSError:  # the process ended while we looked
            continue
    return out


def stop_all(worker: subprocess.Popen, timeout: float = 20.0) -> None:
    """Stop the worker and every process it started, and reap them all.

    This process is a child subreaper (see main), so whatever the worker
    leaves behind is reparented here: the Spark JVM, and PySpark's Python
    daemon with its workers, which leave the worker's process group. The
    run is over once this process has no children left."""
    me = os.getpid()
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(worker.pid, sig)
        except ProcessLookupError:
            pass
        end = time.monotonic() + timeout / 2
        while True:
            worker.poll()  # reaps the worker through Popen, keeping its status
            left = []
            for pid in child_pids(me):
                try:
                    if pid == worker.pid or os.waitpid(pid, os.WNOHANG)[0] == 0:
                        os.kill(pid, sig)
                        left.append(pid)
                except (ChildProcessError, ProcessLookupError):  # already gone
                    pass
            if not left:
                return
            if time.monotonic() >= end:
                break
            time.sleep(0.1)


def main() -> None:
    t_begin = time.monotonic()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    try:
        cpus = parse_cpus(os.environ.get("SPARK_GRAFT_CPUS"), os.cpu_count() or 1)
    except ValueError as exc:
        fail(str(exc))
    if not os.path.isdir(os.path.join(ROOT, ENGINE_PACKAGE)):
        fail(f"no {ENGINE_PACKAGE}/ next to perfbench/; run from a full checkout")
    sys.path.insert(0, HERE)
    from gen import ensure_data
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload!r}; expected one of {sorted(WORKLOADS)}")
    data_dir = ensure_data(ROOT, args.seed)
    run_id = f"{args.workload}-seed{args.seed}-pid{os.getpid()}"
    tmp = os.path.join(ROOT, ".perfbench", "tmp", run_id)
    traces = os.path.join(ROOT, ".perfbench", "traces")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(traces, exist_ok=True)
    cfg = {
        "workload": args.workload,
        "data_dir": data_dir,
        "seconds": args.seconds,
        "trace": args.trace,
        "cpus": cpus,
        "run_id": run_id,
        "tmp": tmp,
        "out": os.path.join(tmp, "result.json"),
        "trace_out": os.path.join(traces, f"{args.workload}.json"),
    }
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    # Processes orphaned below this one become its children, so that
    # stop_all can find them.
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    try:
        cfg["t0"] = time.monotonic()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"), json.dumps(cfg)],
            cwd=tmp,
            env=env,
            stdout=sys.stderr,
            start_new_session=True,
        )
        try:
            proc.wait(timeout=max(1.0, RUN_BUDGET_S - (time.monotonic() - t_begin)))
        except subprocess.TimeoutExpired:
            print("perfbench: worker timed out", file=sys.stderr)
        finally:
            stop_all(proc)
            proc.wait()
        if proc.returncode != 0 or not os.path.exists(cfg["out"]):
            fail(f"worker exited with {proc.returncode} and no result", 1)
        with open(cfg["out"]) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    try:
        values = select_metrics(res["metrics"], bool(args.trace))
    except ValueError as exc:
        fail(str(exc), 1)
    # Every figure the run measured is printed, each under the unit it is
    # declared with; the JSON line carries the ones this mode reports.
    e2e, layer = declared_metrics()
    units = dict(layer, **e2e)
    info = res["info"]
    for name, value in res["metrics"].items():
        extra = ""
        if name == "query_tail_s":
            extra = (
                f"  (p{info['query_tail_pct']:.1f}, {info['query_tail_beyond']} "
                f"samples beyond it, {info['query_samples']} samples)"
            )
        elif name == "failed_frac":
            extra = f"  ({res['failed']}/{res['attempted']})"
        print(f"{name} {value:.6g} {units[name]}{extra}")
    for key, label in (("cold_query_s", "cold"), ("warm_query_p50_s", "warm median")):
        per_query = ", ".join(f"{k} {v:.3f}" for k, v in info[key].items())
        print(f"perfbench: {label} latency per query (s): {per_query}", file=sys.stderr)
    for m in res["mismatches"]:
        print(f"perfbench: MISMATCH {m}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": res["correct"],
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": {
                    name: {"value": value, "unit": units[name]}
                    for name, value in values.items()
                },
            }
        )
    )
    sys.exit(0 if res["correct"] else 1)


if __name__ == "__main__":
    main()

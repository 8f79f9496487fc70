"""Unit tests of the benchmark's own logic (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import gen  # noqa: E402
import run  # noqa: E402
import worker  # noqa: E402
from fingerprint import fingerprint  # noqa: E402
from spans import Tracer  # noqa: E402

COLS = ["id", "name", "score", "tags"]
ROWS = [
    (1, "a", 0.5, [1, 2]),
    (2, "b", -0.0, []),
    (3, None, 1e-17, [3]),
    (3, None, 1e-17, [3]),  # duplicate rows must both count
]


def _spec() -> dict:
    with open(os.path.join(os.path.dirname(os.path.dirname(HERE)), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_fingerprint_ignores_row_order():
    shuffled = list(ROWS)
    random.Random(0).shuffle(shuffled)
    assert fingerprint(COLS, shuffled) == fingerprint(COLS, ROWS)


def test_fingerprint_ignores_column_order():
    order = [2, 0, 3, 1]
    cols = [COLS[i] for i in order]
    rows = [tuple(r[i] for i in order) for r in ROWS]
    assert fingerprint(cols, rows) == fingerprint(COLS, ROWS)


@pytest.mark.parametrize(
    "row, col, value",
    [(0, 0, 7), (0, 2, 0.5000000000000001), (1, 1, "B"), (2, 3, [4]), (2, 1, "")],
)
def test_fingerprint_changes_when_one_value_changes(row, col, value):
    changed = [list(r) for r in ROWS]
    changed[row][col] = value
    assert fingerprint(COLS, [tuple(r) for r in changed]) != fingerprint(COLS, ROWS)


def test_fingerprint_counts_duplicates_and_names():
    assert fingerprint(COLS, ROWS[:3]) != fingerprint(COLS, ROWS)
    assert fingerprint(["id", "name", "score", "tag"], ROWS) != fingerprint(COLS, ROWS)
    assert fingerprint(COLS, [(2, "b", 0.0, [])]) == fingerprint(COLS, [(2, "b", -0.0, [])])


def test_reported_metrics_are_exactly_the_declared_ones():
    spec = _spec()
    e2e = [m["name"] for m in spec["end_to_end"]]
    layer = [m["name"] for m in spec["per_layer"]]
    measured = {name: 1.0 for name in e2e + layer}
    assert list(run.select_metrics(measured, trace=False)) == e2e
    assert list(run.select_metrics(measured, trace=True)) == layer
    # An untraced run measures no layer figure; its report is still whole.
    assert list(run.select_metrics({n: 1.0 for n in e2e}, trace=False)) == e2e


def test_undeclared_or_missing_metric_is_refused():
    spec = _spec()
    e2e = {m["name"]: 1.0 for m in spec["end_to_end"]}
    with pytest.raises(ValueError, match="not declared"):
        run.select_metrics(dict(e2e, made_up_s=1.0), trace=False)
    with pytest.raises(ValueError, match="not measured"):
        run.select_metrics({k: v for k, v in e2e.items() if k != "setup_s"}, trace=False)


def test_benchmark_json_names_the_workloads():
    from workloads import WORKLOADS

    assert [w["name"] for w in _spec()["workloads"]] == list(WORKLOADS)


def test_tail_has_ten_samples_beyond():
    samples = [float(i) for i in range(1, 41)]
    value, pct, beyond = worker.tail(samples)
    assert (value, pct, beyond) == (30.0, 75.0, 10)
    assert sum(s > value for s in samples) == 10
    # Below 20 samples no percentile at or above the median has ten beyond.
    assert worker.tail([float(i) for i in range(12)]) == (11.0, 100.0, 0)
    assert worker.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)


@pytest.mark.parametrize("raw", ["0", "-2", "four", "1.5"])
def test_parse_cpus_rejects_bad_values(raw):
    with pytest.raises(ValueError):
        run.parse_cpus(raw, 4)


def test_parse_cpus_defaults_and_accepts():
    assert run.parse_cpus(None, 4) == 4
    assert run.parse_cpus("", 4) == 4
    assert run.parse_cpus("3", 4) == 3


def _shingles(text: str, n: int = 3) -> set:
    w = text.split(" ")
    return {tuple(w[i : i + n]) for i in range(len(w) - n + 1)}


def test_planted_near_duplicates_are_near_not_exact():
    rng = __import__("numpy").random.default_rng(5)
    texts, clusters = gen.plant_near_duplicates(rng, gen.document_texts(rng, 300))
    assert len(clusters) == gen.PLANT_CLUSTERS
    pairs = gen.planted_pairs(clusters)
    assert len(pairs) == gen.PLANT_CLUSTERS * 3
    for a, b in pairs:
        assert texts[a] != texts[b]
        sa, sb = _shingles(texts[a]), _shingles(texts[b])
        assert len(sa & sb) / len(sa | sb) >= 0.6


def test_generation_is_seeded(tmp_path):
    a, b, c = tmp_path / "a", tmp_path / "b", tmp_path / "c"
    gen.generate(str(a), 3)
    gen.generate(str(b), 3)
    gen.generate(str(c), 4)
    for name in ("lineitem.parquet", "events.parquet", "documents.parquet", "planted.json"):
        assert (a / name).read_bytes() == (b / name).read_bytes()
    assert (a / "events.parquet").read_bytes() != (c / "events.parquet").read_bytes()


def test_self_time_subtracts_children():
    tr = Tracer("t", enabled=True)
    with tr.span("outer") as outer:
        with tr.span("inner") as inner:
            pass
    assert inner["parent"] == outer["id"]
    assert tr.self_time(outer) == pytest.approx(tr.duration(outer) - tr.duration(inner))
    assert tr.named("inner", outer) == [inner]


def test_tree_cpu_counts_descendants_outside_the_process_group():
    # A grandchild in its own session, as PySpark's Python daemon is, burns
    # CPU; the worker's count must include it.
    burn = (
        "import subprocess, sys; subprocess.Popen([sys.executable, '-c', "
        "\"import time, sys\\nwhile time.process_time() < 0.5: pass\\n"
        "print('done', flush=True)\\ntime.sleep(30)\"], start_new_session=True,"
        " stdout=sys.stdout).wait()"
    )
    before = worker.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", burn], stdout=subprocess.PIPE, text=True)
    try:
        assert child.stdout.readline().strip() == "done"
        assert worker.tree_cpu_s() - before >= 0.45
    finally:
        for p in run.child_pids(child.pid):
            os.kill(p, 9)
        child.kill()
        child.wait()



def test_orphans_of_the_worker_are_stopped_and_reaped():
    # The worker starts a process in its own session, as PySpark's daemon
    # is, and exits; run.py must still stop that process and reap it.
    script = f"""
import ctypes, os, subprocess, sys
sys.path.insert(0, {os.path.dirname(HERE)!r})
import run
ctypes.CDLL(None).prctl(run.PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
w = subprocess.Popen([sys.executable, "-c", "import subprocess, sys; print(subprocess.Popen("
                      "[sys.executable, '-c', 'import time; time.sleep(60)'],"
                      " start_new_session=True).pid, flush=True)"],
                     stdout=subprocess.PIPE, text=True)
orphan = int(w.stdout.readline())
w.wait()
assert orphan in run.child_pids(os.getpid())
run.stop_all(w)
print("gone" if not os.path.exists(f"/proc/{{orphan}}") else "alive")
"""
    out = subprocess.run(
        [sys.executable, "-c", script], capture_output=True, text=True, timeout=60
    )
    assert out.stdout.strip() == "gone", out.stderr

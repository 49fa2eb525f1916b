"""Tests of the benchmark's own code: seeded inputs, the shadow model, the
compare tool's verdicts and the launcher's refusal outside a checkout.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import compare, workload  # noqa: E402
from perfbench.workload import (  # noqa: E402
    ReadStream,
    StatementStream,
    brute_force,
    expected_read,
)


def _statements(seed: int, n: int) -> bytes:
    s = StatementStream(seed)
    return b"\n".join(s.next().sql.encode() for _ in range(n))


def _reads(seed: int, n: int) -> bytes:
    r = ReadStream(seed, rate=1.5)
    return b"\n".join(f"{x.due_s}|{x.sql}".encode() for x in (r.next() for _ in range(n)))


def test_same_seed_gives_byte_identical_streams():
    assert _statements(7, 40) == _statements(7, 40)
    assert _reads(7, 100) == _reads(7, 100)
    assert StatementStream(7).preload == StatementStream(7).preload


def test_other_seed_gives_other_streams():
    assert _statements(7, 40) != _statements(8, 40)
    assert _reads(7, 100) != _reads(8, 100)


def test_statement_mix_is_fixed_and_sizes_in_range():
    s = StatementStream(3)
    stmts = [s.next() for _ in range(2 * len(workload.CYCLE))]
    assert [st.kind for st in stmts] == [k for k, _ in workload.CYCLE] * 2
    assert {st.verb for st in stmts[:4]} == {"insert", "update", "delete"}
    assert any(st.table == "orders" for st in stmts[:4])
    for st in stmts:
        if st.kind in ("ins_events", "ins_lineitem"):
            assert workload.BATCH_LO <= st.rows <= workload.BATCH_HI


def test_shadow_matches_brute_force_recompute():
    s = StatementStream(11)
    assert s.shadow.view_rows() == brute_force(s.shadow)
    for i in range(64):
        s.next()
        if i % 8 == 7:
            assert s.shadow.view_rows() == brute_force(s.shadow)
    # deletes of orders retracted revenue through the join
    assert any(oid not in s.shadow.orders for oid in range(workload.PRELOAD_ORDERS))


def test_snapshot_is_frozen_and_reads_match_brute_force():
    s = StatementStream(5)
    snap = s.shadow.snapshot()
    before = sorted((u, g[0], g[1]) for u, g in snap.by_user.items())
    for _ in range(8):
        s.next()
    assert sorted((u, g[0], g[1]) for u, g in snap.by_user.items()) == before
    views = brute_force(s.shadow)
    reads = ReadStream(5, rate=1.0)
    for _ in range(30):
        r = reads.next()
        got = expected_read(s.shadow, r)
        if r.kind == "point":
            assert got == [row for row in views["mv_user"] if row[0] == r.arg[0]]
        elif r.kind == "top":
            assert got == views["top_users"]
        else:
            lo, hi = r.arg
            want: dict[int, list[int]] = {}
            for user, etype, amount in s.shadow.events.values():
                if lo <= user <= hi:
                    g = want.setdefault(etype, [0, 0])
                    g[0] += 1
                    g[1] += amount
            assert got == sorted((t, g[0], g[1]) for t, g in want.items())


def test_compare_verdicts():
    parent = [100.0, 101, 99, 100, 102, 98, 100, 101, 99, 100]
    faster = [x * 0.8 for x in parent]
    assert compare.verdict(parent, faster, "lower", 0.1) == ("better", 10)
    slower = [x * 1.3 for x in parent]
    assert compare.verdict(parent, slower, "lower", 0.1)[0] == "worse"
    assert compare.verdict(parent, list(parent), "lower", 0.1)[0] == "flat"
    noisy = [50.0, 150, 60, 140, 70, 130, 80, 120, 90, 110]
    assert compare.verdict(noisy, [x * 0.95 for x in noisy], "lower", 0.1)[0] == "unresolved"
    assert compare.verdict(parent, faster, "higher", 0.1)[0] == "worse"


def test_compare_more_failed_operations_is_worse():
    assert compare.summary(["better", "flat"], 0, 0) == "better"
    assert compare.summary(["better", "flat"], 0, 1) == "worse"
    assert compare.summary(["flat", "unresolved"], 2, 1) == "unresolved"


def test_compare_runs_the_benchmark_command():
    spec = compare.load_spec(os.path.join(ROOT, "BENCHMARK.json"))
    cmd = compare.run_command(spec, "serve", 7)
    assert cmd[:len(spec["command"])] == spec["command"]
    assert cmd[len(spec["command"]):] == ["--workload", "serve", "--seed", "7", "--seconds",
                                          str(spec["run_seconds"]), "--trace", "0"]


def test_launcher_refuses_outside_a_checkout(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__", "tests"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0
    assert p.stdout == ""


_LEAVES_ORPHAN = """
import os, subprocess, sys
sys.path.insert(0, sys.argv[1])
from perfbench import run
run.become_subreaper()
middle = subprocess.Popen([sys.executable, "-c", '''
import subprocess, sys, time
g = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(300)"],
                     start_new_session=True)
print(g.pid, flush=True)
time.sleep(300)
'''], stdout=subprocess.PIPE, text=True, start_new_session=True)
grandchild = int(middle.stdout.readline())
os.killpg(middle.pid, 9)  # as the launcher ends the server's group
middle.wait()
run.end_descendants()
print(grandchild)
"""


def test_launcher_ends_processes_outside_the_servers_group():
    p = subprocess.run([sys.executable, "-c", _LEAVES_ORPHAN, ROOT],
                       capture_output=True, text=True, timeout=60)
    assert p.returncode == 0, p.stderr
    grandchild = int(p.stdout.split()[-1])
    alive = os.path.exists(f"/proc/{grandchild}")
    if alive:
        os.kill(grandchild, 9)
    assert not alive

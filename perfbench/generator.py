"""Load generator process of the benchmark.

Drives the engine server over pgwire with the repository's own
`sources.pgwire.PgWireClient`, keeps the shadow model, checks every read
against it, and writes its measurements as one JSON file.

    python3 perfbench/generator.py --workload ingest --seed 1 --seconds 25 \
        --port 5432 --out result.json

Both workloads start with a closed loop of reads on one connection, timed
from send; it reads the views in the state the set-up left them in, or
right after inserts, which is the same for every seed. (After a DELETE or
UPDATE, point reads on `mv_user` run up to twice as slow on some seeds
and not on others; reads there would measure the seed more than the
engine. See NOTES.md.)

`ingest` is then a closed loop on the same connection: it sends the seeded
DML stream back to back and probes its own write after each
acknowledgement.

`serve` runs its closed loop beside the writer, which sends DML on a fixed
cadence from the start; then three reader connections send the seeded read
schedule at a fixed rate, an open loop, beside the same writer.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.workload import (  # noqa: E402
    VIEW_READS,
    Read,
    ReadStream,
    Shadow,
    Stmt,
    StatementStream,
    expected_read,
)

SERVE_READ_RATE = 1.5  # reads due per second, over all reader connections
# Reads of the closed loop: enough for ten beyond the reported p75.
CLOSED_READS = 40
SERVE_READERS = 3
SERVE_WRITE_EVERY_S = 10.0
SERVE_FIRST_WRITE_S = 2.0
MAX_ERRORS_KEPT = 5


class Tally:
    """Operations attempted and failed, shared by the generator's threads."""

    def __init__(self):
        self.lock = threading.Lock()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, ok: bool, what: str = "") -> None:
        with self.lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                if len(self.errors) < MAX_ERRORS_KEPT:
                    self.errors.append(what[:300])


def connect(port: int):
    from risingwave_spark.sources.pgwire import PgWireClient

    return PgWireClient("127.0.0.1", port, "root", "", "dev", timeout=170.0)


def rows_of(result) -> list[tuple]:
    return sorted(tuple(r) for r in result[1])


def timed_read(conn, sql: str) -> tuple[list[tuple] | None, float, str]:
    """(sorted rows or None on error, end time, error text)."""
    try:
        rows = rows_of(conn.query(sql))
        return rows, time.perf_counter(), ""
    except OSError as e:
        return None, time.perf_counter(), f"{sql[:80]}: {e}"


def check(tally: Tally, got, want_any: list[list[tuple]], sql: str, err: str) -> None:
    if got is None:
        tally.record(False, err)
    elif got in want_any:
        tally.record(True)
    else:
        tally.record(False, f"wrong rows for {sql[:80]}: got {got[:3]} want {want_any[0][:3]}")


def probe_reads(st: Stmt) -> list[Read]:
    """Read-your-write probes after statement `st` is acknowledged."""
    if st.table == "events":
        u = st.users[st.index % len(st.users)] if st.users else 1
        return [
            Read(0.0, "point",
                 f"SELECT user_id, n, total FROM mv_user WHERE user_id = {u}", (u,)),
            Read(0.0, "view", VIEW_READS["mv_type"], ("mv_type",)),
        ]
    return [Read(0.0, "view", VIEW_READS["mv_order_rev"], ("mv_order_rev",))]


def expected(shadow: Shadow, r: Read) -> list[tuple]:
    if r.arg == ("mv_type",):
        return sorted((t, g[0], g[1]) for t, g in shadow.by_type.items())
    if r.arg == ("mv_order_rev",):
        return sorted((s, g[0], g[1]) for s, g in shadow.rev.items())
    return expected_read(shadow, r)


def final_check(conn, shadow: Shadow, tally: Tally) -> None:
    """Every row of every view equals the shadow model at end of run."""
    want = shadow.view_rows()
    for view, sql in VIEW_READS.items():
        got, _, err = timed_read(conn, sql)
        check(tally, got, [want[view]], sql, err)


def write(conn, st: Stmt, tally: Tally) -> bool:
    try:
        conn.query(st.sql)
    except OSError as e:
        tally.record(False, f"statement {st.index} ({st.kind}): {e}")
        return False
    tally.record(True)
    return True


def closed_loop(conn, rs: ReadStream, read) -> tuple[list[float], float]:
    """CLOSED_READS reads of the read mix back to back (the rate only sets
    due times, which a closed loop ignores); `read(conn, r)` sends one,
    checks it and returns when its last row arrived. Returns (latencies
    from send in ms, reads per second)."""
    lat = []
    t1 = time.perf_counter()
    for _ in range(CLOSED_READS):
        sent = time.perf_counter()
        lat.append((read(conn, rs.next()) - sent) * 1e3)
    return lat, CLOSED_READS / (time.perf_counter() - t1)


def run_ingest(seed: int, port: int, seconds: float) -> dict:
    tally = Tally()
    stream = StatementStream(seed)
    conn = connect(port)

    def read(conn, r: Read) -> float:
        got, done, err = timed_read(conn, r.sql)
        check(tally, got, [expected(stream.shadow, r)], r.sql, err)
        return done

    t0 = time.perf_counter()
    reads, capacity = closed_loop(conn, ReadStream(seed, rate=SERVE_READ_RATE), read)
    fresh, rows = [], 0
    t1 = time.perf_counter()
    while time.perf_counter() < t0 + seconds or stream.index == 0:
        created = time.perf_counter()  # the batch is made just before it is sent
        st = stream.next()
        if write(conn, st, tally):
            ack = time.perf_counter()
            fresh.append((ack - created) * 1e3)
            rows += st.rows
        for r in probe_reads(st):
            read(conn, r)
    write_s = time.perf_counter() - t1
    final_check(conn, stream.shadow, tally)
    conn.close()
    return {
        "freshness_ms": fresh,
        "read_ms": reads,
        "read_capacity_qps": capacity,
        "rows": rows,
        "write_s": write_s,
        "statements": stream.index,
        "lateness_ms_max": 0.0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "errors": tally.errors,
    }


class Versions:
    """Which shadow versions a read may legally see: every version from
    the last acknowledged write at send time to the last one at receive
    time, plus the write in flight."""

    def __init__(self, shadow: Shadow):
        self.lock = threading.Lock()
        self.acked = 0
        self.inflight = 0
        self.snaps = [shadow.snapshot()]

    def low(self) -> int:
        with self.lock:
            return self.acked

    def high(self) -> int:
        with self.lock:
            return self.acked + self.inflight


def checked_read(conn, r: Read, vers: Versions, tally: Tally) -> float:
    """Send read `r`, check it against every legal version; return the
    time its last row arrived."""
    lo = vers.low()
    got, done, err = timed_read(conn, r.sql)
    hi = vers.high()
    want = [expected_read(vers.snaps[v], r) for v in range(lo, hi + 1)]
    check(tally, got, want, r.sql, err)
    return done


def run_serve(seed: int, port: int, seconds: float) -> dict:
    tally = Tally()
    stream = StatementStream(seed)
    vers = Versions(stream.shadow)
    wconn = connect(port)
    rconns = [connect(port) for _ in range(SERVE_READERS)]
    out = {"freshness_ms": []}
    t0 = time.perf_counter()
    t_end = t0 + seconds

    def writer():
        k = 0
        while k == 0 or t0 + SERVE_FIRST_WRITE_S + k * SERVE_WRITE_EVERY_S < t_end:
            due = t0 + SERVE_FIRST_WRITE_S + k * SERVE_WRITE_EVERY_S
            k += 1
            time.sleep(max(0.0, due - time.perf_counter()))
            st = stream.next()  # the batch is created when due
            snap = stream.shadow.snapshot()
            with vers.lock:
                vers.snaps.append(snap)
                vers.inflight = 1
            ok = write(wconn, st, tally)
            ack = time.perf_counter()
            with vers.lock:
                vers.acked += 1
                vers.inflight = 0
            if ok:
                out["freshness_ms"].append((ack - due) * 1e3)
            for r in probe_reads(st):
                got, _, err = timed_read(wconn, r.sql)
                check(tally, got, [expected(stream.shadow, r)], r.sql, err)

    wthread = threading.Thread(target=writer)
    wthread.start()
    rs = ReadStream(seed, rate=SERVE_READ_RATE)
    reads, capacity = closed_loop(rconns[0], rs,
                                  lambda conn, r: checked_read(conn, r, vers, tally))
    # the open loop: the rest of the read stream, due from now on
    t_open = time.perf_counter()
    schedule: list[tuple[float, Read]] = []
    base = None
    while True:
        r = rs.next()
        base = r.due_s if base is None else base
        due = t_open + r.due_s - base
        if due >= t_end:
            break
        schedule.append((due, r))
    open_ms: list[float] = []
    late_ms = [0.0]

    def reader(j: int):
        conn = rconns[j]
        for due, r in schedule[j::SERVE_READERS]:
            wait = due - time.perf_counter()
            if wait > 0:  # idle at the due time: any lateness is ours
                time.sleep(wait)
                late = (time.perf_counter() - due) * 1e3
                with tally.lock:
                    late_ms[0] = max(late_ms[0], late)
            done = checked_read(conn, r, vers, tally)
            open_ms.append((done - due) * 1e3)

    readers = [threading.Thread(target=reader, args=(j,)) for j in range(SERVE_READERS)]
    for t in readers:
        t.start()
    for t in readers + [wthread]:
        t.join()
    final_check(wconn, stream.shadow, tally)
    for c in [wconn] + rconns:
        c.close()
    out.update({
        "read_ms": reads,
        "read_capacity_qps": capacity,
        "open_read_ms": open_ms,
        "statements": stream.index,
        "lateness_ms_max": late_ms[0],
        "attempted": tally.attempted,
        "failed": tally.failed,
        "errors": tally.errors,
    })
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=("ingest", "serve"), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    run = run_ingest if args.workload == "ingest" else run_serve
    res = run(args.seed, args.port, args.seconds)
    with open(args.out, "w") as f:
        json.dump(res, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())

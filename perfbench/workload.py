"""Seeded inputs and the shadow model for the `ingest` and `serve` workloads.

Pure Python: nothing here imports Spark or the engine, so the generator
process, the launcher and the benchmark's tests share it cheaply.

Everything is a function of the seed alone. The statement stream is a
deterministic sequence: a run consumes a prefix whose length depends on
how fast the engine answers, but statement k is byte-identical for a given
seed on every run and every machine.
"""

from __future__ import annotations

import bisect
import functools
import math
import random
from dataclasses import dataclass, field

N_USERS = 20_000
N_TYPES = 5
N_STATUS = 3
ZIPF_S = 1.1
# Multi-row statements draw their row count from a log-uniform range.
# The top is 400, not 2000: the engine's SQL rewrite is quadratic in the
# statement text, and one 2000-row INSERT takes ~45 s on a 4-core box,
# more than a whole run (see NOTES.md).
BATCH_LO, BATCH_HI = 50, 400
PRELOAD_EVENTS = 20_000
PRELOAD_ORDERS = 2_000
LINES_PER_ORDER = 3

DDL = [
    "CREATE TABLE events (event_id int8 PRIMARY KEY, user_id int8, "
    "event_type int8, amount int8)",
    "CREATE TABLE orders (o_id int8 PRIMARY KEY, o_user int8, o_status int8)",
    "CREATE TABLE lineitem (l_id int8 PRIMARY KEY, l_oid int8, l_qty int8, "
    "l_price int8)",
]
MV_DDL = [
    "CREATE MATERIALIZED VIEW mv_user AS SELECT user_id, count(*) AS n, "
    "sum(amount) AS total FROM events GROUP BY user_id",
    "CREATE MATERIALIZED VIEW mv_type AS SELECT event_type, count(*) AS n, "
    "sum(amount) AS total FROM events GROUP BY event_type",
    "CREATE MATERIALIZED VIEW top_users AS SELECT user_id, total FROM mv_user "
    "ORDER BY total DESC, user_id LIMIT 10",
    "CREATE MATERIALIZED VIEW mv_order_rev AS SELECT o.o_status AS o_status, "
    "count(*) AS n, sum(l.l_qty * l.l_price) AS rev FROM orders o "
    "JOIN lineitem l ON o.o_id = l.l_oid GROUP BY o.o_status",
]
COLUMNS = {
    "events": ("event_id", "user_id", "event_type", "amount"),
    "orders": ("o_id", "o_user", "o_status"),
    "lineitem": ("l_id", "l_oid", "l_qty", "l_price"),
}
# The final check reads every view whole, in this order.
VIEW_READS = {
    "mv_user": "SELECT user_id, n, total FROM mv_user",
    "mv_type": "SELECT event_type, n, total FROM mv_type",
    "top_users": "SELECT user_id, total FROM top_users",
    "mv_order_rev": "SELECT o_status, n, rev FROM mv_order_rev",
}

# Statements repeat this fixed cycle of kinds, each with its size level:
# level j is the j-th of len(CYCLE) quantile midpoints of the log-uniform
# [BATCH_LO, BATCH_HI], so every cycle covers the whole range. The seed
# draws keys, values and the rows an UPDATE or DELETE hits. The order is
# fixed so that every run sees the same mix: a run completes only 3 to 8
# statements. The first four hold every DML verb and a join input.
CYCLE = (("ins_events", 3), ("ins_orders", 6), ("del_events", 1), ("upd_events", 4),
         ("ins_lineitem", 7), ("ins_events", 0), ("del_orders", 5), ("ins_events", 2))
# Reads of the `serve` mix, a fixed cycle of ten: 7 point lookups on
# mv_user, 2 top-k reads and one ad-hoc aggregate over `events`.
READ_CYCLE = ("point", "top", "point", "point", "adhoc",
              "point", "point", "top", "point", "point")


def batch_sizes(k: int) -> list[int]:
    """The k quantile midpoints of the log-uniform [BATCH_LO, BATCH_HI]."""
    lo, hi = math.log(BATCH_LO), math.log(BATCH_HI)
    return [round(math.exp(lo + (j + 0.5) / k * (hi - lo))) for j in range(k)]


class Zipf:
    """Sampler of ranks 1..n with P(r) proportional to r**-s."""

    def __init__(self, n: int, s: float):
        acc, cdf = 0.0, []
        for r in range(1, n + 1):
            acc += r ** -s
            cdf.append(acc)
        self._cdf = [c / acc for c in cdf]

    def sample(self, rng: random.Random) -> int:
        return min(bisect.bisect_left(self._cdf, rng.random()), len(self._cdf) - 1) + 1


@functools.cache
def zipf() -> Zipf:
    """The user-key sampler, built once per process."""
    return Zipf(N_USERS, ZIPF_S)


@dataclass
class Stmt:
    index: int
    kind: str  # one of the CYCLE kinds
    verb: str  # insert | update | delete
    table: str
    sql: str
    rows: int  # rows the statement inserts, updates or deletes
    users: list[int] = field(default_factory=list)  # mv_user keys touched


class Shadow:
    """The expected content of every table and view, maintained
    incrementally as statements are generated."""

    def __init__(self):
        self.events: dict[int, list[int]] = {}  # id -> [user, type, amount]
        self.orders: dict[int, list[int]] = {}  # id -> [user, status]
        self.lineitem: dict[int, list[int]] = {}  # id -> [oid, qty, price]
        self.lines_of: dict[int, set[int]] = {}  # oid -> line ids
        self.by_user: dict[int, list[int]] = {}  # user -> [n, total]
        self.by_type: dict[int, list[int]] = {}  # type -> [n, total]
        self.rev: dict[int, list[int]] = {}  # status -> [n, rev]

    @staticmethod
    def _bump(groups: dict, key: int, n: int, v: int) -> None:
        g = groups.setdefault(key, [0, 0])
        g[0] += n
        g[1] += v
        if g[0] == 0:
            del groups[key]

    def put_event(self, eid: int, user: int, etype: int, amount: int) -> None:
        self.events[eid] = [user, etype, amount]
        self._bump(self.by_user, user, 1, amount)
        self._bump(self.by_type, etype, 1, amount)

    def drop_event(self, eid: int) -> None:
        user, etype, amount = self.events.pop(eid)
        self._bump(self.by_user, user, -1, -amount)
        self._bump(self.by_type, etype, -1, -amount)

    def put_order(self, oid: int, user: int, status: int) -> None:
        self.orders[oid] = [user, status]
        for lid in self.lines_of.get(oid, ()):
            _, q, p = self.lineitem[lid]
            self._bump(self.rev, status, 1, q * p)

    def drop_order(self, oid: int) -> None:
        _, status = self.orders.pop(oid)
        for lid in self.lines_of.get(oid, ()):
            _, q, p = self.lineitem[lid]
            self._bump(self.rev, status, -1, -q * p)

    def put_line(self, lid: int, oid: int, qty: int, price: int) -> None:
        self.lineitem[lid] = [oid, qty, price]
        self.lines_of.setdefault(oid, set()).add(lid)
        if oid in self.orders:
            self._bump(self.rev, self.orders[oid][1], 1, qty * price)

    def snapshot(self) -> "Shadow":
        """A frozen copy for checking reads that overlap a write: the
        events and per-user groups, all that `expected_read` consults."""
        s = Shadow()
        s.events = dict(self.events)  # rows are replaced, never mutated
        s.by_user = {u: g[:] for u, g in self.by_user.items()}
        return s

    def top_users(self, k: int = 10) -> list[tuple[int, int]]:
        best = sorted(self.by_user.items(), key=lambda kv: (-kv[1][1], kv[0]))[:k]
        return [(u, g[1]) for u, g in best]

    def view_rows(self) -> dict[str, list[tuple]]:
        """Every view's rows, sorted, in the column order of VIEW_READS."""
        return {
            "mv_user": sorted((u, g[0], g[1]) for u, g in self.by_user.items()),
            "mv_type": sorted((t, g[0], g[1]) for t, g in self.by_type.items()),
            "top_users": sorted(self.top_users()),
            "mv_order_rev": sorted((s, g[0], g[1]) for s, g in self.rev.items()),
        }

    def adhoc(self, lo: int, hi: int) -> list[tuple]:
        """Expected rows of the ad-hoc aggregate over users lo..hi."""
        out: dict[int, list[int]] = {}
        for user, etype, amount in self.events.values():
            if lo <= user <= hi:
                self._bump(out, etype, 1, amount)
        return sorted((t, g[0], g[1]) for t, g in out.items())


def brute_force(shadow: Shadow) -> dict[str, list[tuple]]:
    """Recompute every view from the base tables alone; the benchmark's
    tests hold the incremental Shadow to this."""
    by_user: dict[int, list[int]] = {}
    by_type: dict[int, list[int]] = {}
    rev: dict[int, list[int]] = {}
    for user, etype, amount in shadow.events.values():
        g = by_user.setdefault(user, [0, 0])
        g[0] += 1
        g[1] += amount
        g = by_type.setdefault(etype, [0, 0])
        g[0] += 1
        g[1] += amount
    for oid, qty, price in shadow.lineitem.values():
        if oid in shadow.orders:
            g = rev.setdefault(shadow.orders[oid][1], [0, 0])
            g[0] += 1
            g[1] += qty * price
    top = sorted(by_user.items(), key=lambda kv: (-kv[1][1], kv[0]))[:10]
    return {
        "mv_user": sorted((u, g[0], g[1]) for u, g in by_user.items()),
        "mv_type": sorted((t, g[0], g[1]) for t, g in by_type.items()),
        "top_users": sorted((u, g[1]) for u, g in top),
        "mv_order_rev": sorted((s, g[0], g[1]) for s, g in rev.items()),
    }


def _values(rows: list[tuple]) -> str:
    return ",".join("(" + ",".join(str(v) for v in r) + ")" for r in rows)


class StatementStream:
    """The seeded DML sequence, starting from the seeded preload.

    `next()` returns statement k and applies it to `shadow`, so after the
    engine acknowledges statement k the shadow holds what every view must
    show."""

    def __init__(self, seed: int):
        self.rng = random.Random(f"statements-{seed}")
        self.shadow = Shadow()
        self.index = 0
        self.preload = self._make_preload(random.Random(f"preload-{seed}"))
        for eid, user, etype, amount in self.preload["events"]:
            self.shadow.put_event(eid, user, etype, amount)
        for oid, user, status in self.preload["orders"]:
            self.shadow.put_order(oid, user, status)
        for lid, oid, qty, price in self.preload["lineitem"]:
            self.shadow.put_line(lid, oid, qty, price)
        self.next_event = PRELOAD_EVENTS
        self.next_order = PRELOAD_ORDERS
        self.next_line = PRELOAD_ORDERS * LINES_PER_ORDER

    @staticmethod
    def _make_preload(rng: random.Random) -> dict[str, list[tuple]]:
        z = zipf()
        events = [
            (i, z.sample(rng), rng.randrange(N_TYPES), rng.randint(1, 1000))
            for i in range(PRELOAD_EVENTS)
        ]
        orders = [
            (i, z.sample(rng), rng.randrange(N_STATUS)) for i in range(PRELOAD_ORDERS)
        ]
        lineitem = [
            (i, i // LINES_PER_ORDER, rng.randint(1, 50), rng.randint(1, 100))
            for i in range(PRELOAD_ORDERS * LINES_PER_ORDER)
        ]
        return {"events": events, "orders": orders, "lineitem": lineitem}

    def _pick(self, ids: dict, n: int) -> list[int]:
        # sorted() first: dict order depends on history, the pick must not
        return self.rng.sample(sorted(ids), min(n, len(ids)))

    def next(self) -> Stmt:
        k = self.index
        kind, level = CYCLE[k % len(CYCLE)]
        size = batch_sizes(len(CYCLE))[level]
        rng, sh, z = self.rng, self.shadow, zipf()
        self.index += 1
        if kind == "ins_events":
            rows = []
            for _ in range(size):
                rows.append((self.next_event, z.sample(rng), rng.randrange(N_TYPES),
                             rng.randint(1, 1000)))
                self.next_event += 1
            for r in rows:
                sh.put_event(*r)
            sql = ("INSERT INTO events (event_id, user_id, event_type, amount) "
                   "VALUES " + _values(rows))
            return Stmt(k, kind, "insert", "events", sql, len(rows),
                        sorted({r[1] for r in rows}))
        if kind == "upd_events":
            ids = self._pick(sh.events, size // 2)
            d = rng.randint(1, 9)
            users = set()
            for eid in ids:
                user, etype, amount = sh.events[eid]
                users.add(user)
                sh.drop_event(eid)
                sh.put_event(eid, user, etype, amount + d)
            sql = (f"UPDATE events SET amount = amount + {d} WHERE event_id IN ("
                   + ",".join(map(str, sorted(ids))) + ")")
            return Stmt(k, kind, "update", "events", sql, len(ids), sorted(users))
        if kind == "del_events":
            ids = self._pick(sh.events, size // 2)
            users = {sh.events[eid][0] for eid in ids}
            for eid in ids:
                sh.drop_event(eid)
            sql = ("DELETE FROM events WHERE event_id IN ("
                   + ",".join(map(str, sorted(ids))) + ")")
            return Stmt(k, kind, "delete", "events", sql, len(ids), sorted(users))
        if kind == "ins_orders":
            rows = []
            for _ in range(max(1, size // LINES_PER_ORDER)):
                rows.append((self.next_order, z.sample(rng), rng.randrange(N_STATUS)))
                self.next_order += 1
            for r in rows:
                sh.put_order(*r)
            sql = "INSERT INTO orders (o_id, o_user, o_status) VALUES " + _values(rows)
            return Stmt(k, kind, "insert", "orders", sql, len(rows))
        if kind == "ins_lineitem":
            # lines land on recent orders, some of them already deleted
            lo = max(0, self.next_order - 2 * PRELOAD_ORDERS)
            rows = []
            for _ in range(size):
                rows.append((self.next_line, rng.randrange(lo, self.next_order),
                             rng.randint(1, 50), rng.randint(1, 100)))
                self.next_line += 1
            for r in rows:
                sh.put_line(*r)
            sql = ("INSERT INTO lineitem (l_id, l_oid, l_qty, l_price) VALUES "
                   + _values(rows))
            return Stmt(k, kind, "insert", "lineitem", sql, len(rows))
        if kind == "del_orders":
            ids = self._pick(sh.orders, max(1, size // 10))
            for oid in ids:
                sh.drop_order(oid)
            sql = "DELETE FROM orders WHERE o_id IN (" + ",".join(map(str, sorted(ids))) + ")"
            return Stmt(k, kind, "delete", "orders", sql, len(ids))
        raise ValueError(kind)


@dataclass
class Read:
    due_s: float  # offset from the start of the open-loop phase
    kind: str  # point | top | adhoc; the generator's probes add view
    sql: str
    arg: tuple = ()


class ReadStream:
    """The seeded read mix: Zipf-hot point lookups on mv_user, top-k reads
    and ad-hoc aggregates over `events`, due every 1/rate seconds."""

    def __init__(self, seed: int, rate: float):
        self.rng = random.Random(f"reads-{seed}")
        self.rate = rate
        self.index = 0

    def next(self) -> Read:
        k = self.index
        kind = READ_CYCLE[k % len(READ_CYCLE)]
        self.index += 1
        due = k / self.rate
        if kind == "point":
            u = zipf().sample(self.rng)
            return Read(due, kind,
                        f"SELECT user_id, n, total FROM mv_user WHERE user_id = {u}", (u,))
        if kind == "top":
            return Read(due, kind, VIEW_READS["top_users"])
        lo = self.rng.randint(1, N_USERS - 2000)
        return Read(due, kind,
                    "SELECT event_type, count(*) AS n, sum(amount) AS total FROM events "
                    f"WHERE user_id BETWEEN {lo} AND {lo + 1999} GROUP BY event_type",
                    (lo, lo + 1999))


def expected_read(shadow: Shadow, r: Read) -> list[tuple]:
    """The sorted rows read `r` must return against `shadow`."""
    if r.kind == "point":
        g = shadow.by_user.get(r.arg[0])
        return [] if g is None else [(r.arg[0], g[0], g[1])]
    if r.kind == "top":
        return sorted(shadow.top_users())
    return shadow.adhoc(*r.arg)

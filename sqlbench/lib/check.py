"""Answer checks: every op's result against a path independent of Spark.

Fixture reads are re-run in DuckDB over the same parquet files. Plane reads
and the head manifest's planes are checked against a serial numpy replay
of the committed transactions, in commit order, from generation 0.
"""
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

from datagen import PLANE_MOD, PLANES

REL_TOL = 1e-9


def _same(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return abs(a - b) <= REL_TOL * max(1.0, abs(a), abs(b))
    return a == b


def _key(row):
    return tuple(round(v, 2) if isinstance(v, float) else v for v in row)


def rows_match(got, want, ordered):
    if len(got) != len(want):
        return False
    if not ordered:
        got, want = sorted(got, key=_key), sorted(want, key=_key)
    return all(len(g) == len(w) and all(_same(x, y) for x, y in zip(g, w))
               for g, w in zip(got, want))


class Oracle:
    """DuckDB over the generated parquet tables; each distinct SQL text is
    evaluated once."""

    def __init__(self, data_dir, tables):
        # parquet and ICU are linked in; never fetch or load extensions.
        self.con = duckdb.connect(config={"threads": 2, "autoinstall_known_extensions": False,
                                          "autoload_known_extensions": False})
        self.con.execute("SET TimeZone = 'UTC'")
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
        self.memo = {}

    def rows(self, sql):
        if sql not in self.memo:
            self.memo[sql] = [list(r) for r in self.con.execute(sql).fetchall()]
        return self.memo[sql]


def apply_txn(state, txn):
    """One committed transaction on {plane: values indexed by key - 1}."""
    out = dict(state)
    for plane in PLANES:
        m, r, a, b = txn.params[plane]
        v = state[plane].copy()
        k = np.arange(1, len(v) + 1)
        sel = k % m == r
        v[sel] = (v[sel] * a + b) % PLANE_MOD
        out[plane] = v
    return out


def plane_answer(state, spec):
    """The (n, s) a plane read returns, from a replayed state."""
    kind = spec[0]
    if kind == "mod":
        _, plane, m, r = spec
        v = state[plane]
        sel = np.arange(1, len(v) + 1) % m == r
        return [int(sel.sum()), int(v[sel].sum())]
    if kind == "range":
        _, plane, lo, hi = spec
        v = state[plane][lo - 1:hi]
        return [len(v), int(v.sum())]
    _, m, r = spec
    n = min(len(state["bal"]), len(state["stock"]))
    sel = np.arange(1, n + 1) % m == r
    return [int(sel.sum()), int(state["bal"][:n][sel].sum() + state["stock"][:n][sel].sum())]


def read_plane(path):
    t = pq.read_table(path)
    k = t["k"].to_numpy()
    v = np.empty(len(k), dtype=np.int64)
    v[k - 1] = t["v"].to_numpy()
    if len(np.unique(k)) != len(k) or k.min() != 1 or k.max() != len(k):
        raise ValueError(f"plane {path} does not hold keys 1..{len(k)} once each")
    return v


def replay_check(initial, txns, commits, head_gen, head_state, reads=()):
    """Serial replay of `commits` ([(gen, txn id)]) from `initial` (gen 0).

    Returns (problems, bad_read_ids). `problems` lists what failed about
    the commit log as a whole: gens not exactly 1..head_gen, a txn
    committed twice or unknown, or a head plane that differs from the
    replay. `reads` are (id, gen, last_commit, answer, spec) plane reads,
    each checked against the replayed state at the generation it
    resolved, and required to be no older than the client's last commit.
    """
    problems = []
    order = sorted(commits)
    if [g for g, _ in order] != list(range(1, head_gen + 1)):
        problems.append(f"commit generations are not 1..{head_gen}")
    ids = [t for _, t in order]
    if len(set(ids)) != len(ids):
        problems.append("a transaction committed twice")
    unknown = [t for t in ids if t not in txns]
    if unknown:
        problems.append(f"unknown transactions committed: {unknown[:3]}")
        return problems, set()
    by_gen = {}
    for r in reads:
        by_gen.setdefault(r[1], []).append(r)
    bad = set()

    def check_reads(gen, state):
        for rid, _, last, answer, spec in by_gen.get(gen, ()):
            if gen < last or [int(x) for x in answer] != plane_answer(state, spec):
                bad.add(rid)

    state = initial
    check_reads(0, state)
    for g, t in order:
        state = apply_txn(state, txns[t])
        check_reads(g, state)
    bad |= {r[0] for r in reads if r[1] > head_gen or r[1] < 0}
    for plane in PLANES:
        if not np.array_equal(state[plane], head_state[plane]):
            problems.append(f"head plane {plane} differs from the serial replay")
    return problems, bad

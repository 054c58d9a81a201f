"""Seeded inputs of the benchmark: the fixture tables and the op streams.

Everything here is a pure function of the seed, so the same seed gives the
same parquet bytes and the same op stream. The JVM side only ever sees the
generated SQL text and command batches; the replay check in check.py
re-derives each transaction's effect from the same `Txn` records.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table sizes at scale factor 0.1 (TPC-H-shaped): 17 MB of parquet, well
# inside the OS page cache, so reads measure CPU, not disk.
N_CUSTOMER = 15_000
N_ORDERS = 150_000
N_PART = 20_000
N_SUPPLIER = 1_000
NATIONS = [
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA", "FRANCE",
    "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN", "JORDAN", "KENYA",
    "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA", "SAUDI ARABIA",
    "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
DAY_US = 86_400 * 1_000_000
EPOCH_1992 = 694_224_000 * 1_000_000  # 1992-01-01T00:00:00Z in µs
ORDER_DAYS = 2_405                    # 1992-01-01 .. 1998-08-02

# Planes the write path maintains. Values live in Z_P so that the affine
# updates below never overflow and never commute.
PLANE_MOD = 1_000_003
PLANES = ("bal", "stock")
PLANE_ROWS = {"bal": N_CUSTOMER, "stock": N_PART}
# Bootstrap SQL run by the program (over the fixture views) and the same
# function evaluated independently in `bootstrap_planes`.
BOOTSTRAP_SQL = {
    "bal": f"SELECT c_custkey AS k, pmod(c_custkey * 7919 + c_nationkey, {PLANE_MOD}) AS v "
           "FROM customer",
    "stock": f"SELECT p_partkey AS k, pmod(p_partkey * 104729 + p_size, {PLANE_MOD}) AS v "
             "FROM part",
}

TS = pa.timestamp("us", tz="UTC")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _dict_col(rng, choices, n):
    idx = rng.integers(0, len(choices), n).astype(np.int32)
    return pa.DictionaryArray.from_arrays(pa.array(idx), pa.array(choices))


def make_tables(seed):
    """Return {name: pyarrow.Table} with the schemas graft.sources.Schemas reads."""
    rng = np.random.default_rng([seed, 1])
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array(NATIONS),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    ck = np.arange(1, N_CUSTOMER + 1, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": pa.array([f"Customer#{k:09d}" for k in ck]),
        "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, N_CUSTOMER),
        "c_mktsegment": _dict_col(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], N_CUSTOMER)})
    sk = np.arange(1, N_SUPPLIER + 1, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": pa.array([f"Supplier#{k:09d}" for k in sk]),
        "s_nationkey": rng.integers(0, 25, N_SUPPLIER).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, N_SUPPLIER)})
    pk = np.arange(1, N_PART + 1, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": pa.array([f"part {k}" for k in pk]),
        "p_brand": _dict_col(rng, [f"Brand#{a}{b}" for a in range(1, 6) for b in range(1, 6)],
                             N_PART),
        "p_type": _dict_col(rng, ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"],
                            N_PART),
        "p_size": rng.integers(1, 51, N_PART).astype(np.int32),
        "p_retailprice": _money(rng, 900.0, 2100.0, N_PART)})
    ok = np.arange(1, N_ORDERS + 1, dtype=np.int64)
    odate = EPOCH_1992 + rng.integers(0, ORDER_DAYS, N_ORDERS) * DAY_US
    t["orders"] = pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(1, N_CUSTOMER + 1, N_ORDERS).astype(np.int64),
        "o_orderstatus": _dict_col(rng, ["F", "O", "P"], N_ORDERS),
        "o_totalprice": _money(rng, 850.0, 450_000.0, N_ORDERS),
        "o_orderdate": pa.array(odate, TS),
        "o_orderpriority": _dict_col(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                           "5-LOW"], N_ORDERS)})
    lines = rng.integers(1, 8, N_ORDERS)
    n = int(lines.sum())
    lok = np.repeat(ok, lines)
    lnum = (np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(1, N_PART + 1, n).astype(np.int64),
        "l_suppkey": rng.integers(1, N_SUPPLIER + 1, n).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": _dict_col(rng, ["A", "N", "R"], n),
        "l_linestatus": _dict_col(rng, ["F", "O"], n),
        "l_shipdate": pa.array(np.repeat(odate, lines) + rng.integers(1, 122, n) * DAY_US, TS)})
    # graft.sources.Tables.registerAll binds these too; the workloads never
    # query them, so a handful of schema-correct rows is enough.
    t["events"] = pa.table({
        "event_id": np.arange(8, dtype=np.int64), "ts": pa.array(EPOCH_1992 + np.arange(8), TS),
        "user_id": np.arange(8, dtype=np.int64), "event_type": pa.array(["view"] * 8),
        "value": np.ones(8), "props": pa.array(["{}"] * 8)})
    t["documents"] = pa.table({
        "doc_id": np.arange(8, dtype=np.int64), "text": pa.array(["a b c"] * 8),
        "lang": pa.array(["en"] * 8), "source": pa.array(["web"] * 8),
        "n_chars": np.full(8, 5, dtype=np.int64)})
    t["embeddings"] = pa.table({
        "vec_id": np.arange(8, dtype=np.int64),
        "embedding": pa.array([[0.5, 0.25]] * 8, pa.list_(pa.float32())),
        "label": pa.array(np.zeros(8, dtype=np.int32))})
    return t


def write_tables(tables, out_dir):
    """One parquet file per table, in row groups small enough that a scan
    of the large tables splits across task slots."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=100_000, compression="snappy")


def bootstrap_planes(tables):
    """Generation 0 of each plane, computed without Spark: {plane: int64 array
    indexed by key - 1}. Mirrors BOOTSTRAP_SQL."""
    c = tables["customer"]
    p = tables["part"]
    return {
        "bal": (c["c_custkey"].to_numpy() * 7919
                + c["c_nationkey"].to_numpy().astype(np.int64)) % PLANE_MOD,
        "stock": (p["p_partkey"].to_numpy() * 104729
                  + p["p_size"].to_numpy().astype(np.int64)) % PLANE_MOD,
    }


# --- op streams ---------------------------------------------------------

def _date(days):
    return str(np.datetime64("1992-01-01") + np.timedelta64(int(days), "D"))


class Txn:
    """One write transaction: for each plane, rows with k % m == r become
    (v * a + b) mod PLANE_MOD. Affine maps do not commute, so the final
    planes depend on the commit order the replay check re-derives."""

    def __init__(self, tid, params):
        self.tid = tid
        self.params = params  # {plane: (m, r, a, b)}

    def batch(self):
        """The SQL command batch the program applies. `{w}` is the writer's
        view prefix and `{bal}`/`{stock}` the base generation's paths; the
        JVM fills both in at apply time (they change on a rebase)."""
        out = []
        for plane in PLANES:
            m, r, a, b = self.params[plane]
            out.append(
                f"CREATE OR REPLACE TEMP VIEW {{w}}_{plane} AS SELECT k, "
                f"CASE WHEN k % {m} = {r} THEN (v * {a} + {b}) % {PLANE_MOD} ELSE v END AS v "
                f"FROM parquet.`{{{plane}}}`")
        return out

    def op(self):
        return {"k": "w", "id": self.tid, "batch": self.batch()}

    def changed_rows(self):
        """Rows the transaction rewrites, over both planes."""
        return sum(len(range(r if r else m, PLANE_ROWS[p] + 1, m))
                   for p, (m, r, _, _) in self.params.items())


def _txn(rng, tid):
    params = {}
    for plane in PLANES:
        m = int(rng.integers(5, 14))
        params[plane] = (m, int(rng.integers(0, m)), int(rng.integers(2, 10)),
                         int(rng.integers(0, PLANE_MOD)))
    return Txn(tid, params)


class _Even:
    """Draws in [0, 1) that cover the interval evenly: each block of n draws
    takes one value from each of n equal strata, in a seeded order. Runs of
    a few dozen ops then get the same mix of cheap and costly parameters
    whatever the seed, which keeps per-run medians steady."""

    def __init__(self, rng, n):
        self.rng, self.n, self.todo = rng, n, []

    def __call__(self):
        if not self.todo:
            self.todo = [int(j) for j in self.rng.permutation(self.n)]
        return (self.todo.pop() + self.rng.random()) / self.n


class _Reads:
    """Read-op generator of one stream: the kind of each read and its main
    parameter are drawn evenly (see _Even). `strata` names the kind of each
    equal share of the reads."""

    def __init__(self, rng, strata):
        self.rng = rng
        self.strata = strata
        self.kind = _Even(rng, len(strata))
        n_kinds = max(strata) + 1
        self.param = [_Even(rng, 8) for _ in range(n_kinds)]
        self.seen = [0] * n_kinds

    def next(self):
        kind = self.strata[int(self.kind() * len(self.strata))]
        self.seen[kind] += 1
        return kind, self.param[kind]()


def _olap_read(g):
    kind, u = g.next()
    if kind == 0:
        d = _date(365 + u * (ORDER_DAYS - 365))
        return {"sql": "SELECT n.n_name AS nation, count(*) AS n_orders, "
                       "sum(o.o_totalprice) AS revenue FROM orders o "
                       "JOIN customer c ON o.o_custkey = c.c_custkey "
                       "JOIN nation n ON c.c_nationkey = n.n_nationkey "
                       f"WHERE o.o_orderdate < TIMESTAMP '{d}' "
                       "GROUP BY n.n_name ORDER BY nation", "ordered": True}
    if kind == 1:
        d = _date(ORDER_DAYS // 2 + u * (ORDER_DAYS // 2 + 100))
        return {"sql": "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
                       "sum(l_extendedprice) AS sum_base, "
                       "sum(l_extendedprice * (1 - l_discount)) AS sum_disc, "
                       "avg(l_discount) AS avg_disc, count(*) AS n_lines FROM lineitem "
                       f"WHERE l_shipdate <= TIMESTAMP '{d}' "
                       "GROUP BY l_returnflag, l_linestatus "
                       "ORDER BY l_returnflag, l_linestatus", "ordered": True}
    thr = int(u * 9000)
    k = 2 + g.seen[kind] % 4
    # row_number() <= k over a join: the idiom plans.RankFilterToTopK
    # rewrites into TopKPerGroup.
    return {"sql": "SELECT nation, c_custkey, c_acctbal FROM ("
                   "SELECT n.n_name AS nation, c.c_custkey, c.c_acctbal, row_number() OVER "
                   "(PARTITION BY n.n_name ORDER BY c.c_acctbal DESC, c.c_custkey) AS rn "
                   "FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey "
                   f"WHERE c.c_acctbal > {thr}) t WHERE rn <= {k}", "ordered": False}


def _plane_read(g):
    kind, u = g.next()
    m = int(g.rng.integers(5, 17))
    r = int(g.rng.integers(0, m))
    if kind == 0:
        return {"sql": "SELECT count(*) AS n, sum(v) AS s FROM parquet.`{bal}` "
                       f"WHERE k % {m} = {r}", "spec": ["mod", "bal", m, r]}
    if kind == 1:
        lo = 1 + int(u * (N_PART - 500))
        return {"sql": "SELECT count(*) AS n, sum(v) AS s FROM parquet.`{stock}` "
                       f"WHERE k BETWEEN {lo} AND {lo + 499}",
                "spec": ["range", "stock", lo, lo + 499]}
    return {"sql": "SELECT count(*) AS n, sum(b.v + s.v) AS s FROM parquet.`{bal}` b "
                   "JOIN parquet.`{stock}` s ON b.k = s.k "
                   f"WHERE b.k % {m} = {r}", "spec": ["join", m, r]}


# Each workload's three read kinds cost different amounts, so the latency
# distribution is a mixture with a step between kinds. A percentile on a
# step jumps with the mix of a run; the shares keep the median and the p70
# tail off them: kinds ordered cheapest first (A, B, C) take 2/5, 1/5 and
# 2/5 of the reads, so the median lies mid-B and p70 a quarter into C.
READS = {"olap": (_olap_read, [2, 2, 0, 1, 1]), "plane": (_plane_read, [0, 0, 1, 2, 2])}


# Workload shapes. `write_every`: one write transaction per that many ops;
# `pair_every`: on txn_churn, one write in that many is a scripted pair of
# logical writers on the same base generation.
WORKLOADS = {
    "olap_scan": {"read": "olap", "write_every": 5, "pair_every": 0},
    "txn_churn": {"read": "plane", "write_every": 4, "pair_every": 6},
}


def op_stream(workload, seed, n_ops, stream):
    """The first n_ops ops of a workload's stream. `stream` separates the
    warm-up ops from the timed ops; txn ids are unique across both."""
    spec = WORKLOADS[workload]
    rng = np.random.default_rng([seed, 2, stream])
    read, strata = READS[spec["read"]]
    reads = _Reads(rng, strata)
    ops, txns = [], {}
    writes = 0
    for i in range(n_ops):
        if (i + 1) % spec["write_every"] == 0:
            writes += 1
            if spec["pair_every"] and writes % spec["pair_every"] == 0:
                a = _txn(rng, f"{stream}-{i}a")
                b = _txn(rng, f"{stream}-{i}b")
                txns[a.tid], txns[b.tid] = a, b
                ops.append({"k": "pair", "a": a.op(), "b": b.op()})
            else:
                t = _txn(rng, f"{stream}-{i}")
                txns[t.tid] = t
                ops.append(t.op())
        else:
            ops.append({"k": "pq" if spec["read"] == "plane" else "q", **read(reads)})
    return ops, txns


def write_ops(path, warm, run):
    with open(path, "w") as f:
        json.dump({"warm": warm, "run": run}, f)

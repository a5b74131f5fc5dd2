"""Seeded statement stream for the `sql_session` workload.

The stream is a sequence of episodes. Each episode creates one managed
table and runs the write statements of the llamadb dialect against it
(multi-row INSERT VALUES with NULLs, INSERT ... SELECT, UPDATE, DELETE),
interleaved with reads: SELECTs over that table and over the star tables
(filter/project, comma cross join + WHERE, INNER and LEFT JOIN, GROUP BY
with HAVING, correlated scalar subquery, ORDER BY/LIMIT, EXPLAIN).
Every read returns at most a few dozen rows, and a table lives for one
episode only, so latency does not drift with the length of the run.

Each statement comes as a pair: the dialect text the engine runs and the
DuckDB text the checker replays (they differ only in CREATE TABLE).
"""
import numpy as np

TAGS = ["alpha", "beta", "gamma", "delta"]


class Sizes:
    """Key ranges of the star tables at a scale factor (see gen.py)."""

    def __init__(self, sf):
        self.cust = max(20, int(150_000 * sf))
        self.orders = max(50, int(1_500_000 * sf))
        self.parts = max(20, int(200_000 * sf))


def _lit(v):
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v + "'"
    if isinstance(v, float):
        return f"{v:.2f}"
    return str(v)


def _values_rows(rng, n, ids):
    rows = []
    for i in ids[:n]:
        qty = None if rng.random() < 0.15 else int(rng.integers(0, 100))
        price = (None if rng.random() < 0.15
                 else round(float(rng.uniform(1, 1000)), 2))
        tag = None if rng.random() < 0.15 else TAGS[int(rng.integers(0, 4))]
        rows.append("(" + ", ".join(
            _lit(v) for v in (int(i), int(rng.integers(0, 8)), qty, price,
                              tag)) + ")")
    return ", ".join(rows)


N_STAR_READS = 8


def _star_read(rng, z, k=None):
    """One read over the star tables (template `k`, or a random one)."""
    k = int(rng.integers(0, N_STAR_READS)) if k is None else k
    c = int(rng.integers(0, z.cust))
    if k == 0:
        o = int(rng.integers(0, z.orders))
        return ("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice "
                f"FROM lineitem WHERE l_orderkey = {o}")
    if k == 1:
        return ("SELECT o_orderkey, c_name, o_totalprice FROM orders, customer "
                f"WHERE o_custkey = c_custkey AND c_custkey = {c}")
    if k == 2:
        n = int(rng.integers(0, 25))
        p = int(rng.integers(490_000, 499_000))
        return ("SELECT c_name, o_orderkey, o_orderstatus FROM customer "
                "JOIN orders ON c_custkey = o_custkey "
                f"WHERE c_nationkey = {n} AND o_totalprice > {p}")
    if k == 3:
        b = int(rng.integers(9_900, 9_999))
        return ("SELECT n_name, count(c_custkey) AS n FROM nation "
                f"LEFT JOIN customer ON n_nationkey = c_nationkey "
                f"AND c_acctbal > {b} GROUP BY n_name")
    if k == 4:
        p = int(rng.integers(z.parts // 20, z.parts // 4))
        h = int(rng.integers(0, 1000))
        return ("SELECT l_returnflag, l_linestatus, count(*) AS n, "
                "sum(l_quantity) AS q FROM lineitem "
                f"WHERE l_partkey < {p} GROUP BY l_returnflag, l_linestatus "
                f"HAVING count(*) > {h}")
    if k == 5:
        b = int(rng.integers(0, 9_000))
        r = int(rng.integers(0, 5))
        return ("SELECT n_name, (SELECT count(*) FROM customer "
                "WHERE customer.c_nationkey = nation.n_nationkey "
                f"AND c_acctbal > {b}) AS n FROM nation WHERE n_regionkey = {r}")
    if k == 6:
        return ("SELECT o_orderkey, o_totalprice FROM orders "
                f"WHERE o_custkey = {c} ORDER BY o_totalprice DESC LIMIT 3")
    return ("SELECT o_orderpriority, count(*) AS n, avg(o_totalprice) AS a "
            f"FROM orders WHERE o_custkey < {max(2, c // 50)} "
            "GROUP BY o_orderpriority")


def episode(rng, k, z):
    """The statements of episode `k`: list of (dialect, duckdb) pairs.

    Every episode has the same shape: six writes, three reads of its own
    table, and each star-table read template once (in a seed-drawn order,
    one of them under EXPLAIN), so the mix stays the same from one run to
    the next while every constant and VALUES row comes from the seed."""
    t = f"w{k}"
    reads = iter([_star_read(rng, z, int(r))
                  for r in rng.permutation(N_STAR_READS)])
    explain_at = int(rng.integers(0, 4))
    out = []

    def same(s):
        out.append((s, s))

    def star(i):
        s = next(reads)
        same("EXPLAIN " + s if i == explain_at else s)
        same(next(reads))

    out.append((f"CREATE TABLE {t} (id i64, grp i64, qty i64 null, "
                 "price f64 null, tag string null)",
                 f"CREATE TABLE {t} (id BIGINT NOT NULL, grp BIGINT NOT NULL, "
                 "qty BIGINT, price DOUBLE, tag VARCHAR)"))
    ids = rng.permutation(100_000)
    same(f"INSERT INTO {t} VALUES "
         + _values_rows(rng, int(rng.integers(5, 41)), ids))
    same(f"SELECT id, grp, qty, price, tag FROM {t} "
         f"WHERE grp = {int(rng.integers(0, 8))}")
    star(0)
    c = int(rng.integers(0, z.cust))
    same(f"INSERT INTO {t} SELECT o_orderkey + 100000, o_custkey & 7, 1, "
         f"o_totalprice, o_orderpriority FROM orders WHERE o_custkey = {c}")
    star(1)
    same(f"SELECT grp, count(*) AS n, sum(qty) AS q, min(price) AS lo, "
         f"max(price) AS hi FROM {t} GROUP BY grp")
    same(f"UPDATE {t} SET qty = qty + {int(rng.integers(1, 10))}, "
         f"price = price * 2 WHERE grp = {int(rng.integers(0, 8))}")
    star(2)
    same(f"SELECT id, qty, price, tag FROM {t} "
         f"WHERE qty > {int(rng.integers(0, 60))} ORDER BY id LIMIT 10")
    same(f"DELETE FROM {t} WHERE price < {int(rng.integers(50, 400))} "
         f"OR tag = '{TAGS[int(rng.integers(0, 4))]}'")
    same(f"INSERT INTO {t} VALUES "
         + _values_rows(rng, int(rng.integers(5, 41)), ids[50_000:]))
    star(3)
    same(f"SELECT count(*) AS n, sum(qty) AS q FROM {t}")
    return out


def stream(seed, sf, n_statements):
    """At least `n_statements` statements, whole episodes."""
    rng = np.random.default_rng(seed)
    z = Sizes(sf)
    out, k = [], 0
    while len(out) < n_statements:
        out.extend(episode(rng, k, z))
        k += 1
    return out


def warmup(seed, sf):
    """One warm-up episode (it runs every statement template)."""
    return [s for s, _ in episode(np.random.default_rng(seed), 0, Sizes(sf))]


def write(path_dialect, path_duck, stmts):
    with open(path_dialect, "w") as a, open(path_duck, "w") as b:
        for s, d in stmts:
            a.write(s + "\n")
            b.write(d + "\n")

"""Seeded input generators: TPC-H-shaped base tables, request streams and
the synthetic text corpus.

Everything here is a pure function of the seed (numpy's PCG64), so the same
``--seed`` regenerates byte-identical inputs. The engine under test only
ever receives what these functions produce.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import itertools
import json

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Base-table sizes (rows), about TPC-H sf0.025: small enough that three
# set-ups of all three tables fit in a run on a 4-core box.
N_CUSTOMER = 3_750
N_ORDERS = 37_500
MAX_LINES = 7

EPOCH = dt.date(1992, 1, 1)
LAST_ORDER_DAY = (dt.date(1998, 8, 2) - EPOCH).days
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SHIPMODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]

CUSTOMER_DDL = (
    "c_custkey BIGINT, c_name VARCHAR, c_nationkey INT, "
    "c_acctbal BIGINT, c_mktsegment VARCHAR, c_comment VARCHAR"
)
ORDERS_DDL = (
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus VARCHAR, "
    "o_totalprice BIGINT, o_orderdate DATE, o_orderpriority VARCHAR, "
    "o_shippriority INT, o_comment VARCHAR"
)
LINEITEM_DDL = (
    "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
    "l_quantity INT, l_extendedprice BIGINT, l_discount INT, l_tax INT, "
    "l_returnflag VARCHAR, "
    "l_linestatus VARCHAR, l_shipdate DATE, l_shipmode VARCHAR"
)
ORDERS_COLS = [c.split()[0] for c in ORDERS_DDL.split(", ")]

_LETTERS = np.array(list("abcdefghijklmnopqrstuvwxyz"))


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per named stream, so adding draws to one
    stream never shifts another."""
    key = int.from_bytes(hashlib.sha256(f"{seed}:{stream}".encode()).digest()[:8], "little")
    return np.random.Generator(np.random.PCG64(key))


def _cents(a: np.ndarray) -> pa.Array:
    """Money as integer cents: the bucketed load fails on DECIMAL columns
    (the manifest's parquet footer-statistics read raises on them)."""
    return pa.array(np.asarray(a, dtype="int64"))


def _dates(days: np.ndarray) -> pa.Array:
    """Days since EPOCH → DATE (date32 counts days since 1970-01-01)."""
    offset = (EPOCH - dt.date(1970, 1, 1)).days
    return pa.array((days + offset).astype("int32"), type=pa.date32())


def _words(rng: np.random.Generator, n: int, lo: int, hi: int) -> list[str]:
    lens = rng.integers(lo, hi + 1, n)
    letters = _LETTERS[rng.integers(0, 26, int(lens.sum()))]
    out, pos = [], 0
    for k in lens:
        out.append("".join(letters[pos:pos + k]))
        pos += k
    return out


class Zipf:
    """Bounded Zipf over ``n`` items with a seeded rank → item permutation,
    so the hot keys are scattered over the key space (and the buckets)."""

    def __init__(self, rng: np.random.Generator, n: int, s: float):
        w = 1.0 / np.arange(1, n + 1) ** s
        self._cdf = np.cumsum(w / w.sum())
        self._perm = rng.permutation(n)

    def draw(self, rng: np.random.Generator, size: int | None = None):
        r = np.searchsorted(self._cdf, rng.random(size), side="right")
        return self._perm[np.minimum(r, len(self._perm) - 1)]


def customer_table(seed: int) -> pa.Table:
    rng = _rng(seed, "customer")
    n = N_CUSTOMER
    return pa.table({
        "c_custkey": pa.array(np.arange(1, n + 1), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n + 1)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n).astype("int32")),
        "c_acctbal": _cents(rng.integers(-99_999, 999_999, n)),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, n)]),
        "c_comment": pa.array(_words(rng, n, 8, 30)),
    })


def orders_rows(rng: np.random.Generator, keys: np.ndarray, custkeys: np.ndarray) -> pa.Table:
    """Orders rows for the given keys (shared by the base table and the
    generated INSERT / UPSERT batches)."""
    n = len(keys)
    return pa.table({
        "o_orderkey": pa.array(keys.astype("int64")),
        "o_custkey": pa.array(custkeys.astype("int64")),
        "o_orderstatus": pa.array(["OFP"[i] for i in rng.integers(0, 3, n)]),
        "o_totalprice": _cents(rng.integers(90_000, 50_000_000, n)),
        "o_orderdate": _dates(rng.integers(0, LAST_ORDER_DAY, n)),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, n)]),
        "o_shippriority": pa.array(np.zeros(n, "int32")),
        "o_comment": pa.array(_words(rng, n, 6, 20)),
    })


def orders_and_lineitem(seed: int) -> tuple[pa.Table, pa.Table]:
    rng = _rng(seed, "orders")
    keys = np.arange(1, N_ORDERS + 1)
    cust = rng.integers(1, N_CUSTOMER + 1, N_ORDERS)
    orders = orders_rows(rng, keys, cust)
    odate = orders.column("o_orderdate").to_numpy().astype("int64") - (EPOCH - dt.date(1970, 1, 1)).days
    nlines = rng.integers(1, MAX_LINES + 1, N_ORDERS)
    lk = np.repeat(keys, nlines)
    n = len(lk)
    lnum = np.concatenate([np.arange(1, k + 1) for k in nlines])
    ship = np.repeat(odate, nlines) + rng.integers(1, 122, n)
    qty = rng.integers(1, 51, n)
    price = qty * rng.integers(90_000, 200_000, n)
    cutoff = (dt.date(1995, 6, 17) - EPOCH).days
    returnflag = np.where(ship <= cutoff, np.array(["R", "A"])[rng.integers(0, 2, n)], "N")
    lineitem = pa.table({
        "l_orderkey": pa.array(lk.astype("int64")),
        "l_partkey": pa.array(rng.integers(1, 20_001, n).astype("int64")),
        "l_suppkey": pa.array(rng.integers(1, 1_001, n).astype("int64")),
        "l_linenumber": pa.array(lnum.astype("int32")),
        "l_quantity": pa.array(qty.astype("int32")),
        "l_extendedprice": _cents(price),
        "l_discount": pa.array(rng.integers(0, 11, n).astype("int32")),
        "l_tax": pa.array(rng.integers(0, 9, n).astype("int32")),
        "l_returnflag": pa.array(returnflag.tolist()),
        "l_linestatus": pa.array(np.where(ship > cutoff, "O", "F").tolist()),
        "l_shipdate": _dates(ship),
        "l_shipmode": pa.array([SHIPMODES[i] for i in rng.integers(0, 7, n)]),
    })
    return orders, lineitem


def write_parquet(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def day(d: int) -> str:
    return (EPOCH + dt.timedelta(days=int(d))).isoformat()


# ---------------------------------------------------------------------------
# request streams
# ---------------------------------------------------------------------------

# One block of the sql_mix workload: half reads (point reads on Zipf-skewed
# partition keys, a date-range scan, a TPC-H-shaped analytic read), half
# writes (INSERT batches, UPDATE / DELETE / UPSERT by Zipf key). The seed
# orders each block and draws every parameter; the composition is fixed.
SQL_BLOCK = ["point"] * 3 + ["range", "analytic"] + ["insert"] * 2 + \
    ["update", "delete", "upsert"]


def sql_stream(seed: int, base_custkeys: np.ndarray, batch: int = 200):
    """Endless stream of SQL_BLOCK blocks. New order keys continue past the
    base table; an UPSERT batch re-sends half its rows under existing
    (custkey, orderkey) keys, so matched rows are replaced and the rest
    append."""
    rng = _rng(seed, "sql")
    zipf = Zipf(rng, N_CUSTOMER, 1.1)
    next_key = N_ORDERS + 1
    n_analytic = 0
    while True:
        for kind in rng.permutation(SQL_BLOCK):
            cust = int(zipf.draw(rng)) + 1
            if kind == "point":
                yield {"kind": kind, "sql": point_sql(cust)}
            elif kind == "range":
                lo = int(rng.integers(0, LAST_ORDER_DAY))
                yield {"kind": kind, "sql": range_sql(lo, lo + int(rng.integers(7, 92)))}
            elif kind == "analytic":
                form = ANALYTIC_FORMS[n_analytic % len(ANALYTIC_FORMS)]
                n_analytic += 1
                yield {"kind": kind, "sql": analytic_sql(rng, form)}
            elif kind == "insert":
                keys = np.arange(next_key, next_key + batch)
                next_key += batch
                rows = orders_rows(rng, keys, zipf.draw(rng, batch) + 1)
                yield {"kind": kind, "sql": insert_sql(rows), "nbytes": rows.nbytes}
            elif kind == "update":
                yield {"kind": kind, "sql": (
                    "UPDATE orders SET o_orderstatus = 'U', "
                    f"o_totalprice = o_totalprice + 100 WHERE o_custkey = {cust}")}
            elif kind == "delete":
                cut = day(int(rng.integers(0, LAST_ORDER_DAY)))
                yield {"kind": kind, "sql": (
                    f"DELETE FROM orders WHERE o_custkey = {cust} "
                    f"AND o_orderdate < DATE '{cut}'")}
            else:
                half = batch // 2
                old = rng.choice(N_ORDERS, half, replace=False) + 1
                new = np.arange(next_key, next_key + batch - half)
                next_key += batch - half
                custs = np.concatenate([base_custkeys[old - 1], zipf.draw(rng, batch - half) + 1])
                yield {"kind": kind, "rows": orders_rows(rng, np.concatenate([old, new]), custs)}


def point_sql(custkey: int) -> str:
    return (
        "SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate "
        f"FROM orders WHERE o_custkey = {custkey}"
    )


def range_sql(lo: int, hi: int) -> str:
    return (
        "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS qty, "
        "sum(l_extendedprice) AS price FROM lineitem "
        f"WHERE l_shipdate >= DATE '{day(lo)}' AND l_shipdate < DATE '{day(hi)}' "
        "GROUP BY l_returnflag"
    )


# The forms rotate in a fixed order (only their parameters are seeded): the
# forms differ several-fold in cost, so a seeded choice would make the mix of
# a short run, and with it every latency metric, depend on the seed.
ANALYTIC_FORMS = ["q1", "q3", "q5", "q6", "q18"]


def analytic_sql(rng: np.random.Generator, form: str) -> str:
    if form == "q1":
        cut = day(LAST_ORDER_DAY + 120 - int(rng.integers(60, 121)))
        return (
            "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
            "sum(l_extendedprice) AS sum_base_price, "
            "sum(l_extendedprice * (100 - l_discount)) AS sum_disc_price, "
            "sum(l_extendedprice * (100 - l_discount) * (100 + l_tax)) AS sum_charge, "
            "count(*) AS count_order FROM lineitem "
            f"WHERE l_shipdate <= DATE '{cut}' "
            "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
        )
    if form == "q3":
        seg = SEGMENTS[int(rng.integers(0, 5))]
        d = day(int(rng.integers(1000, 1200)))
        return (
            "SELECT l_orderkey, sum(l_extendedprice * (100 - l_discount)) AS revenue, "
            "o_orderdate, o_shippriority FROM customer, orders, lineitem "
            f"WHERE c_mktsegment = '{seg}' AND c_custkey = o_custkey "
            f"AND l_orderkey = o_orderkey AND o_orderdate < DATE '{d}' "
            f"AND l_shipdate > DATE '{d}' "
            "GROUP BY l_orderkey, o_orderdate, o_shippriority "
            "ORDER BY revenue DESC, o_orderdate, l_orderkey LIMIT 10"
        )
    if form == "q5":
        y = int(rng.integers(1993, 1998))
        return (
            "SELECT c_nationkey, sum(l_extendedprice * (100 - l_discount)) AS revenue "
            "FROM customer, orders, lineitem "
            "WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey "
            f"AND o_orderdate >= DATE '{y}-01-01' AND o_orderdate < DATE '{y + 1}-01-01' "
            "GROUP BY c_nationkey ORDER BY revenue DESC, c_nationkey"
        )
    if form == "q6":
        y = int(rng.integers(1993, 1998))
        disc = int(rng.integers(2, 10))
        qty = int(rng.integers(24, 26))
        return (
            "SELECT sum(l_extendedprice * l_discount) AS revenue FROM lineitem "
            f"WHERE l_shipdate >= DATE '{y}-01-01' AND l_shipdate < DATE '{y + 1}-01-01' "
            f"AND l_discount BETWEEN {disc - 1} AND {disc + 1} AND l_quantity < {qty}"
        )
    qty = int(rng.integers(250, 266))
    return (
        "SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, "
        "sum(l_quantity) AS qty FROM customer, orders, lineitem "
        "WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem GROUP BY l_orderkey "
        f"HAVING sum(l_quantity) > {qty}) "
        "AND c_custkey = o_custkey AND o_orderkey = l_orderkey "
        "GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice "
        "ORDER BY o_totalprice DESC, o_orderdate, o_orderkey LIMIT 100"
    )


def _lit(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, dt.date):
        return f"DATE '{v.isoformat()}'"
    return str(v)


def insert_sql(rows: pa.Table) -> str:
    vals = ", ".join(
        "(" + ", ".join(_lit(r[c]) for c in ORDERS_COLS) + ")" for r in rows.to_pylist()
    )
    return f"INSERT INTO orders VALUES {vals}"


# ---------------------------------------------------------------------------
# corpus
# ---------------------------------------------------------------------------

N_DOCS = 8_000
VOCAB = 20_000
N_BOILER = 12


def _vocab() -> list[str]:
    """Fixed pronounceable-ish vocabulary: word i is its index spelled in
    base 26, padded so that no word is shorter than four letters."""
    out = []
    for i in range(VOCAB):
        s, k = "", i
        while True:
            s = _LETTERS[k % 26] + s
            k //= 26
            if k == 0:
                break
        out.append(s.rjust(4, "q"))
    return out


def corpus(seed: int, n_docs: int = N_DOCS) -> dict:
    """Synthetic corpus with planted structure:

    - ``exact``: ids of docs that are byte copies of an earlier original
      (3 in every 100 docs);
    - ``near``: (source, copy) pairs where the copy is a small edit
      (~3% of words replaced, inserted or deleted) of the source (5 in
      every 100);
    - one of N_BOILER shared 30-word boilerplate spans inserted into each
      original whose position is a multiple of five.

    The counts are fixed by position, so every seed plants the same amount
    of duplication; the seed draws words, lengths, sources and edits.
    Words are Zipf(1.05)-distributed over a 20k vocabulary."""
    rng = _rng(seed, "corpus")
    vocab = _vocab()
    zipf = Zipf(rng, VOCAB, 1.05)
    boiler = [[vocab[w] for w in zipf.draw(rng, 30)] for _ in range(N_BOILER)]
    texts: list[str] = []
    originals: list[int] = []
    exact: list[int] = []
    near: list[tuple[int, int]] = []
    for i in range(n_docs):
        role = i % 100
        if role >= 97:
            src = originals[int(rng.integers(0, len(originals)))]
            texts.append(texts[src])
            exact.append(i)
            continue
        if role >= 92:
            src = originals[int(rng.integers(0, len(originals)))]
            words = texts[src].split(" ")
            for _ in range(max(1, len(words) // 33)):
                pos = int(rng.integers(0, len(words)))
                op = int(rng.integers(0, 3))
                w = vocab[int(zipf.draw(rng))]
                if op == 0:
                    words[pos] = w
                elif op == 1:
                    words.insert(pos, w)
                elif len(words) > 1:
                    del words[pos]
            text = " ".join(words)
            if text == texts[src]:
                words.append(vocab[int(zipf.draw(rng))])
                text = " ".join(words)
            texts.append(text)
            near.append((src, i))
            continue
        words = [vocab[w] for w in zipf.draw(rng, int(rng.integers(60, 200)))]
        if i % 5 == 0:
            pos = int(rng.integers(0, len(words)))
            words[pos:pos] = boiler[(i // 5) % N_BOILER]
        texts.append(" ".join(words))
        originals.append(i)
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype="int64")),
        "text": pa.array(texts),
    })
    return {"table": table, "exact": exact, "near": near}


def fingerprint(seed: int, n_ops: int = 200, n_docs: int = 2_000) -> str:
    """sha256 over every generated input kind, for the determinism checks."""
    h = hashlib.sha256()
    orders, lineitem = orders_and_lineitem(seed)
    for t in (customer_table(seed), orders, lineitem):
        for col in t.columns:
            for buf in col.combine_chunks().buffers():
                if buf is not None:
                    h.update(buf)
    base = orders.column("o_custkey").to_numpy()
    for op in itertools.islice(sql_stream(seed, base), n_ops):
        h.update(json.dumps({k: v for k, v in op.items() if k != "rows"}).encode())
        if "rows" in op:
            h.update(json.dumps(op["rows"].to_pylist(), default=str).encode())
    c = corpus(seed, n_docs)
    h.update("\n".join(c["table"].column("text").to_pylist()).encode())
    h.update(json.dumps([c["exact"], c["near"]]).encode())
    return h.hexdigest()

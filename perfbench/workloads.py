"""The closed-loop, single-client workloads.

Each workload loads its tables through the SQL front door during set-up,
then runs whole *blocks* of operations with a fixed composition (the seed
shuffles the order within a block and draws every parameter), so two runs
with different seeds always measure the same mix. Every operation goes
through a public entry point of the engine; outputs are checked against
DuckDB or against the planted structure of the generated corpus.
"""

from __future__ import annotations

import datetime as dt
import hashlib

import duckdb

import gen

READ_KINDS = ("point", "range", "analytic")
WRITE_KINDS = ("insert", "update", "delete", "upsert")
STEPS = (
    "exact_dedup", "minhash_bands", "lsh_candidate_pairs", "jaccard_verify_from_docs",
    "cut_duplicated_spans", "quality_features", "tfidf_keywords",
)
NEAR_RECALL_FLOOR = 0.8  # measured 0.90-0.93 over seeds; banding is 4 bands x 3 rows
JACCARD_MIN = 0.5
# checked curation steps → the projection their action collects
CHECKED = {
    "exact_dedup": lambda df: df.where("NOT kept").select("doc_id"),
    "jaccard_verify_from_docs": lambda df: df.select("doc_a", "doc_b"),
}


def _norm(v):
    return v.isoformat() if isinstance(v, (dt.date, dt.datetime)) else v


def _digest(t) -> str:
    h = hashlib.sha256()
    for col in t.columns:
        h.update(repr(col.to_pylist()).encode())
    return h.hexdigest()


def rows_equal(spark_rows, duck_rows) -> bool:
    a = sorted(tuple(_norm(x) for x in r) for r in spark_rows)
    b = sorted(tuple(_norm(x) for x in r) for r in duck_rows)
    return a == b


class Workload:
    name = ""
    tables: list[str] = []
    block_seconds = 1.0  # wall time of one block on a 4-core box
    # what a client waits for, and what the latency metrics time: one
    # operation, or a whole block (a curation pass)
    request = "op"
    # set-ups per run (the first also starts the JVM); setup_s is their median
    setups = 3

    def __init__(self, ctx):
        self.ctx = ctx

    def load(self) -> None:
        """Create and bucket-load this workload's tables (timed set-up)."""
        ctx = self.ctx
        for t in self.tables:
            ddl, spec = TABLE_SPECS[t]
            ctx.mpp.sql(f"CREATE TABLE {t} ({ddl}) {spec}")
            ctx.spark.read.parquet(ctx.src[t]).createOrReplaceTempView(f"src_{t}")
            ctx.mpp.sql(f"INSERT INTO {t} SELECT * FROM src_{t}")

    def after_load(self) -> None:
        """Account the load's bytes (write_amp) and live size (space_amp)."""
        ctx = self.ctx
        ctx.wh.observe()
        ctx.user_bytes += sum(ctx.src_nbytes[t] for t in self.tables)
        ctx.sample_space()

    def block(self) -> list:
        """One block of (kind, run, verify) operations."""
        raise NotImplementedError

    def warmup_block(self) -> list:
        """The untimed warm-up before the window: the first operation of
        each kind in a block (first executions pay JIT and codegen)."""
        seen, ops = set(), []
        for op in self.block():
            if op[0] not in seen:
                seen.add(op[0])
                ops.append(op)
        return ops

    def finish(self) -> bool | None:
        """End-of-run check after every operation; None when there is none."""
        return None


TABLE_SPECS = {
    "orders": (gen.ORDERS_DDL, "PARTITION BY (o_custkey) WITH BUCKETS 16"),
    "lineitem": (gen.LINEITEM_DDL, "PARTITION BY (l_orderkey) WITH BUCKETS 16 SORT BY (l_shipdate)"),
    "customer": (gen.CUSTOMER_DDL, "PARTITION BY (c_custkey) WITH BUCKETS 8"),
    "docs": ("doc_id BIGINT, text VARCHAR", "PARTITION BY (doc_id) WITH BUCKETS 8"),
}


class SqlMix(Workload):
    """SQL through the front door over orders, lineitem and customer:
    point reads on Zipf-skewed partition keys, zone-mapped date-range
    scans, TPC-H-shaped aggregates and joins, INSERT batches, UPDATE /
    DELETE / UPSERT by Zipf key, and one OPTIMIZE + VACUUM per block (every
    five commits). A DuckDB shadow of the three tables receives every
    write and answers every read; never runs ``operators/``."""

    name = "sql_mix"
    tables = ["orders", "lineitem", "customer"]
    block_seconds = 7.0

    def __init__(self, ctx):
        super().__init__(ctx)
        self.stream = gen.sql_stream(ctx.seed, ctx.base_custkeys)
        self.duck = duckdb.connect()
        for t in self.tables:
            self.duck.execute(f"CREATE TABLE {t} AS SELECT * FROM read_parquet('{ctx.src[t]}')")
        self.row_bytes = ctx.src_nbytes["orders"] / gen.N_ORDERS

    def block(self):
        return [self._op(next(self.stream)) for _ in gen.SQL_BLOCK] + [self._maintain()]

    def _op(self, req):
        ctx, kind = self.ctx, req["kind"]
        if kind in READ_KINDS:
            sql = req["sql"]

            def run():
                df = ctx.mpp.sql(sql)
                with ctx.tracer.span("spark.exec", "spark"):
                    return df.collect()

            def verify(rows):
                ctx.note_pruning(kind, sql)
                return rows_equal(rows, self.duck.execute(sql).fetchall())

            return kind, run, verify
        if kind == "upsert":
            batch = req["rows"]

            def run():
                df = ctx.spark.createDataFrame(batch.to_pandas(), schema=ctx.mpp.table("orders").meta.schema)
                return ctx.mpp.upsert("orders", df, ["o_custkey", "o_orderkey"])

            def apply_shadow():
                self.duck.register("batch", batch)
                self.duck.execute(
                    "DELETE FROM orders WHERE EXISTS (SELECT 1 FROM batch b WHERE "
                    "b.o_custkey = orders.o_custkey AND b.o_orderkey = orders.o_orderkey)")
                self.duck.execute("INSERT INTO orders SELECT * FROM batch")
                self.duck.unregister("batch")
                return batch.num_rows, batch.nbytes
        else:
            sql = req["sql"]

            def run():
                return ctx.mpp.sql(sql)

            def apply_shadow():
                n = self.duck.execute(sql).fetchone()[0]
                changed = req["nbytes"] if kind == "insert" else n * self.row_bytes
                return n, changed

        def verify(count):
            expected, changed = apply_shadow()
            ctx.user_bytes += changed
            ctx.after_write(kind, count)
            return count == expected

        return kind, run, verify

    def _maintain(self):
        ctx = self.ctx

        def run():
            ctx.mpp.sql("OPTIMIZE orders")
            return ctx.mpp.sql("VACUUM orders")

        def verify(reclaimed):
            ctx.reclaimed += reclaimed
            ctx.after_write("maintain", 0)
            return True

        return "maintain", run, verify

    def finish(self) -> bool:
        """Row count and content checksum of the distributed table against
        the shadow, after every operation has been applied to both."""
        sql = f"SELECT {', '.join(gen.ORDERS_COLS)} FROM orders ORDER BY o_orderkey, o_custkey"
        ours = self.ctx.mpp.sql(sql).toArrow()
        shadow = self.duck.execute(sql).fetch_arrow_table().cast(ours.schema)
        return ours.num_rows == shadow.num_rows and _digest(ours) == _digest(shadow)


class CorpusCuration(Workload):
    """One curation pass per block over a seeded synthetic corpus read from
    a distributed table: the seven operators, each ending in an action —
    a noop sink, or for the two checked steps a collect of the small
    projection the check needs. The only workload that runs
    ``operators/``. The warm-up pass runs on the first WARM_DOCS documents:
    it compiles the same plans at a fraction of a full pass's cost."""

    name = "corpus_curation"
    tables = ["docs"]
    block_seconds = 16.0
    request = "block"
    setups = 5  # a docs load is cheap, so more of them steady the median
    WARM_DOCS = 1_000

    def warmup_block(self):
        return self.block(limit=self.WARM_DOCS)

    def block(self, limit: int | None = None):
        from duckdb_mpp_spark.operators import dedup, substrings, text

        ctx = self.ctx
        state: dict = {}
        where = f"doc_id < {limit}" if limit else None

        def step(name, build):
            def run():
                with ctx.tracer.span(f"operators.{name}", "operators"):
                    df = build()
                state[name] = df
                with ctx.tracer.span("spark.exec", "spark"):
                    if name in CHECKED:
                        return CHECKED[name](df).collect()
                    df.write.format("noop").mode("overwrite").save()
                return df

            return name, run, (lambda out: self._verify(name, out, limit))

        docs = lambda: ctx.mpp.table("docs").scan(where=where)
        return [
            step("exact_dedup", lambda: dedup.exact_dedup(docs())),
            step("minhash_bands", lambda: dedup.minhash_bands(docs())),
            step("lsh_candidate_pairs", lambda: dedup.lsh_candidate_pairs(state["minhash_bands"])),
            step("jaccard_verify_from_docs", lambda: dedup.jaccard_verify_from_docs(
                docs(), state["lsh_candidate_pairs"]).where(f"jaccard >= {JACCARD_MIN}")),
            step("cut_duplicated_spans", lambda: substrings.cut_duplicated_spans(docs())),
            step("quality_features", lambda: text.quality_features(docs())),
            step("tfidf_keywords", lambda: substrings.tfidf_keywords(docs())),
        ]

    def _verify(self, name, out, limit: int | None) -> bool:
        """Every planted exact duplicate is flagged and near-duplicate
        recall stays above the floor (over the planted pairs inside the
        pass's documents); on traced passes, candidate and verified-pair
        counts."""
        ctx = self.ctx
        if ctx.tracing and name == "lsh_candidate_pairs":
            ctx.cands.append(out.count())
        if ctx.tracing and name == "jaccard_verify_from_docs":
            ctx.verified.append(len(out))
        limit = limit or ctx.corpus["table"].num_rows
        if name == "exact_dedup":
            return {i for i in ctx.corpus["exact"] if i < limit} <= {r[0] for r in out}
        if name == "jaccard_verify_from_docs":
            found = {(r[0], r[1]) for r in out}
            near = [(a, b) for a, b in ctx.corpus["near"] if b < limit]
            ctx.near_recall = sum(pair in found for pair in near) / max(len(near), 1)
            return ctx.near_recall >= NEAR_RECALL_FLOOR
        return True


WORKLOADS = {w.name: w for w in (SqlMix, CorpusCuration)}

"""Closed-loop benchmark of the bucketed-table engine and the corpus
operators.

    python3 perfbench/run.py --workload sql_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run generates its inputs from
``--seed``, sets the engine up several times (session start plus bucketed
load; the median is ``setup_s``), runs an untimed warm-up, then measures
whole blocks of the workload with one client: as many blocks as take about
``--seconds`` on a 4-core box (a fixed count per workload, so every run
has the same sample size). A request, the unit ``op_cpu_ms`` and the
latency metrics measure, is one SQL operation on sql_mix and one whole
curation pass on corpus_curation. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` measures half those blocks untraced and half
traced, and prints the per-layer metrics (wall-clock latency and
throughput among them) plus the tracing overhead (traced minus untraced
mean latency). The last stdout line is the result object; the
line before it is a report with every metric, sample counts, host-noise
diagnostics and the pinned environment.

All files live in a per-run scratch directory under the checkout that is
removed on every exit path; traced runs also write their spans to
``.perfbench-traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

import numpy as np

from tracing import LAYERS

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SMOKE_DOCS = 2_000
TAIL_MIN_BEYOND = 10
DRIVER_MEM_MB = 2048

# On a shared host the hypervisor lends our cores elsewhere from minute to
# minute (steal of 0-30%): ten runs of one commit spread up to 45% in
# wall-clock throughput and latency. The kernel accounts steal apart from
# a process's CPU time, so the gated cost of a request is the CPU time it
# takes (tree_cpu_s); its wall-clock latency and throughput are per-layer
# metrics.
E2E = {
    "setup_s": "s", "op_cpu_ms": "ms", "peak_rss_mb": "MB", "write_amp": "ratio",
    "space_amp": "ratio",
}
WALL = {"ops_per_s": "1/s", "op_p50_ms": "ms"}


def _per_layer_units() -> dict[str, str]:
    u = dict(WALL)
    u.update({
        "read_point_p50_ms": "ms", "read_point_tail_ms": "ms",
        "read_range_p50_ms": "ms", "read_range_tail_ms": "ms",
        "read_analytic_p50_ms": "ms", "read_analytic_tail_ms": "ms",
        "write_p50_ms": "ms", "write_tail_ms": "ms",
        "corpus_docs_per_s": "1/s", "fail_share": "ratio", "trace.overhead_ms": "ms",
        "mpp.plan_ms": "ms", "mpp.exec_ms": "ms",
        "spark.jobs_per_op": "1/op", "spark.stages_per_op": "1/op",
        "spark.tasks_per_op": "1/op", "spark.shuffle_bytes_per_op": "B/op",
        "spark.spill_bytes": "B", "spark.task_skew": "ratio", "spark.gc_share": "ratio",
        "pruning.shards_share": "ratio", "pruning.ms": "ms", "zonemap.files_share": "ratio",
        "manifest.commit_ms": "ms", "manifest.commits": "count", "manifest.conflicts": "count",
        "manifest.load_ms": "ms", "manifest.versions_end": "count",
        "table.insert_ms": "ms", "table.files_written": "count", "table.bytes_written": "B",
        "table.files_per_bucket_end": "count", "table.compact_ms": "ms",
        "table.vacuum_ms": "ms", "table.files_reclaimed": "count",
        "dml.update_ms": "ms", "dml.delete_ms": "ms", "dml.upsert_ms": "ms",
        "dml.rows_matched": "count", "dml.buckets_rewritten": "count",
        "dml.useful_row_share": "ratio",
        "dedup.exact_ms": "ms", "dedup.minhash_ms": "ms", "dedup.lsh_ms": "ms",
        "dedup.verify_ms": "ms", "substrings.cut_spans_ms": "ms", "text.quality_ms": "ms",
        "substrings.tfidf_ms": "ms", "dedup.candidates": "count", "dedup.verified": "count",
        "dedup.lsh_precision": "ratio", "operators.materializations": "1/op",
        "operators.persisted_left": "count", "operators.scratch_bytes_left": "B",
        "host.steal_share": "ratio", "host.psi_cpu_us": "us", "host.loadavg1": "load",
    })
    for layer in LAYERS:
        u[f"self.{layer}_ms"] = "ms"
    return u


PER_LAYER = _per_layer_units()
STEP_METRIC = {
    "exact_dedup": "dedup.exact_ms", "minhash_bands": "dedup.minhash_ms",
    "lsh_candidate_pairs": "dedup.lsh_ms", "jaccard_verify_from_docs": "dedup.verify_ms",
    "cut_duplicated_spans": "substrings.cut_spans_ms", "quality_features": "text.quality_ms",
    "tfidf_keywords": "substrings.tfidf_ms",
}


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with at least
    TAIL_MIN_BEYOND samples beyond it. A sample too small for any (under
    20) has no tail; it falls back to the median, and the report shows the
    percentile used next to the sample count."""
    n = len(values)
    for p in (99.9, 99, 95, 90, 80, 75, 70, 60):
        if n * (1 - p / 100) >= TAIL_MIN_BEYOND:
            return p, float(np.percentile(values, p))
    return 50, float(np.percentile(values, 50))


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds used so far by process ``root`` and every process under
    it: this driver, the JVM and the Python workers it forks; reaped
    children count through their parent's cutime/cstime. The kernel
    accounts steal time apart from these counters, so CPU cost per request
    moves far less than wall-clock latency when the hypervisor lends the
    host's cores elsewhere."""
    stats, kids = {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        pid = int(name)
        stats[pid] = sum(int(x) for x in rest[11:15])
        kids.setdefault(int(rest[1]), []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += stats.get(pid, 0)
        todo.extend(kids.get(pid, ()))
    return total / _TICK


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


class Warehouse:
    """Bytes written under the warehouse, observed from outside: every
    file that appears or changes between two observations counts once at
    its observed size."""

    def __init__(self, path: str):
        self.path = path
        self.seen: dict[str, tuple[int, int]] = {}
        self.written = 0
        self.new_data_files = 0

    def observe(self) -> int:
        """Account new bytes; return the warehouse's current total size."""
        now = {}
        for d, _, files in os.walk(self.path):
            for f in files:
                p = os.path.join(d, f)
                try:
                    st = os.stat(p)
                except OSError:
                    continue
                now[p] = (st.st_size, st.st_mtime_ns)
                if self.seen.get(p) != now[p]:
                    self.written += st.st_size
                    self.new_data_files += f.endswith(".parquet")
        self.seen = now
        return sum(s for s, _ in now.values())


class Run:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.seed = args.seed
        self.run_dir = run_dir
        self.tracing = False
        self.user_bytes = 0.0
        self.reclaimed = 0
        self.space = []
        self.records = []  # (kind, latency_s, ok, traced, cpu_s)
        self.block_records = []  # (latency_s, traced, cpu_s) of whole blocks
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.op_id = 0
        self.spark_ops: list[dict] = []
        self.shards: list[float] = []
        self.zonemap: list[float] = []
        self.dml: list[dict] = []
        self.leaks: list[dict] = []
        self.cands: list[int] = []
        self.verified: list[int] = []
        self.near_recall = None
        self._snap_before = None
        self.pid = os.getpid()

    # -- environment ------------------------------------------------------
    def pin_env(self) -> dict:
        """Pin the session to this box from our own process env: cores,
        driver memory below physical RAM, local dirs and temp files inside
        the per-run scratch dir."""
        cpus = len(os.sched_getaffinity(0))
        phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
        for d in ("local", "tmp", "src"):
            os.makedirs(os.path.join(self.run_dir, d), exist_ok=True)
        self.env_mem = f"{min(DRIVER_MEM_MB, phys_mb // 4)}m"
        env = {
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_DRIVER_MEM": self.env_mem,
            "SPARK_LOCAL_DIRS": os.path.join(self.run_dir, "local"),
            "TMPDIR": os.path.join(self.run_dir, "tmp"),
            "PYSPARK_PYTHON": sys.executable,
            # every JVM, the spark-submit launcher too: temp files in the
            # scratch dir, no perf-data file under /tmp
            "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={os.path.join(self.run_dir, 'tmp')} -XX:-UsePerfData",
        }
        os.environ.pop("SPARK_GRAFT_CONF", None)
        os.environ.update(env)
        import tempfile

        tempfile.tempdir = None
        env["warehouse"] = os.path.join(self.run_dir, "wh")
        return env

    def spark_conf(self) -> dict:
        return {
            # heap committed and touched up front, so peak RSS moves with
            # off-heap and driver memory rather than with GC timing
            "spark.driver.extraJavaOptions": f"-Xms{self.env_mem} -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(self.run_dir, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }

    # -- inputs -----------------------------------------------------------
    def make_inputs(self, wl_cls) -> None:
        import gen

        self.src, self.src_nbytes = {}, {}
        tables = {}
        if "customer" in wl_cls.tables:
            tables["customer"] = gen.customer_table(self.seed)
        if "orders" in wl_cls.tables:
            tables["orders"], lineitem = gen.orders_and_lineitem(self.seed)
            if "lineitem" in wl_cls.tables:
                tables["lineitem"] = lineitem
            self.base_custkeys = tables["orders"].column("o_custkey").to_numpy()
        if "docs" in wl_cls.tables:
            self.corpus = gen.corpus(self.seed, SMOKE_DOCS if self.args.smoke else gen.N_DOCS)
            tables["docs"] = self.corpus["table"]
        for name, t in tables.items():
            self.src[name] = os.path.join(self.run_dir, "src", f"{name}.parquet")
            self.src_nbytes[name] = t.nbytes
            gen.write_parquet(t, self.src[name])

    # -- accounting hooks used by the workloads ---------------------------
    def live_bytes(self) -> int:
        total = 0
        for name in self.wl.tables:
            tbl = self.mpp.table(name)
            total += sum(os.path.getsize(os.path.join(tbl.path, rel)) for rel in tbl.snapshot_files())
        return total

    def sample_space(self) -> None:
        self.space.append(self.wh.observe() / max(self.live_bytes(), 1))

    def after_write(self, kind: str, rows: int) -> None:
        """Called after each write op with the rows it matched or applied."""
        self.sample_space()
        if self.tracing and self._snap_before is not None:
            after = self.mpp.table("orders").snapshot_files()
            before = self._snap_before
            added = {r: e for r, e in after.items() if r not in before}
            removed = [r for r in before if r not in after]
            buckets = {r.split("/", 1)[0] for r in list(added) + removed}
            self.dml.append({"kind": kind, "matched": rows, "buckets": len(buckets),
                             "rows_rewritten": sum(e["rows"] for e in added.values())})

    def note_pruning(self, kind: str, sql: str) -> None:
        if not self.tracing:
            return
        if kind == "point":
            where = sql.split(" WHERE ", 1)[1]
            tbl = self.mpp.table("orders")
            self.shards.append(len(tbl.pruned_bucket_ids(where)) / tbl.meta.buckets)
        elif kind == "range":
            k, n = self.mpp.last_file_skip.get("lineitem", (1, 1))
            self.zonemap.append(k / max(n, 1))

    # -- one operation ----------------------------------------------------
    def do(self, kind: str, run, verify, timed: bool) -> None:
        self.op_id += 1
        self.tracer.op = self.op_id
        group = f"op{self.op_id}"
        tracing = self.tracing
        if tracing:
            self.status.begin(group)
            if kind in ("insert", "update", "delete", "upsert", "maintain"):
                self.tracer.enabled = False
                self._snap_before = self.mpp.table("orders").snapshot_files()
                self.tracer.enabled = True
            persisted0 = self._persisted()
        self.attempted += 1
        c0 = tree_cpu_s(self.pid)
        t0 = time.perf_counter()
        ok, out = False, None
        try:
            with self.tracer.span(f"op.{kind}", "bench"):
                out = run()
            ok = True
        except Exception:
            self.failures.append(f"{kind}: {traceback.format_exc(limit=3)}")
        lat = time.perf_counter() - t0
        cpu = tree_cpu_s(self.pid) - c0
        self.tracer.enabled = False
        if tracing:
            sp = self.status.collect(group)
            sp["kind"] = kind
            sp["materialized"] = self._persisted() - persisted0
            self.spark_ops.append(sp)
        if ok:
            try:
                ok = bool(verify(out))
                if not ok:
                    self.failures.append(f"{kind}: wrong result")
            except Exception:
                ok = False
                self.failures.append(f"{kind} check: {traceback.format_exc(limit=3)}")
        self.tracer.enabled = tracing
        self.failed += not ok
        if timed:
            self.records.append((kind, lat, ok, tracing, cpu))

    def _persisted(self) -> int:
        return len(self.spark.sparkContext._jsc.getPersistentRDDs())

    def end_of_pass(self) -> None:
        """Leak accounting after a corpus pass, then release what the pass
        left pinned so every pass starts from the same memory state."""
        left = self.spark.sparkContext._jsc.getPersistentRDDs()
        self.leaks.append({
            "persisted_rdds": len(left),
            "scratch_bytes": dir_bytes(os.environ["TMPDIR"]) + dir_bytes(os.environ["SPARK_LOCAL_DIRS"]),
        })
        for rdd in list(left.values()):
            rdd.unpersist()

    # -- the run ----------------------------------------------------------
    def execute(self) -> dict:
        args = self.args
        env = self.pin_env()
        sys.path[:0] = [ROOT, HERE]
        from bench import _Diag  # noqa: E402  (host-noise probe shared with bench.py)
        from duckdb_mpp_spark.mpp import MppSession
        from duckdb_mpp_spark.session import get_spark

        import tracing as tr
        import workloads

        wl_cls = workloads.WORKLOADS[args.workload]
        phases = {"imports": time.perf_counter() - T0}
        self.make_inputs(wl_cls)
        phases["inputs"] = time.perf_counter() - T0
        self.tracer = tr.Tracer()

        setups = []
        self.spark = None
        for i in range(1 if args.smoke else wl_cls.setups):
            if self.spark is not None:
                self.spark.stop()
                shutil.rmtree(env["warehouse"], ignore_errors=True)
            t0 = time.perf_counter()
            self.spark = get_spark(app_name="perfbench", extra_conf=self.spark_conf())
            self.mpp = MppSession(self.spark, env["warehouse"])
            if i == 0:
                self.wl = wl_cls(self)
            self.wl.load()
            setups.append(time.perf_counter() - t0)
        self.wh = Warehouse(env["warehouse"])
        self.wl.after_load()

        if args.trace:
            self.status = tr.SparkStatus(self.spark)
            self.tracer.install()
        phases["setups"] = time.perf_counter() - T0
        # write_amp and space_amp count every write after set-up, the
        # warm-up's too: bytes need no warm JIT, and more writes steady them
        amp0 = self.wh.written, self.user_bytes
        self.space = self.space[-1:]
        # warm-up: untimed and checked (JIT, codegen and caches)
        for kind, run, verify in self.wl.warmup_block():
            self.do(kind, run, verify, timed=False)
        if args.workload == "corpus_curation":
            self.end_of_pass()
        self.wh.observe()
        written0, files0 = self.wh.written, self.wh.new_data_files

        diag = _Diag(self.spark)
        d0 = diag.snap()
        t_start = time.perf_counter()
        phases["warmup"] = t_start - T0
        # A fixed number of blocks, sized so the window lasts about
        # --seconds on a 4-core box: the sample count, and with it the
        # tail percentile, is then the same in every run. A traced run
        # splits them into an untraced and a traced half (at least one
        # block each).
        n_blocks = max(1, round(args.seconds / self.wl.block_seconds))
        if args.trace:
            n_blocks = max(1, n_blocks // 2)
        dtrace = None
        for phase in ("untraced", "traced") if args.trace else ("untraced",):
            if phase == "traced":
                self.tracing = self.tracer.enabled = True
                dtrace = diag.snap()
            for _ in range(n_blocks):
                first = len(self.records)
                for kind, run, verify in self.wl.block():
                    self.do(kind, run, verify, timed=True)
                block = self.records[first:]
                self.block_records.append((sum(r[1] for r in block), self.tracing,
                                           sum(r[4] for r in block)))
                if args.workload == "corpus_curation":
                    self.end_of_pass()
        self.tracer.enabled = self.tracing = False
        d1 = diag.snap()
        wall = time.perf_counter() - t_start

        phases["window"] = time.perf_counter() - T0
        final_ok = self.wl.finish()
        phases["finish"] = time.perf_counter() - T0
        if final_ok is not None:
            self.attempted += 1
            if not final_ok:
                self.failed += 1
                self.failures.append("final shadow comparison: mismatch")

        report = {
            "workload": args.workload, "seed": self.seed, "trace": args.trace,
            "env": env, "phases": {k: round(v, 2) for k, v in phases.items()}, "setup_s_each": [round(s, 3) for s in setups], "window_s": round(wall, 2),
            "host": _Diag.delta(dtrace or d0, d1), "leaks": self.leaks,
            "near_recall": self.near_recall, "failures": self.failures[:5],
        }
        m = self.e2e(setups, *amp0)
        classes = self.class_metrics()
        report["e2e"] = m
        report["kinds"] = {
            k: {"n": len(v), "p50_ms": round(1000 * statistics.median(v), 1),
                "cpu_ms": round(1000 * statistics.fmean(r[4] for r in self.records if r[0] == k and not r[3]), 1)}
            for k in sorted({r[0] for r in self.records})
            for v in [self._lat((k,))]
        }
        report["classes"] = classes
        if args.trace:
            layer = self.per_layer(report["host"], files0, written0)
            layer.update({k: v for k, v in classes.items() if k in PER_LAYER})
            layer.update({k: m[k]["value"] for k in WALL})
            report["per_layer"] = layer
            out_dir = os.path.join(ROOT, ".perfbench-traces")
            os.makedirs(out_dir, exist_ok=True)
            with open(os.path.join(out_dir, f"{args.workload}-seed{self.seed}.json"), "w") as f:
                json.dump({"spans": self.tracer.dump(), "spark_ops": self.spark_ops}, f)
            self.tracer.uninstall()
            metrics = {k: {"value": _num(layer.get(k)), "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": _num(m[k]["value"]), "unit": u} for k, u in E2E.items()}
        print(json.dumps(report, default=str))
        return {"correct": self.failed == 0, "attempted": self.attempted,
                "failed": self.failed, "metrics": metrics}

    # -- metrics ----------------------------------------------------------
    def _lat(self, kinds=None, traced=False) -> list[float]:
        return [r[1] for r in self.records
                if r[3] == traced and (kinds is None or r[0] in kinds)]

    def e2e(self, setups, written0, user0) -> dict:
        """The end-to-end metrics over the untraced measured requests (ops,
        or whole blocks where the workload's request is a block). write_amp
        covers the writes after set-up; a workload that writes nothing
        after set-up has it cover the last set-up's load instead."""
        user_bytes = self.user_bytes - user0
        if user_bytes > 0:
            amp = (self.wh.written - written0) / user_bytes
        else:
            amp = self.wh.written / self.user_bytes
        if self.wl.request == "block":
            reqs = [(b[0], b[2]) for b in self.block_records if not b[1]]
        else:
            reqs = [(r[1], r[4]) for r in self.records if not r[3]]
        lat = [r[0] for r in reqs]
        import resource

        py_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        jvm_pid = int(self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())
        with open(f"/proc/{jvm_pid}/status") as f:
            hwm = next(int(l.split()[1]) for l in f if l.startswith("VmHWM"))
        return {
            "setup_s": {"value": statistics.median(setups)},
            "ops_per_s": {"value": len(lat) / sum(lat), "n": len(lat)},
            "op_p50_ms": {"value": 1000 * statistics.median(lat), "n": len(lat)},
            "op_cpu_ms": {"value": 1000 * statistics.fmean(r[1] for r in reqs), "n": len(reqs)},
            "peak_rss_mb": {"value": hwm / 1024 + py_mb},
            "write_amp": {"value": amp, "user_bytes": user_bytes},
            "space_amp": {"value": statistics.fmean(self.space), "samples": len(self.space)},
        }

    def class_metrics(self) -> dict:
        """Latency per operation class over the untraced measured ops."""
        import workloads

        out = {}
        for name, kinds in (("read_point", ("point",)), ("read_range", ("range",)),
                            ("read_analytic", ("analytic",)), ("write", workloads.WRITE_KINDS)):
            lat = self._lat(kinds)
            if lat:
                p, t = tail(lat)
                out[f"{name}_p50_ms"] = 1000 * statistics.median(lat)
                out[f"{name}_tail_ms"] = 1000 * t
                out[f"{name}_tail_pct"] = p
                out[f"{name}_n"] = len(lat)
        if self.args.workload == "corpus_curation":
            steps = self._lat(workloads.STEPS)
            passes = len(steps) / len(workloads.STEPS)
            out["corpus_docs_per_s"] = passes * self.corpus["table"].num_rows / sum(steps)
        out["fail_share"] = self.failed / self.attempted
        return out

    def per_layer(self, host: dict, files0: int, written0: int) -> dict:
        """Per-layer metrics over the traced ops (counts and bytes over the
        whole measured window)."""
        import workloads

        tr, n = self.tracer, max(len(self.spark_ops), 1)
        recs = [r for r in self.records if r[3]]
        untraced = self._lat(None, False)
        mean = lambda xs: statistics.fmean(xs) if xs else 0.0
        ms = lambda name: 1000 * mean(tr.durations(name))
        out = {}
        out["trace.overhead_ms"] = 1000 * (mean([r[1] for r in recs]) - mean(untraced))
        # plan = inside MppSession.sql until the DataFrame returns; exec =
        # the action after it (read ops only; DML executes inside sql())
        read_ops = {s[5] for s in tr.spans if s[0].startswith("op.") and s[0][3:] in workloads.READ_KINDS}
        out["mpp.plan_ms"] = 1000 * mean([s[3] - s[2] for s in tr.spans if s[0] == "mpp.sql" and s[5] in read_ops])
        out["mpp.exec_ms"] = 1000 * mean([s[3] - s[2] for s in tr.spans if s[0] == "spark.exec" and s[5] in read_ops])
        so = self.spark_ops
        out["spark.jobs_per_op"] = sum(o["jobs"] for o in so) / n
        out["spark.stages_per_op"] = sum(o["stages"] for o in so) / n
        out["spark.tasks_per_op"] = sum(o["tasks"] for o in so) / n
        out["spark.shuffle_bytes_per_op"] = sum(o["shuffle_bytes"] for o in so) / n
        out["spark.spill_bytes"] = sum(o["spill_bytes"] for o in so)
        skews = [s for o in so for s in o["skews"]]
        out["spark.task_skew"] = statistics.median(skews) if skews else 1.0
        out["spark.gc_share"] = sum(o["gc_ms"] for o in so) / max(sum(o["run_ms"] for o in so), 1)
        out["pruning.shards_share"] = mean(self.shards + [k / t for k, t in tr.dml_kept])
        selfs = tr.self_times()
        for layer in LAYERS:
            out[f"self.{layer}_ms"] = 1000 * selfs.get(layer, 0.0) / n
        out["pruning.ms"] = out["self.pruning_ms"]
        out["zonemap.files_share"] = mean(self.zonemap)
        out["manifest.commit_ms"] = ms("manifest.commit")
        out["manifest.commits"] = tr.counts.get("manifest.commit", 0)
        out["manifest.conflicts"] = tr.counts.get("manifest.conflicts", 0)
        out["manifest.load_ms"] = ms("manifest.load_full")
        versions, files, buckets = 0, 0, 0
        for name in self.wl.tables:
            tbl = self.mpp.table(name)
            versions += len(tbl.history())
            files += len(tbl.snapshot_files())
            buckets += tbl.meta.buckets
        out["manifest.versions_end"] = versions
        out["table.insert_ms"] = ms("table.insert")
        out["table.files_written"] = self.wh.new_data_files - files0
        out["table.bytes_written"] = self.wh.written - written0
        out["table.files_per_bucket_end"] = files / buckets
        out["table.compact_ms"] = ms("table.compact")
        out["table.vacuum_ms"] = ms("table.vacuum")
        out["table.files_reclaimed"] = self.reclaimed
        for k in ("update", "delete", "upsert"):
            out[f"dml.{k}_ms"] = ms(f"dml.{k}")
        dml = [d for d in self.dml if d["kind"] in ("update", "delete", "upsert")]
        matched = sum(d.get("matched", 0) for d in dml)
        out["dml.rows_matched"] = matched
        out["dml.buckets_rewritten"] = mean([d["buckets"] for d in dml])
        out["dml.useful_row_share"] = matched / max(sum(d["rows_rewritten"] for d in dml), 1)
        for step, name in STEP_METRIC.items():
            out[name] = 1000 * mean([r[1] for r in recs if r[0] == step])
        out["dedup.candidates"] = mean(self.cands)
        out["dedup.verified"] = mean(self.verified)
        out["dedup.lsh_precision"] = out["dedup.verified"] / max(out["dedup.candidates"], 1)
        out["operators.materializations"] = sum(o["materialized"] for o in so) / n
        out["operators.persisted_left"] = mean([l["persisted_rdds"] for l in self.leaks])
        out["operators.scratch_bytes_left"] = mean([l["scratch_bytes"] for l in self.leaks])
        out["host.steal_share"] = host.get("steal_share") or 0.0
        out["host.psi_cpu_us"] = host.get("psi_cpu_us") or 0.0
        out["host.loadavg1"] = (host.get("loadavg1") or [0, 0])[-1]
        return out


def _num(v):
    return float(v) if v is not None else 0.0


def main(argv=None) -> int:
    import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=list(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="one set-up and a small corpus: a quick check of the benchmark itself")
    args = ap.parse_args(argv)

    run_dir = os.path.join(ROOT, ".perfbench-run", f"{args.workload}-{os.getpid()}")
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run = Run(args, run_dir)
    try:
        result = run.execute()
    finally:
        _stop_spark()
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _stop_spark() -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    try:
        from pyspark import SparkContext
    except ImportError:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)
        SparkContext._gateway = SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())

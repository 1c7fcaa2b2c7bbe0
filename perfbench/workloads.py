"""The benchmark's workloads: one client, closed loop, seeded inputs.

Each workload builds its inputs in ``setup`` (charged to ``setup_s``
together with its warm-up) and then runs ``step`` until the measured
window ends.  A step is one workload operation; it returns the timed
``Sample`` and checks the program's output outside the timed region.
The program only ever sees the generated configs and calls: the seed
picks table names, range predicates and operator order.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

from perfbench import testdata
from perfbench.trace import Tracer


@dataclass
class Sample:
    kind: str  # "check" marks an untimed check, kept out of latency stats
    seconds: float
    rows: int  # rows written or returned by the operation
    ok: bool
    error: str = ""
    cpu: float = 0.0  # CPU seconds of the driver, its JVM and workers (CpuMeter)
    # phase name -> (wall seconds, CPU seconds) of that part of the operation
    phases: dict = field(default_factory=dict)


_TICK = os.sysconf("SC_CLK_TCK")
# HotSpot's JIT compiler threads ("C1 CompilerThread0", truncated by the
# kernel to 15 characters)
_JIT_THREAD = ("C1 CompilerThre", "C2 CompilerThre")


def _ticks(stat_path: str, fields: slice) -> int:
    with open(stat_path) as f:
        # the command name may hold spaces; fields resume after ')'
        return sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[fields])


class CpuMeter:
    """User + system CPU seconds of a process tree, without the JVM's JIT
    compiler threads.

    The tree is ``root`` and every live descendant, plus what each has
    collected from reaped children.  JIT compilation runs on its own
    threads whenever HotSpot decides a method is hot; it is a warm-up
    cost that lands at random in whichever operation is running.  In
    Spark jobs run right after start-up it took about half the JVM's CPU
    under the default tiered JIT; in a measured ``query_mix`` window
    under C1 only, about a sixth.  Each
    compiler thread's last reading is kept, so a thread that exits is
    still subtracted."""

    def __init__(self, root: int) -> None:
        self.root = root
        self._jit: dict[tuple[int, int], int] = {}  # (pid, tid) -> ticks
        self._plain: set[tuple[int, int]] = set()  # threads known not to be JIT

    def seconds(self) -> float:
        parents: dict[int, int] = {}
        for pid in os.listdir("/proc"):
            if pid.isdigit():
                try:
                    parents[int(pid)] = _ticks(f"/proc/{pid}/stat", slice(1, 2))
                except OSError:  # exited while listing
                    pass
        children: dict[int, list[int]] = {}
        for pid, ppid in parents.items():
            children.setdefault(ppid, []).append(pid)
        total, todo = 0, [self.root]
        while todo:
            pid = todo.pop()
            todo += children.get(pid, [])
            try:
                total += _ticks(f"/proc/{pid}/stat", slice(11, 15))
                self._read_jit(pid)
            except OSError:
                continue
        return (total - sum(self._jit.values())) / _TICK

    def _read_jit(self, pid: int) -> None:
        for tid in map(int, os.listdir(f"/proc/{pid}/task")):
            key = (pid, tid)
            if key in self._plain:
                continue
            try:
                if key not in self._jit:
                    with open(f"/proc/{pid}/task/{tid}/comm") as f:
                        if not f.read().startswith(_JIT_THREAD):
                            self._plain.add(key)
                            continue
                self._jit[key] = _ticks(f"/proc/{pid}/task/{tid}/stat", slice(11, 13))
            except OSError:  # the thread exited; keep its last reading
                pass


@dataclass(frozen=True)
class Sizes:
    """Input sizes; ``FULL`` is what the benchmark measures."""

    data: tuple[int, int]  # prepare_read (rows_per_file, file_count)
    pos: tuple[int, int]
    eq: tuple[int, int]
    sf: float  # query_mix corpus scale factor


# prepare_read uses the reference's example config (datagen/config.py):
# 5x1000 data rows, 2x1000 position deletes, 2x1000 equality deletes
FULL = Sizes(data=(1000, 5), pos=(1000, 2), eq=(1000, 2), sf=0.002)

# query_mix reads one fixed corpus; the run seed picks the operator order
CORPUS_SEED = 42

QUERY_MIX = (
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q_asof_join",
    "q_simhash",
    "q_jaccard_pairs",
    "q_dedup_survivors",
)


class Context:
    """What a workload needs from the run: session, tracer, CPU meter,
    scratch dir."""

    def __init__(
        self, spark, tracer: Tracer, cpu: CpuMeter, work: str, seed: int, sizes: Sizes
    ) -> None:
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.rng = random.Random(seed)
        self.sizes = sizes
        self.plant_wrong_count = False  # self-tests only: corrupt one check
        self.cpu = cpu

    def name(self, prefix: str) -> str:
        return f"{prefix}_{self.rng.getrandbits(32):08x}"

    def span(self, fn, layer: str, name: str):
        """``fn()``, inside a span named ``layer.name`` when tracing."""
        if self.tracer.active:
            return self.tracer.span(layer, name, fn)[0]
        return fn()

    def measure(self, phases: dict, phase: str, fn, layer: str | None = None):
        """``fn()``; its wall and CPU seconds are stored as
        ``phases[phase]``, and it runs inside a span ``layer.phase`` when
        tracing and a layer is given."""
        c0 = self.cpu.seconds()
        t0 = time.perf_counter()
        result = self.span(fn, layer, phase) if layer else fn()
        phases[phase] = (time.perf_counter() - t0, self.cpu.seconds() - c0)
        return result

    def expect(self, got, want) -> bool:
        if self.plant_wrong_count and isinstance(want, int):
            want += 1
        return got == want


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _sample(kind: str, phases: dict, rows: int, errs: list[str]) -> Sample:
    """One operation's sample: its time is the sum of its phases."""
    return Sample(
        kind,
        sum(w for w, _ in phases.values()),
        rows,
        not errs,
        "; ".join(errs),
        sum(c for _, c in phases.values()),
        phases,
    )


class PrepareRead:
    """``prepare_read``: ``prepare()`` of a fresh seeded table through
    ``RestCatalog`` against an in-process ``RestCatalogServer``, MoR reads
    of the table just written, then ``cleanup()``.

    The shape is the reference's example config: 5x1000 data rows,
    2x1000 position deletes, 2x1000 equality deletes, 1,000 survivors.
    The reads (seeded order) are a full current-snapshot scan, which runs
    both delete anti-joins; a seeded ``where`` range scan inside one data
    file, where file skipping prunes the others; and a time-travel scan of
    snapshot 1, which has no deletes.  A write-layout change that helps
    the prepare but slows reads shows in the same operation.

    Checks: every cycle, the summary's derived total and each read's row
    count.  Once per run, in set-up, a full scan aggregate whose count
    must equal the derived total and whose surviving ``bar`` range must be
    ``[pos + eq rows, data rows)``.

    Warm-up: the checked cycle pays class loading and codegen; two more
    full cycles let JIT settle before timing starts.
    """

    min_samples = 4
    warm_cycles = 2
    # end-to-end metric -> the phase whose median CPU seconds it reports
    phase_metrics = {"prepare_or_first_cpu_s": "prepare", "scan_or_repeat_cpu_s": "full_scan"}

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        s = ctx.sizes
        (dr, dn), (pr, pn), (er, en) = s.data, s.pos, s.eq
        data, deletes = dr * dn, pr * pn + er * en
        self.want = {"data": data, "deletes": deletes, "surviving": max(0, data - deletes)}

    def setup(self) -> None:
        from iceberg_data_gen_spark.datagen.config import CatalogConfig
        from iceberg_data_gen_spark.table.rest_server import RestCatalogServer

        self.server = RestCatalogServer().__enter__()
        self.catalog = CatalogConfig(
            catalog_type="rest",
            uri=self.server.uri,
            warehouse=os.path.join(self.ctx.work, "warehouse"),
        )
        self._checks = guarded(self._scan_check, "check")
        for _ in range(self.warm_cycles):
            self.step(warm=True)

    def teardown(self) -> None:
        self.server.__exit__(None, None, None)

    def checks(self) -> list[Sample]:
        return self._checks

    def _app(self):
        from iceberg_data_gen_spark.datagen.app import IcebergDataGeneratorApp
        from iceberg_data_gen_spark.datagen.config import Config, FileConfig, TableConfig

        ctx, s = self.ctx, self.ctx.sizes
        cfg = Config(
            catalog=self.catalog,
            table=TableConfig(namespace=ctx.name("ns"), table_name=ctx.name("t")),
            data_files=FileConfig(*s.data),
            pos_delete_files=FileConfig(*s.pos),
            equality_delete_files=FileConfig(*s.eq),
        )
        return IcebergDataGeneratorApp(ctx.spark, cfg)

    @staticmethod
    def _table(app):
        c = app.config.table
        return app.catalog.load_table(c.namespace, c.table_name)

    def step(self, warm: bool = False) -> list[Sample]:
        ctx, want = self.ctx, self.want
        app = self._app()
        traced = ctx.tracer.active and not warm
        if traced:
            ctx.tracer.begin_op("prepare_read", ctx.spark)
        phases: dict = {}
        summary = ctx.measure(phases, "prepare", app.prepare)
        errs = []
        if not ctx.expect(summary["derived_total"], want["surviving"]):
            errs.append(f"derived_total {summary['derived_total']} != {want['surviving']}")
        table = self._table(app)
        if traced:
            ctx.tracer.add(
                "table", "stored_bytes_per_row", _dir_bytes(str(table.path)) / max(1, want["data"])
            )
        read_rows = 0
        for kind in ctx.rng.sample(("full_scan", "pruned_scan", "time_travel_scan"), 3):
            n, want_n = self._read(table, kind, phases)
            read_rows += n
            if not ctx.expect(n, want_n):
                errs.append(f"{kind} returned {n} rows, expected {want_n}")
        ctx.measure(phases, "cleanup", app.cleanup)
        if traced:
            ctx.tracer.end_op(ctx.spark)
        rows = want["data"] + want["deletes"] + read_rows
        return [_sample("prepare_read", phases, rows, [] if warm else errs)]

    def _read(self, table, kind: str, phases: dict) -> tuple[int, int]:
        ctx, want = self.ctx, self.want
        rows_per_file, files = ctx.sizes.data
        if kind == "full_scan":
            where, snap, want_n = None, None, want["surviving"]
        elif kind == "time_travel_scan":
            where, snap, want_n = None, table.snapshots()[0]["id"], want["data"]
        else:
            f = ctx.rng.randrange(files)
            lo = f * rows_per_file + ctx.rng.randrange(rows_per_file // 2)
            hi = lo + ctx.rng.randrange(1, rows_per_file // 2)
            where, snap = {"bar": (lo, hi)}, None
            # overlap of [lo, hi] with the surviving ids [deletes, data)
            want_n = max(0, hi + 1 - max(lo, want["deletes"]))
        n = ctx.measure(
            phases, kind, lambda: table.scan(snapshot_id=snap, where=where).count(), "table"
        )
        if ctx.tracer.active:
            report = table.plan_report(where or {})
            ctx.tracer.add("table", "files_scanned", report["surviving_files"])
            ctx.tracer.add("table", "files_pruned", report["pruned_files"])
        return n, want_n

    def _scan_check(self) -> list[Sample]:
        """One untimed cycle checked with a measured scan aggregate."""
        from pyspark.sql import functions as F

        want, app = self.want, self._app()
        try:
            app.prepare()
            df = self._table(app).scan()
            n, lo, hi = df.agg(F.count("*"), F.min("bar"), F.max("bar")).first()
        finally:
            app.cleanup()
        errs = []
        if not self.ctx.expect(n, want["surviving"]):
            errs.append(f"measured scan count {n} != {want['surviving']}")
        elif want["surviving"] and (lo, hi) != (want["deletes"], want["data"] - 1):
            errs.append(f"surviving bar range {lo}..{hi} != {want['deletes']}..{want['data'] - 1}")
        return [Sample("check", 0.0, 0, not errs, "; ".join(errs))]


class QueryMix:
    """``query_mix``: each iteration opens ``spark.newSession()`` on the
    warm JVM and runs the operator list twice in seeded order, a first
    pass and a repeat pass; one pass is one operation, so every sample
    covers the same mix of operators.  Every iteration reads the corpus
    through a fresh directory of hard links, so path-keyed memos and the
    per-session table cache start empty on the first pass, as they do for
    a caller opening a new dataset.  Each first-pass result is kept and
    compared with the operator's DuckDB oracle after the measured window,
    once the run's peak RSS has been read."""

    min_samples = 4  # two iterations, each a first and a repeat pass
    phase_metrics = {"prepare_or_first_cpu_s": "first", "scan_or_repeat_cpu_s": "repeat"}

    def __init__(self, ctx: Context) -> None:
        from iceberg_data_gen_spark import operators

        operators.load_all()
        self.ctx = ctx
        self.iteration = 0
        self.results: list[tuple] = []  # (session, sf_dir, name, rows, schema)

    def setup(self) -> None:
        self.corpus = os.path.join(self.ctx.work, "corpus")
        testdata.write_in_subprocess(self.corpus, CORPUS_SEED, self.ctx.sizes.sf)
        # warm-up: one unchecked, untraced first pass (JVM, codegen, Python
        # workers, memo builds)
        self.step(warm=True)

    def teardown(self) -> None:
        pass

    def checks(self) -> list[Sample]:
        """One oracle comparison per first-pass operator call."""
        return [
            s
            for args in self.results
            for s in guarded(lambda: self._oracle(*args), "check")
        ]

    def _fresh_path(self) -> str:
        dest = os.path.join(self.ctx.work, f"corpus-{self.iteration}")
        self.iteration += 1
        os.makedirs(dest)
        for f in os.listdir(self.corpus):
            os.link(os.path.join(self.corpus, f), os.path.join(dest, f))
        return dest

    def step(self, warm: bool = False) -> list[Sample]:
        session = self.ctx.spark.newSession()
        path = self._fresh_path()
        first = self._pass(session, path, "first", keep=not warm, traced=not warm)
        if warm:
            return first
        return first + self._pass(session, path, "repeat", keep=False, traced=True)

    def _pass(self, session, sf_dir: str, kind: str, keep: bool, traced: bool) -> list[Sample]:
        """One pass over the operator list: one operation, one sample."""
        ctx = self.ctx
        traced = traced and ctx.tracer.active
        if traced:
            ctx.tracer.begin_op(f"query:{kind}", ctx.spark)
        outs = []

        def run_pass():
            for name in ctx.rng.sample(QUERY_MIX, len(QUERY_MIX)):
                outs.append((name, *self._call(session, sf_dir, name)))

        phases: dict = {}
        ctx.measure(phases, kind, run_pass)
        if traced:
            ctx.tracer.end_op(ctx.spark)
        if keep:
            self.results += [(session, sf_dir, *out) for out in outs]
        return [_sample(f"query:{kind}", phases, sum(len(o[1]) for o in outs), [])]

    def _call(self, session, sf_dir: str, name: str):
        from iceberg_data_gen_spark import operators

        ctx = self.ctx
        df = operators.QUERIES[name](session, sf_dir)
        if ctx.tracer.active:
            plan = ctx.span(
                lambda: df._jdf.queryExecution().executedPlan().toString(), "operators", "plan"
            )
            ctx.tracer.add("operators", "exchanges", plan.count("Exchange "))
        return ctx.span(df.collect, "operators", "exec"), df.schema

    def _oracle(self, session, sf_dir: str, name: str, rows, schema) -> list[Sample]:
        from iceberg_data_gen_spark import operators
        from tests.oracle import compare

        if self.ctx.plant_wrong_count:
            rows = rows[1:]
        errs = compare(
            session,
            name,
            lambda s, d: s.createDataFrame(rows, schema),
            operators.ORACLES[name],
            sf_dir,
        )
        return [Sample("check", 0.0, 0, not errs, "; ".join(errs))]


def guarded(fn, kind: str) -> list[Sample]:
    """``fn()``'s samples; an exception becomes one failed sample."""
    try:
        return fn()
    except Exception as e:  # a failed operation is counted, not fatal
        return [Sample(kind, 0.0, 0, False, f"{type(e).__name__}: {e}")]


WORKLOADS = {"prepare_read": PrepareRead, "query_mix": QueryMix}

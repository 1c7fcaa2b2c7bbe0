"""Property-based differential testing (SURVEY §5 item 4, widened):
randomized — but seeded, via hypothesis — filter/group/aggregate specs
rendered as ONE ANSI SQL string that both Spark and DuckDB execute on the
same parquet table.  This probes the engine-parity surface between the
hand-written oracle queries: any spec where Spark's semantics (null
handling, decimal sums, group pruning) diverge from DuckDB's fails here.

Exactness by construction, so there is no tolerance knob to hide bugs:
count/min/max are order-independent, and sums accumulate in DECIMAL(18,2)
(exact, order-independent) before the final double cast.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from iceberg_data_gen_spark.session import load_tables
from tests.conftest import SF_SMALL
from tests.oracle import compare

NUM_COLS = {
    # col -> (lo, hi) spans observed at every SF (generator-fixed ranges)
    "l_quantity": (1.0, 50.0),
    "l_extendedprice": (900.0, 105000.0),
    "l_discount": (0.0, 0.1),
    "l_tax": (0.0, 0.08),
}
GRP_COLS = ["l_returnflag", "l_linestatus", "l_linenumber"]


def render_sql(grp: str, agg_col: str, filt_col: str, frac: float) -> str:
    lo, hi = NUM_COLS[filt_col]
    thr = round(lo + frac * (hi - lo), 4)
    return f"""
    SELECT {grp} AS g,
           count(*) AS n,
           min({agg_col}) AS mn,
           max({agg_col}) AS mx,
           CAST(sum(CAST({agg_col} AS DECIMAL(18,2))) AS DOUBLE) AS s
    FROM lineitem
    WHERE {filt_col} <= {thr!r}
    GROUP BY {grp}
    """


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    grp=st.sampled_from(GRP_COLS),
    agg_col=st.sampled_from(sorted(NUM_COLS)),
    filt_col=st.sampled_from(sorted(NUM_COLS)),
    frac=st.floats(0.05, 0.95),
)
def test_random_agg_spec_matches_duckdb(spark, grp, agg_col, filt_col, frac):
    sql = render_sql(grp, agg_col, filt_col, frac)

    def fn(spark, sf_dir, sql=sql):
        load_tables(spark, sf_dir, ("lineitem",))
        return spark.sql(sql)

    errors = compare(spark, f"prop[{grp},{agg_col},{filt_col},{frac:.3f}]",
                     fn, sql, SF_SMALL)
    assert not errors, errors


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=st.lists(st.sampled_from(["main", "branch", "ff"]), min_size=3, max_size=7))
def test_branch_main_interleave_model(spark, ops):
    """Differential fuzz of the MoR branch lifecycle: a random interleaving
    of main appends, branch appends, and fast-forwards is replayed against
    a pure-Python visibility model.  Invariants checked after every op:
    main scan == model, branch scan == model, time travel to the main head
    == main scan (the parent chain never walks branch-only commits), and
    main's incremental CDC window sees exactly the main-visible appends."""
    import shutil
    import tempfile

    import pytest

    from pyspark.sql import functions as F

    from iceberg_data_gen_spark.datagen.config import FileConfig
    from iceberg_data_gen_spark.datagen.generator import FixSchemaGenerator
    from iceberg_data_gen_spark.table.table import MoRTable

    fc = FileConfig(rows_per_file=10, file_count=1)
    schema = FixSchemaGenerator(fc, fc, fc).schema()
    base = tempfile.mkdtemp(prefix="mor-fuzz-")
    t = MoRTable.create(spark, base, schema)

    def rows(a, b):
        return spark.range(a, b).select(
            F.col("id").cast("string").alias("foo"),
            F.col("id").cast("int").alias("bar"),
            F.lit(True).alias("baz"),
        )

    nxt = 0
    main_rows: set[int] = set()
    branch_exists = False
    fork_rows: set[int] = set()   # main rows visible at the fork point
    branch_rows: set[int] = set()  # rows appended on the branch since fork

    def append(target: str | None) -> None:
        nonlocal nxt
        t.append(rows(nxt, nxt + 10), single_file=True, branch=target)
        nxt += 10

    try:
        for op in ops:
            if op == "main":
                append(None)
                main_rows.update(range(nxt - 10, nxt))
            elif op == "branch":
                if not branch_exists:
                    if not main_rows:
                        # branching an empty table is an error by design
                        with pytest.raises(ValueError, match="empty table"):
                            t.create_branch("b")
                        continue
                    t.create_branch("b")
                    branch_exists = True
                    fork_rows = set(main_rows)
                    branch_rows = set()
                append("b")
                branch_rows.update(range(nxt - 10, nxt))
            else:  # ff
                if not branch_exists or not branch_rows:
                    continue
                if main_rows == fork_rows:
                    t.fast_forward("b")
                    main_rows |= branch_rows
                    # ref persists at the landed head; future branch
                    # appends fork from there
                    fork_rows = set(main_rows)
                    branch_rows = set()
                else:
                    with pytest.raises(ValueError, match="divergent"):
                        t.fast_forward("b")
            got_main = {r.bar for r in t.scan().collect()}
            assert got_main == main_rows, (op, ops)
            head = t.current_snapshot_id()
            if head is not None:
                tt = {r.bar for r in t.scan(snapshot_id=head).collect()}
                assert tt == main_rows, (op, ops)
            inc = {r.bar for r in t.incremental_scan(0).collect()}
            assert inc == main_rows, (op, ops)
            if branch_exists:
                got_b = {r.bar for r in t.scan(ref="b").collect()}
                assert got_b == fork_rows | branch_rows, (op, ops)
    finally:
        shutil.rmtree(base, ignore_errors=True)



def _run_full_lifecycle_model(spark, t, ops, pick):
    """Replay a random lifecycle interleave against the pure-Python
    visibility model on an already-created table ``t``.  Shared by the
    local-catalog and REST-catalog lifecycle fuzz tests so BOTH metadata
    paths (LocalMetadataIO file writes vs RestMetadataIO version-CAS
    commits) are proven to produce identical snapshot semantics."""
    import pytest

    from pyspark.sql import functions as F

    def rows(a, b):
        return spark.range(a, b).select(
            F.col("id").cast("string").alias("foo"),
            F.col("id").cast("int").alias("bar"),
            F.lit(True).alias("baz"),
        )

    nxt = 0
    main_rows: set[int] = set()
    inc_rows: set[int] = set()      # appends ever main-visible (CDC view)
    history: list[tuple[int, set[int]]] = []  # (main head id, main state)
    staged: list[tuple[int, set[int]]] = []   # (snapshot id, its rows)
    branch_exists = False
    fork_rows: set[int] = set()
    fork_head: int | None = None
    branch_rows: set[int] = set()

    def fresh() -> set[int]:
        return set(range(nxt - 10, nxt))

    for op in ops:
        if op == "main":
            t.append(rows(nxt, nxt + 10), single_file=True)
            nxt += 10
            main_rows |= fresh()
            inc_rows |= fresh()
        elif op == "branch":
            if not branch_exists:
                if not main_rows:
                    continue
                t.create_branch("b")
                branch_exists = True
                fork_rows = set(main_rows)
                fork_head = t.current_snapshot_id()
                branch_rows = set()
            t.append(rows(nxt, nxt + 10), single_file=True, branch="b")
            nxt += 10
            branch_rows |= fresh()
        elif op == "ff":
            if not branch_exists or not branch_rows:
                continue
            # fast-forward succeeds iff main's HEAD is still the fork
            # snapshot — ancestry, not row-set equality: a rollback
            # restores the fork's ROWS under a NEW snapshot id, which
            # is not in the branch's ancestry and must still diverge
            if t.current_snapshot_id() == fork_head:
                t.fast_forward("b")
                main_rows |= branch_rows
                inc_rows |= branch_rows
                fork_rows = set(main_rows)
                fork_head = t.current_snapshot_id()
                branch_rows = set()
            else:
                with pytest.raises(ValueError, match="divergent"):
                    t.fast_forward("b")
        elif op == "stage":
            snap = t.append_staged(rows(nxt, nxt + 10), single_file=True)
            nxt += 10
            staged.append((snap["id"], fresh()))
        elif op == "publish":
            if not staged:
                continue
            sid, srows = staged.pop(pick % (len(staged)))
            t.publish_snapshot(sid)
            main_rows |= srows
            inc_rows |= srows
        elif op == "evolve":
            # partition evolution (r7): metadata-only, no snapshot — it
            # must be INVISIBLE to every visibility surface (main scan,
            # branch scan, staged, CDC), while subsequent appends on any
            # ref write under the new default spec; fast_forward/publish
            # must then surface those partitioned files unchanged
            specs = [[], [{"source": "bar", "transform": "bucket", "n": 4}]]
            t.update_spec(specs[(nxt // 10) % 2])
        else:  # rollback
            if not history:
                continue
            sid, state = history[pick % len(history)]
            t.rollback(sid)
            main_rows = set(state)
            # CDC is append-only: inc_rows unchanged by rollback
        head = t.current_snapshot_id()
        if head is not None:
            history.append((head, set(main_rows)))
        got_main = {r.bar for r in t.scan().collect()}
        assert got_main == main_rows, (op, ops)
        if head is not None:
            tt = {r.bar for r in t.scan(snapshot_id=head).collect()}
            assert tt == main_rows, (op, ops)
        inc = {r.bar for r in t.incremental_scan(0).collect()}
        assert inc == inc_rows, (op, ops)
        if branch_exists:
            got_b = {r.bar for r in t.scan(ref="b").collect()}
            assert got_b == fork_rows | branch_rows, (op, ops)


_LIFECYCLE_OPS = st.lists(
    st.sampled_from(
        ["main", "branch", "ff", "stage", "publish", "rollback", "evolve"]
    ),
    min_size=4,
    max_size=8,
)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_LIFECYCLE_OPS, pick=st.integers(0, 10**6))
def test_full_lifecycle_interleave_model(spark, ops, pick):
    """Differential fuzz over the FULL snapshot lifecycle: main appends,
    branch appends, fast-forward, WAP stage/publish, and rollback, all
    replayed against a pure-Python model.  Checked after every op:

    * scan() == model main state
    * time travel to the main head == scan() (clean parent chain)
    * incremental_scan(0) == every main-VISIBLE append ever (CDC is
      append-only: rollback does not rewind it, staged/branch commits
      enter only on publish/fast-forward)
    * scan(ref=branch) == fork state + branch appends
    """
    import shutil
    import tempfile

    from iceberg_data_gen_spark.datagen.config import FileConfig
    from iceberg_data_gen_spark.datagen.generator import FixSchemaGenerator
    from iceberg_data_gen_spark.table.table import MoRTable

    fc = FileConfig(rows_per_file=10, file_count=1)
    schema = FixSchemaGenerator(fc, fc, fc).schema()
    base = tempfile.mkdtemp(prefix="mor-fuzz2-")
    t = MoRTable.create(spark, base, schema)
    try:
        _run_full_lifecycle_model(spark, t, ops, pick)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_LIFECYCLE_OPS, pick=st.integers(0, 10**6))
def test_full_lifecycle_interleave_model_rest(spark, ops, pick):
    """The SAME lifecycle interleave model, but on a table whose metadata
    lives behind the Iceberg-REST client: every append, branch-ref
    advance, WAP stage/publish (one atomic commit each), and rollback
    goes through RestMetadataIO's version-CAS commit path against the
    in-process fixture server instead of local metadata files.  Any
    divergence from the local-catalog run of the identical model means
    the two metadata paths disagree on snapshot semantics."""
    import shutil
    import tempfile

    from iceberg_data_gen_spark.datagen.config import FileConfig
    from iceberg_data_gen_spark.datagen.generator import FixSchemaGenerator
    from iceberg_data_gen_spark.table.rest_catalog import RestCatalog
    from iceberg_data_gen_spark.table.rest_server import RestCatalogServer

    fc = FileConfig(rows_per_file=10, file_count=1)
    schema = FixSchemaGenerator(fc, fc, fc).schema()
    wh = tempfile.mkdtemp(prefix="mor-fuzz-rest-")
    try:
        with RestCatalogServer() as srv:
            cat = RestCatalog(spark, srv.uri, wh)
            cat.create_namespace("fuzz")
            t = cat.create_table("fuzz", "t", schema)
            _run_full_lifecycle_model(spark, t, ops, pick)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["append", "posdel", "eqdel"]),
            st.integers(0, 10**6),
        ),
        min_size=4,
        max_size=10,
    )
)
def test_delete_interleave_model(spark, ops):
    """Differential fuzz of the MoR DELETE surface: a random interleaving
    of appends (values drawn from a small overlapping domain), position
    deletes (random (file, pos) targets), and equality deletes (random
    values) is replayed against a pure-Python model of Iceberg's
    sequence-number semantics — a position delete kills exactly the
    named row of the named file; an equality delete kills matching rows
    only in data files with a STRICTLY OLDER sequence number, so a
    re-append of a deleted value survives.  After every op the live
    multiset must match scan(); at the end, time travel to every
    intermediate snapshot must reproduce the model state recorded there
    (deletes must not rewrite history)."""
    import shutil
    import tempfile
    from collections import Counter

    from iceberg_data_gen_spark.datagen.config import FileConfig
    from iceberg_data_gen_spark.datagen.generator import FixSchemaGenerator
    from iceberg_data_gen_spark.table.table import MoRTable

    fc = FileConfig(rows_per_file=10, file_count=1)
    schema = FixSchemaGenerator(fc, fc, fc).schema()
    base = tempfile.mkdtemp(prefix="mor-delfuzz-")
    t = MoRTable.create(spark, base, schema)

    files: list[dict] = []  # {"path", "seq", "rows": [[foo, bar, alive]]}
    seq = 0
    history: list[tuple[int, Counter]] = []  # (snapshot id, model multiset)

    def model_live() -> Counter:
        return Counter(
            (r[0], r[1]) for f in files for r in f["rows"] if r[2]
        )

    try:
        for kind, r in ops:
            if kind == "append":
                seq += 1
                vals = [(r + i * 3) % 10 for i in range(6)]
                df = spark.createDataFrame(
                    [(str(v), v, True) for v in vals],
                    "foo string, bar int, baz boolean",
                )
                snap = t.append(df, single_file=True)
                files.append({
                    "path": snap["files"][0]["path"],
                    "seq": seq,
                    "rows": [[str(v), v, True] for v in vals],
                })
            elif kind == "posdel":
                if not files:
                    continue
                seq += 1
                f = files[r % len(files)]
                pos = (r // 13) % len(f["rows"])
                t.add_position_deletes(
                    spark.createDataFrame(
                        [(f["path"], pos)], "file_path string, pos long"
                    )
                )
                f["rows"][pos][2] = False
            else:  # eqdel
                if not files:
                    continue
                seq += 1
                v = r % 10
                t.add_equality_deletes(
                    spark.createDataFrame([(str(v), v)], "foo string, bar int"),
                    [1, 2],
                )
                for f in files:
                    if f["seq"] < seq:
                        for row in f["rows"]:
                            if row[1] == v:
                                row[2] = False
            got = Counter((r2.foo, r2.bar) for r2 in t.scan().collect())
            assert got == model_live(), (kind, ops)
            head = t.current_snapshot_id()
            if head is not None:
                history.append((head, model_live()))
        # deletes are snapshots too: every intermediate state must replay
        for sid, state in history:
            tt = Counter(
                (r2.foo, r2.bar) for r2 in t.scan(snapshot_id=sid).collect()
            )
            assert tt == state, (sid, ops)
    finally:
        shutil.rmtree(base, ignore_errors=True)


# key domains small enough that deletes hit, appends bring deleted keys
# back, and NULL keys meet NULL deletes
_FOOS = ["a", "b", None]
_BARS = [0, 1, 2, 3, None]


def _model_rows(r: int, n: int) -> list[tuple]:
    return [
        (_FOOS[(r >> (2 * i)) % 3], _BARS[(r // 3 + 7 * i) % 5], bool((r >> i) & 1))
        for i in range(n)
    ]


def _run_delete_semantics_model(spark, t, ops, pick) -> set[str]:
    """Replay ``ops`` on ``t`` and on a pure-Python model of Iceberg's
    delete rules; return the planning branches the scans took
    ("decided": the sequence rule settled from metadata, "per-row": the
    ``__data_seq < __del_seq`` predicate kept).

    Model: a position delete kills the named row of the named file; an
    equality delete (or a merge's) at sequence number s kills the rows,
    matching on its key columns with NULL equal to NULL, of the data
    files whose sequence number is below s — so a merge's own data files
    and every later append survive it.  After each op: ``scan()``, a
    ``where`` scan (delete-file pruning by bounds) and time travel to a
    snapshot picked by ``pick`` must equal the model."""
    import random
    from collections import Counter

    import pyarrow.parquet as pq

    rng = random.Random(pick)
    ddl = "foo string, bar int, baz boolean"
    files: list[dict] = []  # {"path", "seq", "rows": [[foo, bar, baz, alive]]}
    states: list[tuple[int, Counter]] = []  # (snapshot id, live rows then)
    seq = 0
    seen: set[str] = set()

    def live() -> Counter:
        return Counter(tuple(r[:3]) for f in files for r in f["rows"] if r[3])

    def add_files(snap: dict, rows: list[tuple]) -> None:
        new = []
        for e in snap["files"]:
            if e["kind"] == "data":
                got = [
                    (x["foo"], x["bar"], x["baz"])
                    for x in pq.read_table(e["path"]).to_pylist()
                ]
                new.append({"path": e["path"], "seq": seq, "rows": [[*x, True] for x in got]})
        assert Counter(tuple(r[:3]) for f in new for r in f["rows"]) == Counter(rows)
        files.extend(new)

    def eq_kill(key_cols: list[int], keys: set[tuple]) -> None:
        for f in files:
            if f["seq"] < seq:
                for row in f["rows"]:
                    if tuple(row[c] for c in key_cols) in keys:
                        row[3] = False

    def scan_rows(df) -> Counter:
        return Counter((r.foo, r.bar, r.baz) for r in df.collect())

    def note_branches(snapshot_id) -> None:
        for _, need_seq in t._plan(snapshot_id, None, None).eq.values():
            seen.add("per-row" if need_seq else "decided")

    for kind, r in ops:
        if kind == "append":
            rows = _model_rows(r, 1 + r % 4)
            seq += 1
            add_files(t.append(spark.createDataFrame(rows, ddl), single_file=True), rows)
        elif kind == "append_batches":
            batches = [_model_rows(r + b, 1 + (r + b) % 3) for b in range(2)]
            seq += 1
            snap = t.append_batches([spark.createDataFrame(b, ddl) for b in batches])
            add_files(snap, [x for b in batches for x in b])
        elif kind == "posdel":
            cand = [f for f in files if f["rows"]]
            if not cand:
                continue
            targets = {
                (f["path"], p)
                for i in range(1 + r % 2)
                for f in [cand[(r >> (3 * i)) % len(cand)]]
                for p in [(r >> (5 + i)) % len(f["rows"])]
            }
            seq += 1
            t.add_position_deletes(
                spark.createDataFrame(sorted(targets), "file_path string, pos long")
            )
            for f in files:
                for p, row in enumerate(f["rows"]):
                    if (f["path"], p) in targets:
                        row[3] = False
        elif kind in ("eqdel", "merge"):
            ids = [2] if r % 2 else [1, 2]
            key_cols = [i - 1 for i in ids]
            key_ddl = ", ".join(["foo string", "bar int"][2 - len(ids):])
            if kind == "eqdel":
                keys = [tuple(x[c] for c in key_cols) for x in _model_rows(r // 2, 1 + r % 4)]
                if (r >> 4) & 1:  # a NULL bar beside the bounds of the rest
                    keys.append((*keys[0][:-1], None))
                seq += 1
                if r % 3 == 0 and len(keys) > 1:  # two files, one commit
                    t.add_equality_deletes(
                        [spark.createDataFrame(keys[:1], key_ddl), spark.createDataFrame(keys[1:], key_ddl)],
                        ids,
                    )
                else:
                    t.add_equality_deletes(spark.createDataFrame(keys, key_ddl), ids)
                eq_kill(key_cols, set(keys))
            else:
                rows = _model_rows(r // 2, 1 + r % 4)
                seq += 1
                snap = t.merge(spark.createDataFrame(rows, ddl), ids)
                eq_kill(key_cols, {tuple(x[c] for c in key_cols) for x in rows})
                add_files(snap, rows)
        states.append((t.current_snapshot_id(), live()))

        assert scan_rows(t.scan()) == live(), (kind, ops)
        note_branches(None)
        lo = r % 4
        got = scan_rows(t.scan(where={"bar": (lo, lo + 1)}))
        want = Counter(
            {k: n for k, n in live().items() if k[1] is not None and lo <= k[1] <= lo + 1}
        )
        assert got == want, (kind, lo, ops)
        sid, state = rng.choice(states)
        assert scan_rows(t.scan(snapshot_id=sid)) == state, (sid, ops)
        note_branches(sid)
    return seen


_DELETE_OPS = st.lists(
    st.tuples(
        st.sampled_from(["append", "append_batches", "posdel", "eqdel", "merge"]),
        st.integers(0, 10**6),
    ),
    min_size=2,
    max_size=6,
)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_DELETE_OPS, pick=st.integers(0, 10**6), r=st.integers(0, 10**6))
def test_delete_semantics_model(spark, ops, pick, r):
    """Differential fuzz of the merge-on-read delete rules against the
    scan planner: random appends, multi-file appends, position deletes,
    equality deletes on key sets [bar] and [foo, bar] (NULL keys
    included; the small key domain brings deleted keys back in later
    appends) and merges, each op checked by
    ``_run_delete_semantics_model``.  Every example opens with an append
    and an equality delete on its keys (the sequence rule decided by
    metadata) and closes with a merge (data and delete at one sequence
    number: the per-row predicate kept), so both planning branches run
    in each example."""
    import shutil
    import tempfile

    from iceberg_data_gen_spark.table.table import Field, MoRTable, TableSchema

    schema = TableSchema(
        fields=[
            Field(1, "foo", "string", required=False),
            Field(2, "bar", "int", required=False),
            Field(3, "baz", "boolean", required=False),
        ],
        identifier_field_ids=[2],
    )
    base = tempfile.mkdtemp(prefix="mor-delsem-")
    try:
        t = MoRTable.create(spark, base, schema)
        # the closing merge upserts the opening append's first row, so an
        # older data file shares its keys whatever ran in between
        ops = [("append", 2 * r), ("eqdel", 4 * r), *ops, ("merge", 4 * r)]
        seen = _run_delete_semantics_model(spark, t, ops, pick)
        assert seen == {"decided", "per-row"}, (seen, ops)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _run_mutation_model(spark, t, ops, partition_check=None):
    """Replay a random mutation interleave (append / eq-delete / MERGE /
    compact / cluster_by / expire) against the pure-Python model on an
    already-created table ``t``.  Shared by the local-catalog and
    REST-catalog mutation fuzz tests: merge, compaction, and z-order
    clustering are multi-file commits and expiration is a metadata
    rewrite — exactly the op class where a non-atomic (two-save) publish
    over the REST CAS would strand half-applied documents.

    ``partition_check=(pcol, n)`` runs the same interleave on a table
    whose default spec is ``bucket(bar, n)`` and, after EVERY op,
    asserts (a) each visible data file carries the spec_id + partition
    tuple in its manifest entry — review r7 found merge/compact/
    cluster_by routing through the unpartitioned writer and silently
    stripping both — and (b) a partition-filtered scan equals the model
    filtered by the same bucket, i.e. pruning never drops or
    manufactures rows across any maintenance history."""
    import copy
    from collections import Counter

    files: list[dict] = []  # {"seq", "rows": [[foo, bar, baz, alive]]}
    seq = 0
    history: list[tuple[int, Counter]] = []
    # per main-visible commit: a DEEP copy of the whole file/seq/alive
    # structure (not just the live Counter) — the r8 "rollback" op
    # restores one, and post-rollback eq-deletes need the restored
    # files' ORIGINAL sequence numbers to model the strictly-older rule
    model_states: list[tuple[int, list[dict]]] = []

    def model_live() -> Counter:
        return Counter(
            (r[0], r[1], r[2]) for f in files for r in f["rows"] if r[3]
        )

    def check_partitions(r: int, kind: str) -> None:
        if not partition_check:
            return
        pcol, n = partition_check
        # spec-aware (r7 evolve op): a file written under a spec that
        # does not define pcol legitimately has no value for it — but a
        # file whose OWN spec defines pcol must carry it (the review-r7
        # stripping bug), and every file must carry its spec_id
        spec_fields = {
            s["spec_id"]: {fl["name"] for fl in s["fields"]}
            for s in t.partition_specs
        }
        for f in t._files_of_kind("data", None):
            sid = f.get("spec_id")
            assert sid is not None, (kind, f)
            if pcol in spec_fields.get(sid, set()):
                assert f.get("partition", {}).get(pcol) is not None, (kind, f)
        b = r % n
        got = Counter(
            (r2.foo, r2.bar, r2.baz)
            for r2 in t.scan(partition_filter={pcol: b}).collect()
        )
        want = Counter(
            (row[0], row[1], row[2])
            for f in files
            for row in f["rows"]
            if row[3] and row[1] % n == b
        )
        assert got == want, (kind, b, ops)

    def check_files_seqs(kind: str) -> None:
        # r8: the .files metadata table must agree with the scan layer's
        # merged per-file sequence numbers after EVERY op — rollback
        # re-references files under their original numbers (the metadata
        # table used to report the commit's own instead), and expire's
        # history rewrite / evolve's spec flip are exactly the ops most
        # likely to desynchronize the two walks (review r8: these two
        # branches used to `continue` past the check)
        want_seqs = Counter(
            (f["path"], f["sequence_number"])
            for f in t._files_of_kind(None, None)
        )
        got_seqs = Counter(
            (r2.file_path, r2.sequence_number) for r2 in t.files().collect()
        )
        assert got_seqs == want_seqs, (kind, ops)

    for kind, r in ops:
        if kind == "expire":
            # metadata-only: current state and future commits are
            # untouched; only old history (and its orphaned files)
            # goes away.  The end-of-run replay checks which.
            t.expire_snapshots(keep_last=1 + r % 3)
            got = Counter(
                (r2.foo, r2.bar, r2.baz) for r2 in t.scan().collect()
            )
            assert got == model_live(), (kind, ops)
            check_partitions(r, kind)
            check_files_seqs(kind)
            continue
        if kind == "evolve":
            # Iceberg partition EVOLUTION mid-history (r7): metadata-only
            # — no data file touched, no snapshot; future writes land
            # under the new default spec, old files keep theirs and the
            # scan plans each file against its own spec.  In the
            # partition-checked variant the bucket width is pinned to
            # the check's n: re-registering the field name with a
            # different width would change the residual's domain and
            # make the model's bucket filter ill-defined.
            if partition_check:
                choices = [
                    [],
                    [
                        {
                            "source": "bar",
                            "transform": "bucket",
                            "n": partition_check[1],
                        }
                    ],
                ]
            else:
                choices = [
                    [],
                    [{"source": "bar", "transform": "bucket", "n": 2 + r % 3}],
                    [{"source": "bar", "transform": "identity"}],
                ]
            t.update_spec(choices[r % len(choices)])
            got = Counter(
                (r2.foo, r2.bar, r2.baz) for r2 in t.scan().collect()
            )
            assert got == model_live(), (kind, ops)
            check_partitions(r, kind)
            check_files_seqs(kind)
            continue
        seq += 1
        if kind == "append":
            vals = [(r + i * 3) % 10 for i in range(5)]
            t.append(
                spark.createDataFrame(
                    [(str(v), v, True) for v in vals],
                    "foo string, bar int, baz boolean",
                ),
                single_file=True,
            )
            files.append(
                {"seq": seq, "rows": [[str(v), v, True, True] for v in vals]}
            )
        elif kind == "eqdel":
            v = r % 10
            t.add_equality_deletes(
                spark.createDataFrame([(str(v), v)], "foo string, bar int"),
                [1, 2],
            )
            for f in files:
                if f["seq"] < seq:
                    for row in f["rows"]:
                        if row[1] == v:
                            row[3] = False
        elif kind == "merge":
            keys = sorted({(r + i * 7) % 10 for i in range(3)})
            bz = bool(r % 2)
            t.merge(
                spark.createDataFrame(
                    [(str(v), v, bz) for v in keys],
                    "foo string, bar int, baz boolean",
                ),
                on_ids=[1, 2],
            )
            for f in files:
                if f["seq"] < seq:
                    for row in f["rows"]:
                        if row[1] in keys:
                            row[3] = False
            files.append(
                {"seq": seq, "rows": [[str(v), v, bz, True] for v in keys]}
            )
        elif kind == "rollback":
            # r8 (files() seq fix): restore a random still-live past
            # snapshot.  The engine re-references the target's visible
            # files under their ORIGINAL sequence numbers; the model
            # restores its deep-copied state from that commit — alive
            # flags and seqs as they were — so later eq-deletes (whose
            # seq exceeds every restored one) and expiration interact
            # with the restored files exactly like the engine's
            # strictly-older rule says
            live_ids = {s["id"] for s in t.snapshots()}
            candidates = [
                (sid, st_) for sid, st_ in model_states if sid in live_ids
            ]
            if not candidates:
                seq -= 1  # nothing to roll back to: op is a no-op
                continue
            sid, fstate = candidates[r % len(candidates)]
            t.rollback(sid)
            files = copy.deepcopy(fstate)
        else:  # compact / cluster: both replace the table with a baseline
            if kind == "cluster":
                t.cluster_by(["bar"], bits=8)
            else:
                t.compact()
            live = [
                [r2[0], r2[1], r2[2], True]
                for f in files
                for r2 in f["rows"]
                if r2[3]
            ]
            files = [{"seq": seq, "rows": live}]
        got = Counter(
            (r2.foo, r2.bar, r2.baz) for r2 in t.scan().collect()
        )
        assert got == model_live(), (kind, ops)
        check_partitions(r, kind)
        head = t.current_snapshot_id()
        if head is not None:
            history.append((head, model_live()))
            model_states.append((head, copy.deepcopy(files)))
        check_files_seqs(kind)
    import pytest

    survived: list[bool] = []
    for sid, state in history:
        try:
            tt = Counter(
                (r2.foo, r2.bar, r2.baz)
                for r2 in t.scan(snapshot_id=sid).collect()
            )
        except ValueError:
            survived.append(False)
            continue
        assert tt == state, (sid, ops)
        survived.append(True)
    # expiration drops oldest-first: once a snapshot survives, every
    # later one must too, and the current head always survives
    assert survived == sorted(survived), (survived, ops)
    if history:
        head = t.current_snapshot_id()
        if head is not None:
            assert survived[-1], (survived, ops)
            with pytest.raises(ValueError):
                t.scan(snapshot_id=-1)  # never-existed id still errors


_MUTATION_OPS = st.lists(
    st.tuples(
        st.sampled_from(
            [
                "append",
                "eqdel",
                "merge",
                "compact",
                "cluster",
                "expire",
                "evolve",
                "rollback",
            ]
        ),
        st.integers(0, 10**6),
    ),
    min_size=4,
    max_size=9,
)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_MUTATION_OPS)
def test_mutation_interleave_model(spark, ops):
    """Differential fuzz of the MUTATION surface: random interleavings of
    appends, standalone equality deletes, MERGE upserts (one overwrite
    snapshot = eq-delete of the source keys + the source data files,
    where the sequence-number rule keeps the merge's own files out of
    its own delete's reach), compaction (materialize-and-replace
    baseline), and snapshot expiration against a pure-Python model.
    After every op scan() must equal the model multiset; at the end,
    time travel to every recorded snapshot must either reproduce the
    state recorded there or (if expired) raise — never return wrong
    data — and survival must be a suffix of commit order (expire drops
    oldest-first, and the current head always survives)."""
    import shutil
    import tempfile

    from iceberg_data_gen_spark.datagen.config import FileConfig
    from iceberg_data_gen_spark.datagen.generator import FixSchemaGenerator
    from iceberg_data_gen_spark.table.table import MoRTable

    fc = FileConfig(rows_per_file=10, file_count=1)
    schema = FixSchemaGenerator(fc, fc, fc).schema()
    base = tempfile.mkdtemp(prefix="mor-mutfuzz-")
    t = MoRTable.create(spark, base, schema)
    try:
        _run_mutation_model(spark, t, ops)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_MUTATION_OPS)
def test_mutation_interleave_model_rest(spark, ops):
    """The SAME mutation interleave model on a REST-backed table: merge's
    multi-file overwrite commit, compaction's baseline replace, and
    expiration's history rewrite all go through RestMetadataIO's
    version-CAS commit path against the in-process fixture server.  Any
    divergence from the local-catalog run means the metadata paths
    disagree on mutation semantics."""
    import shutil
    import tempfile

    from iceberg_data_gen_spark.datagen.config import FileConfig
    from iceberg_data_gen_spark.datagen.generator import FixSchemaGenerator
    from iceberg_data_gen_spark.table.rest_catalog import RestCatalog
    from iceberg_data_gen_spark.table.rest_server import RestCatalogServer

    fc = FileConfig(rows_per_file=10, file_count=1)
    schema = FixSchemaGenerator(fc, fc, fc).schema()
    wh = tempfile.mkdtemp(prefix="mor-mutfuzz-rest-")
    try:
        with RestCatalogServer() as srv:
            cat = RestCatalog(spark, srv.uri, wh)
            cat.create_namespace("fuzz")
            t = cat.create_table("fuzz", "t", schema)
            _run_mutation_model(spark, t, ops)
    finally:
        shutil.rmtree(wh, ignore_errors=True)


@settings(
    max_examples=3,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_MUTATION_OPS)
def test_mutation_interleave_model_partitioned(spark, ops):
    """The SAME mutation interleave on a ``bucket(bar, 4)``-partitioned
    table, with two extra invariants after EVERY op: each visible data
    file keeps its spec_id + partition tuple (merge/compact/cluster_by
    used to strip both by routing through the unpartitioned writer —
    review r7), and a bucket-filtered ``scan(partition_filter=...)``
    stays exactly equal to the model filtered by the same bucket across
    any maintenance history — pruning may never change results."""
    import shutil
    import tempfile

    from iceberg_data_gen_spark.datagen.config import FileConfig
    from iceberg_data_gen_spark.datagen.generator import FixSchemaGenerator
    from iceberg_data_gen_spark.table.table import MoRTable

    fc = FileConfig(rows_per_file=10, file_count=1)
    schema = FixSchemaGenerator(fc, fc, fc).schema()
    base = tempfile.mkdtemp(prefix="mor-mutfuzz-part-")
    t = MoRTable.create(spark, base, schema)
    t.update_spec([{"source": "bar", "transform": "bucket", "n": 4}])
    try:
        _run_mutation_model(spark, t, ops, partition_check=("bar_bucket", 4))
    finally:
        shutil.rmtree(base, ignore_errors=True)



@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["append", "addcol", "eqdel", "merge"]),
            st.integers(0, 10**6),
        ),
        min_size=4,
        max_size=8,
    )
)
def test_schema_evolution_interleave_model(spark, ops):
    """Differential fuzz of SCHEMA EVOLUTION: random interleavings of
    appends, add_column (metadata-only — files written before the column
    existed must read as NULL), equality deletes, and MERGE upserts on
    the evolved schema, replayed against a pure-Python model whose rows
    are dicts (absent key == NULL).  After every op scan() must match
    the model under the CURRENT schema; at the end, time travel to every
    intermediate snapshot must reproduce the state recorded there, read
    through the final schema (old snapshots gain NULL columns, never
    lose data)."""
    import shutil
    import tempfile
    from collections import Counter

    from iceberg_data_gen_spark.datagen.config import FileConfig
    from iceberg_data_gen_spark.datagen.generator import FixSchemaGenerator
    from iceberg_data_gen_spark.table.table import MoRTable

    fc = FileConfig(rows_per_file=10, file_count=1)
    schema = FixSchemaGenerator(fc, fc, fc).schema()
    base = tempfile.mkdtemp(prefix="mor-evofuzz-")
    t = MoRTable.create(spark, base, schema)

    extra: list[str] = []          # evolution-added double columns
    files: list[dict] = []         # {"seq", "rows": [dict]}; dict has _alive
    seq = 0
    # (snapshot id, live row DICTS at that commit) — re-Countered at the
    # end through the FINAL schema (review r8: the Counter annotation was
    # copied from the sibling models and was wrong)
    history: list[tuple[int, list[dict]]] = []

    def ddl() -> str:
        return "foo string, bar int, baz boolean" + "".join(
            f", {c} double" for c in extra
        )

    def cols() -> list[str]:
        return ["foo", "bar", "baz", *extra]

    def model_live() -> Counter:
        return Counter(
            tuple(r.get(c) for c in cols())
            for f in files
            for r in f["rows"]
            if r["_alive"]
        )

    try:
        for kind, r in ops:
            if kind == "addcol":
                if len(extra) >= 2:
                    continue
                name = f"c{len(extra) + 1}"
                t.add_column(name, "double")
                extra.append(name)
                continue  # metadata-only: no snapshot, no scan change
            seq += 1
            if kind == "append":
                vals = [(r + i * 3) % 10 for i in range(5)]
                x = float(r % 7)
                t.append(
                    spark.createDataFrame(
                        [(str(v), v, True) + (x,) * len(extra) for v in vals],
                        ddl(),
                    ),
                    single_file=True,
                )
                files.append({
                    "seq": seq,
                    "rows": [
                        {"foo": str(v), "bar": v, "baz": True, "_alive": True,
                         **{c: x for c in extra}}
                        for v in vals
                    ],
                })
            elif kind == "eqdel":
                v = r % 10
                t.add_equality_deletes(
                    spark.createDataFrame([(str(v), v)], "foo string, bar int"),
                    [1, 2],
                )
                for f in files:
                    if f["seq"] < seq:
                        for row in f["rows"]:
                            if row["bar"] == v:
                                row["_alive"] = False
            else:  # merge
                keys = sorted({(r + i * 7) % 10 for i in range(3)})
                x = float(r % 5)
                t.merge(
                    spark.createDataFrame(
                        [(str(v), v, False) + (x,) * len(extra) for v in keys],
                        ddl(),
                    ),
                    on_ids=[1, 2],
                )
                for f in files:
                    if f["seq"] < seq:
                        for row in f["rows"]:
                            if row["bar"] in keys:
                                row["_alive"] = False
                files.append({
                    "seq": seq,
                    "rows": [
                        {"foo": str(v), "bar": v, "baz": False, "_alive": True,
                         **{c: x for c in extra}}
                        for v in keys
                    ],
                })
            got = Counter(
                tuple(getattr(r2, c) for c in cols())
                for r2 in t.scan().collect()
            )
            assert got == model_live(), (kind, ops)
            head = t.current_snapshot_id()
            if head is not None:
                # record through the FINAL schema: re-counted at the end
                history.append((head, [
                    {k: v2 for k, v2 in row.items()}
                    for f in files for row in f["rows"] if row["_alive"]
                ]))
        final = cols()
        for sid, rows_then in history:
            want = Counter(
                tuple(row.get(c) for c in final) for row in rows_then
            )
            tt = Counter(
                tuple(getattr(r2, c) for c in final)
                for r2 in t.scan(snapshot_id=sid).collect()
            )
            assert tt == want, (sid, ops)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["append", "eqdel", "cluster", "compact"]),
            st.integers(0, 10**6),
        ),
        min_size=3,
        max_size=7,
    ),
    probes=st.lists(st.integers(0, 10**6), min_size=3, max_size=3),
)
def test_pruning_exactness_model(spark, ops, probes):
    """Differential fuzz of the FILE-SKIPPING layer: random appends (each
    file covering a random value range), equality deletes, z-order
    rewrites, and compaction, then random ``scan(where=...)`` range
    probes — including half-open ranges — checked against a pure-Python
    filter of the model multiset.  Stats pruning is planning-time only,
    so no layout (fresh, clustered, compacted) and no stats coarseness
    may ever change WHAT a range scan returns, only how many files it
    touches."""
    import shutil
    import tempfile
    from collections import Counter

    from iceberg_data_gen_spark.datagen.config import FileConfig
    from iceberg_data_gen_spark.datagen.generator import FixSchemaGenerator
    from iceberg_data_gen_spark.table.table import MoRTable

    fc = FileConfig(rows_per_file=10, file_count=1)
    schema = FixSchemaGenerator(fc, fc, fc).schema()
    base = tempfile.mkdtemp(prefix="mor-prunefuzz-")
    t = MoRTable.create(spark, base, schema)

    rows: list[tuple[str, int, bool]] = []  # live multiset (model)

    def check_range(r: int) -> None:
        span = 50
        lo = r % span
        hi = lo + (r // span) % (span - lo + 1)
        for w in ((lo, hi), (lo, None), (None, hi)):
            want = Counter(
                x for x in rows
                if (w[0] is None or x[1] >= w[0])
                and (w[1] is None or x[1] <= w[1])
            )
            got = Counter(
                (r2.foo, r2.bar, r2.baz)
                for r2 in t.scan(where={"bar": w}).collect()
            )
            assert got == want, (w, ops)

    try:
        for kind, r in ops:
            if kind == "append":
                lo = r % 40
                vals = [lo + (r >> (i + 2)) % 10 for i in range(8)]
                t.append(
                    spark.createDataFrame(
                        [(str(v), v, True) for v in vals],
                        "foo string, bar int, baz boolean",
                    ),
                    single_file=True,
                )
                rows.extend((str(v), v, True) for v in vals)
            elif kind == "eqdel":
                if not rows:
                    continue
                v = r % 50
                t.add_equality_deletes(
                    spark.createDataFrame([(str(v), v)], "foo string, bar int"),
                    [1, 2],
                )
                # eq-delete hits all strictly-older files; every current
                # file IS older, so drop every live row with that value
                rows = [x for x in rows if x[1] != v]
            elif kind == "cluster":
                if not rows:
                    continue
                t.cluster_by(["bar"], target_files=3)
            else:  # compact
                t.compact()
            check_range(r)
        for pr in probes:
            check_range(pr)
    finally:
        shutil.rmtree(base, ignore_errors=True)


@settings(
    max_examples=4,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ops=st.lists(
        st.tuples(
            st.sampled_from(["append", "eqdel", "merge", "compact"]),
            st.integers(0, 10**6),
        ),
        min_size=3,
        max_size=8,
    ),
    windows=st.lists(st.integers(0, 10**6), min_size=4, max_size=4),
)
def test_incremental_scan_window_model(spark, ops, windows):
    """Differential fuzz of the CDC WINDOW contract: after a random
    commit history (appends, equality deletes, MERGE overwrites,
    compaction), every random ``incremental_scan(from, to]`` window must
    return exactly the rows of the APPEND commits inside the window —
    deletes are not applied (the consumer sees what was appended),
    merge/overwrite and compaction/replace commits contribute nothing
    (rewritten rows are not new data), and window endpoints may be any
    snapshot id, not just append commits."""
    import shutil
    import tempfile
    from collections import Counter

    from iceberg_data_gen_spark.datagen.config import FileConfig
    from iceberg_data_gen_spark.datagen.generator import FixSchemaGenerator
    from iceberg_data_gen_spark.table.table import MoRTable

    fc = FileConfig(rows_per_file=10, file_count=1)
    schema = FixSchemaGenerator(fc, fc, fc).schema()
    base = tempfile.mkdtemp(prefix="mor-incfuzz-")
    t = MoRTable.create(spark, base, schema)

    commits: list[tuple[int, list[tuple[str, int, bool]]]] = []

    try:
        for kind, r in ops:
            if kind == "append":
                vals = [(r + i * 3) % 10 for i in range(5)]
                snap = t.append(
                    spark.createDataFrame(
                        [(str(v), v, True) for v in vals],
                        "foo string, bar int, baz boolean",
                    ),
                    single_file=True,
                )
                commits.append(
                    (snap["id"], [(str(v), v, True) for v in vals])
                )
            elif kind == "eqdel":
                v = r % 10
                snap = t.add_equality_deletes(
                    spark.createDataFrame([(str(v), v)], "foo string, bar int"),
                    [1, 2],
                )
                commits.append((snap["id"], []))
            elif kind == "merge":
                keys = sorted({(r + i * 7) % 10 for i in range(3)})
                snap = t.merge(
                    spark.createDataFrame(
                        [(str(v), v, False) for v in keys],
                        "foo string, bar int, baz boolean",
                    ),
                    on_ids=[1, 2],
                )
                commits.append((snap["id"], []))  # overwrite: not CDC
            else:  # compact
                snap = t.compact()
                commits.append((snap["id"], []))  # replace: not CDC

        if not commits:
            return
        endpoints = [0] + [sid for sid, _ in commits]
        for w in windows:
            frm = endpoints[w % len(endpoints)]
            to_choices = [sid for sid in endpoints[1:] if sid > frm] or [None]
            to = to_choices[(w // 97) % len(to_choices)]
            want = Counter(
                row
                for sid, rws in commits
                if frm < sid and (to is None or sid <= to)
                for row in rws
            )
            got = Counter(
                (r2.foo, r2.bar, r2.baz)
                for r2 in t.incremental_scan(frm, to).collect()
            )
            assert got == want, (frm, to, ops)
    finally:
        shutil.rmtree(base, ignore_errors=True)


DOC_GRP = ["lang", "source"]


def render_docs_sql(grp: str, lang_pred: str, frac: float) -> str:
    # n_chars spans ~[120, 1200] at every SF (generator-fixed); the
    # threshold sweeps the observed range
    thr = int(100 + frac * 1100)
    return f"""
    SELECT {grp} AS g,
           count(*) AS n,
           CAST(min(n_chars) AS BIGINT) AS mn,
           CAST(max(n_chars) AS BIGINT) AS mx,
           CAST(sum(n_chars) AS BIGINT) AS s,
           CAST(sum(length(text) - length(replace(text, ' ', '')) + 1)
                AS BIGINT) AS toks
    FROM documents
    WHERE n_chars <= {thr} AND lang {lang_pred}
    GROUP BY {grp}
    """


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    grp=st.sampled_from(DOC_GRP),
    lang_pred=st.sampled_from(
        ["IN ('en', 'de')", "NOT IN ('zh')", "IN ('fr', 'es', 'zh')", "<> 'xx'"]
    ),
    frac=st.floats(0.05, 0.95),
)
def test_random_docs_spec_matches_duckdb(spark, grp, lang_pred, frac):
    """Documents-table twin of the lineitem differential fuzz: random
    text-corpus filter/group/aggregate specs run as one ANSI SQL string
    on both engines — integer counts/sums only, so any divergence is an
    engine-parity bug, not float noise."""
    sql = render_docs_sql(grp, lang_pred, frac)

    def fn(spark, sf_dir, sql=sql):
        load_tables(spark, sf_dir, ("documents",))
        return spark.sql(sql)

    errors = compare(
        spark, f"docprop[{grp},{lang_pred},{frac:.3f}]", fn, sql, SF_SMALL
    )
    assert not errors, errors


def render_join_sql(kind: str, grp: str, frac: float) -> str:
    """One ANSI SQL string both engines run: orders ⋈ lineitem with a
    pushed-down lineitem predicate, aggregated per group.  LEFT keeps
    unmatched orders (count(l_orderkey) exposes null-handling), EXISTS /
    NOT EXISTS are the engine-common semi/anti spellings."""
    lo, hi = NUM_COLS["l_quantity"]
    thr = round(lo + frac * (hi - lo), 4)
    if kind in ("INNER", "LEFT"):
        # LEFT additionally counts matched rows, exposing null handling
        extra = "count(l_orderkey) AS n_matched," if kind == "LEFT" else ""
        join_kw = "LEFT JOIN" if kind == "LEFT" else "JOIN"
        return f"""
        SELECT {grp} AS g,
               count(*) AS n,
               {extra}
               CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s
        FROM orders {join_kw} lineitem
          ON l_orderkey = o_orderkey AND l_quantity <= {thr!r}
        GROUP BY {grp}
        """
    neg = "NOT " if kind == "ANTI" else ""
    return f"""
    SELECT {grp} AS g,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS s
    FROM orders o
    WHERE {neg}EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_quantity <= {thr!r})
    GROUP BY {grp}
    """


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    kind=st.sampled_from(["INNER", "LEFT", "SEMI", "ANTI"]),
    grp=st.sampled_from(["o_orderpriority", "o_orderstatus"]),
    frac=st.floats(0.05, 0.95),
)
def test_random_join_spec_matches_duckdb(spark, kind, grp, frac):
    """Differential fuzz of the JOIN surface (inner/left/semi/anti with
    a non-equi conjunct in the ON clause): any divergence in join-null
    semantics, ON-vs-WHERE predicate placement, or decimal aggregation
    across the join fails exactly."""
    sql = render_join_sql(kind, grp, frac)

    def fn(spark, sf_dir, sql=sql):
        load_tables(spark, sf_dir, ("orders", "lineitem"))
        return spark.sql(sql)

    errors = compare(spark, f"propjoin[{kind},{grp},{frac:.3f}]", fn, sql, SF_SMALL)
    assert not errors, errors


def render_window_sql(grp: str, val: str, fn_kind: str, frame: int, frac: float) -> str:
    """One ANSI SQL string both engines run: a window function over a
    filtered lineitem, per-group top-20 by a TOTAL order (value, then the
    unique (l_orderkey, l_linenumber) pair) so every output row is
    deterministic in both engines.  ``fn_kind`` picks the analytic
    surface: ranking (rank depends only on strictly-smaller counts, so
    ties are safe), offset (lag over the total order), a bounded-frame
    running DECIMAL sum (exact, order-independent accumulation), or a
    numeric RANGE frame (value-distance window — tie-insensitive by
    construction, since every peer row sees the same frame)."""
    lo, hi = NUM_COLS["l_quantity"]
    thr = round(lo + frac * (hi - lo), 4)
    total_order = f"{val}, l_orderkey, l_linenumber"
    if fn_kind == "rank":
        inner = (
            f"rank() OVER (PARTITION BY {grp} ORDER BY {val}) AS x_bigint"
        )
    elif fn_kind == "lag":
        inner = (
            f"lag({val}) OVER (PARTITION BY {grp} ORDER BY {total_order}) AS x_val"
        )
    elif fn_kind == "framesum":
        inner = (
            f"CAST(sum(CAST({val} AS DECIMAL(18,2))) OVER ("
            f"PARTITION BY {grp} ORDER BY {total_order} "
            f"ROWS BETWEEN {frame} PRECEDING AND CURRENT ROW) AS DOUBLE) AS x_val"
        )
    else:  # range-sum: single numeric ordering key, value-based frame
        inner = (
            f"CAST(sum(CAST({val} AS DECIMAL(18,2))) OVER ("
            f"PARTITION BY {grp} ORDER BY {val} "
            f"RANGE BETWEEN {frame} PRECEDING AND CURRENT ROW) AS DOUBLE) AS x_val"
        )
    return f"""
    SELECT g, l_orderkey, l_linenumber, rn, {"x_bigint" if fn_kind == "rank" else "x_val"}
    FROM (
        SELECT {grp} AS g, l_orderkey, l_linenumber,
               row_number() OVER (
                   PARTITION BY {grp} ORDER BY {total_order}) AS rn,
               {inner}
        FROM lineitem
        WHERE l_quantity <= {thr!r}
    )
    WHERE rn <= 20
    """


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    grp=st.sampled_from(GRP_COLS),
    val=st.sampled_from(sorted(NUM_COLS)),
    fn_kind=st.sampled_from(["rank", "lag", "framesum", "rangesum"]),
    frame=st.integers(min_value=0, max_value=5),
    frac=st.floats(0.05, 0.95),
)
def test_random_window_spec_matches_duckdb(spark, grp, val, fn_kind, frame, frac):
    """Differential fuzz of the WINDOW surface (ranking / offset /
    bounded-frame running sums): any divergence in frame semantics,
    tie handling, lag's leading-null, or decimal accumulation inside a
    frame fails exactly — the parity gap the hand-written window oracles
    (fixed specs) cannot probe."""
    sql = render_window_sql(grp, val, fn_kind, frame, frac)

    def fn(spark, sf_dir, sql=sql):
        load_tables(spark, sf_dir, ("lineitem",))
        return spark.sql(sql)

    errors = compare(
        spark, f"propwin[{fn_kind},{grp},{val},{frame},{frac:.3f}]", fn, sql, SF_SMALL
    )
    assert not errors, errors


def render_setop_sql(op: str, all_kw: str, cols: tuple[str, ...],
                     fa: float, fb: float) -> str:
    """One ANSI SQL string both engines run: two filtered projections of
    lineitem combined with a set operator.  The branches filter on
    DIFFERENT columns so their row multisets genuinely overlap and
    differ; the ALL variants keep duplicates, probing bag semantics
    (multiplicity arithmetic) that the DISTINCT variants cannot."""
    proj = ", ".join(cols)
    lo_q, hi_q = NUM_COLS["l_quantity"]
    lo_p, hi_p = NUM_COLS["l_extendedprice"]
    thr_a = round(lo_q + fa * (hi_q - lo_q), 4)
    thr_b = round(lo_p + fb * (hi_p - lo_p), 4)
    a = f"SELECT {proj} FROM lineitem WHERE l_quantity <= {thr_a!r}"
    b = f"SELECT {proj} FROM lineitem WHERE l_extendedprice <= {thr_b!r}"
    return f"({a}) {op} {all_kw} ({b})"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    op=st.sampled_from(["UNION", "INTERSECT", "EXCEPT"]),
    all_kw=st.sampled_from(["", "ALL"]),
    cols=st.sampled_from([
        ("l_returnflag", "l_linestatus"),
        ("l_returnflag", "l_linenumber"),
        ("l_linestatus", "l_linenumber", "l_quantity"),
        ("l_returnflag", "l_linestatus", "l_linenumber", "l_tax"),
    ]),
    fa=st.floats(0.05, 0.95),
    fb=st.floats(0.05, 0.95),
)
def test_random_setop_spec_matches_duckdb(spark, op, all_kw, cols, fa, fb):
    """Differential fuzz of the SET-OP surface (UNION / INTERSECT /
    EXCEPT, DISTINCT and ALL): any divergence in duplicate-multiplicity
    arithmetic (EXCEPT ALL subtracts counts; INTERSECT ALL takes the
    min), distinct-hashing of doubles, or column coercion across the
    branches fails exactly."""
    sql = render_setop_sql(op, all_kw, cols, fa, fb)

    def fn(spark, sf_dir, sql=sql):
        load_tables(spark, sf_dir, ("lineitem",))
        return spark.sql(sql)

    errors = compare(
        spark,
        f"propsetop[{op} {all_kw},{len(cols)}c,{fa:.3f},{fb:.3f}]",
        fn, sql, SF_SMALL,
    )
    assert not errors, errors


def render_groupingsets_sql(kind: str, dims: tuple[str, ...], frac: float) -> str:
    """One ANSI SQL string both engines run: a multi-dimensional aggregate
    (ROLLUP / CUBE / explicit GROUPING SETS) over filtered lineitem.
    GROUPING(col) disambiguates the generated-NULL subtotal rows from any
    genuine NULLs, and the sum accumulates in DECIMAL(18,2) so subtotals
    are exact and order-independent in both engines."""
    lo, hi = NUM_COLS["l_quantity"]
    thr = round(lo + frac * (hi - lo), 4)
    dim_list = ", ".join(dims)
    if kind == "rollup":
        grouping = f"ROLLUP ({dim_list})"
    elif kind == "cube":
        grouping = f"CUBE ({dim_list})"
    else:  # explicit sets: full, each single dim, and grand total
        singles = ", ".join(f"({d})" for d in dims)
        grouping = f"GROUPING SETS (({dim_list}), {singles}, ())"
    gflags = ", ".join(f"grouping({d}) AS g_{d}" for d in dims)
    return f"""
    SELECT {dim_list}, {gflags},
           count(*) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS s
    FROM lineitem
    WHERE l_quantity <= {thr!r}
    GROUP BY {grouping}
    """


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    kind=st.sampled_from(["rollup", "cube", "sets"]),
    dims=st.sampled_from([
        ("l_returnflag", "l_linestatus"),
        ("l_linestatus", "l_linenumber"),
        ("l_returnflag", "l_linestatus", "l_linenumber"),
    ]),
    frac=st.floats(0.05, 0.95),
)
def test_random_groupingsets_spec_matches_duckdb(spark, kind, dims, frac):
    """Differential fuzz of the multi-dimensional aggregate surface
    (ROLLUP / CUBE / GROUPING SETS with GROUPING() flags): any divergence
    in subtotal-row generation, grouping-flag encoding, or exact DECIMAL
    subtotals fails exactly — the hand-written q_rollup/q_cube/
    q_grouping_sets oracles pin one spec each; this probes the space
    between them."""
    sql = render_groupingsets_sql(kind, dims, frac)

    def fn(spark, sf_dir, sql=sql):
        load_tables(spark, sf_dir, ("lineitem",))
        return spark.sql(sql)

    errors = compare(
        spark, f"propgsets[{kind},{len(dims)}d,{frac:.3f}]", fn, sql, SF_SMALL
    )
    assert not errors, errors


def render_scalar_sql(kind: str, i: int, n: int, k: int) -> str:
    """One ANSI SQL string both engines run: a scalar-expression grouping
    over orders, confined to the engine-common surface (substr is
    1-based in both; replace/concat/length/abs/extract/CASE agree
    exactly; round() and division are deliberately excluded — their
    tie-breaking differs)."""
    if kind == "substr":
        e = f"upper(substr(o_orderpriority, {1 + i % 3}, {1 + n % 5}))"
    elif kind == "concat":
        e = f"concat(o_orderstatus, '-', substr(o_orderpriority, 1, {1 + n % 4}))"
    elif kind == "replace":
        e = f"replace(o_orderpriority, '-', '{'_' * (n % 3)}')"
    elif kind == "length":
        e = f"length(o_orderpriority) + {k % 7}"
    elif kind == "mod_abs":
        e = f"abs(CAST(o_orderkey % 13 AS INT) - {k % 13})"
    elif kind == "extract":
        part = ("year", "month", "day")[n % 3]
        e = f"CAST(extract({part} FROM o_orderdate) AS BIGINT)"
    else:  # case
        thr = 1000 + (k % 400) * 100
        e = (
            f"CASE WHEN o_totalprice < {thr} THEN 'lo' "
            f"WHEN o_totalprice < {thr * 3} THEN 'mid' ELSE 'hi' END"
        )
    return f"SELECT {e} AS e, count(*) AS n FROM orders GROUP BY 1"


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    kind=st.sampled_from(
        ["substr", "concat", "replace", "length", "mod_abs", "extract", "case"]
    ),
    i=st.integers(0, 10**6),
    n=st.integers(0, 10**6),
    k=st.integers(0, 10**6),
)
def test_random_scalar_expr_matches_duckdb(spark, kind, i, n, k):
    """Differential fuzz of the SCALAR-FUNCTION surface (string slicing /
    concat / replace, integer arithmetic, date-part extraction, CASE
    laddering) grouped and counted: any divergence in 1-based substring
    indexing, empty-string handling, modulo sign, or date-part values
    fails exactly — the fixed q_scalar_* oracles pin a handful of
    expressions; this probes the space between them."""
    sql = render_scalar_sql(kind, i, n, k)

    def fn(spark, sf_dir, sql=sql):
        load_tables(spark, sf_dir, ("orders",))
        return spark.sql(sql)

    errors = compare(
        spark, f"propscalar[{kind},{i % 97},{n % 97},{k % 97}]", fn, sql, SF_SMALL
    )
    assert not errors, errors


def render_null_semantics_sql(v: int, v2: int, c: str) -> str:
    """One ANSI SQL string both engines run: nullif() manufactures NULLs
    in the otherwise NULL-free TPC-H data, then the aggregate surface
    must agree on every NULL rule at once — the NULL group in GROUP BY,
    count(*) vs count(col), DISTINCT ignoring NULLs, and min() skipping
    NULLs (returning NULL for an all-NULL group)."""
    return f"""
    SELECT nullif(l_linenumber, {v}) AS g,
           count(*) AS n_rows,
           count(nullif(l_linenumber, {v})) AS n_nonnull,
           CAST(count(DISTINCT nullif(l_linenumber, {v2})) AS BIGINT) AS n_distinct,
           CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s,
           min(nullif(l_returnflag, '{c}')) AS mn
    FROM lineitem
    GROUP BY 1
    """


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    v=st.integers(1, 7),
    v2=st.integers(1, 7),
    c=st.sampled_from(["A", "N", "R"]),
    jv=st.integers(0, 6),
)
def test_random_null_semantics_matches_duckdb(spark, v, v2, c, jv):
    """Differential fuzz of NULL semantics: grouping by a NULL-bearing
    key, the count(*)/count(col)/count(DISTINCT) triple, NULL-skipping
    min(), and a LEFT JOIN on nullable keys where NULL never matches
    NULL — all rules the hand-written oracles exercise only implicitly
    because the TPC-H tables carry no NULLs."""
    sql = render_null_semantics_sql(v, v2, c)

    def fn(spark, sf_dir, sql=sql):
        load_tables(spark, sf_dir, ("lineitem",))
        return spark.sql(sql)

    errors = compare(spark, f"propnull[{v},{v2},{c}]", fn, sql, SF_SMALL)
    assert not errors, errors

    join_sql = f"""
    SELECT CAST(count(*) AS BIGINT) AS n_left,
           CAST(sum(CASE WHEN b.k IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unmatched
    FROM (SELECT nullif(l_linenumber, {jv}) AS k FROM lineitem) a
    LEFT JOIN (SELECT DISTINCT nullif(o_orderkey % 7, {jv}) AS k FROM orders) b
      ON a.k = b.k
    """

    def fn2(spark, sf_dir, sql=join_sql):
        load_tables(spark, sf_dir, ("lineitem", "orders"))
        return spark.sql(sql)

    errors = compare(spark, f"propnulljoin[{jv}]", fn2, join_sql, SF_SMALL)
    assert not errors, errors


def render_subquery_sql(kind: str, frac: float, v: int) -> str:
    """One ANSI SQL string both engines run: a subquery spec over
    orders × lineitem.  ``kind`` picks the surface: IN / NOT IN
    (including NOT IN against a NULL-bearing list, where three-valued
    logic empties the result for any NULL — both engines follow the
    standard), EXISTS / NOT EXISTS with a correlated predicate, and a
    correlated scalar aggregate in WHERE (empty subquery -> NULL ->
    comparison false).  These decorrelate to joins/aggregations inside
    Spark — the optimizer surface the fixed q_*_subquery oracles pin at
    one point each."""
    lo, hi = NUM_COLS["l_extendedprice"]
    thr = round(lo + frac * (hi - lo), 2)
    if kind == "in":
        return f"""
        SELECT o_orderpriority AS g, count(*) AS n FROM orders
        WHERE o_orderkey IN (
            SELECT l_orderkey FROM lineitem WHERE l_extendedprice <= {thr!r})
        GROUP BY 1
        """
    if kind == "not_in":
        return f"""
        SELECT o_orderstatus AS g, count(*) AS n FROM orders
        WHERE o_orderkey NOT IN (
            SELECT l_orderkey FROM lineitem WHERE l_extendedprice <= {thr!r})
        GROUP BY 1
        """
    if kind == "not_in_null":
        # one NULL in the list -> NOT IN is never TRUE -> empty result
        return f"""
        SELECT o_orderstatus AS g, count(*) AS n FROM orders
        WHERE o_orderkey NOT IN (
            SELECT nullif(l_orderkey, l_orderkey) FROM lineitem
            WHERE l_extendedprice <= {thr!r})
        GROUP BY 1
        """
    if kind == "exists":
        return f"""
        SELECT o_orderpriority AS g, count(*) AS n FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_extendedprice <= {thr!r}
              AND l.l_linenumber <= {1 + v % 7})
        GROUP BY 1
        """
    if kind == "not_exists":
        return f"""
        SELECT o_orderstatus AS g, count(*) AS n FROM orders o
        WHERE NOT EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey
              AND l.l_extendedprice <= {thr!r})
        GROUP BY 1
        """
    # corr_scalar: correlated aggregate compared in WHERE
    return f"""
    SELECT o_orderpriority AS g, count(*) AS n FROM orders o
    WHERE o_totalprice <= (
        SELECT max(l_extendedprice) FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_linenumber <= {1 + v % 7})
    GROUP BY 1
    """


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    kind=st.sampled_from(
        ["in", "not_in", "not_in_null", "exists", "not_exists", "corr_scalar"]
    ),
    frac=st.floats(0.05, 0.95),
    v=st.integers(0, 10**6),
)
def test_random_subquery_spec_matches_duckdb(spark, kind, frac, v):
    """Differential fuzz of the SUBQUERY surface (IN / NOT IN incl. the
    NULL-list three-valued-logic trap / EXISTS / NOT EXISTS / correlated
    scalar aggregate): each decorrelates to a different join/aggregate
    shape inside Spark, so any divergence in decorrelation, null-aware
    anti-join semantics, or empty-subquery NULL handling fails exactly."""
    sql = render_subquery_sql(kind, frac, v)

    def fn(spark, sf_dir, sql=sql):
        load_tables(spark, sf_dir, ("orders", "lineitem"))
        return spark.sql(sql)

    errors = compare(
        spark, f"propsubq[{kind},{frac:.3f},{v % 7}]", fn, sql, SF_SMALL
    )
    assert not errors, errors


def render_composed_sql(inner: str, outer: str, grp: str, val: str,
                        frac: float) -> str:
    """One ANSI SQL string both engines run, STACKING two surfaces: an
    inner relation built by one surface (join / set-op / IN-subquery)
    consumed by an outer one (grouped aggregate / window / grouped
    HAVING with a scalar subquery).  Engines agree on each surface in
    isolation (the per-surface families above); they disagree next at
    the seams — decorrelation under a window, duplicate multiplicity
    feeding an aggregate, subquery evaluation inside HAVING — which is
    exactly what this family probes.

    Determinism by construction: money sums accumulate in DECIMAL
    before the double cast, and every window ORDER BY totally orders
    the projected tuple, so tied rows are identical and interchangeable.
    """
    return _composed_outer(outer, _composed_base(inner, grp, val, frac), frac)


def _composed_base(inner: str, grp: str, val: str, frac: float) -> str:
    """Stage-1 relation with the fixed (g, okey, lnum, v, jv) shape."""
    lo, hi = NUM_COLS[val]
    thr = round(lo + frac * (hi - lo), 4)
    lo_q, hi_q = NUM_COLS["l_quantity"]
    lo_p, hi_p = NUM_COLS["l_extendedprice"]
    thr_q = round(lo_q + frac * (hi_q - lo_q), 4)
    thr_p = round(lo_p + (1 - frac) * (hi_p - lo_p), 4)

    if inner == "join":
        base = f"""SELECT l.{grp} AS g, l.l_orderkey AS okey,
                       l.l_linenumber AS lnum, l.{val} AS v,
                       o.o_totalprice AS jv
                   FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
                   WHERE l.{val} <= {thr!r}"""
    elif inner == "setop":
        proj = (f"{grp} AS g, l_orderkey AS okey, l_linenumber AS lnum, "
                f"{val} AS v, l_tax AS jv")
        base = (f"(SELECT {proj} FROM lineitem WHERE l_quantity <= {thr_q!r}) "
                f"UNION ALL "
                f"(SELECT {proj} FROM lineitem WHERE l_extendedprice <= {thr_p!r})")
    else:  # subq: IN-subquery filter against orders
        base = f"""SELECT {grp} AS g, l_orderkey AS okey,
                       l_linenumber AS lnum, {val} AS v, l_discount AS jv
                   FROM lineitem
                   WHERE l_orderkey IN (
                       SELECT o_orderkey FROM orders
                       WHERE o_totalprice <= {thr_p!r})"""
    return base


def _composed_outer(outer: str, base: str, frac: float) -> str:
    """Final consuming stage over any (g, okey, lnum, v, jv) relation."""
    lo_p, hi_p = NUM_COLS["l_extendedprice"]
    thr_p = round(lo_p + (1 - frac) * (hi_p - lo_p), 4)

    if outer == "agg":
        return f"""
        SELECT g, count(*) AS n,
               CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS s,
               min(okey) AS mn, max(lnum) AS mx
        FROM ({base}) r
        GROUP BY g
        """
    if outer == "window":
        order = "v, okey, lnum, jv"
        return f"""
        SELECT g, okey, lnum, rn, x
        FROM (
            SELECT g, okey, lnum,
                   row_number() OVER (PARTITION BY g ORDER BY {order}) AS rn,
                   CAST(sum(CAST(v AS DECIMAL(18,2))) OVER (
                       PARTITION BY g ORDER BY {order}
                       ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
                   ) AS DOUBLE) AS x
            FROM ({base}) r
        )
        WHERE rn <= 20
        """
    # agg_having: grouped aggregate whose HAVING compares against a
    # scalar subquery — the subquery-inside-grouped-HAVING seam
    return f"""
    SELECT g, count(*) AS n, min(okey) AS mn
    FROM ({base}) r
    GROUP BY g
    HAVING count(*) > (
        SELECT count(*) FROM orders WHERE o_totalprice <= {thr_p!r}
    ) / 50
    """


COMPOSED_INNERS = ["join", "setop", "subq"]
COMPOSED_OUTERS = ["agg", "window", "agg_having"]
COMPOSED_MIDS = ["window_limit", "reagg", "corr_exists"]


def render_composed3_sql(inner: str, mid: str, outer: str, grp: str,
                         val: str, frac: float) -> str:
    """THREE stacked surfaces (VERDICT r6 #4): the two-stage family's
    inner relation, transformed by a MID stage, consumed by the same
    outer stage.  Engines that agree pairwise disagree next at
    three-surface seams — a window over a set-op of joins, a correlated
    EXISTS over a composed relation under a window, re-aggregated
    aggregates inside HAVING — which is exactly the grid this renders.

    MID stages keep the (g, okey, lnum, v, jv) shape so any outer
    consumes any mid:

    * ``window_limit`` — per-group row_number over the totally-ordered
      tuple, keep rn <= 50.  Ties are IDENTICAL tuples (the order-by
      covers every projected column), so which copy survives the
      boundary is immaterial to the output multiset.
    * ``reagg`` — re-group to (g, okey): DECIMAL-exact sum of v cast to
      double, min/max for the rest.  The outer's DECIMAL re-cast of the
      double is deterministic (a double is never an exact .005 midpoint,
      so round-to-nearest is unambiguous on both engines).
    * ``corr_exists`` — correlated EXISTS against orders on the okey
      carried through the inner surface; Spark must decorrelate through
      an already-composed relation.
    """
    base = _composed_base(inner, grp, val, frac)
    lo_p, hi_p = NUM_COLS["l_extendedprice"]
    thr_mid = round(lo_p + (0.5 + frac / 2) * (hi_p - lo_p), 4)

    if mid == "window_limit":
        rel = f"""
        SELECT g, okey, lnum, v, jv FROM (
            SELECT g, okey, lnum, v, jv,
                   row_number() OVER (
                       PARTITION BY g ORDER BY v, okey, lnum, jv
                   ) AS rn
            FROM ({base}) mb
        ) mw WHERE rn <= 50
        """
    elif mid == "reagg":
        rel = f"""
        SELECT g, okey, min(lnum) AS lnum,
               CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS v,
               max(jv) AS jv
        FROM ({base}) mb
        GROUP BY g, okey
        """
    else:  # corr_exists
        rel = f"""
        SELECT g, okey, lnum, v, jv FROM ({base}) mb
        WHERE EXISTS (
            SELECT 1 FROM orders mo
            WHERE mo.o_orderkey = mb.okey
              AND mo.o_totalprice <= {thr_mid!r})
        """
    return _composed_outer(outer, rel, frac)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    inner=st.sampled_from(COMPOSED_INNERS),
    outer=st.sampled_from(COMPOSED_OUTERS),
    grp=st.sampled_from(GRP_COLS),
    val=st.sampled_from(sorted(NUM_COLS)),
    frac=st.floats(0.05, 0.95),
)
def test_random_composed_spec_matches_duckdb(spark, inner, outer, grp, val, frac):
    """Differential fuzz of COMPOSED surfaces (inner join/set-op/subquery
    under an outer aggregate/window/grouped-HAVING): the 3×3 seam grid
    the per-surface families cannot reach.  The full discrete spec space
    (3 inners × 3 outers × 3 grps × 4 vals × 3 fracs = 324 cases) was
    swept exhaustively once with 0 divergences (scripts/sweep_composed.py),
    so these sampled runs cannot flake."""
    sql = render_composed_sql(inner, outer, grp, val, frac)

    def fn(spark, sf_dir, sql=sql):
        load_tables(spark, sf_dir, ("lineitem", "orders"))
        return spark.sql(sql)

    errors = compare(
        spark,
        f"propcomp[{inner}->{outer},{grp},{val},{frac:.3f}]",
        fn, sql, SF_SMALL,
    )
    assert not errors, errors


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    inner=st.sampled_from(COMPOSED_INNERS),
    mid=st.sampled_from(COMPOSED_MIDS),
    outer=st.sampled_from(COMPOSED_OUTERS),
    grp=st.sampled_from(GRP_COLS),
    val=st.sampled_from(sorted(NUM_COLS)),
    frac=st.floats(0.05, 0.95),
)
def test_random_composed3_spec_matches_duckdb(
    spark, inner, mid, outer, grp, val, frac
):
    """Differential fuzz of THREE stacked surfaces (VERDICT r6 #4): the
    3x3x3 shape grid (window over a set-op, correlated EXISTS over a
    composed relation under a window, re-aggregation inside HAVING, ...).
    The discrete shape space was swept exhaustively once with 0
    divergences (scripts/sweep_composed.py --three: all 27 shapes x 3
    grps x 2 vals x 2 fracs = 324 cases), so these sampled runs cannot
    flake on shape coverage."""
    sql = render_composed3_sql(inner, mid, outer, grp, val, frac)

    def fn(spark, sf_dir, sql=sql):
        load_tables(spark, sf_dir, ("lineitem", "orders"))
        return spark.sql(sql)

    errors = compare(
        spark,
        f"propcomp3[{inner}->{mid}->{outer},{grp},{val},{frac:.3f}]",
        fn, sql, SF_SMALL,
    )
    assert not errors, errors


# ---------------------------------------------------------------------------
# As-of join family: OUR asof_join operator vs DuckDB's native ASOF JOIN
# ---------------------------------------------------------------------------

def render_asof_parts(
    key_mod: int,
    key_res: int,
    ts_mod: int,
    ts_res: int,
    ties: bool = False,
    second_key: bool = False,
):
    """(left_sql, right_sql, oracle_sql) with deterministic NULL injection
    on both the key and the timestamp — the NULL surface is where the
    union-sort implementation diverged from SQL ASOF semantics (review
    r7: NULL-ts right rows matched as universal predecessors; NULL keys
    matched each other).

    Two r8 dimensions (VERDICT r7 #3 — where as-of joins break engines
    beyond NULLs):

    * ``ties``: the base spec's left timestamps (event-time) never equal
      the right side's midnight order dates, so the ``<=`` boundary was
      unexercised.  With ties on, BOTH sides coarsen — keys bucket to
      ``% 10`` and timestamps truncate to month — so left==right
      instants and duplicate (k, t) right rows are ABUNDANT by
      construction (verified: zero equal instants at raw granularity;
      thousands after coarsening).  The right row AT the left instant
      must match (``<=``), and the right side keeps its duplicate
      (k, t) rows instead of pre-aggregating — our operator's declared
      tie-break (largest value tuple) must then be EQUIVALENT to the
      oracle's max() dedup per (k, t).
    * ``second_key``: a second equality key (``% 3`` bucket on both
      sides) so matches require BOTH keys and per-key-tuple independence
      is witnessed — the right predecessor must come from the same
      (k, k2) partition, never a sibling.
    """
    # events span a SINGLE month in the present while order dates span
    # 1995-2001, so no ts-derived mapping can produce equal instants —
    # the tie dimension instead derives the left timestamp from event_id
    # onto the right side's year-month grid (make_date is engine-common),
    # guaranteeing abundant left==right instants and duplicate (k, t)
    # right rows (both verified non-vacuous at sf0.001)
    rk_raw = "o_custkey % 10" if ties else "o_custkey"
    lk_raw = "user_id % 10" if ties else "user_id"
    rt_raw = (
        "CAST(make_date(year(o_orderdate), month(o_orderdate), 1) AS TIMESTAMP)"
        if ties
        else "o_orderdate"
    )
    lt_raw = (
        "CAST(make_date(1995 + event_id % 6, 1 + event_id % 12, 1) AS TIMESTAMP)"
        if ties
        else "ts"
    )
    k_null = f"CASE WHEN o_custkey % {key_mod} = {key_res} THEN NULL ELSE {rk_raw} END"
    t_null = f"CASE WHEN o_orderkey % {ts_mod} = {ts_res} THEN NULL ELSE {rt_raw} END"
    lk_null = f"CASE WHEN user_id % {key_mod} = {key_res} THEN NULL ELSE {lk_raw} END"
    lt_null = f"CASE WHEN event_id % {ts_mod} = {ts_res} THEN NULL ELSE {lt_raw} END"
    # NULL-inject the SECOND key component too, with a shifted residue on
    # a different driver column than k/t so the three NULL surfaces are
    # decorrelated — without this, a regression that only NULL-filters
    # rkeys[0] passes every case because no spec ever produces a NULL k2
    # (review r8).  Reuses key_mod/key_res: no new sweep dimension.
    k2_res = f"(({key_res} + 1) % {key_mod})"
    k2_r = f"CASE WHEN o_orderkey % {key_mod} = {k2_res} THEN NULL ELSE o_orderkey % 3 END"
    k2_l = f"CASE WHEN user_id % {key_mod} = {k2_res} THEN NULL ELSE event_id % 3 END"
    k2_cols_r = f", {k2_r} AS k2" if second_key else ""
    k2_cols_l = f", {k2_l} AS k2" if second_key else ""
    if ties:
        # duplicate (k, k2, t) right rows survive; the OPERATOR resolves
        # the tie (largest value tuple), the ORACLE resolves it with max()
        right_sql = f"""
            SELECT {k_null} AS k{k2_cols_r}, {t_null} AS t, o_orderkey AS v
            FROM orders
        """
    else:
        gb = "1, 2, 3" if second_key else "1, 2"
        right_sql = f"""
            SELECT {k_null} AS k{k2_cols_r}, {t_null} AS t, max(o_orderkey) AS v
            FROM orders GROUP BY {gb}
        """
    left_sql = f"""
        SELECT event_id, {lk_null} AS k{k2_cols_l}, {lt_null} AS t FROM events
    """
    k2_out = ", l2.k2" if second_key else ""
    k2_on = " AND r.k2 = l2.k2" if second_key else ""
    k2_null_out = ", k2" if second_key else ""
    key_nn = "k IS NOT NULL" + (" AND k2 IS NOT NULL" if second_key else "")
    r_dedup = (
        f"SELECT k{k2_null_out}, t, max(v) AS v FROM r0 WHERE {key_nn} "
        f"GROUP BY k{k2_null_out}, t"
        if ties
        else f"SELECT * FROM r0 WHERE {key_nn}"
    )
    # predicate semantics for NULL left timestamps: r.t <= NULL is never
    # true, so such rows match NOTHING.  DuckDB 1.0's sort-based ASOF
    # instead sorts NULL last and matches the LATEST right row (an
    # implementation artifact — found by this family's first run), so the
    # oracle runs ASOF on the non-NULL-ts subset and unions the NULL-ts
    # left rows back with a NULL match.  SECOND artifact (found the
    # moment k2 NULL injection landed, review r8): composite-key ASOF
    # gives the FIRST equality key correct NULL semantics but matches
    # NULL = NULL on every LATER key (probe: left k2=NULL matched right
    # k2=NULL; a plain LEFT JOIN with the identical predicate does not).
    # So the normalization is uniform predicate semantics: left rows
    # with a NULL timestamp OR any NULL key component bypass the ASOF
    # and union back unmatched, and NULL-key right rows (which can
    # never satisfy an equality) are dropped from r.
    l_match = "t IS NOT NULL AND " + key_nn
    oracle_sql = f"""
        WITH r0 AS ({right_sql}), r AS ({r_dedup}), l AS ({left_sql})
        SELECT l2.event_id, l2.k{k2_out}, l2.t, r.v
        FROM (SELECT * FROM l WHERE {l_match}) l2
        ASOF LEFT JOIN r ON r.k = l2.k{k2_on} AND r.t <= l2.t
        UNION ALL
        SELECT event_id, k{k2_null_out}, t, NULL AS v
        FROM l WHERE NOT ({l_match})
    """
    return left_sql, right_sql, oracle_sql


def run_asof_spec(
    spark,
    key_mod: int,
    key_res: int,
    ts_mod: int,
    ts_res: int,
    ties: bool = False,
    second_key: bool = False,
):
    from iceberg_data_gen_spark.operators.asof import asof_join

    left_sql, right_sql, oracle_sql = render_asof_parts(
        key_mod, key_res, ts_mod, ts_res, ties=ties, second_key=second_key
    )
    keys = ["k", "k2"] if second_key else "k"
    out_cols = ["event_id", "k", "k2", "t", "v"] if second_key else [
        "event_id", "k", "t", "v"
    ]

    def fn(spark, sf_dir):
        load_tables(spark, sf_dir, ("orders", "events"))
        out = asof_join(
            spark.sql(left_sql),
            spark.sql(right_sql),
            left_key=keys,
            right_key=keys,
            left_ts="t",
            right_ts="t",
            value_cols=["v"],
        )
        return out.select(*out_cols)

    name = (
        f"propasof[{key_mod},{key_res},{ts_mod},{ts_res}"
        f",ties={int(ties)},k2={int(second_key)}]"
    )
    return compare(spark, name, fn, oracle_sql, SF_SMALL)


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    key_mod=st.sampled_from([4, 7]),
    key_res=st.integers(0, 6),
    ts_mod=st.sampled_from([3, 5]),
    ts_res=st.integers(0, 4),
    ties=st.booleans(),
    second_key=st.booleans(),
)
def test_random_asof_spec_matches_duckdb(
    spark, key_mod, key_res, ts_mod, ts_res, ties, second_key
):
    """Differential fuzz of the as-of join surface against DuckDB's
    native ASOF JOIN under randomized NULL-injection into keys and
    timestamps on BOTH sides, plus the r8 tie (equal-instant boundary +
    duplicate right rows) and composite-key dimensions — with the
    SECOND key component NULL-injected too (review r8; the k2 NULL
    surface immediately exposed DuckDB's nulls-equal handling of
    non-first ASOF equality keys, now normalized in the oracle).
    Discrete space — 352 cases — swept exhaustively once via
    scripts/sweep_asof.py after each spec change; sampling here cannot
    flake."""
    errors = run_asof_spec(
        spark,
        key_mod,
        key_res % key_mod,
        ts_mod,
        ts_res % ts_mod,
        ties=ties,
        second_key=second_key,
    )
    assert not errors, errors


# ---------------------------------------------------------------------------
# round_half_up floor-boundary parity (ADVICE r12)
# ---------------------------------------------------------------------------

def test_round_half_up_dyadic_boundary_matches_duckdb(spark, tmp_path):
    """The pmod-based double-native floor's one non-floor corner is
    xs ∈ [-2^-54, 0) — (xs % 1) + 1 rounds to exactly 1.0 there, so the
    subtraction truncates where DuckDB's floor returns -1.  Two pins:

    1. UNREACHABILITY: xs = y + 0.5 for a double y; doubles below -0.5
       are spaced 2^-53 and Sterbenz makes the add exact, so the
       smallest producible negative xs is -2^-53 — the corner cannot
       be hit through round_half_up's own expression, for ANY col/n.
    2. ENGINE PARITY at the closest representable approach: for each
       n, col = nextafter(-0.5/10^n, -inf) (an ulp below the -0.5
       rounding tie — the exact input ADVICE r12 names) plus the tie
       itself, dyadic ties, and clamp-magnitude values all produce
       bit-identical results on Spark and DuckDB.
    """
    import math

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from iceberg_data_gen_spark.operators.common import (
        round_half_up,
        round_half_up_sql,
    )

    # --- pin 1: the broken region cannot be produced by y + 0.5 ------
    for k in range(1, 64):
        y = -0.5 - k * 2.0**-53  # every double in (-0.5 - 2^-47, -0.5)
        xs = y + 0.5
        assert not (-(2.0**-54) <= xs < 0.0), (y, xs)
    # and the region itself does trip raw pmod (why the pin matters):
    assert ((-1e-20 % 1.0) + 1.0) % 1.0 == 0.0

    # --- pin 2: engine parity on the adversarial inputs --------------
    cols = []
    for n in (0, 1, 2, 4, 6):
        t = -0.5 / 10**n
        cols += [
            math.nextafter(t, -math.inf),  # an ulp below the tie
            t,                             # the tie itself
            math.nextafter(t, math.inf),   # an ulp above
        ]
    cols += [
        -2.0**-53, -2.0**-54, -5e-324, -0.0, 0.0, 5e-324,
        0.52165, -0.52165, 2.675, -2.675,      # representable ties
        1e15, -1e15, 1e19, -1e19,              # the old floor-clamp class
    ]
    path = str(tmp_path / "boundary.parquet")
    pq.write_table(pa.table({"x": pa.array(cols, type=pa.float64())}), path)

    for n in (0, 2, 4):
        got = [
            r["r"]
            for r in spark.read.parquet(path)
            .select(round_half_up(F.col("x"), n).alias("r"))
            .collect()
        ]
        want = [
            r[0]
            for r in duckdb.sql(
                f"SELECT {round_half_up_sql('x', n)} FROM '{path}'"
            ).fetchall()
        ]
        assert len(got) == len(want)
        for g, w, c in zip(got, want, cols):
            assert g == w and math.copysign(1, g) == math.copysign(1, w), (
                n, c, g, w,
            )

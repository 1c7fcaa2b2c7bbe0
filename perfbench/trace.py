"""Spans and counters recorded from outside the program.

``Tracer.install()`` wraps public functions of each layer (the module
attribute or class method the program itself calls through) so every call
records a span: layer, name, start, end, parent span and the workload
operation it belongs to.  Nothing inside ``iceberg_data_gen_spark`` is
edited; ``Tracer.uninstall()`` restores the originals.  Spans stay in
memory and are reduced to per-operation numbers when the run ends.

Spark's own accounting comes from its event log (``read_event_log``):
jobs are attributed to the operation whose job group they carry, or,
for jobs submitted from helper threads that do not inherit the group,
to the operation whose wall-clock window holds their submission time.
"""

from __future__ import annotations

import functools
import json
import os
import re
import sys
import time
from dataclasses import dataclass, field

@dataclass
class Span:
    layer: str
    name: str
    start: float  # epoch seconds, comparable with the event log's ms stamps
    end: float = 0.0
    parent: "Span | None" = None
    op: int | None = None
    counts: dict = field(default_factory=dict)


@dataclass
class Op:
    """One workload operation: the unit every per-layer number is per."""

    id: int
    kind: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    def __init__(self) -> None:
        self.active = False
        self.spans: list[Span] = []
        self.ops: list[Op] = []
        self._stack: list[Span] = []
        self._patches: list[tuple[object, str, object]] = []
        self._op: Op | None = None

    # -- operations ---------------------------------------------------------

    def begin_op(self, kind: str, spark=None) -> Op:
        op = Op(len(self.ops), kind, time.time())
        self.ops.append(op)
        self._op = op
        if spark is not None:
            spark.sparkContext.setJobGroup(f"op-{op.id}", kind)
        return op

    def end_op(self, spark=None) -> None:
        self._op.end = time.time()
        self._op = None
        if spark is not None:
            spark.sparkContext.setJobGroup("idle", "between operations")

    def add(self, layer: str, name: str, value: float) -> None:
        """Add to a per-operation counter (no-op outside a traced op)."""
        if self.active and self._op is not None:
            key = f"{layer}.{name}"
            self._op.counts[key] = self._op.counts.get(key, 0) + value

    # -- spans --------------------------------------------------------------

    def span(self, layer: str, name: str, fn, *args, **kwargs):
        """Run ``fn`` inside a span; return ``(result, span)``."""
        s = Span(
            layer,
            name,
            time.time(),
            parent=self._stack[-1] if self._stack else None,
            op=self._op.id if self._op else None,
        )
        self._stack.append(s)
        try:
            return fn(*args, **kwargs), s
        except Exception as e:
            # a rejected commit (CommitConflictError) or any other failure
            # is recorded on the span and re-raised unchanged
            s.counts["error"] = type(e).__name__
            raise
        finally:
            self._stack.pop()
            s.end = time.time()
            self.spans.append(s)

    def _wrap(self, layer: str, name: str, fn, count=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.active:
                return fn(*args, **kwargs)
            result, s = tracer.span(layer, name, fn, *args, **kwargs)
            if count is not None:
                count(s, args, result)
            return result

        return traced

    def patch(self, owner, attr: str, layer: str, name: str | None = None, count=None):
        """Replace ``owner.attr`` (or ``owner[attr]`` for a dict) with a
        traced wrapper."""
        is_dict = isinstance(owner, dict)
        orig = owner[attr] if is_dict else getattr(owner, attr)
        self._patches.append((owner, attr, orig))
        wrapped = self._wrap(layer, name or attr, orig, count)
        if is_dict:
            owner[attr] = wrapped
        else:
            setattr(owner, attr, wrapped)

    def install(self) -> None:
        """Wrap the public entry points of every layer."""
        from iceberg_data_gen_spark import operators, session
        from iceberg_data_gen_spark.datagen.app import IcebergDataGeneratorApp
        from iceberg_data_gen_spark.datagen.generator import FixSchemaGenerator
        from iceberg_data_gen_spark.table import rest_catalog, table

        orig_load = session.load_tables
        for mod in list(sys.modules.values()):
            if (
                getattr(mod, "__name__", "").startswith("iceberg_data_gen_spark")
                and getattr(mod, "load_tables", None) is orig_load
            ):
                self.patch(mod, "load_tables", "session")

        for attr in ("prepare", "cleanup"):
            self.patch(IcebergDataGeneratorApp, attr, "app")
        for attr in (
            "generate_data_per_file",
            "generate_pos_delete_per_file",
            "generate_equality_delete_per_file",
        ):
            self.patch(FixSchemaGenerator, attr, "generator", "generate")

        for attr in ("append_batches", "add_position_deletes", "add_equality_deletes"):
            self.patch(table.MoRTable, attr, "table", count=_count_files_written)
        self.patch(table.MoRTable, "scan", "table")

        # the workloads reach the catalog layer through RestCatalog only
        ddl = ("create_namespace", "drop_namespace", "create_table", "load_table", "drop_table")
        for attr in ddl:
            self.patch(rest_catalog.RestCatalog, attr, "catalog", "ddl")
        io = rest_catalog.RestMetadataIO
        self.patch(io, "load", "catalog", "meta_load")
        self.patch(io, "peek", "catalog", "meta_load")
        self.patch(io, "save", "catalog", "meta_save", count=_count_meta_bytes)

        for name in list(operators.QUERIES):
            self.patch(operators.QUERIES, name, "operators", "build")

    def uninstall(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)
        self._patches.clear()


def _count_files_written(span: Span, args, result) -> None:
    files = result.get("files", []) if isinstance(result, dict) else []
    span.counts["files_written"] = len(files)
    span.counts["bytes_written"] = sum(
        os.path.getsize(f["path"]) for f in files if os.path.exists(f["path"])
    )


def _count_meta_bytes(span: Span, args, result) -> None:
    span.counts["meta_bytes"] = len(json.dumps(args[1]))


# -- Spark event log -----------------------------------------------------


@dataclass
class Job:
    id: int
    group: str | None
    submitted: float  # epoch seconds
    stages: list[int]
    tasks: int = 0
    failed_tasks: int = 0
    run_ms: int = 0
    cpu_ms: float = 0.0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs and their task accounting from every event log in ``log_dir``."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, Job] = {}
    for fname in sorted(os.listdir(log_dir)):
        with open(os.path.join(log_dir, fname)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(
                        ev["Job ID"],
                        props.get("spark.jobGroup.id"),
                        ev["Submission Time"] / 1000.0,
                        list(ev.get("Stage IDs", [])),
                    )
                    jobs[job.id] = job
                    for sid in job.stages:
                        stage_job[sid] = job
                elif kind == "SparkListenerTaskEnd":
                    job = stage_job.get(ev.get("Stage ID"))
                    if job is None:
                        continue
                    job.tasks += 1
                    if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                        job.failed_tasks += 1
                    m = ev.get("Task Metrics") or {}
                    job.run_ms += m.get("Executor Run Time", 0)
                    job.cpu_ms += m.get("Executor CPU Time", 0) / 1e6
                    job.gc_ms += m.get("JVM GC Time", 0)
                    sr = m.get("Shuffle Read Metrics") or {}
                    job.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    sw = m.get("Shuffle Write Metrics") or {}
                    job.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    job.spill_bytes += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return sorted(jobs.values(), key=lambda j: j.id)


_OP_GROUP = re.compile(r"^op-(\d+)$")


def job_op(job: Job, ops: list[Op]) -> int | None:
    """The operation a job belongs to: its group, else its time window."""
    m = _OP_GROUP.match(job.group or "")
    if m:
        return int(m.group(1))
    for op in ops:
        if op.start <= job.submitted <= op.end:
            return op.id
    return None

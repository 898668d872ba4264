"""``oplog_catchup``: the replicator's cold start, closed loop.

One cycle resets the sqlite sink to a stale prior replica (old values for
some ids, and ids the source no longer has), runs ``ReplicationEngine.
run_batch_sync`` with ``zerop`` (DDL, snapshot, orphan delete) over the
parquet source, then drains the raw-oplog backlog with ``start_cdc_stream``
under an ``availableNow`` trigger, in one microbatch. Cycles repeat until
the run's time is up.

The traced run adds, after the timed cycles, isolated probes of decode and
merge, the sequential one-transaction-per-entry baseline, and the same
cycle into the versioned lake (``snapshot_to_lake(versioned=True)``, then
``start_cdc_lake_stream(versioned=True)``, then a ``snapshot_read`` scan of
every table) for the lake sink's layer metrics.

After every cycle the sink (or the lake's current snapshot) must equal the
generator's model field by field.
"""

from __future__ import annotations

import functools
import json
import os
import shutil
import sqlite3
import time

import pyarrow as pa
import pyarrow.parquet as pq

import gen
from spans import p50

_STR = pa.string()
SOURCE_SCHEMAS = {
    "infos": pa.schema([
        ("_id", _STR), ("index", pa.int64()),
        ("cfg", pa.struct([("pub", _STR), ("rev", pa.int64())])),
        ("srv", pa.bool_()), ("extra", _STR),
    ]),
    "users": pa.schema([("_id", _STR), ("type", _STR), ("email", _STR), ("pubkey", _STR)]),
    "regs": pa.schema([("_id", _STR), ("type", _STR), ("email", _STR), ("pubkey", _STR)]),
    "emails": pa.schema([
        ("_id", _STR), ("from", _STR), ("rcpts", pa.list_(_STR)),
        ("subj", _STR), ("body", _STR),
    ]),
}


def _cols(columns) -> str:
    return ", ".join(f'"{c}"' for c in columns)


def read_sink(db: str) -> dict[str, dict[str, tuple]]:
    con = sqlite3.connect(db)
    try:
        return {
            t: {
                r[0]: tuple(r[1:])
                for r in con.execute(
                    f'SELECT "_id", {_cols(gen.COLUMNS[t])} FROM "{t}"'
                )
            }
            for t in gen.TABLES
        }
    finally:
        con.close()


def diff_count(got: dict, want: dict) -> int:
    """Rows that differ between two ``table -> _id -> row`` states."""
    bad = 0
    for t in gen.TABLES:
        g, w = got.get(t, {}), want.get(t, {})
        bad += sum(1 for k in g.keys() | w.keys() if g.get(k) != w.get(k))
    return bad


class Inputs:
    """One cycle's staged inputs: parquet source, stale replica, and the
    backlog as one file of raw entries in oplog order."""

    def __init__(self, path: str, seed: int, docs_per_table: int,
                 entries: int) -> None:
        from momyre_spark.sinks.ddl import create_table_sql
        from momyre_spark.sinks.dialects import DIALECTS
        from momyre_spark.spec import parse_spec

        self.path = path
        self.spec = parse_spec(gen.SPEC_YAML)
        g = gen.Generator(seed)
        docs = g.snapshot(docs_per_table)
        self.snapshot_model = g.model_rows()
        stale = g.stale_replica(share_stale=0.3, share_orphan=0.05)
        os.makedirs(self.sub("source"))
        for t, rows in docs.items():
            pq.write_table(
                pa.Table.from_pylist(rows, schema=SOURCE_SCHEMAS[t]),
                self.sub("source", f"{t}.parquet"),
            )
        self.stale_db = self.sub("stale.db")
        con = sqlite3.connect(self.stale_db)
        for t, tspec in self.spec.tables.items():
            con.execute(create_table_sql(tspec, DIALECTS["sqlite"]))
            cols = ["_id", *gen.COLUMNS[t]]
            con.executemany(
                f'INSERT INTO "{t}" ({_cols(cols)}) '
                f'VALUES ({", ".join("?" * len(cols))})',
                [tuple(r[c] for c in cols) for r in stale[t]],
            )
        con.commit()
        con.close()
        os.makedirs(self.sub("backlog"))
        self.lines = g.entries(entries)
        with open(self.sub("backlog", "oplog.json"), "w") as f:
            f.write("\n".join(self.lines) + "\n")
        self.entries = entries
        self.kinds = dict(g.kinds)
        self.model = g.model_rows()

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)


def progress(query) -> list[dict]:
    """The query's microbatches that read input, as parsed progress JSON."""
    out = [json.loads(p.json) for p in query.recentProgress]
    return [p for p in out if p.get("numInputRows", 0) > 0]


def iso_time(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


class CatchUp:
    """The ``oplog_catchup`` workload."""

    DOCS_PER_TABLE = 1000
    ENTRIES = 10_000

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.cycles: list[dict] = []
        self.lake_cycle: dict = {}
        self.probes: dict = {}
        self.failed = 0
        self.attempted = 0
        self.mismatch = 0
        self.markers: list[int] = []
        self.check_s = 0.0  # correctness checks inside set-up, not set-up work
        self.orphans_deleted = 0

    # -- inputs (not part of set-up time) -------------------------------
    def generate(self) -> None:
        self.inputs = Inputs(
            self.ctx.root.sub("inputs"), self.ctx.seed,
            self.DOCS_PER_TABLE, self.ENTRIES,
        )
        # the warm-up cycle has the same shape and another seed
        self.warm = Inputs(
            self.ctx.root.sub("warm-inputs"), self.ctx.seed + 7_919,
            self.DOCS_PER_TABLE, self.ENTRIES,
        )

    # -- set-up: tracing hooks and one untimed warm-up cycle -------------
    def setup(self) -> None:
        import momyre_spark.engine as engine
        import momyre_spark.sinks.snapshots as snapshots
        import momyre_spark.streaming.pipeline as pipeline

        tr = self.ctx.tracer
        cls = engine.ReplicationEngine
        for attr in ("reconcile_ddl", "snapshot_table", "sink_ids",
                     "delete_orphans", "snapshot_to_lake"):
            tr.patch(cls, attr, f"engine.{attr}")
        tr.patch(pipeline, "merge_ops_microbatch", "cdc.merge")
        tr.patch(pipeline, "apply_actions", "jdbc.apply_actions")
        tr.patch(pipeline, "upsert_dataframe", "jdbc.upsert")
        tr.patch(pipeline, "delete_dataframe", "jdbc.delete")
        tr.patch(snapshots, "snapshot_merge_cdc", "snapshots.merge")
        if tr.enabled:
            self._trace_batches(pipeline)
            self._trace_orphans(cls)
        self.check_s = self.cycle(self.warm, "warm")["check_s"]

    def _trace_batches(self, pipeline) -> None:
        """Span per microbatch, and the progress markers it committed."""
        original = pipeline.apply_ops_microbatch
        tr = self.ctx.tracer

        def traced(batch_df, batch_id, spec, **kwargs):
            with tr.span("pipeline.batch"):
                original(batch_df, batch_id, spec, **kwargs)
            if tr.phase == "timed":
                con = sqlite3.connect(self.sink_db)
                try:
                    (n,) = con.execute(
                        "SELECT count(*) FROM momyre_progress WHERE value = ?",
                        (str(batch_id),),
                    ).fetchone()
                finally:
                    con.close()
                self.markers.append(n)

        tr.replace(pipeline, "apply_ops_microbatch", traced)

    def _trace_orphans(self, cls) -> None:
        """Rows ``delete_orphans`` removed, counted in the sink around the
        (span-wrapped) call."""
        original = cls.delete_orphans

        def count(table: str) -> int:
            con = sqlite3.connect(self.sink_db)
            try:
                return con.execute(f'SELECT count(*) FROM "{table}"').fetchone()[0]
            finally:
                con.close()

        def traced(eng, table, sink_ids):
            before = count(table)
            original(eng, table, sink_ids)
            self.orphans_deleted += before - count(table)

        self.ctx.tracer.replace(cls, "delete_orphans", traced)

    def _connection_factory(self):
        """The sink's connections; traced runs count the rows they commit."""
        if not self.ctx.tracer.enabled:
            return functools.partial(sqlite3.connect, self.sink_db, timeout=60)
        from pyspark import cloudpickle

        import sinkcount

        cloudpickle.register_pickle_by_value(sinkcount)
        return functools.partial(sqlite3.connect, self.sink_db, timeout=60,
                                 factory=sinkcount.CountingConnection)

    # -- one cycle --------------------------------------------------------
    def cycle(self, inputs: Inputs, tag: str, lake: bool = False) -> dict:
        """Load, drain and (lake) scan; returns timings and the row
        mismatches against the model."""
        from momyre_spark.engine import ReplicationEngine

        spark = self.ctx.spark
        work = self.ctx.root.sub("cycles", tag)
        os.makedirs(work)
        self.sink_db = os.path.join(work, "sink.db")
        shutil.copyfile(inputs.stale_db, self.sink_db)
        cf = self._connection_factory()
        self.orphans_deleted = 0
        src = inputs.sub("source")
        eng = ReplicationEngine(
            spark, inputs.spec,
            lambda t: spark.read.parquet(os.path.join(src, f"{t}.parquet")),
            cf, dialect_name="sqlite", zerop=True,
        )
        lake_root = os.path.join(work, "lake")
        rec: dict = {"entries": inputs.entries, "bad": 0, "check_s": 0.0}
        tr = self.ctx.tracer
        with tr.span("cycle", root=True):
            t0 = time.perf_counter()
            with tr.span("load", root=True):
                if lake:
                    for t in inputs.spec.tables:
                        eng.snapshot_to_lake(t, f"{lake_root}/{t}", versioned=True)
                else:
                    eng.run_batch_sync()
            t1 = time.perf_counter()
            if not lake:
                rec["bad"] += diff_count(read_sink(self.sink_db),
                                         inputs.snapshot_model)
            rec["check_s"] += time.perf_counter() - t1
            drain_start = time.time()
            t2 = time.perf_counter()
            with tr.span("drain", root=True):
                query = self._start_stream(inputs, work, cf, lake_root if lake else None)
                query.awaitTermination()
            t3 = time.perf_counter()
            if lake:
                with tr.span("scan", root=True):
                    self._scan(lake_root)
            t4 = time.perf_counter()
        rec.update(load_s=t1 - t0, drain_s=t3 - t2, scan_s=t4 - t3,
                   cycle_s=(t1 - t0) + (t4 - t2), drain_start=drain_start,
                   batches=progress(query))
        t5 = time.perf_counter()
        state = self._lake_state(lake_root) if lake else read_sink(self.sink_db)
        rec["bad"] += diff_count(state, inputs.model)
        if len(rec["batches"]) != 1:
            rec["bad"] += 1
        rec["check_s"] += time.perf_counter() - t5
        if lake:
            rec.update(self._lake_files(lake_root))
        else:
            from sinkcount import committed_rows

            rec["rows_written"] = committed_rows(self.sink_db)
            rec["orphans_deleted"] = self.orphans_deleted
        self.mismatch += rec["bad"]
        shutil.rmtree(work, ignore_errors=True)
        return rec

    def _start_stream(self, inputs: Inputs, work: str, cf, lake_root):
        from momyre_spark.sources.opslog import decode_oplog
        from momyre_spark.streaming.pipeline import (
            start_cdc_lake_stream,
            start_cdc_stream,
        )

        raw = self.ctx.spark.readStream.text(inputs.sub("backlog"))
        ops = decode_oplog(raw, tables=list(gen.TABLES), entry_col="value")
        trigger = {"availableNow": True}
        ckpt = os.path.join(work, "checkpoint")
        if lake_root:
            return start_cdc_lake_stream(
                ops, inputs.spec, lake_root=lake_root, checkpoint_dir=ckpt,
                trigger=trigger, versioned=True,
            )
        return start_cdc_stream(
            ops, inputs.spec, connection_factory=cf, dialect_name="sqlite",
            checkpoint_dir=ckpt, trigger=trigger,
        )

    def _scan(self, lake: str) -> None:
        from momyre_spark.sinks.snapshots import snapshot_read

        for t in gen.TABLES:
            snapshot_read(self.ctx.spark, f"{lake}/{t}").write.format(
                "noop"
            ).mode("overwrite").save()

    def _lake_state(self, lake: str) -> dict:
        from momyre_spark.sinks.snapshots import snapshot_read

        out = {}
        for t in gen.TABLES:
            cols = gen.COLUMNS[t]
            rows = snapshot_read(self.ctx.spark, f"{lake}/{t}").select(
                "_id", *cols
            ).collect()
            out[t] = {
                r["_id"]: tuple(
                    int(r[c]) if isinstance(r[c], bool) else r[c] for c in cols
                )
                for r in rows
            }
        return out

    def _lake_files(self, lake: str) -> dict:
        """Bytes of the data files every version wrote, and the bytes and
        files the current version reads."""
        from momyre_spark.sinks.snapshots import current_version, read_manifest

        spark = self.ctx.spark
        written = live = files_live = 0
        for t in gen.TABLES:
            for dirpath, _, names in os.walk(f"{lake}/{t}/data"):
                written += sum(
                    os.path.getsize(os.path.join(dirpath, n))
                    for n in names if n.endswith(".parquet")
                )
            man = read_manifest(spark, f"{lake}/{t}",
                                current_version(spark, f"{lake}/{t}"))
            for d in man["partitions"].values():
                d = d.removeprefix("file:")
                for n in os.listdir(d):
                    if n.endswith(".parquet"):
                        live += os.path.getsize(os.path.join(d, n))
                        files_live += 1
        return {"bytes_written": written, "bytes_live": live,
                "files_live": files_live}

    # -- timed phase --------------------------------------------------------
    def measure(self, seconds: float) -> None:
        """Cycles until at least ``seconds`` have been measured."""
        t0 = time.perf_counter()
        while not self.cycles or time.perf_counter() - t0 < seconds:
            rec = self.cycle(self.inputs, f"c{len(self.cycles)}")
            self.cycles.append(rec)
            ops = len(rec["batches"]) + 1  # the cold start and each microbatch
            self.attempted += ops
            if rec["bad"]:
                self.failed += ops

    def ops_ms(self) -> list[float]:
        return [
            float(b["durationMs"]["triggerExecution"])
            for c in self.cycles for b in c["batches"]
        ]

    def end_to_end(self) -> dict:
        return {
            "work_per_s": p50([c["entries"] / c["drain_s"] for c in self.cycles]),
            "op_p50_ms": p50(self.ops_ms()),
            "cycle_s": p50([c["cycle_s"] for c in self.cycles]),
        }

    def correct(self) -> bool:
        return self.mismatch == 0 and self.failed == 0

    def detail(self) -> dict:
        def brief(c):
            return {
                "load_s": round(c["load_s"], 3), "drain_s": round(c["drain_s"], 3),
                "scan_s": round(c["scan_s"], 3), "bad": c["bad"],
                "batch_ms": [b["durationMs"]["triggerExecution"] for b in c["batches"]],
            }

        out = {"entries": self.inputs.entries, "kinds": self.inputs.kinds,
               "mismatch": self.mismatch,
               "cycles": [brief(c) for c in self.cycles]}
        if self.lake_cycle:
            out["lake_cycle"] = brief(self.lake_cycle)
        return out

    # -- traced run ------------------------------------------------------------
    def probe(self) -> None:
        """After the timed cycles: decode and merge probes, the sequential
        baseline, a lake cycle (after a small one that warms the lake path)
        and the open-loop tail."""
        from tail import Tail

        self.probes = self._probes()
        self.probes["baseline.sequential_entries_per_s"] = self._baseline()
        tr = self.ctx.tracer
        tr.phase = "lake-warm"
        small = Inputs(self.ctx.root.sub("lake-warm-inputs"),
                       self.ctx.seed + 15_485, 100, 300)
        self.cycle(small, "lake-warm", lake=True)
        tr.phase = "lake"
        self.lake_cycle = self.cycle(self.inputs, "lake", lake=True)
        tr.phase = "tail"
        tail = Tail(self.ctx.root.sub("tail"), self.ctx.seed + 104_729).run(self.ctx.spark)
        self.mismatch += tail.pop("bad")
        self.probes.update(tail)
        tr.phase = "after"

    def per_layer(self, events) -> dict:
        tr = self.ctx.tracer
        cycles = self.cycles
        batches = [b for c in cycles for b in c["batches"]]
        out: dict = dict(self.probes)
        out["pipeline.batch_ms_p50"] = p50(self.ops_ms())
        out["pipeline.spark_overhead_ms_p50"] = p50([
            float(b["durationMs"]["triggerExecution"] - b["durationMs"].get("addBatch", 0))
            for b in batches
        ])
        queue = []
        for c in cycles:
            prev_end = c["drain_start"]
            for b in c["batches"]:
                start = iso_time(b["timestamp"])
                queue.append(max(0.0, (start - prev_end) * 1000))
                prev_end = start + b["durationMs"]["triggerExecution"] / 1000
        out["pipeline.queue_ms_p50"] = p50(queue)
        drains = [s["id"] for s in tr.timed("drain")]
        jobs = events.jobs_in(set().union(*(tr.descendants(d) for d in drains)))
        n_batches = max(len(batches), 1)
        out["pipeline.jobs_per_batch"] = len(jobs) / n_batches
        out["pipeline.stages_per_batch"] = events.totals(jobs)["stages"] / n_batches
        out["jdbc.upsert_ms_p50"] = p50(tr.durations_ms("jdbc.upsert"))
        out["jdbc.patch_ms_p50"] = p50(tr.self_ms("jdbc.apply_actions"))
        out["jdbc.delete_ms_p50"] = p50(tr.durations_ms("jdbc.delete"))
        out["jdbc.txns_per_batch"] = (
            sum(self.markers) / len(self.markers) if self.markers else 0.0
        )
        n = len(cycles)
        out["jdbc.rows_written"] = p50([c["rows_written"] for c in cycles])
        for key, span in (("reconcile_ddl", "reconcile_ddl"),
                          ("snapshot", "snapshot_table"),
                          ("sink_ids", "sink_ids"),
                          ("orphan_delete", "delete_orphans")):
            out[f"engine.{key}_s"] = sum(tr.durations_ms(f"engine.{span}")) / 1000 / n
        out["engine.orphans_deleted"] = p50([c["orphans_deleted"] for c in cycles])
        lc = self.lake_cycle
        out["snapshots.merge_ms_p50"] = p50(tr.durations_ms("snapshots.merge", "lake"))
        out["snapshots.bytes_written_per_live_byte"] = lc["bytes_written"] / lc["bytes_live"]
        out["snapshots.files_live"] = lc["files_live"]
        out["snapshots.read_s"] = lc["scan_s"]
        return out

    def _probes(self) -> dict:
        """Isolated probes of decode and merge over the staged backlog."""
        from pyspark.sql import functions as F

        from momyre_spark.operators.cdc import merge_ops_microbatch
        from momyre_spark.sources.opslog import decode_oplog

        spark = self.ctx.spark
        inputs = self.inputs
        raw = spark.read.text(inputs.sub("backlog"))
        decoded = decode_oplog(raw, tables=list(gen.TABLES), entry_col="value")
        t0 = time.perf_counter()
        decoded.write.format("noop").mode("overwrite").save()
        decode_s = time.perf_counter() - t0
        staged = self.ctx.root.sub("probe", "ops")
        decoded.write.parquet(staged)
        ops = spark.read.parquet(staged)
        n_ops = ops.count()
        t0 = time.perf_counter()
        merged = []
        for t, tspec in inputs.spec.tables.items():
            fields = {c: ty for c, ty in tspec.sql_columns.items() if c != "_id"}
            m = merge_ops_microbatch(
                ops.filter(F.col("ns") == t), fields, key="_id",
                order=("ts", "seq"),
            )
            m.write.format("noop").mode("overwrite").save()
            merged.append(m)
        merge_s = time.perf_counter() - t0
        actions = sum(m.count() for m in merged)
        return {
            "opslog.decode_entries_per_s": inputs.entries / decode_s,
            "opslog.ops_per_entry": n_ops / inputs.entries,
            "cdc.merge_ops_per_s": n_ops / merge_s,
            "cdc.actions_per_op": actions / n_ops,
        }

    def _baseline(self) -> float:
        """The paper's applier: one sqlite transaction per oplog entry, in
        oplog order, from the snapshot state. Its end state must equal the
        model too."""
        import baseline

        db = self.ctx.root.sub("baseline.db")
        shutil.copyfile(self.inputs.stale_db, db)
        baseline.load_snapshot(db, self.inputs.snapshot_model)
        t0 = time.perf_counter()
        baseline.apply_log(db, self.inputs.lines)
        rate = self.inputs.entries / (time.perf_counter() - t0)
        bad = diff_count(read_sink(db), self.inputs.model)
        if bad:
            self.mismatch += bad
            self.failed += 1
        return rate


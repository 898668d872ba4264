"""Open-loop oplog tail, run as a probe of the traced ``oplog_catchup`` run.

Files of pre-generated raw entries are renamed into the stream's watched
directory on a fixed schedule, whether or not the stream keeps up; the
stream runs with its default trigger. A file's lag is the commit time of
the microbatch that consumed it minus the time the file was due. The
generator's own lateness (actual rename time minus due time) is recorded
beside it.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import shutil
import sqlite3
import time

import gen
from replication import diff_count, iso_time, progress, read_sink

FILES = 100
ENTRIES_PER_FILE = 100
INTERVAL_S = 0.1  # 1,000 entries/s
BASE_DOCS = 200  # per table, inserted by the first (unmeasured) file


def _percentile(values: list[float], q: float) -> float:
    ordered = sorted(values)
    return ordered[min(len(ordered) - 1, int(q * len(ordered)))]


class Tail:
    def __init__(self, path: str, seed: int) -> None:
        from momyre_spark.sinks.ddl import create_table_sql
        from momyre_spark.sinks.dialects import DIALECTS
        from momyre_spark.spec import parse_spec

        self.path = path
        self.spec = parse_spec(gen.SPEC_YAML)
        for sub in ("stage", "watch"):
            os.makedirs(os.path.join(path, sub))
        g = gen.Generator(seed)
        self.staged = [self._stage(0, g.inserts(BASE_DOCS))]
        for k in range(1, FILES + 1):
            self.staged.append(self._stage(k, g.entries(ENTRIES_PER_FILE)))
        self.total_lines = BASE_DOCS * len(gen.TABLES) + FILES * ENTRIES_PER_FILE
        self.model = g.model_rows()
        self.sink_db = os.path.join(path, "sink.db")
        con = sqlite3.connect(self.sink_db)
        for tspec in self.spec.tables.values():
            con.execute(create_table_sql(tspec, DIALECTS["sqlite"]))
        con.commit()
        con.close()

    def _stage(self, k: int, lines: list[str]) -> str:
        p = os.path.join(self.path, "stage", f"oplog-{k:04d}.json")
        with open(p, "w") as f:
            f.write("\n".join(lines) + "\n")
        return p

    def _release(self, k: int, due: float) -> float:
        """Move staged file ``k`` into the watched directory; returns the
        time it actually landed."""
        src = self.staged[k]
        os.utime(src, (due, due))
        os.rename(src, os.path.join(self.path, "watch", os.path.basename(src)))
        return time.time()

    def _rows_in(self, query) -> int:
        return sum(p["numInputRows"] for p in progress(query))

    def _await_rows(self, query, rows: int, timeout: float) -> None:
        deadline = time.time() + timeout
        while self._rows_in(query) < rows:
            if time.time() > deadline or not query.isActive:
                raise RuntimeError(f"tail stream consumed {self._rows_in(query)} of {rows} rows")
            time.sleep(0.05)

    def run(self, spark) -> dict:
        from momyre_spark.sources.opslog import decode_oplog
        from momyre_spark.streaming.pipeline import start_cdc_stream

        raw = spark.readStream.text(os.path.join(self.path, "watch"))
        ops = decode_oplog(raw, tables=list(gen.TABLES), entry_col="value")
        ckpt = os.path.join(self.path, "checkpoint")
        query = start_cdc_stream(
            ops, self.spec,
            connection_factory=functools.partial(sqlite3.connect, self.sink_db, timeout=60),
            dialect_name="sqlite", checkpoint_dir=ckpt,
        )
        try:
            self._release(0, time.time())
            self._await_rows(query, BASE_DOCS * len(gen.TABLES), 300)
            start = time.time() + INTERVAL_S
            due = {}
            late = []
            for k in range(1, FILES + 1):
                due_k = start + (k - 1) * INTERVAL_S
                pause = due_k - time.time()
                if pause > 0:
                    time.sleep(pause)
                landed = self._release(k, due_k)
                late.append((landed - due_k) * 1000)
                due[os.path.basename(self.staged[k])] = due_k
            self._await_rows(query, self.total_lines, 300)
        finally:
            query.stop()
        lags = self._lags(query, ckpt, due)
        return {
            "tail.lag_p50_ms": _percentile(lags, 0.5),
            "tail.lag_p90_ms": _percentile(lags, 0.9),
            "tail.gen_late_ms_max": max(late),
            "bad": diff_count(read_sink(self.sink_db), self.model),
        }

    def _lags(self, query, ckpt: str, due: dict[str, float]) -> list[float]:
        """Per file: commit time of the batch that read it minus due time."""
        log_batch: dict[str, int] = {}
        for f in glob.glob(os.path.join(ckpt, "sources", "0", "*")):
            with open(f) as fh:
                for line in fh.read().splitlines()[1:]:
                    e = json.loads(line)
                    log_batch[os.path.basename(e["path"])] = int(e["batchId"])
        commits = []
        for p in progress(query):
            src = p["sources"][0]
            lo = src["startOffset"]["logOffset"] if src["startOffset"] else -1
            hi = src["endOffset"]["logOffset"]
            end = iso_time(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000
            commits.append((lo, hi, end))
        lags = []
        for name, due_k in due.items():
            b = log_batch[name]
            end = next(e for lo, hi, e in commits if lo < b <= hi)
            lags.append((end - due_k) * 1000)
        shutil.rmtree(os.path.join(self.path, "stage"), ignore_errors=True)
        return lags

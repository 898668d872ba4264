"""``analytics_mix``: a fixed mix of registered queries, one client, closed
loop.

The tables are generated from the seed in the schema of the engine's
TPC-H-like test tables (customer, nation, orders, lineitem, events,
documents, embeddings) at about 0.01 scale. Every execution starts with
the session's cached tables and persistent RDDs released, plans the
query, and writes its result to the ``noop`` sink. The untimed warm-up
round collects each query's result instead and compares its digest with
that of its DuckDB oracle on the same tables, computed by a child process
(``oracles.py``) while the inputs are generated.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import oracles
from spans import p50

# One or more queries per plan family; none dominates a round.
MIX = (
    "q11_tpch_q1_agg",  # core / TPC-H
    "q32_tpch_q3_shape",  # TPC-H join
    "q08_join_agg",  # core join + aggregate
    "cdc_apply_ops",  # cdc
    "q07_latest_wins_merge",  # cdc
    "dedup_exact_groups",  # dedup
    "sim_topk_bruteforce",  # similarity
    "text_token_counts",  # text
    "stats_trimmed_mean",  # stats
    "graph_connected_components",  # graph
)

WARMUP_ROUNDS = 4  # the first one collects results for the oracle check
MIN_ROUNDS = 3

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query order "
    "group filter stream big vector"
).split()


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = (np.datetime64(end, "D") - lo).astype(int)
    return (lo + rng.integers(0, span, n)).astype("datetime64[us]")


def make_tables(path: str, seed: int, scale: float = 0.01) -> None:
    """Write the seeded tables as one parquet file each under ``path``."""
    rng = np.random.default_rng(seed)
    os.makedirs(path, exist_ok=True)
    n_cust, n_ord = int(150_000 * scale), int(1_500_000 * scale)
    n_line, n_ev = int(6_000_000 * scale), int(1_000_000 * scale)
    n_doc, n_emb = 500, 500

    def write(name: str, cols: dict) -> None:
        pq.write_table(pa.table(cols), os.path.join(path, f"{name}.parquet"))

    write("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    write("customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    write("orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(("F", "O", "P"), n_ord),
        "o_totalprice": np.round(rng.uniform(1000, 500_000, n_ord), 2),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-02"),
        "o_orderpriority": rng.choice(
            ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), n_ord
        ),
    })
    write("lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, 20_000, n_line),
        "l_suppkey": rng.integers(0, 1_000, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105_000, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(("A", "N", "R"), n_line),
        "l_linestatus": rng.choice(("F", "O"), n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-05"),
    })
    t0 = np.datetime64(datetime(2024, 1, 1), "us")
    offsets = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev))
    write("events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(t0 + offsets.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": rng.integers(0, 150, n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.uniform(0.01, 490.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_doc):
        if i >= 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))])  # exact duplicate
            continue
        texts.append(" ".join(rng.choice(WORDS, int(rng.integers(5, 90)))))
    write("documents", {
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(("en", "de", "fr", "es", "zh"), n_doc),
        "source": [f"src{k}" for k in rng.integers(0, 20, n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    emb = rng.normal(0, 0.12, (n_emb, 64)).astype(np.float32)
    write("embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 5, n_emb).astype(np.int32)),
    })


class Analytics:
    """The query mix over seeded tables."""

    def __init__(self, ctx) -> None:
        self.ctx = ctx
        self.rounds: list[dict] = []
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.check_s = 0.0  # correctness checks inside set-up, not set-up work

    def generate(self) -> None:
        self.data = self.ctx.root.sub("tables")
        make_tables(self.data, self.ctx.seed)
        out = self.ctx.root.sub("oracles.json")
        subprocess.run(
            [sys.executable, oracles.__file__, self.data, out, *MIX], check=True
        )
        with open(out) as f:
            self.oracle_digests = json.load(f)

    def setup(self) -> None:
        import momyre_spark.plans as plans

        plans.load_all()
        self.plans = plans
        self.round(check=True)
        for _ in range(WARMUP_ROUNDS - 1):
            self.round()

    def _release(self) -> None:
        spark = self.ctx.spark
        spark.catalog.clearCache()
        for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
            rdd.unpersist(True)

    def _blocks(self) -> int:
        return len(self.ctx.spark.sparkContext._jsc.getPersistentRDDs())

    def round(self, check: bool = False) -> dict:
        tr = self.ctx.tracer
        rec: dict = {"queries": {}, "blocks_left": 0}
        t0 = time.perf_counter()
        with tr.span("round", root=True):
            for name in MIX:
                self._release()
                q0 = time.perf_counter()
                with tr.span(f"q.{name}", root=True):
                    with tr.span("plans.build"):
                        df = self.plans.QUERIES[name](self.ctx.spark, self.data)
                    with tr.span("plans.exec"):
                        if check:
                            self._check(name, df.toPandas())
                        else:
                            df.write.format("noop").mode("overwrite").save()
                rec["queries"][name] = (time.perf_counter() - q0) * 1000
                rec["blocks_left"] += self._blocks()
        rec["round_s"] = time.perf_counter() - t0
        return rec

    def _check(self, name: str, result) -> None:
        """Compare the query's result (pandas) with its oracle's digest."""
        t0 = time.perf_counter()
        msg = oracles.mismatch(oracles.digest(result), self.oracle_digests[name])
        if msg:
            self.mismatches.append(f"{name}: {msg}")
        self.check_s += time.perf_counter() - t0

    def measure(self, seconds: float) -> None:
        """Rounds until at least ``seconds`` and ``MIN_ROUNDS`` rounds have
        been measured."""
        t0 = time.perf_counter()
        while len(self.rounds) < MIN_ROUNDS or time.perf_counter() - t0 < seconds:
            self.rounds.append(self.round())
            self.attempted += len(MIX)

    def probe(self) -> None:
        pass

    def detail(self) -> dict:
        return {
            "mismatches": self.mismatches,
            "rounds": [
                {"round_s": round(r["round_s"], 3),
                 "query_ms": {k: round(v, 1) for k, v in r["queries"].items()}}
                for r in self.rounds
            ],
        }

    def correct(self) -> bool:
        return not self.mismatches and self.failed == 0

    def end_to_end(self) -> dict:
        """``cycle_s`` is a typical round: the sum over the mix of each
        query's median execution, so one slow execution moves it little."""
        execs = [ms for r in self.rounds for ms in r["queries"].values()]
        total_s = sum(r["round_s"] for r in self.rounds)
        typical_ms = sum(p50([r["queries"][q] for r in self.rounds]) for q in MIX)
        return {
            "work_per_s": len(execs) / total_s,
            "op_p50_ms": p50(execs),
            "cycle_s": typical_ms / 1000,
        }

    def per_layer(self, events) -> dict:
        tr = self.ctx.tracer
        out: dict = {}
        for name in MIX:
            build, execs, jobs, shuffle = [], [], [], []
            for s in tr.timed(f"q.{name}"):
                kids = tr.descendants(s["id"])
                for k in kids:
                    c = tr.spans[k]
                    ms = (c["end"] - c["start"]) * 1000
                    if c["name"] == "plans.build":
                        build.append(ms)
                    elif c["name"] == "plans.exec":
                        execs.append(ms)
                j = events.jobs_in(kids)
                jobs.append(len(j))
                shuffle.append(events.totals(j)["shuffle_bytes"] / 2**20)
            out[f"q.{name}.build_ms"] = p50(build)
            out[f"q.{name}.exec_ms"] = p50(execs)
            out[f"q.{name}.jobs"] = p50(jobs)
            out[f"q.{name}.shuffle_mb"] = p50(shuffle)
        out["analytics.blocks_left"] = p50([r["blocks_left"] for r in self.rounds])
        return out

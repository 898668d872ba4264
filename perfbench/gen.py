"""Seeded input generator for the replication workloads, and its model.

The generator produces three things from one seed:

- a source snapshot: nested MongoDB-style documents per table, as the
  parquet source the engine snapshots from;
- a raw oplog backlog: JSON text lines in the shape ``mongod`` writes
  (``op``/``ns``/``ts``/``o``/``o2``), mixing inserts, ``$set`` updates,
  ``$v:2`` diffs, full replaces, deletes and ``applyOps`` transactions;
- the model: the sink rows every table must hold after the snapshot and
  after each applied entry.

The model is kept by the generator itself while it writes each entry. It
never calls the engine's decoder; it encodes the replication semantics
directly (an insert or replace sets every declared column, absent ones to
NULL; an update sets only the declared fields it names; a delete removes
the key). Updates, replaces and deletes only ever target live documents,
so every entry changes the model.
"""

from __future__ import annotations

import json
import random
from dataclasses import dataclass, field

# The four-table spec of the repository's example (examples/momyre.yml):
# nested ``cfg.pub``, an array column (``rcpts``) and a ``defaults`` entry.
SPEC_YAML = """\
tables:
  infos:
    index: bigint(20)
    cfg.pub: varchar(100)
    srv: tinyint(1)
  users:
    type: varchar(100)
    email: varchar(100)
    pubkey: varchar(100)
  regs:
    type: varchar(100)
    email: varchar(100)
    pubkey: varchar(100)
  emails:
    from: varchar(100)
    rcpts: blob
    subj: varchar(100)
    body: text
    defaults:
      subj: "(no subject)"
"""

TABLES = ("infos", "users", "regs", "emails")
COLUMNS = {
    "infos": ("index", "cfg_pub", "srv"),
    "users": ("type", "email", "pubkey"),
    "regs": ("type", "email", "pubkey"),
    "emails": ("from", "rcpts", "subj", "body"),
}
DB = "app"
SUBJ_DEFAULT = "(no subject)"

# Share of entries by kind; a transaction wraps 2-4 inner entries. These
# shares, SKEW below and the stale and orphan shares of the prior replica
# (replication.py) are assumptions, not measurements: no published oplog
# mix is cited here. perfbench/README.md gives the reason for each value.
OP_MIX = (
    ("insert", 0.20),
    ("set", 0.22),
    ("diff", 0.20),
    ("replace", 0.10),
    ("delete", 0.10),
    ("txn", 0.18),
)
SKEW = 3.0  # key rank = n * u**SKEW: the hottest 10 % of keys take 46 % of picks


def _compact(value) -> str:
    return json.dumps(value, separators=(",", ":"))


def sink_value(column: str, value):
    """A document value as the sqlite sink stores it."""
    if value is None:
        return None
    if column == "rcpts":
        return _compact(value)
    if column == "srv":
        return int(bool(value))
    return value


def flatten(doc: dict) -> dict:
    """Document (or partial update) fields under their sink column names:
    the nested ``cfg.pub`` becomes ``cfg_pub``."""
    out = dict(doc)
    cfg = out.pop("cfg", None)
    if isinstance(cfg, dict) and "pub" in cfg:
        out["cfg_pub"] = cfg["pub"]
    return out


def sink_row(table: str, doc: dict, snapshot: bool) -> dict:
    """Declared sink columns of a whole document; absent ones are NULL.

    ``snapshot`` applies the spec's ``defaults`` (the schema projection of
    the snapshot path does; oplog inserts carry every defaulted field, so
    the distinction never shows in the model)."""
    flat = flatten(doc)
    row = {c: sink_value(c, flat.get(c)) for c in COLUMNS[table]}
    if snapshot and table == "emails" and row["subj"] is None:
        row["subj"] = SUBJ_DEFAULT
    return row


@dataclass
class Live:
    """Live ids of one table, sampled with a power-law skew."""

    ids: list = field(default_factory=list)
    pos: dict = field(default_factory=dict)

    def add(self, _id: str) -> None:
        self.pos[_id] = len(self.ids)
        self.ids.append(_id)

    def remove(self, _id: str) -> None:
        i = self.pos.pop(_id)
        last = self.ids.pop()
        if last != _id:
            self.ids[i] = last
            self.pos[last] = i

    def pick(self, rng: random.Random) -> str:
        return self.ids[int(len(self.ids) * rng.random() ** SKEW)]

    def __len__(self) -> int:
        return len(self.ids)


class Generator:
    """Documents, oplog entries and the model for one seed."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed)
        self.prefix = f"{self.rng.getrandbits(32):08x}"
        self.next_id = 0
        self.clock = 1_700_000_000
        self.tick = 0
        self.model: dict[str, dict[str, dict]] = {t: {} for t in TABLES}
        self.live = {t: Live() for t in TABLES}
        self.kinds: dict[str, int] = {}

    # -- documents -----------------------------------------------------
    def new_id(self) -> str:
        self.next_id += 1
        return f"{self.prefix}{self.next_id:016x}"

    def _word(self) -> str:
        return f"w{self.rng.randrange(100_000):05d}"

    def field_value(self, table: str, column: str):
        rng = self.rng
        if table == "infos":
            if column == "index":
                return rng.randrange(-(2**40), 2**40)
            if column == "cfg_pub":
                return f"pub-{rng.randrange(10**9)}"
            return rng.random() < 0.5
        if table in ("users", "regs"):
            if column == "type":
                return rng.choice(("admin", "user", "guest", "bot"))
            if column == "email":
                return f"{self._word()}@{rng.choice(('a.io', 'b.org', 'c.net'))}"
            return f"pk{rng.getrandbits(64):016x}"
        if column == "from":
            return f"{self._word()}@mail.example"
        if column == "rcpts":
            return [f"{self._word()}@mail.example" for _ in range(rng.randrange(0, 4))]
        if column == "subj":
            return " ".join(self._word() for _ in range(rng.randrange(1, 5)))
        return " ".join(self._word() for _ in range(rng.randrange(5, 30)))

    def new_doc(self, table: str, _id: str, snapshot: bool = False) -> dict:
        """A nested document; snapshot documents may omit optional fields."""
        doc: dict = {"_id": _id}
        for column in COLUMNS[table]:
            if snapshot and column in ("cfg_pub", "subj") and self.rng.random() < 0.1:
                continue  # absent: NULL, or the spec default for subj
            value = self.field_value(table, column)
            if column == "cfg_pub":
                doc["cfg"] = {"pub": value, "rev": self.rng.randrange(9)}
            else:
                doc[column] = value
        if table == "infos":
            doc["extra"] = self._word()  # undeclared: the sink drops it
        return doc

    # -- source snapshot -----------------------------------------------
    def snapshot(self, docs_per_table: int) -> dict[str, list[dict]]:
        """Source documents per table; the model starts as their rows."""
        out: dict[str, list[dict]] = {}
        for table in TABLES:
            docs = []
            for _ in range(docs_per_table):
                doc = self.new_doc(table, self.new_id(), snapshot=True)
                docs.append(doc)
                self.model[table][doc["_id"]] = sink_row(table, doc, snapshot=True)
                self.live[table].add(doc["_id"])
            out[table] = docs
        return out

    def stale_replica(self, share_stale: float, share_orphan: float):
        """Rows of an out-of-date prior replica: some live ids with old
        values and some ids the source no longer has."""
        rows: dict[str, list[dict]] = {}
        for table in TABLES:
            out = []
            for _id in self.live[table].ids:
                if self.rng.random() < share_stale:
                    stale = self.new_doc(table, _id)
                    out.append({"_id": _id, **sink_row(table, stale, snapshot=True)})
            n_orphans = int(len(self.live[table]) * share_orphan)
            for _ in range(n_orphans):
                gone = self.new_doc(table, self.new_id())
                out.append({"_id": gone["_id"], **sink_row(table, gone, snapshot=True)})
            rows[table] = out
        return rows

    # -- oplog -----------------------------------------------------------
    def _ts(self) -> dict:
        self.tick += 1
        if self.tick > 1000:
            self.clock += 1
            self.tick = 1
        return {"t": self.clock, "i": self.tick}

    def _count(self, kind: str) -> None:
        self.kinds[kind] = self.kinds.get(kind, 0) + 1

    def _insert(self, table: str) -> dict:
        _id = self.new_id()
        doc = self.new_doc(table, _id)
        self.model[table][_id] = sink_row(table, doc, snapshot=False)
        self.live[table].add(_id)
        self._count("insert")
        return {"op": "i", "ns": f"{DB}.{table}", "o": doc}

    def _replace(self, table: str) -> dict:
        _id = self.live[table].pick(self.rng)
        doc = self.new_doc(table, _id)
        self.model[table][_id] = sink_row(table, doc, snapshot=False)
        self._count("replace")
        return {"op": "u", "ns": f"{DB}.{table}", "o2": {"_id": _id}, "o": doc}

    def _delete(self, table: str) -> dict:
        _id = self.live[table].pick(self.rng)
        self.live[table].remove(_id)
        del self.model[table][_id]
        self._count("delete")
        return {"op": "d", "ns": f"{DB}.{table}", "o": {"_id": _id}}

    def _changes(self, table: str) -> dict:
        """1-2 declared columns (sometimes plus an undeclared one) -> values."""
        columns = self.rng.sample(COLUMNS[table], self.rng.randrange(1, 3))
        return {c: self.field_value(table, c) for c in columns}

    def _update(self, table: str, diff: bool) -> dict:
        _id = self.live[table].pick(self.rng)
        changes = self._changes(table)
        row = self.model[table][_id]
        for column, value in changes.items():
            row[column] = sink_value(column, value)
        nested = {k: v for k, v in changes.items() if k != "cfg_pub"}
        extra = {"note": self._word()} if self.rng.random() < 0.1 else {}
        if not diff:
            body = {**nested, **extra}
            if "cfg_pub" in changes:
                body["cfg"] = {"pub": changes["cfg_pub"]}
            self._count("set")
            o = {"$set": body}
        else:
            sections: dict = {}
            # 'd' (field removed -> NULL) only for columns without a default
            drop = [c for c in nested if c != "subj" and self.rng.random() < 0.2]
            for c in drop:
                row[c] = None
                sections.setdefault("d", {})[c] = False
                nested.pop(c)
            if nested or extra:
                sections[self.rng.choice(("u", "i"))] = {**nested, **extra}
            if "cfg_pub" in changes:
                sections["scfg"] = {"u": {"pub": changes["cfg_pub"]}}
            self._count("diff")
            o = {"$v": 2, "diff": sections}
        return {"op": "u", "ns": f"{DB}.{table}", "o2": {"_id": _id}, "o": o}

    def _table(self, need_live: bool) -> str:
        tables = [t for t in TABLES if not need_live or len(self.live[t]) > 8]
        return self.rng.choice(tables or TABLES)

    def _simple(self, kind: str) -> dict:
        needs_live = kind != "insert"
        table = self._table(needs_live)
        if needs_live and len(self.live[table]) <= 8:
            kind = "insert"
        if kind == "insert":
            return self._insert(table)
        if kind == "replace":
            return self._replace(table)
        if kind == "delete":
            return self._delete(table)
        return self._update(table, diff=kind == "diff")

    def _kind(self) -> str:
        u = self.rng.random()
        for kind, share in OP_MIX:
            u -= share
            if u < 0:
                return kind
        return OP_MIX[-1][0]

    def entry(self, kind: str | None = None) -> dict:
        """One raw oplog entry; the model already reflects it."""
        kind = kind or self._kind()
        ts = self._ts()
        if kind == "txn":
            inner = [
                self._simple(self._kind_no_txn())
                for _ in range(self.rng.randrange(2, 5))
            ]
            self._count("txn")
            return {"op": "c", "ns": "admin.$cmd", "ts": ts,
                    "o": {"applyOps": inner}}
        return {**self._simple(kind), "ts": ts}

    def _kind_no_txn(self) -> str:
        while True:
            kind = self._kind()
            if kind != "txn":
                return kind

    def entries(self, n: int) -> list[str]:
        """``n`` raw entries as JSON text lines, in ts order."""
        return [json.dumps(self.entry()) for _ in range(n)]

    def inserts(self, per_table: int) -> list[str]:
        """Insert entries that give every table live documents."""
        out = []
        for table in TABLES:
            for _ in range(per_table):
                out.append(json.dumps({**self._insert(table), "ts": self._ts()}))
        return out

    def model_rows(self) -> dict[str, dict[str, tuple]]:
        """The model as ``table -> _id -> row tuple`` in column order."""
        return {
            t: {k: tuple(r[c] for c in COLUMNS[t]) for k, r in rows.items()}
            for t, rows in self.model.items()
        }

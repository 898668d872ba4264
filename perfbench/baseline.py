"""The paper's applier, as a reference point: one sqlite transaction per
raw oplog entry, applied in oplog order by a single thread, against the
same sink schema the engine writes (the reference applies its oplog this
way, one MySQL transaction per entry).

It decodes the generator's entry shapes itself (insert, ``$set``, ``$v:2``
diff, full replace, delete, ``applyOps``) and never calls the engine.
sqlite runs with its default durability settings, as it does for the
engine's sink.
"""

from __future__ import annotations

import json
import sqlite3

import gen


def _upsert(cur, table: str, _id: str, doc: dict) -> None:
    row = gen.sink_row(table, doc, snapshot=False)
    cols = ["_id", *gen.COLUMNS[table]]
    names = ", ".join(f'"{c}"' for c in cols)
    sets = ", ".join(f'"{c}" = excluded."{c}"' for c in cols[1:])
    cur.execute(
        f'INSERT INTO "{table}" ({names}) VALUES ({", ".join("?" * len(cols))}) '
        f'ON CONFLICT("_id") DO UPDATE SET {sets}',
        (_id, *(row[c] for c in gen.COLUMNS[table])),
    )


def _update(cur, table: str, _id: str, fields: dict) -> None:
    fields = {c: v for c, v in fields.items() if c in gen.COLUMNS[table]}
    if not fields:
        return
    sets = ", ".join(f'"{c}" = ?' for c in fields)
    cur.execute(
        f'UPDATE "{table}" SET {sets} WHERE "_id" = ?',
        (*(gen.sink_value(c, v) for c, v in fields.items()), _id),
    )


def _diff_fields(diff: dict) -> dict:
    fields: dict = {}
    for section, body in diff.items():
        if section in ("u", "i"):
            fields.update(gen.flatten(body))
        elif section == "d":
            fields.update({c: None for c in body})
        elif section == "scfg":
            if "pub" in body.get("u", {}):
                fields["cfg_pub"] = body["u"]["pub"]
    return fields


def _apply(cur, e: dict) -> None:
    if e["op"] == "c":
        for inner in e["o"]["applyOps"]:
            _apply(cur, inner)
        return
    table = e["ns"].split(".", 1)[1]
    o = e["o"]
    if e["op"] == "i":
        _upsert(cur, table, o["_id"], o)
    elif e["op"] == "d":
        cur.execute(f'DELETE FROM "{table}" WHERE "_id" = ?', (o["_id"],))
    elif "$set" in o:
        _update(cur, table, e["o2"]["_id"], gen.flatten(o["$set"]))
    elif "$v" in o:
        _update(cur, table, e["o2"]["_id"], _diff_fields(o["diff"]))
    else:  # full replace
        _upsert(cur, table, e["o2"]["_id"], o)


def load_snapshot(db: str, state: dict[str, dict[str, tuple]]) -> None:
    """Replace the sink's rows by ``state`` (the post-snapshot model)."""
    con = sqlite3.connect(db)
    with con:
        for t, rows in state.items():
            con.execute(f'DELETE FROM "{t}"')
            cols = ["_id", *gen.COLUMNS[t]]
            con.executemany(
                f'INSERT INTO "{t}" ({", ".join(chr(34) + c + chr(34) for c in cols)}) '
                f'VALUES ({", ".join("?" * len(cols))})',
                [(k, *v) for k, v in rows.items()],
            )
    con.close()


def apply_log(db: str, lines: list[str]) -> None:
    """Apply raw entries in order, each in its own transaction."""
    con = sqlite3.connect(db, isolation_level=None)
    cur = con.cursor()
    try:
        for line in lines:
            cur.execute("BEGIN")
            _apply(cur, json.loads(line))
            cur.execute("COMMIT")
    finally:
        con.close()

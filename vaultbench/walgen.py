"""Seeded wal2json v2 generator for the publish and read workloads.

Each call to :func:`write_wal` writes one JSONL file of wal2json v2
transaction lines (one transaction per line) and returns the rows the
sink should export for it: only insert records materialize, so the
update and delete records mixed in (about one in ten) must not appear in
any window.  Files get strictly increasing mtimes so the file stream
source replays them in write order.

The column types cover every shape ``sources.cdc.materialize_table``
converts: integer, bigint, text, numeric, timestamp, jsonb, text[],
bytea and interval.  Expected rows are kept in the canonical form that
:func:`canon_row` gives a row read back from Parquet, so checks compare
plain tuples.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

SCHEMAS: dict[str, list[tuple[str, str]]] = {
    "accounts": [
        ("id", "integer"),
        ("owner", "text"),
        ("balance", "numeric(12,2)"),
        ("opened", "timestamp without time zone"),
        ("tags", "text[]"),
    ],
    "payments": [
        ("id", "bigint"),
        ("account_id", "integer"),
        ("amount", "numeric(12,2)"),
        ("memo", "text"),
        ("meta", "jsonb"),
        ("sig", "bytea"),
        ("hold", "interval"),
        ("created", "timestamp without time zone"),
    ],
    "audit": [
        ("id", "bigint"),
        ("note", "text"),
        ("payload", "jsonb"),
    ],
}

_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo "
    "lima mike november oscar papa quebec romeo sierra tango uniform victor "
    "whiskey xray yankee zulu ledger vault window batch signer manifest"
).split()
_EPOCH = dt.datetime(2024, 1, 1)
# A fixed past base keeps mtimes independent of the wall clock; files are
# a second apart, far inside the file source's default maxFileAge.
_MTIME_BASE = 1_700_000_000


def _text(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(_WORDS) for _ in range(rng.randint(lo, hi)))


def _ts(rng: random.Random) -> dt.datetime:
    return _EPOCH + dt.timedelta(
        seconds=rng.randrange(0, 365 * 86400), microseconds=rng.randrange(0, 10**6)
    )


def _value(rng: random.Random, name: str, pg_type: str, row_id: int):
    """(wal2json literal, canonical value) for one column of one record."""
    if name == "id":
        return row_id, row_id
    if pg_type == "integer":
        v = rng.randrange(0, 2**31 - 1)
        return v, v
    if pg_type == "bigint":
        v = rng.randrange(0, 2**53)
        return v, v
    if pg_type.startswith("numeric"):
        v = rng.randrange(-10**8, 10**10) / 100
        return v, v
    if pg_type == "text":
        if rng.random() < 0.02:
            return None, None
        s = _text(rng, 2, 12)
        return s, s
    if pg_type.startswith("timestamp"):
        t = _ts(rng)
        return t.strftime("%Y-%m-%d %H:%M:%S.%f"), t
    if pg_type == "jsonb":
        s = json.dumps({"k": rng.randrange(1000), "w": rng.choice(_WORDS)})
        return s, s
    if pg_type == "text[]":
        elems = [
            None if rng.random() < 0.1 else rng.choice(_WORDS)
            for _ in range(rng.randint(0, 5))
        ]
        lit = "{" + ",".join("NULL" if e is None else e for e in elems) + "}"
        return lit, tuple(elems)
    if pg_type == "bytea":
        b = rng.randbytes(rng.randint(8, 48))
        return "\\x" + b.hex(), b
    if pg_type == "interval":
        y, m, d = rng.randrange(3), rng.randrange(12), rng.randrange(31)
        h, mi, s = rng.randrange(24), rng.randrange(60), rng.randrange(60)
        lit = f"{y} year {m} mons {d} days {h:02d}:{mi:02d}:{s:02d}"
        return lit, (12 * y + m, d, ((h * 60 + mi) * 60 + s) * 10**6)
    raise ValueError(f"no generator for {pg_type}")


class WalGenerator:
    """Deterministic stream of wal2json transactions for one seed.

    Row ids keep growing across files, so every insert in a run is
    distinct; ``expected`` accumulates per file and per table."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.tables = tuple(SCHEMAS)
        self.next_id = {t: 1 for t in self.tables}
        self.lsn = 0x3910B898
        self.xid = 1000

    def _record(self, action: str, table: str, ts: str) -> tuple[dict, tuple | None]:
        cols = SCHEMAS[table]
        self.lsn += 0x40
        rec = {
            "action": action, "xid": self.xid, "lsn": f"0/{self.lsn:X}",
            "nextlsn": "", "timestamp": ts, "schema": "public", "table": table,
            "pk": [{"name": "id", "type": cols[0][1]}],
        }
        if action == "D":
            old = self.rng.randrange(1, self.next_id[table])
            rec["columns"] = None
            rec["identity"] = [{"name": "id", "type": cols[0][1], "value": old}]
            return rec, None
        if action == "I":
            row_id = self.next_id[table]
            self.next_id[table] += 1
        else:
            row_id = self.rng.randrange(1, self.next_id[table])
        values = [_value(self.rng, n, t, row_id) for n, t in cols]
        rec["columns"] = [
            {"name": n, "type": t, "value": lit}
            for (n, t), (lit, _) in zip(cols, values)
        ]
        if action == "U":
            rec["identity"] = [{"name": "id", "type": cols[0][1], "value": row_id}]
            return rec, None
        return rec, tuple(c for _, c in values)

    def write_wal(self, path: str, n_records: int, index: int) -> dict[str, list[tuple]]:
        """Write ``n_records`` records to ``path`` (file number ``index``
        sets its mtime); return the expected inserted rows per table."""
        expected: dict[str, list[tuple]] = {t: [] for t in self.tables}
        lines = []
        left = n_records
        while left:
            self.xid += 1
            self.lsn += 0x1000
            ts = (_EPOCH + dt.timedelta(seconds=self.xid)).strftime(
                "%Y-%m-%d %H:%M:%S.%f"
            ) + "-03"
            records = []
            for _ in range(min(left, self.rng.randint(1, 8))):
                table = self.rng.choice(self.tables)
                r = self.rng.random()
                # updates and deletes need an earlier insert to refer to
                action = "I"
                if self.next_id[table] > 1 and r < 0.1:
                    action = "U" if r < 0.06 else "D"
                rec, row = self._record(action, table, ts)
                records.append(rec)
                if row is not None:
                    expected[table].append(row)
            left -= len(records)
            lines.append(json.dumps({"commit_lsn": self.lsn, "records": records}))
        with open(path, "w") as f:
            f.write("\n".join(lines) + "\n")
        mtime = _MTIME_BASE + index
        os.utime(path, (mtime, mtime))
        return expected


def canon_row(row: tuple) -> tuple:
    """Canonical form of one row read back from a window's Parquet: DuckDB
    returns lists for arrays and dicts for the interval struct, Spark
    returns lists and ``Row`` tuples."""
    out = []
    for v in row:
        if isinstance(v, (list, tuple)):
            v = tuple(v)
        elif isinstance(v, dict):
            v = (v["months"], v["days"], v["micros"])
        elif isinstance(v, (bytearray, memoryview)):
            v = bytes(v)
        out.append(v)
    return tuple(out)

"""Seeded pgoutput WAL generator and the ledger of every change it encodes.

Independence rule (as in tools/make_golden_replication.py): frames are
built with struct.pack from the documented PostgreSQL wire layouts only
(protocol v3 message framing and the pgoutput v1 logical-replication
messages), never with the repo's encoders, so a decoder fault cannot be
cancelled by a matching encoder fault.

Frame layouts (payload of an XLogData 'w' CopyData message):

    XLogData  'w' walStart(8) walEnd(8) sendTime(8) payload
    keepalive 'k' walEnd(8) sendTime(8) replyRequested(1)
    Relation  'R' relid(4) namespace\\0 relname\\0 replident(1) ncols(2)
                  per column: flags(1) name\\0 typoid(4) typmod(4)
    Begin     'B' finalLSN(8) commitTS(8, us since 2000-01-01) xid(4)
    Commit    'C' flags(1) commitLSN(8) endLSN(8) commitTS(8)
    Insert    'I' relid(4) 'N' TupleData
    Update    'U' relid(4) 'K' key TupleData 'N' new TupleData
    Delete    'D' relid(4) 'K' key TupleData
    TupleData ncols(2), per column 'n' | 't' len(4) bytes
"""

from __future__ import annotations

import random
import struct
from dataclasses import dataclass

PG_EPOCH_US = 946_684_800_000_000
TOPIC_PREFIX = "timescaledb"

#: (namespace, relname) of every published relation; relids are fixed
RELATIONS = [
    ("public", "metrics"),
    ("public", "orders"),
    ("public", "sessions"),
    ("telemetry", "cpu"),
    ("telemetry", "disk"),
    ("telemetry", "net"),
]
RELID_BASE = 24576
#: column layout every relation shares: (flags, name, typoid)
COLUMNS = [(1, "user_id", 20), (0, "value_cents", 20), (0, "props", 25)]

SYSTEM_ID = "7301122334455667788"
SLOT = "perfbench_slot"
START_LSN = 0x1_0000_0000


@dataclass(frozen=True)
class Change:
    """One ledger entry: what the generator encoded for one data frame."""

    schema: str
    table: str
    op: str  # c / u / d
    lsn: int
    xid: int
    commit_us: int  # unix micros
    key: int
    before: int | None
    after: int | None
    cents: int | None
    props: str | None

    @property
    def topic(self) -> str:
        return f"{TOPIC_PREFIX}.{self.schema}.{self.table}"

    @property
    def ts_ms(self) -> int:
        return self.commit_us // 1000


def msg(mtype: bytes, body: bytes) -> bytes:
    return mtype + struct.pack(">I", len(body) + 4) + body


def cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


def copydata(payload: bytes) -> bytes:
    return msg(b"d", payload)


def xlogdata(lsn: int, payload: bytes, send_us: int = 0) -> bytes:
    return copydata(b"w" + struct.pack(">QQQ", lsn, lsn, send_us) + payload)


def keepalive(wal_end: int, send_us: int, reply: int) -> bytes:
    return copydata(b"k" + struct.pack(">QQb", wal_end, send_us, reply))


def tuple_data(values: list[str | None]) -> bytes:
    out = struct.pack(">h", len(values))
    for v in values:
        if v is None:
            out += b"n"
        else:
            raw = v.encode()
            out += b"t" + struct.pack(">I", len(raw)) + raw
    return out


def relation_payload(relid: int, namespace: str, relname: str) -> bytes:
    body = b"R" + struct.pack(">I", relid) + cstr(namespace) + cstr(relname)
    body += b"d" + struct.pack(">h", len(COLUMNS))
    for flags, name, typoid in COLUMNS:
        body += struct.pack(">b", flags) + cstr(name) + struct.pack(">Ii", typoid, -1)
    return body


def relation_frames(lsn: int = START_LSN) -> bytes:
    return b"".join(
        xlogdata(lsn, relation_payload(RELID_BASE + i, ns, rel))
        for i, (ns, rel) in enumerate(RELATIONS)
    )


# -- simple-query replies of the replication handshake ---------------------


def _row_reply(fields: list[tuple[str, int]], values: list[str], tag: str) -> bytes:
    t = struct.pack(">h", len(fields))
    for name, typoid in fields:
        t += cstr(name) + struct.pack(">ihihih", 0, 0, typoid, -1, -1, 0)
    d = struct.pack(">h", len(values))
    for v in values:
        d += struct.pack(">I", len(v.encode())) + v.encode()
    return msg(b"T", t) + msg(b"D", d) + msg(b"C", cstr(tag))


def lsn_text(lsn: int) -> str:
    return f"{lsn >> 32:X}/{lsn & 0xFFFFFFFF:X}"


def identify_system_reply(xlogpos: int) -> bytes:
    return _row_reply(
        [("systemid", 25), ("timeline", 23), ("xlogpos", 3220), ("dbname", 25)],
        [SYSTEM_ID, "1", lsn_text(xlogpos), "postgres"],
        "IDENTIFY_SYSTEM",
    )


def create_slot_reply(consistent_point: int) -> bytes:
    return _row_reply(
        [("slot_name", 25), ("consistent_point", 3220),
         ("snapshot_name", 25), ("output_plugin", 25)],
        [SLOT, lsn_text(consistent_point), "00000003-00000001-1", "pgoutput"],
        "CREATE_REPLICATION_SLOT",
    )


def copy_both_response() -> bytes:
    return msg(b"W", struct.pack(">bh", 0, 0))


# -- the seeded workload -----------------------------------------------------


class WalWriter:
    """Encodes transactions into CopyData bytes and records the ledger.

    LSNs advance by each payload's length, so the WAL is totally ordered;
    keys per relation are tracked so updates and deletes only touch rows
    that exist."""

    def __init__(self, seed: int, lsn: int = START_LSN + 4096, xid: int = 1000):
        self.rng = random.Random(seed)
        self.lsn = lsn
        self.xid = xid
        self.ledger: list[Change] = []
        self.live: list[list[int]] = [[] for _ in RELATIONS]
        self.next_key = [1] * len(RELATIONS)

    def _props(self) -> str:
        rng = self.rng
        n = rng.randint(0, 6)
        tags = ",".join(f'"t{i}": "{rng.choice("abcdefgh") * rng.randint(1, 24)}"'
                        for i in range(n))
        return '{"k": %d%s}' % (rng.randint(0, 99), ("," + tags) if tags else "")

    def _change(self, op_mix: tuple[float, float]) -> tuple[int, str, int]:
        rng = self.rng
        r = rng.randrange(len(RELATIONS))
        live = self.live[r]
        roll = rng.random()
        if not live or roll < op_mix[0]:
            key = self.next_key[r]
            self.next_key[r] += 1
            live.append(key)
            return r, "c", key
        idx = rng.randrange(len(live))
        key = live[idx]
        if roll < op_mix[0] + op_mix[1]:
            return r, "u", key
        live[idx] = live[-1]
        live.pop()
        return r, "d", key

    def transaction(self, n_changes: int, commit_us: int,
                    op_mix: tuple[float, float] = (0.6, 0.25)) -> list[tuple[int, bytes]]:
        """One committed transaction as [(lsn, copydata bytes)]; commit_us
        is unix micros."""
        rng = self.rng
        self.xid += 1
        xid = self.xid
        pg_ts = commit_us - PG_EPOCH_US
        body: list[tuple[int, bytes]] = []
        begin_lsn = self.lsn
        self.lsn += 21
        for _ in range(n_changes):
            r, op, key = self._change(op_mix)
            relid = RELID_BASE + r
            ns, rel = RELATIONS[r]
            cents = props = None
            if op == "d":
                payload = b"D" + struct.pack(">I", relid) + b"K" + tuple_data([str(key), None, None])
            else:
                cents = rng.randint(-50_000, 5_000_000)
                props = self._props()
                new = tuple_data([str(key), str(cents), props])
                if op == "c":
                    payload = b"I" + struct.pack(">I", relid) + b"N" + new
                else:
                    payload = (b"U" + struct.pack(">I", relid) + b"K"
                               + tuple_data([str(key), None, None]) + b"N" + new)
            lsn = self.lsn
            self.lsn += len(payload)
            body.append((lsn, payload))
            self.ledger.append(Change(
                ns, rel, op, lsn, xid, commit_us, key,
                key if op != "c" else None, key if op != "d" else None, cents, props,
            ))
        commit_lsn = self.lsn
        self.lsn += 26
        frames = [(begin_lsn, b"B" + struct.pack(">QQI", commit_lsn, pg_ts, xid))]
        frames += body
        frames.append((commit_lsn, b"C\x00" + struct.pack(">QQQ", commit_lsn, self.lsn, pg_ts)))
        return [(lsn, xlogdata(lsn, p, pg_ts)) for lsn, p in frames]


#: wal_backlog make-up: changes in all, transaction sizes and op mix
#: (insert, update; the rest deletes)
BACKLOG_CHANGES = 12_000
BACKLOG_TXN_SIZES = (150, 450)
BACKLOG_OP_MIX = (0.6, 0.25)
#: wal_live_tail make-up: commit rate (transactions per second), changes
#: per transaction and op mix
TAIL_RATE = 25.0
LIVE_TXN_SIZES = (1, 4)
LIVE_OP_MIX = (0.5, 0.3)


def backlog(seed: int, n_changes: int, base_us: int = 1_735_689_600_000_000):
    """The wal_backlog WAL: large transactions until n_changes are
    encoded, with commit times a few milliseconds apart. Returns the
    copydata bytes, with a keepalive every 64 frames, and the writer that
    holds the ledger and the next LSN and xid."""
    w = WalWriter(seed)
    out = [relation_frames()]
    t = base_us
    frames = 0
    while len(w.ledger) < n_changes:
        n = min(w.rng.randint(*BACKLOG_TXN_SIZES), n_changes - len(w.ledger))
        t += w.rng.randint(200, 5_000)
        for _lsn, f in w.transaction(n, t, BACKLOG_OP_MIX):
            out.append(f)
            frames += 1
            if frames % 64 == 0:
                out.append(keepalive(w.lsn, t - PG_EPOCH_US, int(frames % 192 == 0)))
    return b"".join(out), w

"""Output checks: delivered Kafka records against the generator's ledger.

Each ledger change is one operation. A change fails when no record
carries it, when its record differs from what was encoded, or when its
record reaches the broker out of LSN order for its key (a second copy
of a change counts as out of order). A record whose (topic, LSN) is not
in the ledger makes the whole output incorrect.
"""

from __future__ import annotations

import json

from walgen import Change

#: envelope fields kafka_shaped serialises, in the order it writes them
VALUE_FIELDS = ("op", "source_schema", "source_table", "lsn", "xid", "ts_ms",
                "key_user_id", "before_user_id", "after_user_id", "after_cents",
                "after_props")


def expected_value(c: Change) -> dict:
    """The envelope the ledger change must arrive as; null fields are
    left out, as JSON writers of the envelope omit them."""
    full = {
        "op": c.op, "source_schema": c.schema, "source_table": c.table,
        "lsn": c.lsn, "xid": c.xid, "ts_ms": c.ts_ms, "key_user_id": c.key,
        "before_user_id": c.before, "after_user_id": c.after,
        "after_cents": c.cents, "after_props": c.props,
    }
    return {k: v for k, v in full.items() if v is not None}


def check_delivery(ledger: list[Change], records: list) -> dict:
    """records: [(topic, partition, offset, ack_t, key, value, ts_ms)].

    Returns {"failed_lsns": set, "extra": n, "duplicates": n,
    "matched": {lsn: record}}."""
    by_id = {(c.topic, c.lsn): c for c in ledger}
    seen: dict[tuple[str, int], tuple] = {}
    failed: set[tuple[str, int]] = set()
    extra = duplicates = 0
    last_lsn: dict[tuple[str, str], int] = {}
    for rec in sorted(records, key=lambda r: (r[0], r[1], r[2])):
        topic, _part, _off, _ack, key, value, ts_ms = rec
        try:
            v = json.loads(value)
            k = json.loads(key)
            lsn = v["lsn"]
        except (TypeError, ValueError, KeyError):
            extra += 1
            continue
        ident = (topic, lsn)
        c = by_id.get(ident)
        if c is None:
            extra += 1
            continue
        if ident in seen:
            duplicates += 1
            failed.add(ident)
        seen[ident] = rec
        if v != expected_value(c) or k != {"key_user_id": c.key} or ts_ms != c.ts_ms:
            failed.add(ident)
        order_key = (topic, key)
        if last_lsn.get(order_key, -1) >= lsn:
            failed.add(ident)
        last_lsn[order_key] = max(lsn, last_lsn.get(order_key, -1))
    failed |= set(by_id) - set(seen)
    return {"failed": failed, "extra": extra, "duplicates": duplicates, "seen": seen}


def frames_match(got, want, canon) -> bool:
    """tools/check.py's comparison: same columns, same row count and the
    same values after canonical ordering and typing."""
    import pandas as pd

    s, o = canon(got), canon(want)
    if list(s.columns) != list(o.columns) or len(s) != len(o):
        return False
    try:
        pd.testing.assert_frame_equal(s, o, check_dtype=True, check_exact=True)
    except AssertionError:
        return False
    return True

"""Fast self-check of the benchmark's output checks (no Spark session).

Feeds every check a correct output, which it must accept, and corrupted
outputs, which it must reject: a dropped record, two LSNs swapped for
one key, a wrong xid, a record CRC flipped, and an altered oracle row.

Run from the repository root: python3 perfbench/selfcheck.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

import checks  # noqa: E402
import kafkacheck  # noqa: E402
import walgen  # noqa: E402


def delivered(ledger: list[walgen.Change]) -> list[tuple]:
    """The records a correct program would deliver for `ledger`."""
    out, offsets = [], {}
    for c in ledger:
        off = offsets.get(c.topic, 0)
        offsets[c.topic] = off + 1
        out.append((c.topic, 0, off, 0.0, json.dumps({"key_user_id": c.key}),
                    json.dumps(checks.expected_value(c)), c.ts_ms))
    return out


def rejects(ledger, records) -> bool:
    v = checks.check_delivery(ledger, records)
    return bool(v["failed"]) or v["extra"] > 0


def main() -> int:
    w = walgen.WalWriter(seed=3)
    for i in range(40):
        w.transaction(w.rng.randint(1, 6), 1_700_000_000_000_000 + i * 1000, (0.4, 0.4))
    ledger = w.ledger
    good = delivered(ledger)
    results = {"correct output accepted": not rejects(ledger, good)}

    results["dropped record rejected"] = rejects(ledger, good[:7] + good[8:])

    # two changes of one key: give each the other's position at the broker
    by_key: dict = {}
    for i, r in enumerate(good):
        by_key.setdefault((r[0], r[4]), []).append(i)
    i, j = next(ix for ix in by_key.values() if len(ix) >= 2)[:2]
    swapped = list(good)
    swapped[i] = good[i][:2] + (good[j][2],) + good[i][3:]
    swapped[j] = good[j][:2] + (good[i][2],) + good[j][3:]
    results["swapped LSNs for one key rejected"] = rejects(ledger, swapped)

    v = json.loads(good[5][5])
    v["xid"] += 1
    wrong = list(good)
    wrong[5] = good[5][:5] + (json.dumps(v),) + good[5][6:]
    results["wrong xid rejected"] = rejects(ledger, wrong)

    from timescaledb_event_streamer_spark.sinks.kafka_wire import encode_record_batch

    batch = encode_record_batch([(b"k", b'{"a": 1}', 1000), (None, b"v", 1001)])
    results["program batch decodes"] = kafkacheck.decode_batch(batch) == [
        (b"k", b'{"a": 1}', 1000), (None, b"v", 1001)]
    flipped = bytearray(batch)
    flipped[-2] ^= 0x01
    try:
        kafkacheck.decode_batch(bytes(flipped))
        results["corrupted batch rejected"] = False
    except kafkacheck.BatchError:
        results["corrupted batch rejected"] = True

    import importlib.util

    import pandas as pd

    spec = importlib.util.spec_from_file_location(
        "_oracle_check", os.path.join(os.getcwd(), "tools", "check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    spark_rows = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 1.25, 2.0], "s": ["a", "b", "c"]})
    oracle_rows = spark_rows.iloc[::-1].reset_index(drop=True)
    results["matching oracle rows accepted"] = checks.frames_match(
        spark_rows, oracle_rows, mod.canon)
    altered = oracle_rows.copy()
    altered.loc[1, "v"] = 1.5
    results["altered oracle row rejected"] = not checks.frames_match(
        spark_rows, altered, mod.canon)

    for name, ok in results.items():
        print(f"{'ok  ' if ok else 'FAIL'} {name}")
    return 0 if all(results.values()) else 1


if __name__ == "__main__":
    sys.exit(main())

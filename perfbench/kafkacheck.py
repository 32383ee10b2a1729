"""Independent Kafka RecordBatch (magic 2) decoder with CRC32C check.

Written from the public Kafka protocol description, not from the repo's
kafka_wire module, so an encoder fault there is not mirrored here.

    baseOffset int64 | batchLength int32 | partitionLeaderEpoch int32 |
    magic int8 | crc uint32 | attributes int16 | lastOffsetDelta int32 |
    firstTimestamp int64 | maxTimestamp int64 | producerId int64 |
    producerEpoch int16 | baseSequence int32 | records count int32 |
    records...
    record: length varint | attributes int8 | timestampDelta varlong |
            offsetDelta varint | keyLength varint | key |
            valueLength varint | value | headers count varint | headers
The CRC32C (Castagnoli) covers attributes through the end of the batch.
"""

from __future__ import annotations

import struct


def _table() -> list[int]:
    out = []
    for i in range(256):
        c = i
        for _ in range(8):
            c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
        out.append(c)
    return out


_T = _table()


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    t = _T
    for b in data:
        crc = t[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def _varint(data: bytes, pos: int) -> tuple[int, int]:
    shift = raw = 0
    while True:
        b = data[pos]
        pos += 1
        raw |= (b & 0x7F) << shift
        if b < 0x80:
            return (raw >> 1) ^ -(raw & 1), pos
        shift += 7


class BatchError(ValueError):
    pass


def decode_batch(batch: bytes) -> list[tuple[bytes | None, bytes | None, int]]:
    """-> [(key, value, timestamp_ms)]; raises BatchError on a bad CRC,
    magic, count or record length."""
    _base, length, _epoch, magic, crc = struct.unpack_from(">qiibI", batch, 0)
    if magic != 2 or 12 + length != len(batch):
        raise BatchError("bad batch header")
    if crc32c(batch[21:]) != crc:
        raise BatchError("CRC32C mismatch")
    first_ts = struct.unpack_from(">q", batch, 27)[0]
    (count,) = struct.unpack_from(">i", batch, 57)
    pos, out = 61, []
    for _ in range(count):
        rec_len, pos = _varint(batch, pos)
        end = pos + rec_len
        pos += 1
        ts_delta, pos = _varint(batch, pos)
        _off, pos = _varint(batch, pos)
        klen, pos = _varint(batch, pos)
        key = batch[pos:pos + klen] if klen >= 0 else None
        pos += max(klen, 0)
        vlen, pos = _varint(batch, pos)
        value = batch[pos:pos + vlen] if vlen >= 0 else None
        pos += max(vlen, 0)
        n_headers, pos = _varint(batch, pos)
        for _ in range(n_headers):
            hk, pos = _varint(batch, pos)
            pos += hk
            hv, pos = _varint(batch, pos)
            pos += max(hv, 0)
        if pos != end:
            raise BatchError("record length mismatch")
        out.append((key, value, first_ts + ts_delta))
    if pos != len(batch):
        raise BatchError("trailing bytes after records")
    return out

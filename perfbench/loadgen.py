"""Load-generator process: replication server and broker-shaped receiver.

Runs outside the program under test, with three threads: the control
loop on stdin/stdout, the PostgreSQL replication server and the Kafka
receiver. It serves the replication conversation the program's
ReplicationFeeder dials (IDENTIFY_SYSTEM, CREATE_REPLICATION_SLOT,
START_REPLICATION, then CopyData) and answers ProduceRequest v3 frames.

During the timed interval the receiver only frames each request, reads
record counts from the batch headers, assigns base offsets and stamps
ack times. Record decoding and CRC32C checks run when the control loop
is told to collect, off the measured path.

Control commands, one per line on stdin, each answered by one JSON line:
    go        start the live-tail schedule
    status    {"records": n, "expected": n or null, "error": text or null}
    collect   decode everything delivered, write it to <workdir>/<name>,
              reset the receiver and answer with the counters
    quit      stop and exit

Run: python3 loadgen.py --seed 1 --seconds 10 --workdir DIR
"""

from __future__ import annotations

import argparse
import json
import os
import selectors
import socket
import struct
import sys
import threading
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import walgen  # noqa: E402
from kafkacheck import BatchError, decode_batch  # noqa: E402

CATALOG_SLOT = "perfbench_catalog"
#: the backlog waiting at restart, then the live tail, one session each
BACKLOG_SLOT = "perfbench_backlog"
TAIL_SLOT = "perfbench_tail"


def _read_exact(sock: socket.socket, n: int, buf: bytearray) -> bytes | None:
    while len(buf) < n:
        chunk = sock.recv(65536)
        if not chunk:
            return None
        buf += chunk
    out = bytes(buf[:n])
    del buf[:n]
    return out


def _read_query(sock: socket.socket, buf: bytearray) -> str | None:
    head = _read_exact(sock, 5, buf)
    if head is None:
        return None
    if head[0:1] != b"Q":
        raise RuntimeError(f"unexpected frontend message {head[0:1]!r}")
    (length,) = struct.unpack(">I", head[1:5])
    body = _read_exact(sock, length - 4, buf)
    return body.rstrip(b"\x00").decode()


class ReplicationServer:
    """Serves catalog sessions (the relation frames, then EOF) and data
    sessions (the seeded WAL) on one listening socket."""

    def __init__(self, args):
        self.args = args
        self.sock = socket.create_server(("127.0.0.1", 0))
        self.go = threading.Event()
        self.stop = threading.Event()
        self.lock = threading.Lock()
        self.first_byte_t: float | None = None
        self.ledger: list[walgen.Change] = []
        self.due: dict[int, float] = {}  # xid -> due time (monotonic)
        self.late_ms: list[float] = []
        self.expected: int | None = None
        self.error: str | None = None  # the last failed session's error
        self.frame_sent_t: list[tuple[int, float]] = []  # (lsn, monotonic)
        self.wal, self.backlog_writer = walgen.backlog(args.seed, walgen.BACKLOG_CHANGES)
        self.thread = threading.Thread(target=self._serve, daemon=True)

    def _serve(self):
        self.sock.settimeout(0.2)
        while not self.stop.is_set():
            try:
                conn, _ = self.sock.accept()
            except TimeoutError:
                continue
            with conn:
                conn.settimeout(None)
                try:
                    self._session(conn)
                except (OSError, RuntimeError) as e:
                    # one bad session must not end the server; the
                    # client sees its connection close
                    self.error = repr(e)
                    print(f"loadgen: session failed: {e!r}", file=sys.stderr, flush=True)

    def _session(self, conn: socket.socket) -> None:
        buf = bytearray()
        xlogpos = walgen.START_LSN
        while True:
            q = _read_query(conn, buf)
            if q is None:
                return
            if q == "IDENTIFY_SYSTEM":
                conn.sendall(walgen.identify_system_reply(xlogpos))
            elif q.startswith("CREATE_REPLICATION_SLOT"):
                conn.sendall(walgen.create_slot_reply(xlogpos))
            elif q.startswith("START_REPLICATION SLOT"):
                conn.sendall(walgen.copy_both_response())
                slot = q.split()[2]
                if slot == CATALOG_SLOT:
                    conn.sendall(walgen.relation_frames())
                elif slot == BACKLOG_SLOT:
                    self._send_backlog(conn)
                elif slot == TAIL_SLOT:
                    self._send_live(conn)
                else:
                    raise RuntimeError(f"unknown slot {slot!r}")
                conn.shutdown(socket.SHUT_WR)
                while conn.recv(65536):  # drain standby status updates
                    pass
                return
            else:
                raise RuntimeError(f"unexpected query {q!r}")

    def _send_backlog(self, conn: socket.socket) -> None:
        with self.lock:
            self.ledger = self.backlog_writer.ledger
            self.expected = len(self.ledger)
            self.due, self.late_ms, self.frame_sent_t = {}, [], []
        self.first_byte_t = time.monotonic()
        conn.sendall(self.wal)

    def _send_live(self, conn: socket.socket) -> None:
        """Open loop: transaction i is due at t0 + i / rate and carries
        its due time as commit timestamp; lateness is recorded, never
        compensated by skipping."""
        args = self.args
        bw = self.backlog_writer
        w = walgen.WalWriter(args.seed + 1, bw.lsn, bw.xid)
        conn.sendall(walgen.relation_frames())
        self.go.wait()
        self.go.clear()
        rate = walgen.TAIL_RATE
        n_tx = int(rate * args.seconds)
        t0 = time.monotonic()
        wall0 = time.time()
        self.first_byte_t = t0
        with self.lock:
            self.due, self.late_ms, self.frame_sent_t = {}, [], []
            self.expected = None
        for i in range(n_tx):
            due = t0 + i / rate
            delay = due - time.monotonic()
            if delay > 0:
                time.sleep(delay)
            commit_us = int((wall0 + i / rate) * 1_000_000)
            n = w.rng.randint(*walgen.LIVE_TXN_SIZES)
            frames = w.transaction(n, commit_us, walgen.LIVE_OP_MIX)
            now = time.monotonic()
            self.late_ms.append((now - due) * 1000.0)
            conn.sendall(b"".join(f for _, f in frames))
            sent = time.monotonic()
            with self.lock:
                self.due[w.xid] = due
                self.frame_sent_t.extend((lsn, sent) for lsn, _ in frames)
        with self.lock:
            self.ledger = w.ledger
            self.expected = len(w.ledger)


class KafkaReceiver:
    """Single-threaded selector loop answering ProduceRequest v3 frames."""

    def __init__(self):
        self.sock = socket.create_server(("127.0.0.1", 0))
        self.sock.setblocking(False)
        self.sel = selectors.DefaultSelector()
        self.sel.register(self.sock, selectors.EVENT_READ, None)
        self.stop = threading.Event()
        self.lock = threading.Lock()
        self.reset()
        self.thread = threading.Thread(target=self._loop, daemon=True)

    def reset(self):
        with getattr(self, "lock", threading.Lock()):
            self.requests: list[tuple[float, bytes]] = []  # (ack time, frame)
            self.records = 0
            self.connections = 0
            self.bytes = 0
            self.offsets: dict[tuple[str, int], int] = {}

    def _loop(self):
        bufs: dict[socket.socket, bytearray] = {}
        while not self.stop.is_set():
            for key, _ in self.sel.select(timeout=0.2):
                if key.data is None:
                    conn, _ = self.sock.accept()
                    conn.setblocking(False)
                    conn.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
                    self.sel.register(conn, selectors.EVENT_READ, True)
                    bufs[conn] = bytearray()
                    with self.lock:
                        self.connections += 1
                    continue
                conn = key.fileobj
                try:
                    chunk = conn.recv(1 << 20)
                except ConnectionError:
                    chunk = b""
                if not chunk:
                    self.sel.unregister(conn)
                    conn.close()
                    bufs.pop(conn, None)
                    continue
                buf = bufs[conn]
                buf += chunk
                while len(buf) >= 4:
                    (size,) = struct.unpack_from(">i", buf, 0)
                    if len(buf) < 4 + size:
                        break
                    frame = bytes(buf[: 4 + size])
                    del buf[: 4 + size]
                    conn.setblocking(True)
                    conn.sendall(self._answer(frame))
                    conn.setblocking(False)
        for key in list(self.sel.get_map().values()):
            key.fileobj.close()

    def _answer(self, frame: bytes) -> bytes:
        """Frame -> ProduceResponse v3, reading only headers: topics,
        partitions and the record count at byte 57 of each batch."""
        api_key, version, corr = struct.unpack_from(">hhi", frame, 4)
        if api_key != 0 or version != 3:
            raise RuntimeError(f"unsupported request api={api_key} v={version}")
        pos = 12
        (n,) = struct.unpack_from(">h", frame, pos)
        pos += 2 + max(n, 0)  # client id
        (n,) = struct.unpack_from(">h", frame, pos)
        pos += 2 + max(n, 0)  # transactional id
        pos += 6  # acks, timeout
        (n_topics,) = struct.unpack_from(">i", frame, pos)
        pos += 4
        out = struct.pack(">ii", corr, n_topics)
        n_records = 0
        with self.lock:
            for _ in range(n_topics):
                (tl,) = struct.unpack_from(">h", frame, pos)
                topic = frame[pos + 2: pos + 2 + tl].decode()
                pos += 2 + tl
                (n_parts,) = struct.unpack_from(">i", frame, pos)
                pos += 4
                out += struct.pack(">h", tl) + topic.encode() + struct.pack(">i", n_parts)
                for _ in range(n_parts):
                    part, blen = struct.unpack_from(">ii", frame, pos)
                    pos += 8
                    (count,) = struct.unpack_from(">i", frame, pos + 57)
                    pos += blen
                    base = self.offsets.get((topic, part), 0)
                    self.offsets[(topic, part)] = base + count
                    n_records += count
                    out += struct.pack(">ihqq", part, 0, base, -1)
            self.records += n_records
            self.bytes += len(frame)
            self.requests.append((time.monotonic(), frame))
        out += struct.pack(">i", 0)
        return struct.pack(">i", len(out)) + out

    def collect(self) -> tuple[list, list[bytes]]:
        """Decode every request: [(topic, partition, offset, ack_t, key,
        value, ts_ms)] plus the raw batches, CRC32C checked."""
        with self.lock:
            requests = list(self.requests)
        records, batches, bad = [], [], 0
        offsets: dict[tuple[str, int], int] = {}
        for ack_t, frame in requests:
            pos = 12
            (n,) = struct.unpack_from(">h", frame, pos)
            pos += 2 + max(n, 0)
            (n,) = struct.unpack_from(">h", frame, pos)
            pos += 2 + max(n, 0) + 6
            (n_topics,) = struct.unpack_from(">i", frame, pos)
            pos += 4
            for _ in range(n_topics):
                (tl,) = struct.unpack_from(">h", frame, pos)
                topic = frame[pos + 2: pos + 2 + tl].decode()
                pos += 2 + tl
                (n_parts,) = struct.unpack_from(">i", frame, pos)
                pos += 4
                for _ in range(n_parts):
                    part, blen = struct.unpack_from(">ii", frame, pos)
                    batch = frame[pos + 8: pos + 8 + blen]
                    pos += 8 + blen
                    batches.append(batch)
                    base = offsets.get((topic, part), 0)
                    try:
                        recs = decode_batch(batch)
                    except BatchError:
                        bad += 1
                        continue
                    offsets[(topic, part)] = base + len(recs)
                    for i, (key, value, ts) in enumerate(recs):
                        records.append((topic, part, base + i, ack_t,
                                        key and key.decode(), value and value.decode(), ts))
        return records, batches, bad


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--workdir", required=True)
    args = ap.parse_args()

    server = ReplicationServer(args)
    receiver = KafkaReceiver()
    server.thread.start()
    receiver.thread.start()

    def reply(obj) -> None:
        sys.stdout.write(json.dumps(obj) + "\n")
        sys.stdout.flush()

    reply({"pg_port": server.sock.getsockname()[1],
           "kafka_port": receiver.sock.getsockname()[1]})
    for line in sys.stdin:
        cmd = line.split()
        if not cmd:
            continue
        if cmd[0] == "go":
            server.go.set()
            reply({"ok": True})
        elif cmd[0] == "status":
            reply({"records": receiver.records, "expected": server.expected,
                   "error": server.error})
        elif cmd[0] == "collect":
            records, batches, bad = receiver.collect()
            path = os.path.join(args.workdir, cmd[1])
            with open(path + ".batches", "wb") as fh:
                for b in batches:
                    fh.write(struct.pack(">I", len(b)) + b)
            with server.lock:
                frame_sent = list(server.frame_sent_t)
            with open(path, "w") as fh:
                json.dump({
                    "records": records,
                    "ledger": [list(c.__dict__.values()) for c in server.ledger],
                    "due": server.due,
                    "late_ms": server.late_ms,
                    "frame_sent": frame_sent,
                    "first_byte_t": server.first_byte_t,
                    "connections": receiver.connections,
                    "requests": len(receiver.requests),
                    "bytes": receiver.bytes,
                    "record_count": receiver.records,
                    "bad_batches": bad,
                }, fh)
            receiver.reset()
            server.expected = None
            reply({"ok": True, "records": len(records)})
        elif cmd[0] == "quit":
            break
    server.stop.set()
    receiver.stop.set()
    server.thread.join(timeout=5)
    receiver.thread.join(timeout=5)
    reply({"bye": True})


if __name__ == "__main__":
    main()

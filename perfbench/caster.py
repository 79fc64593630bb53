"""Loopback NTRIP caster: the load generator of the ``live_fleet`` workload.

Runs as its own process so that its schedule does not share an
interpreter with the system under test:

    python3 perfbench/caster.py --seed 7 --ledger out.json

It listens on 127.0.0.1 (port chosen by the OS) and prints ``port <n>``
on stdout. Each of the 16 mountpoints ``MP00``..``MP15`` streams one
epoch per second on a wall-clock schedule: epoch ``k`` of mountpoint
``m`` is due at ``t0 + phase[m] + k`` whatever the load on the
machine, and its frames are stamped with that due time. Each epoch carries MSM7 for GPS,
GLONASS, Galileo and BeiDou, each split over two frames, plus a 1006
every 10 epochs and a 1029 every 30. Even mountpoints answer with
Ntrip/2.0 chunked transfer, odd ones with ``ICY 200 OK``.

Commands on stdin:

* ``stop`` — stop producing epochs, write the ledger (every frame sent
  on at least one connection, with its due time) and answer
  ``stopped <frames offered>``; connections stay open.
* end of input — close everything and exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import selectors
import socket
import sys
import time

sys.path.insert(0, os.getcwd())

from ntripmonitor_spark.sources.encoder import encode_1029, encode_1005, encode_msm  # noqa: E402

MOUNTPOINTS = 16
MSM7_TYPES = (1077, 1087, 1097, 1127)  # GPS, GLONASS, Galileo, BeiDou
SIG_SLOTS = [1, 7]
GLONASS_OFFSET_MS = 3 * 3600 * 1000  # GLONASS epoch time is Moscow time
DAY_MS = 86_400_000
RATE_HZ = 1.0
ARP_EVERY = 10
TEXT_EVERY = 30


def mountpoint_name(i: int) -> str:
    return f"MP{i:02d}"


class Mountpoint:
    """Per-mountpoint content: station, phase and the next epoch."""

    def __init__(self, idx: int, rng: random.Random):
        self.idx = idx
        self.name = mountpoint_name(idx)
        self.chunked = idx % 2 == 0
        self.station = rng.randrange(4096)
        self.phase = rng.random() / RATE_HZ
        self.rng = random.Random(rng.getrandbits(64))
        self.clients: list[socket.socket] = []
        self.accepts = 0

    def epoch_frames(self, k: int, due: float) -> list[tuple[bytes, int, int, int]]:
        """Frames of epoch ``k`` as (frame, msg_type, epoch ms-of-day, sat count);
        non-MSM frames carry -1 for both keys."""
        rng = self.rng
        utc_ms = int(round(due * 1000))
        out = []
        for t in MSM7_TYPES:
            n_a = rng.randrange(3, 7)
            n_b = n_a + rng.randrange(1, 4)  # the two halves differ in size
            slots = rng.sample(range(40), n_a + n_b)
            for half in (sorted(slots[:n_a]), sorted(slots[n_a:])):
                sats = [{"int_ms": rng.randrange(64, 90), "ext_info": 0,
                         "mod1ms": rng.randrange(1024),
                         "rough_rate": rng.randrange(-8192, 8192)} for _ in half]
                cells = [{"fine_code": rng.randrange(-(1 << 19), 1 << 19),
                          "fine_phase": rng.randrange(-(1 << 23), 1 << 23),
                          "lock": rng.randrange(1024), "half_cycle": rng.randrange(2),
                          "cnr": rng.randrange(400, 800),
                          "fine_rate": rng.randrange(-(1 << 14), 1 << 14)}
                         for _ in range(len(half) * len(SIG_SLOTS))]
                if 1081 <= t <= 1087:
                    msk = utc_ms + GLONASS_OFFSET_MS
                    dow = (msk // DAY_MS + 4) % 7
                    f = encode_msm(t, self.station, msk % DAY_MS, half, SIG_SLOTS, sats, cells,
                                   glonass_dow=dow)
                else:
                    f = encode_msm(t, self.station, utc_ms % DAY_MS, half, SIG_SLOTS, sats, cells)
                out.append((f, t, utc_ms % DAY_MS, len(half)))
        if k % ARP_EVERY == 0:
            f = encode_1005(self.station, rng.randrange(-(1 << 37), 1 << 37),
                            rng.randrange(-(1 << 37), 1 << 37),
                            rng.randrange(-(1 << 37), 1 << 37), ant_height=rng.randrange(65536))
            out.append((f, 1006, -1, -1))
        if k % TEXT_EVERY == 0:
            mjd = utc_ms // DAY_MS + 40587
            f = encode_1029(self.station, mjd, (utc_ms // 1000) % 86400,
                            f"{self.name} epoch {k} status ok")
            out.append((f, 1029, -1, -1))
        return out


class Caster:
    def __init__(self, seed: int):
        rng = random.Random(seed)
        self.mps = [Mountpoint(i, rng) for i in range(MOUNTPOINTS)]
        self.by_name = {m.name: m for m in self.mps}
        self.sel = selectors.DefaultSelector()
        self.srv = socket.socket()
        self.srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        self.srv.bind(("127.0.0.1", 0))
        self.srv.listen(64)
        self.srv.setblocking(False)
        self.sel.register(self.srv, selectors.EVENT_READ, "accept")
        self.sel.register(sys.stdin, selectors.EVENT_READ, "stdin")
        self.pending: dict[socket.socket, bytearray] = {}
        self.ledger: list[list] = []
        self.lag_s: list[float] = []
        self.producing = True
        self.running = True

    @property
    def port(self) -> int:
        return self.srv.getsockname()[1]

    # -- connections -------------------------------------------------------

    def _accept(self) -> None:
        try:
            conn, _ = self.srv.accept()
        except BlockingIOError:
            return
        conn.setblocking(False)
        self.pending[conn] = bytearray()
        self.sel.register(conn, selectors.EVENT_READ, "request")

    def _close(self, conn: socket.socket) -> None:
        try:
            self.sel.unregister(conn)
        except (KeyError, ValueError):
            pass
        self.pending.pop(conn, None)
        for m in self.mps:
            if conn in m.clients:
                m.clients.remove(conn)
        conn.close()

    def _on_request(self, conn: socket.socket) -> None:
        try:
            data = conn.recv(4096)
        except (BlockingIOError, InterruptedError):
            return
        except OSError:
            data = b""
        if not data:
            self._close(conn)
            return
        buf = self.pending[conn]
        buf.extend(data)
        if b"\r\n\r\n" not in buf:
            return
        line = bytes(buf).split(b"\r\n", 1)[0].decode("latin-1").split()
        del self.pending[conn]
        self.sel.modify(conn, selectors.EVENT_READ, "stream")
        mp = self.by_name.get(line[1].lstrip("/")) if len(line) >= 2 else None
        if mp is None:
            conn.setblocking(True)
            conn.sendall(b"HTTP/1.1 404 Not Found\r\nConnection: close\r\n\r\n")
            self._close(conn)
            return
        mp.accepts += 1
        conn.setblocking(True)
        conn.settimeout(0.5)
        if mp.chunked:
            conn.sendall(b"HTTP/1.1 200 OK\r\nNtrip-Version: Ntrip/2.0\r\n"
                         b"Content-Type: gnss/data\r\nTransfer-Encoding: chunked\r\n\r\n")
        else:
            conn.sendall(b"ICY 200 OK\r\n\r\n")
        mp.clients.append(conn)

    def _on_stream_readable(self, conn: socket.socket) -> None:
        # Clients send nothing after the request: readable means closed.
        try:
            data = conn.recv(4096)
        except (BlockingIOError, InterruptedError, TimeoutError):
            return
        except OSError:
            data = b""
        if not data:
            self._close(conn)

    # -- production --------------------------------------------------------

    def _send_epoch(self, mp: Mountpoint, k: int, due: float,
                    frames: list[tuple[bytes, int, int, int]]) -> None:
        body = b"".join(f for f, *_ in frames)
        payload = (b"%x\r\n" % len(body) + body + b"\r\n") if mp.chunked else body
        sent = 0
        for conn in list(mp.clients):
            try:
                conn.sendall(payload)
                sent += 1
            except OSError:
                self._close(conn)
        self.lag_s.append(time.time() - due)
        if sent:
            for f, t, key_ms, nsat in frames:
                self.ledger.append([mp.idx, k, t, key_ms, nsat, len(f), due])

    def _write_ledger(self, path: str) -> None:
        doc = {
            "mountpoints": [m.name for m in self.mps],
            "accepts": [m.accepts for m in self.mps],
            "lag_ms_max": max(self.lag_s, default=0.0) * 1000,
            "frames": self.ledger,
        }
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
        os.replace(tmp, path)

    def serve(self, ledger_path: str) -> None:
        t0 = time.time() + 0.5
        nxt = {m.idx: 0 for m in self.mps}
        ahead = {m.idx: m.epoch_frames(0, t0 + m.phase) for m in self.mps}
        print(f"port {self.port}", flush=True)
        while self.running:
            if self.producing:
                due_idx = min(nxt, key=lambda i: t0 + self.mps[i].phase + nxt[i] / RATE_HZ)
                due = t0 + self.mps[due_idx].phase + nxt[due_idx] / RATE_HZ
                timeout = max(0.0, due - time.time())
            else:
                timeout = None
            for key, _ in self.sel.select(timeout):
                if key.data == "accept":
                    self._accept()
                elif key.data == "request":
                    self._on_request(key.fileobj)
                elif key.data == "stream":
                    self._on_stream_readable(key.fileobj)
                else:
                    cmd = sys.stdin.readline()
                    if not cmd:
                        self.running = False
                    elif cmd.strip() == "stop" and self.producing:
                        self.producing = False
                        self._write_ledger(ledger_path)
                        print(f"stopped {len(self.ledger)}", flush=True)
            if self.producing and time.time() >= due:
                mp = self.mps[due_idx]
                k = nxt[due_idx]
                self._send_epoch(mp, k, due, ahead[due_idx])
                nxt[due_idx] = k + 1
                ahead[due_idx] = mp.epoch_frames(k + 1, due + 1 / RATE_HZ)
        for m in self.mps:
            for c in list(m.clients):
                self._close(c)
        for c in list(self.pending):
            self._close(c)
        self.srv.close()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--ledger", required=True)
    args = ap.parse_args()
    Caster(args.seed).serve(args.ledger)


if __name__ == "__main__":
    main()

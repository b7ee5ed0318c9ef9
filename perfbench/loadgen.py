"""Webhook load generator: one process, a few keep-alive connections.

Run as ``python3 loadgen.py``; it reads one JSON command per line on
stdin and answers each with one JSON line on stdout.

- ``{"cmd": "init", "port": P, "bodies": FILE, "conns": C}`` loads the
  request bodies (one JSON document per line) and opens C connections.
- ``{"cmd": "poisson", "rate": R, "seconds": S, "seed": N, "first": I}``
  sends Poisson arrivals at R events/s for S seconds, open loop: each
  request is due at its arrival time, and a request that waits for a
  busy connection is late, not dropped.
- ``{"cmd": "burst", "n": N, "first": I}`` sends N requests closed loop,
  each connection as fast as the edge answers.

Both answer ``{"records": [[body, due, sent, ack, status, offset], ...]}``
with ``time.monotonic()`` stamps, which are comparable across processes
on one host. ``status`` is the HTTP status, or -1 for a connection error.
Body ``first + k`` is request ``k``, wrapping around the body list.
"""

from __future__ import annotations

import http.client
import json
import random
import sys
import threading
import time


class Generator:
    def __init__(self, port: int, bodies: list[bytes], conns: int):
        self.port = port
        self.bodies = bodies
        self.conns = [self._connect() for _ in range(conns)]

    def _connect(self) -> http.client.HTTPConnection:
        return http.client.HTTPConnection("127.0.0.1", self.port, timeout=10)

    def _post(self, slot: int, body: bytes) -> tuple[int, int]:
        try:
            conn = self.conns[slot]
            conn.request(
                "POST", "/", body=body, headers={"Content-Type": "application/json"}
            )
            resp = conn.getresponse()
            payload = resp.read()
            offset = json.loads(payload)["offset"] if resp.status == 200 else -1
            return resp.status, offset
        except (OSError, http.client.HTTPException, ValueError):
            self.conns[slot].close()
            self.conns[slot] = self._connect()
            return -1, -1

    def run(self, dues: list[float], first: int) -> list[list]:
        """Send request k at ``dues[k]`` on connection ``k % conns``."""
        n = len(dues)
        records: list[list] = [None] * n  # type: ignore[list-item]

        def worker(slot: int) -> None:
            for k in range(slot, n, len(self.conns)):
                wait = dues[k] - time.monotonic()
                if wait > 0:
                    time.sleep(wait)
                body = (first + k) % len(self.bodies)
                sent = time.monotonic()
                status, offset = self._post(slot, self.bodies[body])
                records[k] = [body, dues[k], sent, time.monotonic(), status, offset]

        threads = [
            threading.Thread(target=worker, args=(s,)) for s in range(len(self.conns))
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        return records

    def poisson(self, rate: float, seconds: float, seed: int, first: int) -> list[list]:
        rng = random.Random(seed)
        start = time.monotonic() + 0.05
        dues, t = [], 0.0
        while True:
            t += rng.expovariate(rate)
            if t >= seconds:
                break
            dues.append(start + t)
        return self.run(dues, first)

    def burst(self, n: int, first: int) -> list[list]:
        start = time.monotonic()
        return self.run([start] * n, first)


def main() -> None:
    gen: Generator | None = None
    for line in sys.stdin:
        cmd = json.loads(line)
        if cmd["cmd"] == "init":
            with open(cmd["bodies"], "rb") as f:
                bodies = [b.rstrip(b"\n") for b in f]
            gen = Generator(cmd["port"], bodies, cmd["conns"])
            out: dict = {"ok": True}
        elif cmd["cmd"] == "poisson":
            out = {"records": gen.poisson(cmd["rate"], cmd["seconds"], cmd["seed"], cmd["first"])}
        elif cmd["cmd"] == "burst":
            out = {"records": gen.burst(cmd["n"], cmd["first"])}
        else:
            raise ValueError(f"unknown command {cmd['cmd']!r}")
        sys.stdout.write(json.dumps(out) + "\n")
        sys.stdout.flush()


if __name__ == "__main__":
    main()

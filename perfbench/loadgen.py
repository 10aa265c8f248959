"""The api_mix load generator, run as its own process so that its Python
work does not share the server's interpreter lock.

Reads a pickled ``(port, plan, threads)`` from stdin, where ``plan`` is
``[(url path, send time in seconds from the start of the loop)]``;
sends each request at its scheduled time from at most ``threads``
threads; writes a pickled ``(loop seconds, [(latency from the due time,
lateness, status, body)])`` to stdout. Standard library only.
"""

from __future__ import annotations

import pickle
import sys
import time
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor

TIMEOUT_S = 10.0


def fetch(port: int, url_path: str) -> tuple[int, bytes]:
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}{url_path}",
                                    timeout=TIMEOUT_S) as resp:
            return resp.status, resp.read()
    except urllib.error.HTTPError as err:
        return err.code, err.read()[:200]


def run(port: int, plan: list[tuple[str, float]], threads: int):
    out: list = [None] * len(plan)

    def send(i: int, url_path: str, due: float) -> None:
        start = time.perf_counter()
        try:
            status, body = fetch(port, url_path)
        except Exception as exc:                   # timeout, refused
            status, body = 0, f"{type(exc).__name__}: {exc}".encode()
        out[i] = (time.perf_counter() - due, max(0.0, start - due),
                  status, body)

    with ThreadPoolExecutor(threads) as pool:
        t0 = time.perf_counter()
        for i, (url_path, at_s) in enumerate(plan):
            delay = t0 + at_s - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            pool.submit(send, i, url_path, t0 + at_s)
    return time.perf_counter() - t0, out


if __name__ == "__main__":
    port, plan, threads = pickle.load(sys.stdin.buffer)
    pickle.dump(run(port, plan, threads), sys.stdout.buffer)

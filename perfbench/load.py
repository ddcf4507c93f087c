"""Open-loop REST client, run in its own process so its work never shares the
server's interpreter lock.

A schedule is a list of requests, each with the offset (seconds after the
start) at which it is due and the JSON answer the benchmark expects.  A
scheduler thread hands each request to a pool of ``connections`` sender
threads at its due time, whether or not earlier requests have finished, so a
stall in the server shows as latency on every request due during it.
Latency is measured from the due time; how late the scheduler itself handed
a request over is recorded separately.

Given the chain generator's URL it also runs the freshness poller of the
index lifecycle: it reads the generator's reveal log and polls
``GET /block/{n}`` for the oldest revealed block not yet served with its
revealed hash.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from .chain import rpc_call

POLL_INTERVAL_S = 0.05


@dataclass
class Req:
    due: float  # seconds after t0
    kind: str
    method: str
    path: str
    body: dict | None
    expect: object  # parsed JSON the server must return, or None: checked later


def http(base: str, method: str, path: str, body=None, timeout: float = 60.0):
    """One request; returns (status, parsed JSON or None)."""
    data = None if body is None else json.dumps(body).encode()
    req = urllib.request.Request(base + path, data=data, method=method,
                                 headers={"Content-Type": "application/json"})
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            return resp.status, json.loads(resp.read())
    except urllib.error.HTTPError as err:
        err.read()
        return err.code, None


def run_schedule(base: str, schedule: list[Req], t0: float, connections: int) -> list[dict]:
    """Send ``schedule`` open-loop from monotonic time ``t0``."""
    results: list[dict] = []
    lock = threading.Lock()

    def send(r: Req, handed: float):
        sent = time.monotonic()
        got = None
        try:
            status, got = http(base, r.method, r.path, r.body)
            ok = status == 200 and (r.expect is None or got == r.expect)
        except OSError:
            status, ok = -1, False
        done = time.monotonic()
        record = {"kind": r.kind, "due": t0 + r.due, "handed": handed,
                  "sent": sent, "done": done, "status": status, "ok": ok}
        if r.expect is None:
            record["answer"] = got  # the caller checks it once the run is over
        with lock:
            results.append(record)

    with ThreadPoolExecutor(max_workers=connections) as pool:
        futures = []
        for r in schedule:
            while (wait := t0 + r.due - time.monotonic()) > 0:
                time.sleep(wait)
            futures.append(pool.submit(send, r, time.monotonic()))
        for f in futures:
            f.result()
    return results


def follow_reveals(base: str, chain_url: str, stop: threading.Event) -> list[dict]:
    """Freshness poller: for each revealed block, the first time
    ``GET /block/{n}`` returns its hash.  A block replaced by a reorg
    before it was served is dropped; its replacement is timed from its own
    reveal.  A served block's JSON is kept (``got``) for the caller to
    check against the chain."""
    pending: dict[int, tuple[str, float]] = {}
    seen = 0
    out: list[dict] = []
    while not stop.is_set():
        for number, h, t in rpc_call(chain_url, "bench_reveals", seen):
            pending[number] = (h, t)
            seen += 1
        progressed = False
        for n in sorted(pending):
            h, t = pending[n]
            sent = time.monotonic()
            try:
                status, got = http(base, "GET", f"/block/{n}")
            except OSError:
                status, got = -1, None
            done = time.monotonic()
            served = status == 200 and got.get("blockHash") == h
            if served or status not in (200, 404):
                out.append({"kind": "block_poll", "due": sent, "handed": sent, "sent": sent,
                            "done": done, "status": status, "ok": served,
                            "fresh_s": done - t if served else None, "got": got})
                del pending[n]
                progressed = True
            else:
                # not served yet: later heights cannot be either (the store
                # commits contiguous ranges); count the poll and wait
                out.append({"kind": "block_poll", "due": sent, "handed": sent, "sent": sent,
                            "done": done, "status": status, "ok": True, "fresh_s": None})
                break
        if not progressed:
            stop.wait(POLL_INTERVAL_S)
    return out


def client_main(conn, base: str, schedule: list[Req], t0: float, connections: int,
                chain_url: str | None) -> None:
    """Client process body: run the schedule (and the freshness poller when
    ``chain_url`` is given) and send the per-request records back."""
    stop = threading.Event()
    polls: list[dict] = []
    poller = None
    if chain_url is not None:
        def poll():
            polls.extend(follow_reveals(base, chain_url, stop))

        poller = threading.Thread(target=poll, daemon=True)
        poller.start()
    records = run_schedule(base, schedule, t0, connections)
    if poller is not None:
        conn.recv()  # the parent says when the tip phase (and catch-up) is over
        stop.set()
        poller.join(timeout=30)
    conn.send(records + polls)
    conn.close()

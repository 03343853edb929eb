"""Load generator for the ``cdc_sync`` workload: seeded ChargeOver-shaped
entity changes served by a paginated REST API in a process of its own.

``sources/fake_server.FakeRestServer`` filters and sorts every row on every
request inside the caller's process, so timing a sync against it would time
the test server as much as the engine. This server keeps each entity's rows
pre-sorted by ``mod_datetime`` with each row pre-serialized, finds a
``[GTE, LT)`` window by bisection and answers with one ``join``. It honors
exactly what ``RestClient.build_url`` emits — ``limit``, ``offset``,
``where=<field>:GTE:<v>,<field>:LT:<v>`` (colon-escaped) and
``order=<field>:ASC`` — and answers anything else with HTTP 400. Page bodies
are byte-identical to ``FakeRestServer``'s for the same rows and URLs
(``selftest.py`` checks this).

Counters (requests, body bytes, non-200 responses) are served at
``GET /__stats``, and the generator's per-window expectation (keyed rows and
an order-insensitive digest of what a sync must land) at
``GET /__expected``; neither request is counted.

Run: ``python3 perfbench/pagesrv.py --seed N [--backlog 25000 ...]``. It
prints ``READY <port>`` once listening and exits when its stdin closes, so
it never outlives the benchmark that started it.
"""

from __future__ import annotations

import argparse
import bisect
import hashlib
import json
import random
import sys
import threading
import urllib.parse
from dataclasses import dataclass
from datetime import datetime, timedelta
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

DATETIME_FMT = "%Y-%m-%d %H:%M:%S"
DT_FIELD = "mod_datetime"
ID_FIELDS = {
    "customer": "customer_id",
    "invoice": "invoice_id",
    "payment": "payment_id",
    "subscription": "subscription_id",
}
ENTITIES = list(ID_FIELDS)

# Timeline: warm-up rows in [WARMUP_START, BACKLOG_START), the initial-load
# backlog in [BACKLOG_START, SYNC_START), then one incremental window of
# WINDOW minutes after another from SYNC_START.
WARMUP_START = datetime(2024, 1, 31, 0, 0, 0)
BACKLOG_START = datetime(2024, 2, 1, 0, 0, 0)
SYNC_START = datetime(2024, 3, 1, 0, 0, 0)
WINDOW = timedelta(minutes=10)
KEYLESS_SHARE = 0.01

_COUNTRIES = ["US", "CA", "GB", "DE", "FR", "IN", "AU", "MX"]
_PLANS = ["starter", "growth", "pro", "enterprise"]
_STATUS = {
    "invoice": ["Unpaid", "Paid", "Overdue", "Void"],
    "payment": ["Success", "Failed", "Refunded"],
    "subscription": ["Active", "Suspended", "Cancelled"],
}


@dataclass(frozen=True)
class Config:
    seed: int
    backlog: int = 25_000  # rows per entity in the initial-load window
    changes: int = 300  # mean rows per entity per incremental window
    windows: int = 40  # incremental windows served
    warmup: int = 500  # rows per entity in the warm-up window

    def argv(self) -> list[str]:
        return [
            "--seed", str(self.seed), "--backlog", str(self.backlog),
            "--changes", str(self.changes), "--windows", str(self.windows),
            "--warmup", str(self.warmup),
        ]


def window_bounds(k: int) -> tuple[str, str]:
    """Incremental window k (1-based) as half-open datetime strings."""
    lo = SYNC_START + (k - 1) * WINDOW
    return lo.strftime(DATETIME_FMT), (lo + WINDOW).strftime(DATETIME_FMT)


def _money(rng: random.Random, lo: float, hi: float) -> float:
    return round(rng.uniform(lo, hi), 2)


def _record(rng: random.Random, entity: str, rid: int, ts: str) -> dict:
    if entity == "customer":
        rec = {
            "company": f"Dealer {rid} Motors",
            "email": f"billing{rid}@dealer{rid % 997}.example",
            "bill_country": rng.choice(_COUNTRIES),
            "currency_iso4217": "USD",
            "superuser_id": rng.randrange(1, 5000),
            "total": _money(rng, 0, 50_000),
            "no_taxes": rng.random() < 0.1,
        }
    elif entity == "invoice":
        items = [
            {
                "item_id": rng.randrange(1, 400),
                "descrip": f"{rng.choice(_PLANS)} seat",
                "line_quantity": rng.randrange(1, 20),
                "line_rate": _money(rng, 5, 500),
            }
            for _ in range(rng.randrange(1, 6))
        ]
        for it in items:
            it["line_total"] = round(it["line_quantity"] * it["line_rate"], 2)
        rec = {
            "customer_id": rng.randrange(1, 25_000),
            "status": rng.choice(_STATUS["invoice"]),
            "currency_iso4217": "USD",
            "total": round(sum(it["line_total"] for it in items), 2),
            "line_items": items,
        }
    elif entity == "payment":
        rec = {
            "customer_id": rng.randrange(1, 25_000),
            "amount": _money(rng, 1, 20_000),
            "gateway_method": rng.choice(["visa", "ach", "mastercard", "check"]),
            "status": rng.choice(_STATUS["payment"]),
            "applied_to": [{"invoice_id": rng.randrange(1, 25_000), "applied": _money(rng, 1, 5000)}],
        }
    else:
        rec = {
            "customer_id": rng.randrange(1, 25_000),
            "plan": rng.choice(_PLANS),
            "status": rng.choice(_STATUS["subscription"]),
            "amount": _money(rng, 10, 2000),
            "paycycle": rng.choice(["mon", "yrl", "qtr"]),
        }
    rec[DT_FIELD] = ts
    if rng.random() >= KEYLESS_SHARE:
        rec[ID_FIELDS[entity]] = rid
    return rec


def _stamps(rng: random.Random, lo: datetime, hi: datetime, n: int) -> list[str]:
    span = int((hi - lo).total_seconds())
    return [(lo + timedelta(seconds=rng.randrange(span))).strftime(DATETIME_FMT) for _ in range(n)]


def generate(cfg: Config) -> dict[str, list[dict]]:
    """Every served row per entity, in generation order (unsorted).

    Keys are unique within each window: the warm-up and backlog windows use
    fresh ids, and an incremental window updates distinct existing ids and
    inserts new ones. About KEYLESS_SHARE of records lack their id field,
    which the source must drop.
    """
    out: dict[str, list[dict]] = {}
    for ei, entity in enumerate(ENTITIES):
        rng = random.Random(cfg.seed * 1000 + ei)
        rows: list[dict] = []
        next_id = 1_000_000
        for ts in _stamps(rng, WARMUP_START, BACKLOG_START, cfg.warmup):
            rows.append(_record(rng, entity, next_id, ts))
            next_id += 1
        for rid, ts in enumerate(_stamps(rng, BACKLOG_START, SYNC_START, cfg.backlog), 1):
            rows.append(_record(rng, entity, rid, ts))
        known = cfg.backlog
        for k in range(1, cfg.windows + 1):
            n = rng.randrange(cfg.changes * 9 // 10, cfg.changes * 11 // 10 + 1)
            inserts = n // 5
            ids = rng.sample(range(1, known + 1), n - inserts) + list(range(known + 1, known + 1 + inserts))
            known += inserts
            lo = SYNC_START + (k - 1) * WINDOW
            for rid, ts in zip(ids, _stamps(rng, lo, lo + WINDOW, n)):
                rows.append(_record(rng, entity, rid, ts))
        out[entity] = rows
    return out


def row_hash(entity: str, key: str, payload: str) -> int:
    """64-bit hash of one landed record; window digests add these mod 2**64,
    so a digest does not depend on row order."""
    h = hashlib.blake2b(f"{entity}\x1f{key}\x1f{payload}".encode(), digest_size=8)
    return int.from_bytes(h.digest(), "little")


def window_starts(windows: int) -> list[str]:
    """Start of each window a sync lands: the backlog (index 0), then each
    incremental window k at index k."""
    return [BACKLOG_START.strftime(DATETIME_FMT)] + [
        window_bounds(k)[0] for k in range(1, windows + 1)
    ]


def expected(cfg: Config, data: dict[str, list[dict]]) -> dict[str, list[int]]:
    """``"<entity>/<window index>"`` → [keyed rows, digest]: what a source
    must land from the backlog and incremental windows. The key and payload
    are serialized the way the REST source lands them."""
    starts = window_starts(cfg.windows)
    end = window_bounds(cfg.windows)[1]
    out: dict[str, list[int]] = {}
    for entity, rows in data.items():
        idf = ID_FIELDS[entity]
        for r in rows:
            ts = r[DT_FIELD]
            if idf not in r or not starts[0] <= ts < end:
                continue
            acc = out.setdefault(f"{entity}/{bisect.bisect_right(starts, ts) - 1}", [0, 0])
            acc[0] += 1
            acc[1] = (acc[1] + row_hash(entity, json.dumps({idf: r[idf]}),
                                        json.dumps(r, sort_keys=True))) % (1 << 64)
    return out


class PageIndex:
    """Rows of each entity sorted by mod_datetime (stable, like the fake
    server's ``list.sort``), each pre-serialized to its JSON bytes."""

    def __init__(self, data: dict[str, list[dict]]):
        self.keys: dict[str, list[str]] = {}
        self.blobs: dict[str, list[bytes]] = {}
        for entity, rows in data.items():
            srt = sorted(rows, key=lambda r: r.get(DT_FIELD) or "")
            self.keys[entity] = [r[DT_FIELD] for r in srt]
            self.blobs[entity] = [json.dumps(r).encode() for r in srt]

    def page(self, path: str) -> bytes | None:
        """Body for one GET path, or None when the request is outside the
        query surface ``RestClient.build_url`` emits."""
        parsed = urllib.parse.urlparse(path)
        entity = parsed.path.rstrip("/").split("/")[-1]
        qs = urllib.parse.parse_qs(parsed.query)
        if entity not in self.keys or set(qs) - {"limit", "offset", "where", "order"}:
            return None
        if qs.get("order", [None])[0] != f"{DT_FIELD}:ASC":
            return None
        keys = self.keys[entity]
        lo, hi = 0, len(keys)
        for cond in filter(None, qs.get("where", [""])[0].split(",")):
            parts = cond.replace("\\:", "\x00").split(":")
            if len(parts) != 3 or parts[0] != DT_FIELD:
                return None
            value = parts[2].replace("\x00", ":")
            if parts[1] == "GTE":
                lo = max(lo, bisect.bisect_left(keys, value))
            elif parts[1] == "LT":
                hi = min(hi, bisect.bisect_left(keys, value))
            else:
                return None
        offset = int(qs.get("offset", ["0"])[0])
        limit = int(qs.get("limit", ["100"])[0])
        start = lo + offset
        stop = min(hi, start + limit)
        return b'{"response": [' + b", ".join(self.blobs[entity][start:stop]) + b"]}"


class PageServer:
    def __init__(self, index: PageIndex, port: int = 0, expected: dict | None = None):
        self.stats = {"requests": 0, "bytes": 0, "non200": 0}
        want = json.dumps(expected or {}).encode()
        lock = threading.Lock()
        stats = self.stats

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *a):
                pass

            def do_GET(self):  # noqa: N802
                if self.path == "/__stats":
                    with lock:
                        body = json.dumps(stats).encode()
                    self._send(200, body)
                    return
                if self.path == "/__expected":
                    self._send(200, want)
                    return
                try:
                    body = index.page(self.path)
                except ValueError:  # malformed limit/offset
                    body = None
                with lock:
                    stats["requests"] += 1
                    if body is None:
                        stats["non200"] += 1
                    else:
                        stats["bytes"] += len(body)
                if body is None:
                    self._send(400, b"")
                else:
                    self._send(200, body)

            def _send(self, code: int, body: bytes) -> None:
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        self.httpd = ThreadingHTTPServer(("127.0.0.1", port), Handler)
        self.httpd.daemon_threads = True

    @property
    def port(self) -> int:
        return self.httpd.server_address[1]


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--backlog", type=int, default=Config.backlog)
    ap.add_argument("--changes", type=int, default=Config.changes)
    ap.add_argument("--windows", type=int, default=Config.windows)
    ap.add_argument("--warmup", type=int, default=Config.warmup)
    a = ap.parse_args(argv)
    cfg = Config(a.seed, a.backlog, a.changes, a.windows, a.warmup)
    data = generate(cfg)
    srv = PageServer(PageIndex(data), expected=expected(cfg, data))

    def watch_stdin() -> None:
        sys.stdin.read()  # returns at EOF: the parent closed the pipe or died
        srv.httpd.shutdown()

    threading.Thread(target=watch_stdin, daemon=True).start()
    print(f"READY {srv.port}", flush=True)
    try:
        srv.httpd.serve_forever()
    finally:
        srv.httpd.server_close()


if __name__ == "__main__":
    main()

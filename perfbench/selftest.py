"""Self-test of the page server: for the same rows and the same URLs it must
return byte-identical pages to ``sources/fake_server.FakeRestServer``, count
requests, bytes and non-200 answers, and refuse what ``RestClient.build_url``
never emits.

    python3 perfbench/selftest.py      # from the repository root; exit 0 = pass
"""

from __future__ import annotations

import os
import sys
import threading
import urllib.error
import urllib.request

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.getcwd())
sys.path.insert(0, HERE)

import pagesrv  # noqa: E402


def _get(url: str) -> tuple[int, bytes]:
    try:
        with urllib.request.urlopen(url, timeout=10) as r:
            return r.status, r.read()
    except urllib.error.HTTPError as e:
        return e.code, b""


def main() -> int:
    from mk_kafka_connect_spark.sources.fake_server import FakeRestServer
    from mk_kafka_connect_spark.sources.rest_client import RestClient

    cfg = pagesrv.Config(seed=3, backlog=400, changes=60, windows=3, warmup=20)
    data = pagesrv.generate(cfg)
    srv = pagesrv.PageServer(pagesrv.PageIndex(data))
    threading.Thread(target=srv.httpd.serve_forever, daemon=True).start()
    ours = f"http://127.0.0.1:{srv.port}/api"
    bounds = [
        (pagesrv.WARMUP_START.strftime(pagesrv.DATETIME_FMT), pagesrv.BACKLOG_START.strftime(pagesrv.DATETIME_FMT)),
        (pagesrv.BACKLOG_START.strftime(pagesrv.DATETIME_FMT), pagesrv.SYNC_START.strftime(pagesrv.DATETIME_FMT)),
        *(pagesrv.window_bounds(k) for k in range(1, cfg.windows + 1)),
        (None, pagesrv.SYNC_START.strftime(pagesrv.DATETIME_FMT)),
        (pagesrv.window_bounds(2)[0], None),
        (None, None),
    ]
    failures = []
    checked = 0
    try:
        with FakeRestServer(data) as fake:
            for entity in pagesrv.ENTITIES:
                for lo, hi in bounds:
                    for limit in (1, 7, 500):
                        for offset in (0, 3, 37, 10_000):
                            path = RestClient("").build_url(
                                entity, pagesrv.DT_FIELD, lo, hi, offset, limit)
                            a, b = _get(fake.url + path), _get(ours + path)
                            checked += 1
                            if a != b:
                                failures.append(path)
            # The full paginated read agrees too.
            for entity in pagesrv.ENTITIES:
                lo, hi = bounds[1]
                got = [r for _, p in RestClient(ours).fetch_all(entity, pagesrv.DT_FIELD, lo, hi, 50) for r in p.records]
                ref = [r for _, p in RestClient(fake.url).fetch_all(entity, pagesrv.DT_FIELD, lo, hi, 50) for r in p.records]
                if got != ref or not got:
                    failures.append(f"fetch_all {entity}")
        before = dict(srv.stats)
        bad = [
            "/api/customer?limit=5&offset=0",  # no order
            "/api/customer?limit=5&offset=0&order=mod_datetime:ASC&fields=a",
            "/api/customer?limit=5&offset=0&order=mod_datetime:ASC&where=total%3AGTE%3A1",
            "/api/nosuch?limit=5&offset=0&order=mod_datetime:ASC",
            "/api/customer?limit=x&offset=0&order=mod_datetime:ASC",
        ]
        for path in bad:
            if _get(f"http://127.0.0.1:{srv.port}{path}")[0] != 400:
                failures.append(f"not refused: {path}")
        after = dict(srv.stats)
        if after["requests"] - before["requests"] != len(bad) or \
                after["non200"] - before["non200"] != len(bad) or after["bytes"] != before["bytes"]:
            failures.append(f"counters: {before} -> {after}")
    finally:
        srv.httpd.shutdown()
        srv.httpd.server_close()
    print(f"pagesrv selftest: {checked} pages compared, {len(failures)} failures")
    for f in failures[:10]:
        print("  ", f)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())

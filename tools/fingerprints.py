"""Maintain QUERY_FINGERPRINTS.json, the stale-by-code ledger.

The tracer and the ledger reader live in
``mk_kafka_connect_spark/plans/fingerprints.py``; this script holds the
commands that write the ledger. ``registry.certification_order()`` puts
every query whose HEAD fingerprint differs from its ledgered one (or that
was never ledgered) ahead of the clean ones, oldest evidence first, so a
refresh after a driver round is all it takes to rotate the driver window.

Refresh after a driver round with::

    python tools/fingerprints.py refresh --round 17 \
        --certified CORRECTNESS_r17.json

which re-stamps only the queries that round actually certified.
``python tools/fingerprints.py check`` prints the drift report.

After a tracer upgrade, ``dump`` the fingerprints at the evidence commit
with HEAD's ``plans/fingerprints.py`` and ``rebase`` the ledger onto them.
A dump records the commit it ran at and the tracer version (SHA-256 of
``plans/fingerprints.py``); ``rebase`` refuses a dump from another tracer.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from mk_kafka_connect_spark.plans import fingerprints as FP  # noqa: E402


def tracer_version() -> str:
    with open(FP.__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def _git_commit() -> str:
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=REPO, capture_output=True, text=True, check=True,
        )
    except (OSError, subprocess.CalledProcessError):
        return "unknown"
    return out.stdout.strip()


def _write_ledger(ledger: dict) -> None:
    with open(FP.LEDGER, "w") as f:
        json.dump(ledger, f, indent=1, sort_keys=True)
        f.write("\n")


def cmd_bootstrap(round_no: int) -> None:
    """Stamp EVERY query with its current fingerprint.

    Only valid when the builder has just verified the full registry
    against the oracles on current code (the r17 bootstrap ran after a
    full-registry strict-parity pass), so 'current code' IS the
    certified code for every query.
    """
    head = FP.head_fingerprints()
    ledger = {
        name: {"fingerprint": fp, "evidence_round": round_no}
        for name, fp in sorted(head.items())
    }
    _write_ledger(ledger)
    print(f"bootstrapped {len(ledger)} fingerprints at round {round_no}")


def cmd_refresh(round_no: int, certified_path: str) -> None:
    with open(certified_path) as f:
        rows = json.load(f)
    green = {
        n
        for n, r in rows.items()
        if isinstance(r, dict)
        and r.get("rows_match")
        and r.get("schema_match")
        and not r.get("err")
    }
    ledger = FP.load_ledger()
    head = FP.head_fingerprints()
    for name in sorted(green):
        if name in head:
            ledger[name] = {
                "fingerprint": head[name],
                "evidence_round": round_no,
            }
    _write_ledger(ledger)
    print(f"refreshed {len(green)} fingerprints at round {round_no}")


def cmd_rebase(round_no: int, old_path: str) -> dict[str, list[str]]:
    """Re-stamp PURE tracer-coverage flips after a tracer upgrade.

    When the fingerprint TRACER itself improves (round 19: function-
    local imports joined the closure), every query whose closure grew
    flips its hash with zero code change. ``--old`` must be the output
    of ``dump`` run with the UPGRADED tracer in a checkout of the
    commit the evidence round certified; a dump from any other tracer
    is refused. A ledger entry is re-stamped (fingerprint updated,
    evidence round preserved) ONLY when the old-commit fingerprint
    equals the HEAD fingerprint — i.e. the full closure, as measured by
    the new tracer, is byte-identical to what the driver certified.
    Anything else is genuinely stale and is left for a
    re-certification seat. Rows of queries no longer registered are
    reported and left as they are.
    """
    with open(old_path) as f:
        dump = json.load(f)
    tracer = tracer_version()
    if dump.get("tracer") != tracer:
        raise SystemExit(
            f"refusing {old_path}: dumped with tracer {dump.get('tracer')}, "
            f"HEAD's tracer is {tracer}; re-run dump with HEAD's "
            f"plans/fingerprints.py"
        )
    print(f"dump from commit {dump.get('commit')}")
    old = dump["fingerprints"]
    ledger = FP.load_ledger()
    head = FP.head_fingerprints()
    restamped, left, unregistered = [], [], []
    for name, row in sorted(ledger.items()):
        if row.get("evidence_round") != round_no:
            continue
        fp = head.get(name)
        if fp is None:
            unregistered.append(name)
        elif row["fingerprint"] == fp:
            continue  # not drifted
        elif old.get(name) == fp:
            ledger[name] = {"fingerprint": fp, "evidence_round": round_no}
            restamped.append(name)
        else:
            left.append(name)
    _write_ledger(ledger)
    print(f"re-stamped {len(restamped)} coverage-only flips at round {round_no}")
    if left:
        print(f"left {len(left)} genuinely stale (need recert seats): {left}")
    if unregistered:
        print(f"left {len(unregistered)} rows of unregistered queries: {unregistered}")
    return {"restamped": restamped, "left": left, "unregistered": unregistered}


def cmd_dump(out_path: str) -> None:
    dump = {
        "commit": _git_commit(),
        "tracer": tracer_version(),
        "fingerprints": FP.head_fingerprints(),
    }
    with open(out_path, "w") as f:
        json.dump(dump, f, indent=1, sort_keys=True)
        f.write("\n")
    print(f"dumped to {out_path}")


def cmd_check() -> int:
    d = FP.drifted()
    if not d:
        print("clean: every query matches its ledgered fingerprint")
        return 0
    for name, row in sorted(d.items()):
        print(f"{name}: {row['reason']} (evidence r{row.get('evidence_round')})")
    return 1


if __name__ == "__main__":
    import argparse

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    b = sub.add_parser("bootstrap")
    b.add_argument("--round", type=int, required=True)
    r = sub.add_parser("refresh")
    r.add_argument("--round", type=int, required=True)
    r.add_argument("--certified", required=True)
    rb = sub.add_parser("rebase")
    rb.add_argument("--round", type=int, required=True)
    rb.add_argument("--old", required=True)
    d = sub.add_parser("dump")
    d.add_argument("--out", required=True)
    sub.add_parser("check")
    args = p.parse_args()
    if args.cmd == "bootstrap":
        cmd_bootstrap(args.round)
    elif args.cmd == "refresh":
        cmd_refresh(args.round, args.certified)
    elif args.cmd == "rebase":
        cmd_rebase(args.round, args.old)
    elif args.cmd == "dump":
        cmd_dump(args.out)
    else:
        raise SystemExit(cmd_check())

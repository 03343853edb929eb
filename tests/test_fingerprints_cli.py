"""The ledger commands of tools/fingerprints.py on a temporary ledger.

Each test points the tracer module's ledger path at a temporary file and
replaces HEAD's fingerprints with a small dict, so no query is traced.
"""

from __future__ import annotations

import importlib.util
import json
import os

import pytest

from mk_kafka_connect_spark.plans import fingerprints as FP

_spec = importlib.util.spec_from_file_location(
    "fingerprints_cli",
    os.path.join(os.path.dirname(__file__), "..", "tools", "fingerprints.py"),
)
cli = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(cli)

HEAD = {"kept_flip": "new", "kept_stale": "new", "kept_clean": "same"}
LEDGER = {
    "kept_flip": {"fingerprint": "old", "evidence_round": 19},
    "kept_stale": {"fingerprint": "old", "evidence_round": 19},
    "kept_clean": {"fingerprint": "same", "evidence_round": 19},
    "removed_dumped": {"fingerprint": "gone", "evidence_round": 19},
    "removed_undumped": {"fingerprint": "gone", "evidence_round": 19},
}


@pytest.fixture
def ledger_path(tmp_path, monkeypatch):
    path = tmp_path / "QUERY_FINGERPRINTS.json"
    path.write_text(json.dumps(LEDGER))
    monkeypatch.setattr(FP, "LEDGER", str(path))
    monkeypatch.setattr(FP, "head_fingerprints", lambda: dict(HEAD))
    return path


def _dump(tmp_path, tracer):
    path = tmp_path / "old.json"
    path.write_text(json.dumps({
        "commit": "0123abc",
        "tracer": tracer,
        # the evidence commit still registered removed_dumped
        "fingerprints": {"kept_flip": "new", "kept_stale": "older",
                         "kept_clean": "same", "removed_dumped": "gone"},
    }))
    return str(path)


def test_rebase_reports_rows_of_removed_queries(tmp_path, ledger_path, capsys):
    out = cli.cmd_rebase(19, _dump(tmp_path, cli.tracer_version()))
    assert out == {
        "restamped": ["kept_flip"],
        "left": ["kept_stale"],
        "unregistered": ["removed_dumped", "removed_undumped"],
    }
    ledger = json.loads(ledger_path.read_text())
    assert ledger["kept_flip"] == {"fingerprint": "new", "evidence_round": 19}
    for name in ("kept_stale", "kept_clean", "removed_dumped", "removed_undumped"):
        assert ledger[name] == LEDGER[name]
    assert "dump from commit 0123abc" in capsys.readouterr().out


def test_rebase_refuses_a_dump_from_another_tracer(tmp_path, ledger_path):
    with pytest.raises(SystemExit, match="refusing"):
        cli.cmd_rebase(19, _dump(tmp_path, "0" * 64))
    assert json.loads(ledger_path.read_text()) == LEDGER


def test_dump_stamps_commit_and_tracer(tmp_path, ledger_path):
    out = tmp_path / "dump.json"
    cli.cmd_dump(str(out))
    dump = json.loads(out.read_text())
    assert dump["fingerprints"] == HEAD
    assert dump["tracer"] == cli.tracer_version()
    assert dump["commit"]

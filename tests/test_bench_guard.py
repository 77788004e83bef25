"""Bench-anchor guard (VERDICT r8 item 6): the most recent recorded driver
bench must sit inside the 2x regression gates, and the close-round script's
check logic must agree. A >2x sealed reading fails the suite the round
AFTER it ships — the complement to scripts/close_round.py, which refuses
to seal it in the first place."""

from __future__ import annotations

import glob
import json
import os
import re
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "scripts"))

from close_round import GATE_FACTOR, HEADLINE_ANCHOR, HEAVY_ANCHOR, check  # noqa: E402


def _latest_bench() -> dict | None:
    paths = glob.glob(os.path.join(REPO, "BENCH_r*.json"))
    if not paths:
        return None
    latest = max(paths, key=lambda p: int(re.search(r"r(\d+)", p).group(1)))
    blob = json.load(open(latest))
    return blob.get("parsed", blob)


def test_latest_recorded_bench_inside_gates():
    parsed = _latest_bench()
    if parsed is None:
        pytest.skip("no BENCH_r*.json recorded (fresh checkout)")
    problems = check(parsed)
    assert not problems, f"latest recorded bench breaches a gate: {problems}"


def test_gate_constants_sane():
    # the gates only guard if the anchors stay pinned to BASELINE.md's values
    assert HEADLINE_ANCHOR == 24.7
    assert HEAVY_ANCHOR == 3.4
    assert GATE_FACTOR == 2.0


def test_check_flags_regressions():
    assert check({"value": 100.0, "heavy_total_wall": 5.0})
    assert check({"value": 10.0, "heavy_total_wall": 20.0})
    assert check({"value": 10.0, "heavy_total_wall": 5.0, "errors": {"q": "boom"}})
    assert not check({"value": 10.0, "heavy_total_wall": 5.0})


def test_gate_refusal_names_bench_cores_and_anchor_host():
    """A headline/heavy refusal says which host it compared: the bench's
    cores against the anchors' local[32]."""
    probs = check({"value": 10.0, "heavy_total_wall": 20.0, "cpus": 4})
    assert len(probs) == 1 and "4 cores" in probs[0] and "local[32]" in probs[0]
    assert "cores unknown" in check({"value": 10.0, "heavy_total_wall": 20.0})[0]


def test_sweep_guard_refuses_across_hosts_and_names_both(tmp_path, monkeypatch, capsys):
    """A 3x regression of a 4-core sweep against a 32-core reference is
    still refused (no factor scales with cores), and the refusal names
    both core counts."""
    import close_round

    ref = {"timings": {"q_slow": 2.0, "q_flat": 1.0}, "errors": {}, "cores": 32}
    (tmp_path / "SWEEP_r98.json").write_text(json.dumps(ref))
    monkeypatch.setattr(close_round, "REPO", str(tmp_path))
    monkeypatch.setattr(close_round, "registered_names", lambda: list(ref["timings"]))
    cur = tmp_path / "sweep.json"
    cur.write_text(json.dumps({"timings": {"q_slow": 6.0, "q_flat": 1.0}, "errors": {},
                               "cores": 4}))
    probs = close_round.check_sweep(str(cur))
    assert len(probs) == 1 and "q_slow" in probs[0]
    assert "32 cores" in probs[0] and "4 cores" in probs[0]
    assert "SWEEP_r98.json: 32 cores, this sweep: 4 cores" in capsys.readouterr().out
    # a reference without the field reads "cores unknown"
    (tmp_path / "SWEEP_r98.json").write_text(json.dumps({"timings": ref["timings"]}))
    probs = close_round.check_sweep(str(cur))
    assert len(probs) == 1 and "cores unknown" in probs[0] and "4 cores" in probs[0]


def test_sweep_guard_flags_regressions_and_missing(tmp_path, monkeypatch):
    """check_sweep must refuse a >2x long-tail regression (past the 1 s
    absolute floor) and a query that vanished from the sweep, and must
    pass flat timings — VERDICT r10 item 8's guard."""
    import close_round

    ref = {"timings": {"q_slow": 3.0, "q_fast": 0.2, "q_gone": 1.0}}
    (tmp_path / "SWEEP_r98.json").write_text(json.dumps(ref))
    monkeypatch.setattr(close_round, "REPO", str(tmp_path))
    monkeypatch.setattr(close_round, "registered_names", lambda: list(ref["timings"]))

    cur = tmp_path / "sweep.json"
    # regressed + missing
    cur.write_text(json.dumps({"timings": {"q_slow": 6.5, "q_fast": 0.5}}))
    probs = close_round.check_sweep(str(cur))
    assert any("q_slow" in p for p in probs)
    assert any("q_gone" in p for p in probs)
    # q_fast 0.2 -> 0.5 is >2x but under the absolute floor: latency noise
    assert not any("q_fast" in p for p in probs)
    # flat sweep passes
    cur.write_text(json.dumps({"timings": {"q_slow": 3.1, "q_fast": 0.2, "q_gone": 0.9}}))
    assert close_round.check_sweep(str(cur)) == []
    # sweep-side errors refuse the seal
    cur.write_text(json.dumps({"timings": {}, "errors": {"q_slow": "boom"}}))
    assert close_round.check_sweep(str(cur))


def test_sweep_guard_passes_retired_query(tmp_path, monkeypatch, capsys):
    """A reference name that is no longer registered is retired, not lost."""
    import close_round

    ref = {"timings": {"flagship": 1.0, "q_retired_from_registry": 1.0}}
    (tmp_path / "SWEEP_r98.json").write_text(json.dumps(ref))
    monkeypatch.setattr(close_round, "REPO", str(tmp_path))
    cur = tmp_path / "sweep.json"
    cur.write_text(json.dumps({"timings": {"flagship": 1.0}}))
    assert close_round.check_sweep(str(cur)) == []
    assert "retired" in capsys.readouterr().out


def test_sweep_guard_refuses_registered_query_missing(tmp_path, monkeypatch):
    """A reference name still in the registry must be in the current sweep."""
    import close_round

    ref = {"timings": {"flagship": 1.0, "agg_stats": 1.0}}
    (tmp_path / "SWEEP_r98.json").write_text(json.dumps(ref))
    monkeypatch.setattr(close_round, "REPO", str(tmp_path))
    cur = tmp_path / "sweep.json"
    cur.write_text(json.dumps({"timings": {"flagship": 1.0}}))
    probs = close_round.check_sweep(str(cur))
    assert len(probs) == 1 and "agg_stats" in probs[0]


def test_sweep_guard_picks_newest_round_numerically(tmp_path, monkeypatch):
    """SWEEP_r10 is newer than SWEEP_r9 although it sorts first as text."""
    import close_round

    (tmp_path / "SWEEP_r9.json").write_text(json.dumps({"timings": {"q_old": 1.0}}))
    (tmp_path / "SWEEP_r10.json").write_text(json.dumps({"timings": {"q_new": 1.0}}))
    monkeypatch.setattr(close_round, "REPO", str(tmp_path))
    assert close_round.newest_sweep_ref() == str(tmp_path / "SWEEP_r10.json")

    cur = tmp_path / "sweep.json"
    cur.write_text(json.dumps({"timings": {"q_new": 1.0}}))
    assert close_round.check_sweep(str(cur)) == []


def test_sweep_guard_reports_timeout(monkeypatch):
    """A sweep subprocess that times out refuses the seal instead of crashing."""
    import subprocess

    import close_round

    def timeout(cmd, **kw):
        raise subprocess.TimeoutExpired(cmd, kw.get("timeout"))

    monkeypatch.setattr(close_round.subprocess, "run", timeout)
    probs = close_round.check_sweep(None)
    assert len(probs) == 1 and "timed out" in probs[0]

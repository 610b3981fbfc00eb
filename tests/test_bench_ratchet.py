"""Unit tests for bench.py's publish-time safety rules (r14 verdict
item 1 + the two r14 ADVICE items):

- cleanliness ratchet: an all-dirty run must never overwrite an
  existing clean BENCH_FULL.json at the same sf; the dirty record goes
  to BENCH_FULL_dirty.json and the clean numbers republish;
- dirty fallback selection: with no clean attempt, the LOWEST-STEAL
  attempt publishes, not the fastest (min-by-value under noise picks
  the luckiest run);
- region-aware clean gate: the absolute 30s steal allowance only
  applies to long regions; short regions must meet the 5% rate arm.
"""

from __future__ import annotations

import json
import os

import bench


def _attempt(value: float, clean: bool, steal_s: float, region_s: float):
    return {
        "value": value,
        "queries": {"q01_x": value},
        "run_conditions": {
            "run_clean": clean,
            "steal_s_during_run": steal_s,
            "timed_region_s": region_s,
            "steal_frac": round(steal_s / region_s, 4),
        },
    }


def _full(sf: float, attempts: list[dict], published: int, head="abc123"):
    return {
        "sf": sf,
        "head": head,
        "n_attempts": len(attempts),
        "published_attempt": published,
        "attempts": attempts,
    }


def test_ratchet_keeps_clean_prior(tmp_path):
    full_path = str(tmp_path / "BENCH_FULL.json")
    clean_prior = _full(0.1, [_attempt(70.0, True, 1.0, 600.0)], 0)
    with open(full_path, "w") as fh:
        json.dump(clean_prior, fh)
    dirty_att = _attempt(77.0, False, 200.0, 600.0)
    dirty = _full(0.1, [dirty_att], 0)
    published, protected = bench._ratcheted_publish(
        dirty, dirty_att, full_path
    )
    # clean prior survives byte-identical; dirty lands alongside
    assert json.load(open(full_path)) == clean_prior
    assert os.path.exists(str(tmp_path / "BENCH_FULL_dirty.json"))
    assert protected is not None
    assert published["value"] == 70.0
    assert published["run_conditions"]["run_clean"] is True


def test_ratchet_dirty_replaces_dirty_prior(tmp_path):
    full_path = str(tmp_path / "BENCH_FULL.json")
    dirty_prior = _full(0.1, [_attempt(70.0, False, 100.0, 600.0)], 0)
    with open(full_path, "w") as fh:
        json.dump(dirty_prior, fh)
    att = _attempt(75.0, False, 50.0, 600.0)
    new = _full(0.1, [att], 0)
    published, protected = bench._ratcheted_publish(new, att, full_path)
    assert protected is None
    assert published is att
    assert json.load(open(full_path)) == new


def test_ratchet_clean_replaces_anything(tmp_path):
    full_path = str(tmp_path / "BENCH_FULL.json")
    clean_prior = _full(0.1, [_attempt(70.0, True, 1.0, 600.0)], 0)
    with open(full_path, "w") as fh:
        json.dump(clean_prior, fh)
    att = _attempt(68.0, True, 0.5, 600.0)
    new = _full(0.1, [att], 0)
    published, protected = bench._ratcheted_publish(new, att, full_path)
    assert protected is None
    assert json.load(open(full_path)) == new


def test_ratchet_code_rev_mismatch_does_not_protect(tmp_path):
    # r16: a clean artifact from DIFFERENT code must not be republished
    # as if it measured HEAD — the honest output for new code under
    # interference is the new dirty numbers
    full_path = str(tmp_path / "BENCH_FULL.json")
    clean_prior = _full(
        0.1, [_attempt(70.0, True, 1.0, 600.0)], 0, head="oldrev"
    )
    with open(full_path, "w") as fh:
        json.dump(clean_prior, fh)
    att = _attempt(77.0, False, 200.0, 600.0)
    new = _full(0.1, [att], 0, head="newrev")
    published, protected = bench._ratcheted_publish(new, att, full_path)
    assert protected is None
    assert published is att
    assert json.load(open(full_path)) == new


def test_ratchet_dirty_head_prior_does_not_protect(tmp_path):
    # every uncommitted tree at one HEAD is stamped "<rev>-dirty", so a
    # matching dirty stamp does not show the prior measured this code
    full_path = str(tmp_path / "BENCH_FULL.json")
    clean_prior = _full(
        0.1, [_attempt(70.0, True, 1.0, 600.0)], 0, head="abc123-dirty"
    )
    with open(full_path, "w") as fh:
        json.dump(clean_prior, fh)
    att = _attempt(77.0, False, 200.0, 600.0)
    new = _full(0.1, [att], 0, head="abc123-dirty")
    published, protected = bench._ratcheted_publish(new, att, full_path)
    assert protected is None
    assert published is att
    assert json.load(open(full_path)) == new
    assert not os.path.exists(str(tmp_path / "BENCH_FULL_dirty.json"))


def test_ratchet_headless_prior_does_not_protect(tmp_path):
    # pre-r16 artifacts carry no "head" stamp: code identity is
    # unknown, so protection must not fire from them
    full_path = str(tmp_path / "BENCH_FULL.json")
    clean_prior = {
        "sf": 0.1,
        "n_attempts": 1,
        "published_attempt": 0,
        "attempts": [_attempt(70.0, True, 1.0, 600.0)],
    }
    with open(full_path, "w") as fh:
        json.dump(clean_prior, fh)
    att = _attempt(77.0, False, 200.0, 600.0)
    new = _full(0.1, [att], 0)
    published, protected = bench._ratcheted_publish(new, att, full_path)
    assert protected is None
    assert published is att


def test_ratchet_sf_mismatch_does_not_protect(tmp_path):
    # a clean sf0.01 smoke run must not block publishing a dirty sf0.1
    # record — but note the ratchet also must not fire FROM it
    full_path = str(tmp_path / "BENCH_FULL.json")
    clean_prior = _full(0.01, [_attempt(7.0, True, 0.1, 60.0)], 0)
    with open(full_path, "w") as fh:
        json.dump(clean_prior, fh)
    att = _attempt(77.0, False, 200.0, 600.0)
    new = _full(0.1, [att], 0)
    published, protected = bench._ratcheted_publish(new, att, full_path)
    assert protected is None
    assert json.load(open(full_path)) == new


def test_dirty_fallback_picks_lowest_steal_not_fastest():
    # replicate main()'s selection rule on synthetic attempts
    attempts = [
        _attempt(60.0, False, 300.0, 600.0),  # fastest but most stolen
        _attempt(75.0, False, 40.0, 600.0),  # slowest, least stolen
        _attempt(70.0, False, 100.0, 600.0),
    ]
    clean = [a for a in attempts if a["run_conditions"]["run_clean"]]
    published = (
        clean[0]
        if clean
        else min(attempts, key=lambda a: a["run_conditions"]["steal_frac"])
    )
    assert published["value"] == 75.0


def test_preflight_degrades_to_dirty_publish_not_exit3(monkeypatch):
    # r15 verdict item 1: a persistent foreign JVM made both driver
    # bench runs exit 3 and the round published NOTHING. Default path
    # must now return clean:false after the settle window instead of
    # refusing; exit 3 only under SPARK_GRAFT_BENCH_STRICT=1.
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (9.0, 9.0, 9.0))
    monkeypatch.setattr(bench, "_other_jvms", lambda: [12345])
    monkeypatch.delenv("SPARK_GRAFT_BENCH_STRICT", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_BENCH_FORCE", raising=False)
    res = bench._preflight_idle(max_wait_s=0.0)
    assert res["clean"] is False
    assert res["other_jvms"] == 1
    assert "detail" in res


def test_preflight_strict_still_refuses(monkeypatch):
    import pytest

    monkeypatch.setattr(bench.os, "getloadavg", lambda: (9.0, 9.0, 9.0))
    monkeypatch.setattr(bench, "_other_jvms", lambda: [12345])
    monkeypatch.setenv("SPARK_GRAFT_BENCH_STRICT", "1")
    with pytest.raises(SystemExit) as exc:
        bench._preflight_idle(max_wait_s=0.0)
    assert exc.value.code == 3


def test_preflight_clean_machine_passes(monkeypatch):
    monkeypatch.setattr(bench.os, "getloadavg", lambda: (0.2, 0.2, 0.2))
    monkeypatch.setattr(bench, "_other_jvms", lambda: [])
    res = bench._preflight_idle(max_wait_s=0.0)
    assert res["clean"] is True


def test_clean_gate_region_aware():
    # the gate formula from _RunMonitor.summary: the 30s absolute arm
    # needs region_s >= 300; short regions must pass the 5% rate arm
    def gate(steal_s: float, region_s: float) -> bool:
        steal_frac = steal_s / region_s
        return steal_frac < 0.05 or (steal_s < 30.0 and region_s >= 300.0)

    assert gate(1.0, 60.0)  # short + tiny steal: rate arm passes
    assert not gate(25.0, 60.0)  # short region, 42% steal: must FAIL
    assert gate(25.0, 600.0)  # long region, 4.2%: passes both arms
    assert gate(29.0, 400.0)  # long region, 7% but < 30s absolute: ok
    assert not gate(35.0, 400.0)  # long region, 8.8% and > 30s: fail

"""Unit pins for bench.py's round-over-round drift guard — the driver runs
bench every round, so the guard's parsing of prior-round artifacts (both the
raw bench line and the driver's wrapper-with-tail format) must not rot."""

from __future__ import annotations

import json

from bench import _vs_previous_round


def _write(tmp_path, name, doc):
    (tmp_path / name).write_text(json.dumps(doc))


def test_no_prior_files(tmp_path):
    assert _vs_previous_round({"q": 9.9}, root=str(tmp_path)) == {}


def test_raw_format_flags_only_real_drift(tmp_path):
    _write(
        tmp_path,
        "BENCH_r01.json",
        {"queries": {"fast": 0.05, "slow": 2.0, "ok": 1.0}},
    )
    out = _vs_previous_round(
        # fast: below the then>=0.2 floor (timer noise) — never flagged;
        # slow: 3x — flagged; ok: 1.2x — under threshold
        {"fast": 0.4, "slow": 6.0, "ok": 1.2},
        root=str(tmp_path),
    )
    assert set(out) == {"slow"}
    assert "3.0x" in out["slow"]


def test_driver_wrapper_format_and_newest_round_wins(tmp_path):
    _write(tmp_path, "BENCH_r01.json", {"queries": {"q": 0.5}})
    line = json.dumps(
        {"metric": "total_query_wall_time", "queries": {"q": 2.0}}
    )
    _write(
        tmp_path,
        "BENCH_r02.json",
        {"n": 2, "rc": 0, "tail": f"progress noise\r\n{line}\n"},
    )
    # vs r02 (2.0s) a 2.4s run is fine; vs r01 (0.5s) it would flag — the
    # NEWEST round must win, through the wrapper's tail field
    assert _vs_previous_round({"q": 2.4}, root=str(tmp_path)) == {}
    out = _vs_previous_round({"q": 9.0}, root=str(tmp_path))
    assert "BENCH_r02.json" in out["q"]


def test_truncated_tail_falls_back_to_full_record(tmp_path):
    # Round-5 failure mode: the driver captures only 2000 chars of stdout,
    # so the >120-entry per-query line arrives truncated mid-JSON. The
    # guard must skip the unparseable fragment and read the committed
    # BENCH_FULL.json that bench.py writes after every complete run.
    truncated = '{"metric": "total_query_wall_time", "queries": {"q": 0.5, "oth'
    _write(
        tmp_path,
        "BENCH_r05.json",
        {"n": 5, "rc": 0, "tail": f'{truncated}\n{{"value": 1.0, "n_queries": 2}}\n'},
    )
    _write(tmp_path, "BENCH_FULL.json", {"queries": {"q": 0.5}})
    out = _vs_previous_round({"q": 2.0}, root=str(tmp_path))
    assert set(out) == {"q"}
    # without the full record the guard degrades to "no prior", not a crash
    (tmp_path / "BENCH_FULL.json").unlink()
    assert _vs_previous_round({"q": 2.0}, root=str(tmp_path)) == {}


def test_sf_mismatched_tail_falls_back_to_full_record(tmp_path):
    """ADVICE r7 regression pin: a driver-tail prior recorded at another
    sf must not disable regression detection outright — the guard falls
    through to BENCH_FULL.json, which has its own sf check."""
    line = json.dumps({"metric": "t", "sf": 0.01, "queries": {"q": 0.1}})
    _write(
        tmp_path,
        "BENCH_r06.json",
        {"n": 6, "rc": 0, "tail": f"{line}\n"},
    )
    _write(tmp_path, "BENCH_FULL.json", {"sf": 0.1, "queries": {"q": 0.5}})
    out = _vs_previous_round({"q": 2.0}, root=str(tmp_path), current_sf=0.1)
    assert set(out) == {"q"}
    assert "BENCH_FULL.json" in out["q"]
    # and a BENCH_FULL recorded at yet another sf is still rejected
    _write(tmp_path, "BENCH_FULL.json", {"sf": 0.01, "queries": {"q": 0.5}})
    assert (
        _vs_previous_round({"q": 2.0}, root=str(tmp_path), current_sf=0.1)
        == {}
    )


def test_stray_non_numeric_artifact_is_ignored(tmp_path):
    # BENCH_rerun.json matches the BENCH_r*.json glob but has no round
    # number — must degrade to "no prior"/newest-numeric, not crash.
    _write(tmp_path, "BENCH_rerun.json", {"queries": {"q": 0.5}})
    assert _vs_previous_round({"q": 9.9}, root=str(tmp_path)) == {}
    _write(tmp_path, "BENCH_r01.json", {"queries": {"q": 3.0}})
    assert _vs_previous_round({"q": 3.1}, root=str(tmp_path)) == {}


def test_corrupt_prior_is_ignored(tmp_path):
    (tmp_path / "BENCH_r01.json").write_text("{not json")
    assert _vs_previous_round({"q": 9.9}, root=str(tmp_path)) == {}


def test_full_record_carries_adjudication_forward(tmp_path):
    """r8: a complete bench run rewrites BENCH_FULL.json; the dated
    regression_adjudication block written by
    tools/adjudicate_regressions.py must survive the rewrite (the
    driver's own per-round bench run would otherwise delete the
    evidence the judge reads)."""
    from bench import _write_full_record

    full = tmp_path / "BENCH_FULL.json"
    adjudication = {"date": "2026-08-15", "queries": {"q": {"verdict": "noise"}}}
    full.write_text(
        json.dumps(
            {"queries": {"q": 1.0}, "regression_adjudication": adjudication}
        )
    )
    _write_full_record({"queries": {"q": 0.9}, "sf": 0.1}, str(full))
    doc = json.loads(full.read_text())
    assert doc["queries"] == {"q": 0.9}  # new record won
    assert doc["regression_adjudication"] == adjudication  # block survived
    # the adjudicate tool's "no flags in the current record" note must NOT
    # ride into a record that HAS flags (it would read as dismissing live
    # regressions); the rest of the block still carries forward
    noted = dict(adjudication, note="no regression flags in the current...")
    full.write_text(
        json.dumps({"queries": {"q": 0.9}, "regression_adjudication": noted})
    )
    _write_full_record(
        {"queries": {"q": 2.0}, "regressions": {"q": "0.9s -> 2.0s"}},
        str(full),
    )
    doc = json.loads(full.read_text())
    assert "note" not in doc["regression_adjudication"]
    assert doc["regression_adjudication"]["queries"] == adjudication["queries"]
    # ...and the carried block is tagged stale so last round's per-query
    # "noise" verdicts can't read as adjudicating THIS record's live
    # flags (r8 ADVICE)
    assert "stale" in doc["regression_adjudication"]
    # ...but a flag-free record keeps the note verbatim
    full.write_text(
        json.dumps({"queries": {"q": 0.9}, "regression_adjudication": noted})
    )
    _write_full_record({"queries": {"q": 0.9}}, str(full))
    assert json.loads(full.read_text())["regression_adjudication"] == noted
    # corrupt/missing prior degrades to a plain write, not a crash
    full.unlink()
    _write_full_record({"queries": {"q": 0.5}}, str(full))
    assert json.loads(full.read_text())["queries"] == {"q": 0.5}


def test_bounded_line_selects_changed_and_new(tmp_path):
    """r16 (r15 VERDICT item 1): the final stdout line must be a complete
    contract line whose queries map is bounded — first-contact queries
    always included, then the largest >10% movers vs the committed prior,
    capped at _BOUNDED_MAX, 2-decimal values — so the driver's ~2.5 kB
    tail capture always ends in one parseable JSON object with real
    round-over-round deltas."""
    from bench import _BOUNDED_MAX, _bounded_line

    prior = {f"q{i:03d}": 1.0 for i in range(150)}
    _write(tmp_path, "BENCH_FULL.json", {"sf": 0.1, "queries": prior})
    times = {f"q{i:03d}": 1.0 for i in range(150)}
    times["q000"] = 3.0  # 3.0x — biggest mover
    times["q001"] = 0.5  # 0.5x — improvement, still a mover
    times["q002"] = 1.05  # 5% — under the 10% gate, excluded
    times["brand_new"] = 0.4  # no prior — always included
    summary = {"metric": "total_query_wall_time", "value": 1.0, "sf": 0.1}
    out = _bounded_line(times, summary, root=str(tmp_path))
    assert out["metric"] == "total_query_wall_time"  # summary fields kept
    assert set(out["queries"]) == {"q000", "q001", "brand_new"}
    assert out["queries"]["q000"] == 3.0 and out["queries"]["brand_new"] == 0.4
    assert "queries_bounded" in out
    # many movers: the cap holds and the biggest |log ratio| wins a slot
    times = {f"q{i:03d}": 2.0 for i in range(150)}
    out = _bounded_line(times, summary, root=str(tmp_path))
    assert len(out["queries"]) == _BOUNDED_MAX
    # sf-mismatched prior -> slowest-N fallback (driver still sees numbers)
    out = _bounded_line(
        {"a": 5.0, "b": 1.0}, {"metric": "t", "sf": 0.01}, root=str(tmp_path)
    )
    assert list(out["queries"]) == ["a", "b"]


def test_bounded_line_caps_first_contact_queries(tmp_path):
    """First-contact queries count against the cap too: with 30 queries
    absent from the prior and one >10% mover, the line keeps
    _BOUNDED_MAX entries, first-contact ones first, and names how many
    were left out."""
    from bench import _BOUNDED_MAX, _bounded_line

    _write(
        tmp_path, "BENCH_FULL.json", {"sf": 0.1, "queries": {"old": 1.0}}
    )
    times = {f"new{i:02d}": 0.5 for i in range(30)}
    times["old"] = 3.0
    out = _bounded_line(times, {"sf": 0.1}, root=str(tmp_path))
    assert list(out["queries"]) == [f"new{i:02d}" for i in range(_BOUNDED_MAX)]
    overflow = len(times) - _BOUNDED_MAX
    note = out["queries_bounded"]
    assert f"{overflow} over the cap of {_BOUNDED_MAX}" in note


def test_tail_recovery_skips_bounded_line(tmp_path):
    """The bounded final line must NOT become the drift-guard prior — 25
    entries would blind the guard for every other query. Recovery skips
    it (marker field) and falls through to the full line / BENCH_FULL."""
    full_line = json.dumps({"metric": "t", "queries": {"q": 0.5, "r": 1.0}})
    bounded = json.dumps(
        {"metric": "t", "queries": {"q": 0.5}, "queries_bounded": "..."}
    )
    _write(
        tmp_path,
        "BENCH_r07.json",
        {"n": 7, "rc": 0, "tail": f"{full_line}\nsummary noise\n{bounded}\n"},
    )
    out = _vs_previous_round({"r": 9.0}, root=str(tmp_path))
    assert set(out) == {"r"}  # r's prior came from the FULL line
    # truncated full line + bounded final line -> BENCH_FULL fallback
    _write(
        tmp_path,
        "BENCH_r08.json",
        {"n": 8, "rc": 0, "tail": f'{full_line[:30]}\n{bounded}\n'},
    )
    _write(tmp_path, "BENCH_FULL.json", {"queries": {"r": 1.0}})
    out = _vs_previous_round({"r": 9.0}, root=str(tmp_path))
    assert "BENCH_FULL.json" in out["r"]

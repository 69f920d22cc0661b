"""Unit pins for the round-close verification tools (r8 ADVICE fixes):
tools/adjudicate_regressions.py's verdict basis and sf guard, and
tools/_md_sections.py's section splice."""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))

from _md_sections import replace_section
from adjudicate_regressions import _remeasure_sf, _verdicts


def test_verdict_plain_query_uses_min_s():
    flags = {"q": "1.0s -> 2.0s (2.0x, BENCH_r08.json)"}
    measured = {"q": {"min_s": 1.05, "median_s": 1.2, "all_s": [1.2, 1.05]}}
    out = _verdicts(flags, measured)
    assert out["q"]["verdict"] == "noise"
    assert out["q"]["basis_s"] == 1.05
    measured = {"q": {"min_s": 1.9, "median_s": 2.0, "all_s": [2.0, 1.9]}}
    assert _verdicts(flags, measured)["q"]["verdict"] == "regressed"


def test_verdict_memo_builder_uses_cold_rep():
    """r8 ADVICE (medium): a memo-BUILDER's bench prior paid the memo
    build, so warm reps (cache hits) must not adjudicate it — the cold
    rep is the basis, and only in the noise direction (the cold rep
    also pays session ramp the deep-warm bench prior never paid)."""
    # neardup_jaccard_pairs is the dedup family's first-in-bench builder
    flags = {"neardup_jaccard_pairs": "1.0s -> 2.6s (2.6x)"}
    measured = {
        "neardup_jaccard_pairs": {
            "min_s": 0.05,
            "median_s": 0.05,
            "all_s": [2.7, 0.05, 0.05],
        }
    }
    out = _verdicts(flags, measured)["neardup_jaccard_pairs"]
    assert out["basis_s"] == 2.7
    assert out["verdict"].startswith("memo_cold_exceeds_prior")
    # and a genuinely-fast cold rep still proves noise
    measured["neardup_jaccard_pairs"]["all_s"] = [0.9, 0.05, 0.05]
    out = _verdicts(flags, measured)["neardup_jaccard_pairs"]
    assert out["verdict"] == "noise"


def test_verdict_memo_warm_prior_uses_warm_reps():
    """r9: a memo-READER's bench prior read a warm memo (a family member
    earlier in bench order built it), so the comparable idle basis is
    the warm reps — both noise AND regressed adjudicate automatically,
    ending the manual-adjudication loop for this class."""
    flags = {"containment_neardup_pairs": "4.0s -> 6.4s (1.6x)"}
    # cold rep pays the family build + ramp; warm reps match the prior's
    # regime and come back fast -> noise, no manual step
    measured = {
        "containment_neardup_pairs": {
            "min_s": 2.8,
            "median_s": 2.9,
            "all_s": [8.2, 2.9, 2.8],
        }
    }
    out = _verdicts(flags, measured)["containment_neardup_pairs"]
    assert out["basis_s"] == 2.8
    assert "warm reps" in out["basis"]
    assert out["verdict"] == "noise"
    # a warm basis ABOVE the prior is a real, same-regime regression
    measured["containment_neardup_pairs"]["all_s"] = [8.2, 6.3, 6.1]
    out = _verdicts(flags, measured)["containment_neardup_pairs"]
    assert out["verdict"] == "regressed"


def test_verdict_self_cached_never_uses_warm_reps():
    """r9 follow-up review: dedup_connected_components' warm reps are
    pure _cc_label_table.memo reads (~0.05 s) — its bench prior paid the CC
    fixpoint, so a warm basis would auto-noise a REAL regression (the
    original r8-ADVICE trap). Self-cached queries stay on the cold rep
    with the manual branch, even though jaccard precedes them in bench
    order."""
    flags = {"dedup_connected_components": "1.0s -> 2.6s (2.6x)"}
    measured = {
        "dedup_connected_components": {
            "min_s": 0.05,
            "median_s": 0.05,
            "all_s": [2.7, 0.05, 0.05],
        }
    }
    out = _verdicts(flags, measured)["dedup_connected_components"]
    assert out["basis_s"] == 2.7
    assert out["verdict"].startswith("memo_cold_exceeds_prior")


def test_verdict_single_rep_warm_prior_stays_manual():
    """r9 follow-up review: a memo-warm-prior query re-measured with
    REPS=1 has only the (incomparable) cold rep — it must take the
    manual branch, not auto-'regressed'."""
    flags = {"containment_neardup_pairs": "4.0s -> 6.4s (1.6x)"}
    measured = {
        "containment_neardup_pairs": {
            "min_s": 8.2,
            "median_s": 8.2,
            "all_s": [8.2],
        }
    }
    out = _verdicts(flags, measured)["containment_neardup_pairs"]
    assert out["basis_s"] == 8.2
    assert out["verdict"].startswith("memo_cold_exceeds_prior")


def test_verdict_unparseable_flag():
    out = _verdicts(
        {"q": "weird flag text"},
        {"q": {"min_s": 1.0, "median_s": 1.0, "all_s": [1.0]}},
    )
    assert out["q"]["verdict"] == "unparseable_flag"


def test_verdict_band_min_prior_downgrades_to_lucky_prior():
    """r14 VERDICT item 1: a prior at/near the all-time band minimum
    cannot anchor a regression claim — when the idle basis sits inside
    the band envelope the auto-"regressed" becomes noise_lucky_prior
    (the exact shape of both r14 driver flags: freshly re-based minimum
    priors, readings at/below the band median)."""
    flags = {"q": "1.124s -> 1.799s (1.6x vs BENCH_FULL.json)"}
    measured = {"q": {"min_s": 1.7, "median_s": 1.8, "all_s": [1.8, 1.7]}}
    bands = {"q": {"n": 24, "min": 1.124, "median": 3.091, "max": 8.46}}
    out = _verdicts(flags, measured, bands=bands)["q"]
    assert out["verdict"] == "noise_lucky_prior"
    assert out["history_band_s"] == [1.124, 8.46]
    assert out["history_band_n_records"] == 24
    assert "band min" in out["band_note"]


def test_verdict_band_rule_needs_prior_near_min():
    # prior well above the band min -> the lucky-prior excuse does not
    # apply; the reading stays regressed (band evidence still recorded)
    flags = {"q": "2.0s -> 4.0s (2.0x)"}
    measured = {"q": {"min_s": 3.8, "median_s": 3.9, "all_s": [3.9, 3.8]}}
    bands = {"q": {"n": 24, "min": 1.124, "median": 3.091, "max": 8.46}}
    out = _verdicts(flags, measured, bands=bands)["q"]
    assert out["verdict"] == "regressed"
    assert out["history_band_s"] == [1.124, 8.46]
    assert "band_note" not in out


def test_verdict_band_rule_needs_basis_inside_band():
    # a band-min prior does NOT excuse a basis beyond the all-time max
    # (or beyond 2.5x the median) — that is new territory, keep the flag
    flags = {"q": "1.124s -> 9.5s (8.5x)"}
    measured = {"q": {"min_s": 9.0, "median_s": 9.2, "all_s": [9.2, 9.0]}}
    bands = {"q": {"n": 24, "min": 1.124, "median": 3.091, "max": 8.46}}
    assert _verdicts(flags, measured, bands=bands)["q"]["verdict"] == "regressed"
    # 2.5x-median arm: inside max but far over the median ceiling
    bands2 = {"q": {"n": 24, "min": 1.124, "median": 3.0, "max": 20.0}}
    measured2 = {"q": {"min_s": 9.0, "median_s": 9.2, "all_s": [9.2, 9.0]}}
    assert (
        _verdicts(flags, measured2, bands=bands2)["q"]["verdict"] == "regressed"
    )


def test_verdict_band_rule_absent_bands_is_noop():
    flags = {"q": "1.0s -> 2.0s (2.0x)"}
    measured = {"q": {"min_s": 1.9, "median_s": 2.0, "all_s": [2.0, 1.9]}}
    out = _verdicts(flags, measured, bands=None)["q"]
    assert out["verdict"] == "regressed" and "history_band_s" not in out


def test_remeasure_sf_matches_bench_derivation():
    assert _remeasure_sf("/root/testdata/sf0.1") == 0.1
    assert _remeasure_sf("/root/testdata/sf0.01/") == 0.01
    assert _remeasure_sf("/tmp/custom") == "/tmp/custom".rsplit("sf", 1)[-1]


def test_adjudicate_main_aborts_on_sf_mismatch(tmp_path, monkeypatch):
    """r8 ADVICE (low): priors recorded at one sf must not be compared
    against idle re-measures taken at another."""
    import adjudicate_regressions as adj

    full = tmp_path / "BENCH_FULL.json"
    full.write_text(
        json.dumps(
            {"sf": 0.01, "regressions": {"q": "1.0s -> 2.0s (2.0x)"}}
        )
    )
    monkeypatch.setattr(adj, "REPO", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    rc = adj.main(["--date", "2026-08-15"])
    assert rc == 1
    doc = json.loads(full.read_text())
    assert doc["regression_adjudication"]["verdict"] == "sf_mismatch"


def test_replace_section_at_file_start(tmp_path):
    """r8 ADVICE (low): a section at offset 0 has no leading newline, so
    the '\\n## '-prefixed find missed it and re-runs appended duplicates."""
    md = tmp_path / "SCALING.md"
    md.write_text("## probe A\nold line\n")
    replace_section(str(md), "\n## probe A", ["## probe A", "new line"])
    text = md.read_text()
    assert text.count("## probe A") == 1
    assert "new line" in text and "old line" not in text


def test_replace_section_midfile_and_append(tmp_path):
    md = tmp_path / "SCALING.md"
    md.write_text("# top\n\n## probe A\na1\n\n## probe B\nb1\n")
    replace_section(str(md), "\n## probe A", ["## probe A", "a2"])
    text = md.read_text()
    assert "a2" in text and "a1" not in text
    assert "b1" in text  # neighbors preserved
    replace_section(str(md), "\n## probe C", ["## probe C", "c1"])
    assert "c1" in md.read_text()


def test_adjudicate_isolates_memo_backed_subprocesses(tmp_path, monkeypatch):
    """r9 review: flagged memo-backed queries must each re-measure in
    their OWN idle_remeasure subprocess — in a shared session an earlier
    flagged query can warm a shared memo and deflate a later query's
    'cold' first rep, auto-adjudicating a real regression as noise."""
    import adjudicate_regressions as adj

    full = tmp_path / "BENCH_FULL.json"
    flags = {
        "containment_neardup_pairs": "1.0s -> 3.0s (3.0x)",  # memo-backed
        "neardup_jaccard_pairs": "1.0s -> 3.0s (3.0x)",  # memo-backed
        "q1_pricing_summary": "0.5s -> 1.5s (3.0x)",  # plain
    }
    full.write_text(json.dumps({"sf": 0.1, "regressions": flags}))
    monkeypatch.setattr(adj, "REPO", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    calls = []

    class FakeProc:
        returncode = 0

        def __init__(self, names):
            q = {
                n: {"min_s": 0.4, "median_s": 0.5, "all_s": [0.6, 0.4]}
                for n in names
            }
            self.stdout = json.dumps(
                {
                    "sf_dir": "/root/testdata/sf0.1",
                    "reps": 2,
                    "loadavg_at_start": [0.1, 0.1, 0.1],
                    "loadavg_at_end": [0.1, 0.1, 0.1],
                    "queries": q,
                }
            )
            self.stderr = ""

    def fake_run(cmd, **kwargs):
        names = cmd[cmd.index(os.path.join(str(tmp_path), "tools", "idle_remeasure.py")) + 1 :]
        calls.append(list(names))
        return FakeProc(names)

    monkeypatch.setattr(adj.subprocess, "run", fake_run)
    rc = adj.main(["--date", "2026-08-15"])
    assert rc == 0
    # one shared batch for the plain query, one isolated call per
    # memo-backed query
    assert ["q1_pricing_summary"] in calls
    assert ["containment_neardup_pairs"] in calls
    assert ["neardup_jaccard_pairs"] in calls
    assert len(calls) == 3
    doc = json.loads(full.read_text())
    verdicts = doc["regression_adjudication"]["queries"]
    assert set(verdicts) == set(flags)
    # memo-backed used the cold rep (0.6), plain used min_s (0.4)
    assert verdicts["neardup_jaccard_pairs"]["basis_s"] == 0.6
    assert verdicts["q1_pricing_summary"]["basis_s"] == 0.4


def test_memo_families_cover_memo_backed_exactly():
    """The family partition drives the adjudication basis; a query added
    to _MEMO_BACKED but not placed in a family (or vice versa) would get
    the wrong regime silently."""
    from bench import _MEMO_BACKED, _MEMO_FAMILIES

    union = set().union(*_MEMO_FAMILIES)
    assert union == _MEMO_BACKED
    # families are disjoint — one shared cache each
    assert sum(len(f) for f in _MEMO_FAMILIES) == len(union)
    # the self-cached refinement names real memo-backed queries
    from bench import _MEMO_SELF_CACHED, memo_warm_prior_queries

    assert _MEMO_SELF_CACHED <= union
    assert not (_MEMO_SELF_CACHED & memo_warm_prior_queries())


def test_adjudicate_keeps_plain_queries_in_one_shared_batch(
    tmp_path, monkeypatch
):
    """r9 verdict item 7: the memo-isolation split must not degrade the
    cheap path — however many NON-memo-backed queries are flagged, they
    all share ONE idle_remeasure subprocess (one Spark session, one
    warmup), while each memo-backed flag still gets its own."""
    import adjudicate_regressions as adj
    from bench import _MEMO_BACKED

    plain = [
        "q1_pricing_summary",
        "topk_orders",
        "q6_revenue_forecast",
        "window_lag_order_gap",
    ]
    memo = sorted(_MEMO_BACKED)[:2]
    assert not (set(plain) & _MEMO_BACKED)
    flags = {n: "1.0s -> 3.0s (3.0x)" for n in plain + memo}

    full = tmp_path / "BENCH_FULL.json"
    full.write_text(json.dumps({"sf": 0.1, "regressions": flags}))
    monkeypatch.setattr(adj, "REPO", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    calls = []

    class FakeProc:
        returncode = 0

        def __init__(self, names):
            q = {
                n: {"min_s": 0.4, "median_s": 0.5, "all_s": [0.6, 0.4]}
                for n in names
            }
            self.stdout = json.dumps(
                {
                    "sf_dir": "/root/testdata/sf0.1",
                    "reps": 2,
                    "loadavg_at_start": [0.1, 0.1, 0.1],
                    "loadavg_at_end": [0.1, 0.1, 0.1],
                    "queries": q,
                }
            )
            self.stderr = ""

    def fake_run(cmd, **kwargs):
        names = cmd[
            cmd.index(
                os.path.join(str(tmp_path), "tools", "idle_remeasure.py")
            )
            + 1 :
        ]
        calls.append(list(names))
        return FakeProc(names)

    monkeypatch.setattr(adj.subprocess, "run", fake_run)
    rc = adj.main(["--date", "2026-08-15"])
    assert rc == 0
    # exactly one batch holds ALL the plain queries (sorted flag order),
    # and each memo-backed query runs alone — total 1 + len(memo) calls
    assert sorted(plain) in calls
    for n in memo:
        assert [n] in calls
    assert len(calls) == 1 + len(memo)


def test_adjudicate_carries_voluntary_entries_forward(tmp_path, monkeypatch):
    """r11: a gate run used to REPLACE the whole regression_adjudication
    block, silently deleting hand-recorded voluntary family
    adjudications (the dedup-family idle re-measure was wiped by the
    same gate run it was recorded for). Voluntary entries must survive a
    flag-driven rewrite — unless the same query is freshly flagged, in
    which case the fresh verdict wins."""
    import adjudicate_regressions as adj

    voluntary = {
        "flag": None,
        "voluntary": True,
        "manual_verdict": "noise",
        "manual_note": "idle family re-measure, dated",
    }
    full = tmp_path / "BENCH_FULL.json"
    full.write_text(
        json.dumps(
            {
                "sf": 0.1,
                "regressions": {
                    "q1_pricing_summary": "1.0s -> 3.0s (3.0x)",
                    "dedup_simhash_pairs": "2.0s -> 9.0s (4.5x)",
                },
                "queries": {},
                "regression_adjudication": {
                    "date": "2026-08-14",
                    "queries": {
                        # survives: voluntary, not freshly flagged
                        "neardup_jaccard_pairs": dict(voluntary),
                        # yields: voluntary but freshly flagged this run
                        "dedup_simhash_pairs": dict(voluntary),
                        # dropped: stale flag-driven entry, not voluntary
                        "token_budget_sample": {
                            "flag": "old", "verdict": "noise",
                        },
                    },
                },
            }
        )
    )
    monkeypatch.setattr(adj, "REPO", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    class FakeProc:
        returncode = 0

        def __init__(self, names):
            q = {
                n: {"min_s": 0.4, "median_s": 0.5, "all_s": [0.6, 0.4]}
                for n in names
            }
            self.stdout = json.dumps(
                {
                    "sf_dir": "/root/testdata/sf0.1",
                    "reps": 2,
                    "loadavg_at_start": [0.1, 0.1, 0.1],
                    "loadavg_at_end": [0.1, 0.1, 0.1],
                    "queries": q,
                }
            )
            self.stderr = ""

    def fake_run(cmd, **kwargs):
        names = cmd[
            cmd.index(
                os.path.join(str(tmp_path), "tools", "idle_remeasure.py")
            )
            + 1 :
        ]
        return FakeProc(names)

    monkeypatch.setattr(adj.subprocess, "run", fake_run)
    assert adj.main(["--date", "2026-08-15"]) == 0

    out = json.loads(full.read_text())["regression_adjudication"]["queries"]
    assert out["neardup_jaccard_pairs"]["voluntary"] is True  # carried
    assert "manual_note" not in out["dedup_simhash_pairs"]  # fresh wins
    assert out["dedup_simhash_pairs"]["verdict"] == "noise"
    assert "token_budget_sample" not in out  # stale flag entries drop
    assert out["q1_pricing_summary"]["verdict"] == "noise"


def test_memo_family_predecessors_order_and_edges():
    """The family members that left the shared memo warm for a target's
    bench prior, in bench order — the warm-up list idle_remeasure runs
    before timing a self-cached query (r11 s2)."""
    from bench import BENCH_QUERIES, memo_family_predecessors

    preds = memo_family_predecessors("dedup_connected_components")
    assert "neardup_jaccard_pairs" in preds
    pos = {n: i for i, n in enumerate(BENCH_QUERIES)}
    assert all(pos[p] < pos["dedup_connected_components"] for p in preds)
    assert preds == sorted(preds, key=pos.__getitem__)
    # first-of-family builder has nothing before it
    assert memo_family_predecessors("neardup_jaccard_pairs") == []
    # non-memo queries have no family at all
    assert memo_family_predecessors("q1_pricing_summary") == []
    assert memo_family_predecessors("not_a_query") == []


def test_verdict_self_cached_with_family_warm_adjudicates_both_ways():
    """r11 s2: when idle_remeasure warmed the family predecessors first
    (family_warmed in the measurement), a self-cached query's FIRST rep
    ran in the bench-comparable regime (shared memo warm, own cache
    cold) — so it adjudicates noise AND regressed automatically,
    closing the dedup_connected_components manual-adjudication hole."""
    flags = {"dedup_connected_components": "2.7s -> 4.3s (1.6x)"}
    measured = {
        "dedup_connected_components": {
            "min_s": 0.05,
            "median_s": 0.05,
            "all_s": [2.6, 0.05, 0.05],
            "family_warmed": ["neardup_jaccard_pairs"],
        }
    }
    out = _verdicts(flags, measured)["dedup_connected_components"]
    assert out["basis_s"] == 2.6
    assert "family warm" in out["basis"]
    assert out["verdict"] == "noise"
    # same regime, genuinely slower -> real regression, no manual step
    measured["dedup_connected_components"]["all_s"] = [4.4, 0.05, 0.05]
    out = _verdicts(flags, measured)["dedup_connected_components"]
    assert out["verdict"] == "regressed"
    # without the family warm-up the old conservative manual branch holds
    del measured["dedup_connected_components"]["family_warmed"]
    out = _verdicts(flags, measured)["dedup_connected_components"]
    assert out["verdict"].startswith("memo_cold_exceeds_prior")


def test_host_probe_steal_math_and_shape():
    """r11 s2: the adjudication gate records hypervisor steal next to its
    verdicts (wide stages degrade 2-4x under co-tenant steal while
    loadavg reads calm — measured the day the jaccard build flagged)."""
    from host_probe import measure_steal, steal_fraction

    # fields: user nice system idle iowait irq softirq steal
    before = [100, 0, 50, 800, 10, 0, 0, 40]
    after = [200, 0, 70, 880, 10, 0, 0, 140]
    # deltas: 100+0+20+80+0+0+0+100 = 300 total, 100 steal
    assert steal_fraction(before, after) == pytest.approx(100 / 300)
    assert steal_fraction(before, before) == 0.0

    out = measure_steal(seconds=0.2, procs=2)
    assert set(out) == {"steal_pct", "throughput_spread", "procs"}
    assert out["procs"] == 2
    assert 0.0 <= out["steal_pct"] <= 100.0
    assert out["throughput_spread"] >= 1.0

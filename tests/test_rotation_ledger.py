"""Rotation-ledger gates (VERDICT r5 item #8): the committed ledger is
current, and no operator that ever held a driver-green row has silently
fallen out of coverage."""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))

from tools.rotation_ledger import build_ledger, render  # noqa: E402


def test_no_silent_coverage_loss():
    """Every operator that was ever driver-verified must still be
    registered — in the window or behind the pytest oracle gate."""
    ledger = build_ledger()
    lost = [
        name
        for name, e in ledger.items()
        if e["green"] and e["status"].startswith("UNREGISTERED")
    ]
    assert not lost, f"operators lost from coverage after rotation: {lost}"


def test_committed_ledger_is_current():
    committed = (REPO / "docs" / "ROTATION_LEDGER.md").read_text()
    assert committed == render(build_ledger()), (
        "docs/ROTATION_LEDGER.md is stale — regenerate with "
        "`python tools/rotation_ledger.py --write`"
    )


def test_untracked_round_file_is_ignored():
    """Simulate judge time exactly: the driver writes the new round's
    CORRECTNESS json AFTER the builder's last commit, so it is untracked
    — build_ledger must not fold it, keeping the committed ledger
    current (VERDICT r7 task #1)."""
    import json

    before = render(build_ledger())
    fake = REPO / "CORRECTNESS_r99.json"
    assert not fake.exists(), "leftover fixture from a previous run"
    try:
        fake.write_text(
            json.dumps(
                {
                    "q1_pricing_summary": {
                        "rows_match": True,
                        "schema_match": True,
                        "hash_match": True,
                    }
                }
            )
        )
        assert render(build_ledger()) == before, (
            "build_ledger folded an untracked CORRECTNESS file — the "
            "committed-ledger currency gate would go red at judge time"
        )
    finally:
        fake.unlink(missing_ok=True)


def test_every_red_row_was_eventually_green():
    """A shape that went red in some round must have a later green round
    (the project's fix-forward discipline) — guards against quietly
    rotating a red shape out of the window instead of fixing it."""
    ledger = build_ledger()
    stuck = [
        name
        for name, e in ledger.items()
        if e["red"] and (not e["green"] or max(e["green"]) < max(e["red"]))
    ]
    assert not stuck, f"operators whose last driver verdict was red: {stuck}"


def test_bench_agreement_rule():
    """VERDICT r10 #2: one over-correcting normalization must not read
    as a regression — only raw AND every normalization agreeing past
    the threshold declares one. The r9->r10 artifact pair (raw +1.0%,
    CPU-normalized +21%) is the canonical phantom."""
    from tools.round_close import agreement_verdict

    r9 = {"raw_total_sec": 31.84, "normalized_total_sec": 30.16}
    r10 = {"raw_total_sec": 32.18, "normalized_total_sec": 36.50}
    status, deltas = agreement_verdict(r9, r10)
    assert status == "flat" and deltas["normalized_total_sec"] > 0.2

    # genuine regression: all three move together
    a = {"raw_total_sec": 30.0, "normalized_total_sec": 30.0,
         "workload_normalized_total_sec": 30.0}
    b = {k: v * 1.2 for k, v in a.items()}
    assert agreement_verdict(a, b)[0] == "regression"
    assert agreement_verdict(b, a)[0] == "improvement"
    # sub-threshold moves are flat; missing metrics don't block
    c = {k: v * 1.03 for k, v in a.items()}
    assert agreement_verdict(a, c)[0] == "flat"
    assert agreement_verdict({"raw_total_sec": 30.0},
                             {"raw_total_sec": 40.0})[0] == "regression"
    assert agreement_verdict({}, {})[0] == "flat"


def test_canary_workload_sign_disagreement_is_inconclusive():
    """VERDICT r13 #1/#2: in the r12->r13 artifact pair BOTH canaries ran
    FASTER (cpu 2.051->1.592, workload 0.366->0.274) while the raw total
    ran +8.8% SLOWER — a host-speed model cannot improve 25% while ~20
    untouched queries degrade 10-30%, so dividing by it AMPLIFIED the
    environment shift into a phantom +40% normalized 'regression'. The
    rule must report such a round as 'inconclusive' (rerun required),
    never declare. Pinned beside the r9->r10 phantom above."""
    from tools.round_close import agreement_verdict

    r12 = {"raw_total_sec": 26.241, "normalized_total_sec": 18.165,
           "workload_normalized_total_sec": 18.632,
           "host_canary_sec": 2.051, "workload_canary_sec": 0.366,
           "method": "min2"}
    r13 = {"raw_total_sec": 28.546, "normalized_total_sec": 25.459,
           "workload_normalized_total_sec": 27.1,
           "host_canary_sec": 1.592, "workload_canary_sec": 0.274,
           "method": "min2"}
    status, deltas = agreement_verdict(r12, r13)
    assert status == "inconclusive", (status, deltas)
    # the opposing canary moves are still surfaced in the deltas
    assert deltas["host_canary_sec"] < -0.05
    assert deltas["raw_total_sec"] > 0.05

    # a slowdown the canaries AGREE with (host genuinely slower OR flat)
    # still declares a regression
    r13_agree = dict(r13, host_canary_sec=2.05, workload_canary_sec=0.37)
    assert agreement_verdict(r12, r13_agree)[0] == "regression"
    # an improvement with faster canaries is same-sign — still declared
    r12_fast = {k: (v * 0.8 if isinstance(v, float) else v)
                for k, v in r12.items()}
    assert agreement_verdict(r12, r12_fast)[0] == "improvement"
    # rows without canary fields (pre-r8 trend) keep the old behavior
    assert agreement_verdict({"raw_total_sec": 30.0},
                             {"raw_total_sec": 40.0})[0] == "regression"


def test_per_query_attribution_rule():
    """VERDICT r11 #7: a >50% per-query move is 'sampling' when no commit
    between the two bench artifacts touched the query's module, and
    'code-change' when one did; sub-floor and sub-threshold moves are
    ignored."""
    from tools.round_close import per_query_verdicts

    modpaths = {"dedup_exact": "odbc2deltalake_spark/queries/dedup_ops.py",
                "q1_pricing_summary": "odbc2deltalake_spark/queries/analytics.py"}
    prev = {"dedup_exact": 0.523, "q1_pricing_summary": 1.0,
            "tiny": 0.05, "steady": 2.0}
    cur = {"dedup_exact": 2.384, "q1_pricing_summary": 1.8,
           "tiny": 0.25, "steady": 2.2}

    # nothing touched -> both big movers are sampling; tiny (under the
    # 0.3s floor) and steady (under 50%) never flag
    got = per_query_verdicts(prev, cur, set(), modpaths)
    assert [(n, k) for n, _, k, _ in got] == [
        ("dedup_exact", "sampling"), ("q1_pricing_summary", "sampling")]

    # the analytics module was touched -> q1 reclassifies, dedup stays
    got = per_query_verdicts(
        prev, cur, {"odbc2deltalake_spark/queries/analytics.py"}, modpaths)
    kinds = {n: k for n, _, k, _ in got}
    assert kinds == {"dedup_exact": "sampling",
                     "q1_pricing_summary": "code-change"}


def test_r11_dedup_exact_reproduces_as_sampling():
    """The canonical r11 phantom: dedup_exact +356% r10->r11 with
    dedup_ops.py untouched between the two bench artifacts. Under the
    r13 closure-widened attribution (ADVICE r12 #4) the honest label is
    'possible-code-change' — shared code the query imports WAS touched
    in that range, so the classifier flags it for a human read instead
    of hiding it as weather — but it must NEVER escalate to
    'code-change' (the defining module is untouched; r12's min-of-2
    later proved the swing was sampling)."""
    import json
    import subprocess

    from tools.round_close import (
        _final_headline,
        _query_module_paths,
        per_query_verdicts,
    )

    heads = {}
    for rn in (10, 11):
        p = REPO / f"BENCH_r{rn}.json"
        if not p.exists():
            import pytest

            pytest.skip("bench artifacts not present")
        heads[rn] = _final_headline(json.loads(p.read_text()).get("tail", ""))

    def commit_of(name: str) -> str:
        return subprocess.run(
            ["git", "log", "--format=%H", "-1", "--", name],
            capture_output=True, text=True, cwd=REPO,
        ).stdout.strip()

    c10, c11 = commit_of("BENCH_r10.json"), commit_of("BENCH_r11.json")
    if not (c10 and c11):
        import pytest

        pytest.skip("git history unavailable")
    changed = set(
        subprocess.run(
            ["git", "diff", "--name-only", f"{c10}..{c11}"],
            capture_output=True, text=True, cwd=REPO,
        ).stdout.splitlines()
    )
    got = per_query_verdicts(
        heads[10]["queries"], heads[11]["queries"], changed,
        _query_module_paths(),
    )
    by_name = {n: k for n, _, k, _ in got}
    assert by_name.get("dedup_exact") in (
        "sampling", "possible-code-change"
    ), got
    assert by_name.get("dedup_exact") != "code-change", got


def test_method_change_hop_is_never_a_verdict():
    """VERDICT r12 #4: the r11->r12 min-of-2 switch lowers every entry
    with zero code change — both the agreement rule and the per-query
    classifier must report 'method-change' across that boundary, never
    an improvement/regression or a sampling/code attribution."""
    from tools.round_close import agreement_verdict, per_query_verdicts

    r11 = {"raw_total_sec": 33.282, "normalized_total_sec": 26.488,
           "method": "single"}
    r12 = {"raw_total_sec": 26.241, "normalized_total_sec": 18.165,
           "method": "min2"}
    status, deltas = agreement_verdict(r11, r12)
    assert status == "method-change"
    assert deltas["raw_total_sec"] < -0.2  # the raw drop is still shown

    # same-method hops keep their ordinary verdicts
    r12b = dict(r12, raw_total_sec=26.0, normalized_total_sec=18.0)
    assert agreement_verdict(r12, r12b)[0] == "flat"
    # rows without a method tag (pre-r13 trend files) stay comparable
    assert agreement_verdict({"raw_total_sec": 30.0},
                             {"raw_total_sec": 40.0})[0] == "regression"

    got = per_query_verdicts(
        {"dedup_exact": 2.384}, {"dedup_exact": 0.409},
        set(), {"dedup_exact": "odbc2deltalake_spark/queries/dedup_ops.py"},
        method_change=True,
    )
    assert [(n, k) for n, _, k, _ in got] == [("dedup_exact", "method-change")]


def test_possible_code_change_tier():
    """ADVICE r12 #4: a move on a query whose DEFINING module is
    untouched but whose import closure (shared operators) was touched
    classifies 'possible-code-change' — flagged for a human read, not
    hidden as sampling, not asserted as code-change."""
    from tools.round_close import per_query_verdicts

    modpaths = {"bm25_index_search": [
        "odbc2deltalake_spark/queries/text_ops.py",
        "odbc2deltalake_spark/operators/bm25_index.py",
        "odbc2deltalake_spark/tablestore.py",
    ]}
    prev, cur = {"bm25_index_search": 6.0}, {"bm25_index_search": 12.0}

    got = per_query_verdicts(prev, cur, set(), modpaths)
    assert got[0][2] == "sampling"
    got = per_query_verdicts(
        prev, cur, {"odbc2deltalake_spark/operators/bm25_index.py"}, modpaths)
    assert got[0][2] == "possible-code-change"
    got = per_query_verdicts(
        prev, cur, {"odbc2deltalake_spark/queries/text_ops.py"}, modpaths)
    assert got[0][2] == "code-change"


def test_query_module_closure_includes_operators():
    """The real registry mapping must carry each query's import closure:
    bm25_index_search's list leads with its defining module and includes
    the operator module behind it."""
    from tools.round_close import _query_module_paths

    paths = _query_module_paths()
    got = paths.get("bm25_index_search")
    assert got and got[0] == "odbc2deltalake_spark/queries/text_ops.py"
    assert "odbc2deltalake_spark/operators/bm25_index.py" in got


def test_bench_trend_is_contiguous_with_method_tags():
    """VERDICT r12 #8 + #4: docs/bench_trend.json carries one row per
    committed BENCH round with no gaps (rounds 4-7 are honest PARTIAL
    rows — truncated artifacts, no invented totals) and every row is
    method-tagged (single before r12, min2 after)."""
    import json

    p = REPO / "docs" / "bench_trend.json"
    rows = json.loads(p.read_text())
    rounds = [r["round"] for r in rows]
    assert rounds == list(range(1, max(rounds) + 1)), rounds
    for r in rows:
        assert r.get("method") == ("min2" if r["round"] >= 12 else "single")
        if r.get("partial"):
            assert r["raw_total_sec"] is None  # never invented
        else:
            assert r["raw_total_sec"] is not None


def test_evicted_rows_are_only_previously_green_ones():
    """Eviction verification covers the rows whose hash matched in the
    last driver round and that left the window; a failed row was never
    green there."""
    from tools.round_close import evicted_green

    last = {
        "kept": {"hash_match": True},
        "moved_out": {"hash_match": True},
        "failed_out": {"hash_match": False},
        "rows_only_out": {"hash_match": None},
    }
    assert evicted_green(last, {"kept"}) == ["moved_out"]
    assert evicted_green(last, set(last)) == []


def test_round_close_refuses_unknown_arguments(capsys):
    """An unknown flag or --help stops round_close before step 1: the
    ledger and the bench trend stay byte-identical."""
    import pytest

    from tools.round_close import main

    files = [REPO / "docs/ROTATION_LEDGER.md", REPO / "docs/bench_trend.json"]
    before = [f.read_bytes() for f in files]
    with pytest.raises(SystemExit) as bogus:
        main(["--bogus"])
    assert bogus.value.code == 2
    with pytest.raises(SystemExit) as helped:
        main(["--help"])
    assert helped.value.code == 0
    assert "--sf01" in capsys.readouterr().out
    assert [f.read_bytes() for f in files] == before

"""Round-close checklist executor (VERDICT r6 #1: the regen step must be
part of the routine, not a memory).

    python tools/round_close.py [--full] [--sf01]

Steps, in order, fail-fast:

1. Regenerate docs/ROTATION_LEDGER.md from the committed CORRECTNESS_r*
   artifacts and report whether it changed (if it did, it must be
   committed — test_rotation_ledger enforces currency from a clean
   checkout).
2. Recompute the headline sum from the NEWEST BENCH_r*.json tail and
   print it — round claims must quote THIS number, nothing else
   (the r6 "31.1s" incident: a number no committed artifact contained).
   2b regenerates docs/bench_trend.json (now with per-query series);
   2c applies the raw+normalized agreement rule; 2d classifies >50%
   per-query moves as 'sampling' vs 'code-change' via git attribution
   (VERDICT r11 #7).
3. Untracked round artifacts (CORRECTNESS/BENCH jsons) are listed as
   MUST-COMMIT.
4. --sf01 (implied by --full): run the sf0.1 window sweep and the
   sf0.01 verification of rows evicted from the driver window.
5. --full: also run the ledger test file and the overflow oracle gate.

Arguments are parsed before step 1: an unknown flag (or --help) exits
without writing anything.
"""

from __future__ import annotations

import argparse
import json
import re
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent


def sh(*args: str) -> str:
    return subprocess.run(args, capture_output=True, text=True, cwd=REPO).stdout


def _final_headline(tail: str) -> dict | None:
    """The LAST parseable headline JSON line in a BENCH artifact's tail.

    bench.py prints the full per-query dump first and the one-line
    headline last; driver artifacts embed both in `tail` (newline-
    escaped). Earlier rounds' tails may truncate the first line mid-
    object — only complete lines parse, and the final line wins."""
    best = None
    for ln in tail.replace("\\n", "\n").splitlines():
        ln = ln.strip()
        if not (ln.startswith("{") and ln.endswith("}")):
            continue
        try:
            d = json.loads(ln)
        except json.JSONDecodeError:
            continue
        if d.get("metric") == "headline_query_total":
            best = d
    return best


def _round_method(rnd: int | None) -> str:
    """Per-query timing method used by bench.py in a given round
    (VERDICT r12 #4): r12 switched every headline entry to min-of-2
    (r11 #2 order), which systematically lowers entries vs the earlier
    single-sample method — trend rows carry the tag so a cross-method
    hop is never read as an engine-wide speedup."""
    return "min2" if (rnd or 0) >= 12 else "single"


def _recovered_extras(tail: str) -> dict[str, list[float]]:
    """Salvage complete ``"name": {"first": f, "rerun": r}`` pairs from
    a truncated BENCH tail (rounds 4-7 predate the compact headline
    line; their 2000-byte tails keep only the end of the diagnostics
    dump). These are EXTRAS/rerun diagnostics, not headline entries —
    recorded under their own key so no rule mistakes them for headline
    per-query times."""
    out: dict[str, list[float]] = {}
    for m in re.finditer(
        r'"(\w+)":\s*\{"first":\s*([0-9.]+),\s*"rerun":\s*([0-9.]+)\}',
        tail.replace("\\n", "\n"),
    ):
        out[m.group(1)] = [float(m.group(2)), float(m.group(3))]
    return out


def evicted_green(last_round: dict, window_now: set) -> list[str]:
    """Queries the last driver CORRECTNESS round verified green — its
    hash matched the oracle — that the current window no longer holds.
    A row that failed there was never green, so eviction loses nothing
    for it."""
    green = {n for n, row in last_round.items() if row.get("hash_match") is True}
    return sorted(green - window_now)


def agreement_verdict(
    prev: dict, cur: dict, thr: float = 0.05
) -> tuple[str, dict[str, float]]:
    """('regression'|'improvement'|'flat', per-metric deltas): a
    regression is DECLARED only when the raw total and every available
    normalized total move the same direction past ``thr`` — one
    normalization alone is host weather (VERDICT r10 #2: the CPU canary
    turned a flat r10 into a phantom −21%)."""
    total_keys = ("raw_total_sec", "normalized_total_sec",
                  "workload_normalized_total_sec")
    deltas: dict[str, float] = {}
    for key in total_keys + ("host_canary_sec", "workload_canary_sec"):
        a, b = prev.get(key), cur.get(key)
        if a and b:
            deltas[key] = (b - a) / a
    # VERDICT r12 #4: across a timing-method boundary (single -> min2)
    # the totals are not comparable — min-of-2 lowers every entry with
    # zero code change. Report the hop as such, never as a per-engine
    # verdict.
    if ("method" in prev or "method" in cur) and (
        prev.get("method") != cur.get("method")
    ):
        return "method-change", deltas
    # VERDICT r13 #2: canary-vs-workload sign disagreement. A host-speed
    # model in which the canaries run FASTER while the workload runs
    # SLOWER (or vice versa) past the threshold is not measuring host
    # speed — dividing by it AMPLIFIES the environment shift instead of
    # removing it (r12->r13: canaries −22%/−25% while raw +8.8% inflated
    # the normalized delta to +40%). The interleaved r12/r13 rerun (see
    # docs/bench_trend.json narrative) confirmed the engine was flat.
    # Such a round is inconclusive: rerun on a quiet host, never declare.
    raw = deltas.get("raw_total_sec")
    if raw is not None and abs(raw) > thr:
        opposing = [
            k for k in ("host_canary_sec", "workload_canary_sec")
            if k in deltas and deltas[k] * raw < 0 and abs(deltas[k]) > thr
        ]
        if opposing:
            return "inconclusive", deltas
    totals = {k: deltas[k] for k in total_keys if k in deltas}
    if not totals:
        return "flat", deltas
    worse = [k for k, v in totals.items() if v > thr]
    better = [k for k, v in totals.items() if v < -thr]
    if len(worse) == len(totals):
        return "regression", deltas
    if len(better) == len(totals):
        return "improvement", deltas
    return "flat", deltas


def _module_import_closure(rel_path: str) -> list[str]:
    """Repo-relative paths of ``rel_path`` plus every odbc2deltalake_spark
    module it (transitively) imports — including imports inside function
    bodies, which is where query modules pull their operators from. The
    defining module stays first (ADVICE r12 #4: a commit to shared code a
    query executes must not classify as 'sampling')."""
    seen: list[str] = []
    stack = [rel_path]
    while stack:
        p = stack.pop()
        if p in seen:
            continue
        f = REPO / p
        if not f.exists():
            continue
        seen.append(p)
        src = f.read_text()
        for m in re.finditer(
            r"(?:from|import)\s+(odbc2deltalake_spark(?:\.\w+)*)", src
        ):
            name = m.group(1)
            cand = Path(name.replace(".", "/") + ".py")
            if not (REPO / cand).exists():
                cand = Path(name.replace(".", "/")) / "__init__.py"
            if (REPO / cand).exists():
                stack.append(str(cand))
    return seen


def _query_module_paths() -> dict[str, list[str]]:
    """query name -> repo-relative module paths: the defining module
    FIRST, then its transitive odbc2deltalake_spark import closure."""
    if str(REPO) not in sys.path:
        sys.path.insert(0, str(REPO))
    from odbc2deltalake_spark.queries import registry

    registry.load_all()
    out: dict[str, list[str]] = {}
    closures: dict[str, list[str]] = {}
    for name, spec in registry.QUERIES.items():
        mod = sys.modules.get(spec.fn.__module__)
        f = getattr(mod, "__file__", None)
        if not f:
            continue
        try:
            rel = str(Path(f).resolve().relative_to(REPO))
        except ValueError:
            continue
        if rel not in closures:
            closures[rel] = _module_import_closure(rel)
        out[name] = closures[rel]
    return out


def per_query_verdicts(
    prev_q: dict[str, float],
    cur_q: dict[str, float],
    changed_paths: set[str],
    modpaths: dict[str, str | list[str]],
    thr: float = 0.5,
    floor: float = 0.3,
    method_change: bool = False,
) -> list[tuple[str, float, str, str | None]]:
    """(name, rel_delta, kind, module) for every shared per-query timing
    that moved more than ``thr`` between rounds (VERDICT r11 #7 + r12
    #4, ADVICE r12 #4). Kinds:

    - 'method-change': the two rounds timed with different methods
      (single vs min-of-2) — no per-query verdict is meaningful.
    - 'code-change': a commit in the inter-round range touched the
      query's DEFINING module.
    - 'possible-code-change': the defining module is untouched but a
      module in its import closure (shared operators, tablestore) was —
      a candidate real regression that needs a human read.
    - 'sampling': nothing the query executes changed — host/JIT weather
      (the r11 dedup_exact +356% case).

    ``modpaths`` values may be a single path or a list with the defining
    module first. Entries where both samples sit under ``floor`` seconds
    are noise-band and skipped."""
    out: list[tuple[str, float, str, str | None]] = []
    for name in sorted(set(prev_q) & set(cur_q)):
        a, b = prev_q[name], cur_q[name]
        if not a or max(a, b) < floor:
            continue
        delta = (b - a) / a
        if abs(delta) <= thr:
            continue
        paths = modpaths.get(name)
        paths = [paths] if isinstance(paths, str) else list(paths or [])
        mod = paths[0] if paths else None
        if method_change:
            kind = "method-change"
        elif mod and mod in changed_paths:
            kind = "code-change"
        elif any(p in changed_paths for p in paths[1:]):
            kind = "possible-code-change"
        else:
            kind = "sampling"
        out.append((name, delta, kind, mod))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(
        description="Run the round-close checklist (see the module docstring)."
    )
    ap.add_argument(
        "--sf01",
        action="store_true",
        help="also run the sf0.1 window sweep and the evicted-row check",
    )
    ap.add_argument(
        "--full",
        action="store_true",
        help="--sf01 plus the ledger tests and the overflow oracle gate",
    )
    args = ap.parse_args(argv)
    run_sf01 = args.full or args.sf01
    rc = 0
    # 1. ledger regen
    before = (REPO / "docs/ROTATION_LEDGER.md").read_text()
    subprocess.run(
        [sys.executable, "tools/rotation_ledger.py", "--write"], cwd=REPO, check=True
    )
    after = (REPO / "docs/ROTATION_LEDGER.md").read_text()
    if before != after:
        print("LEDGER: regenerated with CHANGES -> commit docs/ROTATION_LEDGER.md")
    else:
        print("LEDGER: current")

    # 2. headline from the newest committed bench artifact
    # canonical per-round artifacts only: BENCH_r<NN>.json — side
    # artifacts like BENCH_r14_c8.json (the driver's low-core-count run)
    # must not create duplicate trend rows or steal the "newest" slot
    benches = sorted(
        p for p in REPO.glob("BENCH_r*.json")
        if re.fullmatch(r"BENCH_r\d+\.json", p.name)
    )
    if benches:
        latest = benches[-1]
        d = json.loads(latest.read_text())
        tail = d.get("tail", "")
        m = re.search(r'"queries": \{([^}]*)\}', tail)
        if m:
            qs = json.loads("{" + m.group(1) + "}")
            print(
                f"BENCH: {latest.name} headline sum = "
                f"{sum(qs.values()):.1f}s over {len(qs)} queries "
                "(quote THIS number, no other)"
            )
        else:
            print(f"BENCH: {latest.name} has no parseable queries dict")

    # 2b. machine-readable canary trend (VERDICT r9 #8): one row per
    # round with the (raw, canary, normalized) triple, regenerated from
    # EVERY committed BENCH artifact so backfill is automatic and the
    # file can never drift from the artifacts it summarizes. Rounds
    # before the canary existed record nulls — honest gaps, not guesses.
    trend = []
    trend_paths: list[str] = []  # artifact filename per trend row (2d)
    for p in benches:
        d = json.loads(p.read_text())
        head = _final_headline(d.get("tail", ""))
        if head is None:
            # rounds 4-7 predate the compact headline line; their
            # truncated tails keep no recoverable total (VERDICT r12
            # #8). Emit a PARTIAL row — nulls for the unrecoverable
            # fields, salvaged extras first/rerun diagnostics under
            # their own key — so the series stays contiguous without
            # inventing numbers.
            trend_paths.append(p.name)
            trend.append({
                "round": d.get("n"),
                "raw_total_sec": None,
                "host_canary_sec": None,
                "normalized_total_sec": None,
                "workload_canary_sec": None,
                "workload_normalized_total_sec": None,
                "n_queries": 0,
                "sf": d.get("sf"),
                "method": _round_method(d.get("n")),
                "partial": True,
                "queries": {},
                "recovered_extras": _recovered_extras(d.get("tail", "")),
            })
            continue
        trend_paths.append(p.name)
        norm = head.get("normalized_total_sec")
        canary = head.get("host_canary_sec")
        if norm is None and canary:
            # r8 recorded the canary before bench.py emitted the
            # normalized field — derive it with bench.py's own formula
            # and anchor so the trend line has no artificial gap
            if str(REPO) not in sys.path:
                sys.path.insert(0, str(REPO))
            from bench import CANARY_ANCHOR_SEC

            norm = round(head["value"] * (CANARY_ANCHOR_SEC / canary), 3)
        trend.append({
            "round": d.get("n"),
            "raw_total_sec": head.get("value"),
            "host_canary_sec": canary,
            "normalized_total_sec": norm,
            "workload_canary_sec": head.get("workload_canary_sec"),
            "workload_normalized_total_sec": head.get(
                "workload_normalized_total_sec"
            ),
            "n_queries": len(head.get("queries", {})),
            "sf": head.get("sf"),
            # timing method (VERDICT r12 #4): min-of-2 from r12 on —
            # cross-method hops are reported as method-change, not as
            # engine-wide speedups
            "method": _round_method(d.get("n")),
            # per-query series (VERDICT r11 #2/#7): gives the
            # sampling-vs-regression classifier history to read
            "queries": head.get("queries") or {},
        })
    trend_path = REPO / "docs" / "bench_trend.json"
    trend_text = json.dumps(trend, indent=1) + "\n"
    if not trend_path.exists() or trend_path.read_text() != trend_text:
        trend_path.write_text(trend_text)
        print("TREND: docs/bench_trend.json regenerated -> commit it")
    else:
        print("TREND: docs/bench_trend.json current")

    # 2c. regression agreement rule (VERDICT r10 #2): a single
    # normalization over-corrects (the r10 CPU canary turned a flat
    # round into a phantom −21%). A round-over-round regression is
    # DECLARED only when the raw total AND every available normalized
    # total move the same direction past the threshold; otherwise the
    # swing is host weather and is reported as such.
    if len(trend) >= 2:
        prev, cur = trend[-2], trend[-1]
        span = f"r{prev['round']}->r{cur['round']}"
        status, deltas = agreement_verdict(prev, cur)
        if deltas:
            shown = {k: f"{v:+.1%}" for k, v in deltas.items()}
            if status == "regression":
                print(f"AGREEMENT: REGRESSION {span} "
                      f"(raw and all normalizations agree): {shown}")
                rc = 1
            elif status == "improvement":
                print(f"AGREEMENT: improvement {span}: {shown}")
            elif status == "method-change":
                print(f"AGREEMENT: METHOD-CHANGE {span} "
                      f"({prev.get('method')} -> {cur.get('method')}) — "
                      f"totals not comparable, no verdict: {shown}")
            elif status == "inconclusive":
                print(f"AGREEMENT: INCONCLUSIVE {span} — the canaries "
                      f"moved OPPOSITE to the raw total past the "
                      f"threshold, so the normalizations amplify an "
                      f"environment shift instead of removing it; rerun "
                      f"interleaved on one host required, no verdict: "
                      f"{shown}")
            else:
                print(f"AGREEMENT: flat/mixed {span} — no regression "
                      f"declared (host weather unless ALL agree): {shown}")
        elif status == "method-change":
            print(f"AGREEMENT: METHOD-CHANGE {span} "
                  f"({prev.get('method')} -> {cur.get('method')}) — "
                  f"totals not comparable, no verdict")

        # 2d. per-query attribution (VERDICT r11 #7): any shared query
        # whose raw time moved >50% round-over-round is flagged and
        # classified — 'sampling' when no commit between the two bench
        # artifacts touched its defining module, 'code-change' (with the
        # touching commits named) when one did. Informational: sampling
        # swings must not fail the round, and code-change swings need a
        # human read of direction/intent.
        if trend[-2].get("queries") and trend[-1].get("queries"):
            prev_commit = sh(
                "git", "log", "--format=%H", "-1", "--", trend_paths[-2]
            ).strip()
            cur_commit = sh(
                "git", "log", "--format=%H", "-1", "--", trend_paths[-1]
            ).strip()
            changed: set[str] = set()
            if prev_commit and cur_commit:
                changed = {
                    ln.strip()
                    for ln in sh(
                        "git", "diff", "--name-only",
                        f"{prev_commit}..{cur_commit}",
                    ).splitlines()
                    if ln.strip()
                }
            verdicts = per_query_verdicts(
                trend[-2]["queries"], trend[-1]["queries"],
                changed, _query_module_paths(),
                method_change=(
                    trend[-2].get("method") != trend[-1].get("method")
                ),
            )
            for name, delta, kind, mod in verdicts:
                note = ""
                if kind == "code-change" and mod:
                    touching = sh(
                        "git", "log", "--format=%h", f"{prev_commit}..{cur_commit}",
                        "--", mod,
                    ).split()
                    note = f" (commits touching {mod}: {','.join(touching[:5])})"
                print(f"PERQUERY: {name} {delta:+.0%} {span} -> {kind}{note}")
            if not verdicts:
                print(f"PERQUERY: no >50% per-query moves {span}")

    # 3. untracked round artifacts
    untracked = [
        ln[3:]
        for ln in sh("git", "status", "--porcelain").splitlines()
        if ln.startswith("??")
        and re.match(r"(CORRECTNESS|BENCH)_r\d+\.json", ln[3:])
    ]
    for f in untracked:
        print(f"MUST-COMMIT: {f} is untracked")
        rc = 1
    if before != after:
        rc = 1

    # 3b. evicted-row verification (VERDICT r14 #7): every query that was
    # green in the LATEST driver CORRECTNESS round but now sits OUTSIDE
    # the driver window (i.e. evicted by a rotation this round) gets
    # one committed sf0.01 comparator run, so "still green after
    # eviction" is an in-tree artifact rather than the builder's word.
    # Runs Spark only under --full/--sf01; plain mode audits the file.
    evicted_path = REPO / "docs" / "evicted_verification.json"
    corr = sorted(
        REPO.glob("CORRECTNESS_r*.json"),
        key=lambda p: int(re.search(r"r(\d+)", p.name).group(1)),
    )
    if corr:
        from odbc2deltalake_spark.queries import registry as _reg2

        _reg2.load_all()
        window_now = {
            s.name for s in _reg2.ordered_specs()[: _reg2.DRIVER_WINDOW]
        }
        evicted = evicted_green(json.loads(corr[-1].read_text()), window_now)
        if evicted and run_sf01:
            r = subprocess.run(
                [sys.executable, "tools/check_correctness.py",
                 "/root/testdata/sf0.01", *evicted,
                 f"--json={evicted_path}"],
                cwd=REPO,
            )
            rc = rc or r.returncode
        if evicted:
            if evicted_path.exists():
                ev = json.loads(evicted_path.read_text())
                missing = [n for n in evicted if n not in ev.get("results", {})]
                bad = [n for n, row in ev.get("results", {}).items()
                       if row.get("status") == "fail"]
                if missing or bad:
                    print(f"EVICTED: STALE/FAILING — missing {missing}, "
                          f"failing {bad} (re-run --sf01)")
                    rc = 1
                else:
                    print(f"EVICTED: {evicted} verified green at sf0.01 "
                          "(docs/evicted_verification.json)")
            else:
                print(f"EVICTED: {evicted} have NO committed verification — "
                      "run tools/round_close.py --sf01")
                rc = 1
        else:
            print("EVICTED: none (window superset of last driver round)")

    # 4. sf0.1 window sweep (VERDICT r9 #5): the driver gate runs sf0.01
    # and bench runs sf0.1 WITHOUT an oracle — spill paths, partial-agg
    # thresholds and AQE decisions differ at 10×, so once per round the
    # 50 window queries' hash comparison runs at sf0.1 and the result is
    # recorded machine-readable. Run by --full (or --sf01 alone); plain
    # mode just audits the recorded artifact.
    sweep_path = REPO / "docs" / "sf01_window_sweep.json"
    if run_sf01:
        r = subprocess.run(
            [sys.executable, "tools/check_correctness.py",
             "/root/testdata/sf0.1", "--window", "--flagships",
             f"--json={sweep_path}"],
            cwd=REPO,
        )
        rc = rc or r.returncode
    if sweep_path.exists():
        sweep = json.loads(sweep_path.read_text())
        bad = [
            n for n, row in sweep["results"].items()
            if row["status"] == "fail"
        ]
        n_pass = sum(
            1 for row in sweep["results"].values()
            if row["status"] in ("pass", "rows-only")
        )
        if bad:
            print(f"SF0.1-SWEEP: FAILURES {bad}")
            rc = 1
        else:
            print(f"SF0.1-SWEEP: {n_pass} window entries green at sf0.1")
    else:
        print("SF0.1-SWEEP: docs/sf01_window_sweep.json MISSING — run "
              "tools/round_close.py --sf01 before closing the round")
        rc = 1

    if args.full:
        r = subprocess.run(
            [sys.executable, "-m", "pytest", "tests/test_rotation_ledger.py",
             "tests/test_correctness_extras.py", "-q"],
            cwd=REPO,
        )
        rc = rc or r.returncode
    print("round_close:", "CLEAN" if rc == 0 else "ACTION REQUIRED")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())

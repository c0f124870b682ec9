#!/usr/bin/env python3
"""Per-key bench-budget gate (r8; close protocol reworked r12) — the TIME
half of the regression story whose SHAPE half is plan_census.json: the
census catches a plan that changed, this catches a plan that kept its
shape but lost its speed (codegen fallback, broadcast demotion at
runtime, an accidentally eager probe).

bench_budget.json commits each key's CALIBRATION-NORMALIZED median
(med_seconds / calib_1t from a settled bench run — the calibration
probe is Bench's fixed single-thread FNV loop, so dividing by it
cancels host-speed drift between sessions; the round-5 finding was a
uniform 1.18x per-query inflation from ambient load that would
otherwise read as 236 simultaneous regressions).

CLOSE PROTOCOL (r12). Four consecutive graded closes breached 28-35
keys each with ZERO confirmed plan regressions — every isolated triage
cleared ambient, per-key min/max spreads ran 2-4x, and the r11 settle
windows disagreed per key by 2-3x in BOTH directions while totals
agreed within 5%. A single shared-host close simply cannot price an
individual key, so the gate now requires TWO-CONSECUTIVE-CLOSE
confirmation ON THE MIN RUN: a key HARD-FAILS only when its normalized
MIN-of-runs breaches (2x budget AND +0.25 normalized seconds) in the
CURRENT close AND in the PRIOR close persisted in bench_prior.json.
The min is the right hard-fail estimator because a genuine kept-shape
regression (codegen fallback, broadcast demotion, an eager probe)
slows EVERY run including the fastest, while an ambient wave inflates
the median of 3 far more often than the min — and almost never the min
in two consecutive closes. Measured on the real artifacts (r10/r11
driver closes + two r12 settle windows, all vs the same budgets):
median-breach counts 11/27/12/9 with consecutive-pair median-confirms
0/3/0; MIN-breach counts 6/13/5/4 with consecutive-pair min-confirms
0/0/0 — every nominal breach in four windows isolated-triaged ambient,
so zero is the correct reading. A MEDIAN breach is still reported as a
FLAG — first offense, exit 0, triage isolated — which keeps the
intermittent-regression class (sometimes-fast, sometimes-slow — the
class the min can't see) visible alongside Bench's own
steady_unstable list. A genuine regression persists and is caught one
close later.

Usage:
    python3 tools/bench_budget.py update [bench_full.json]
        regenerate bench_budget.json from a bench artifact
    python3 tools/bench_budget.py check  [bench_full.json]
        two-consecutive-close min-run gate (see above). Exit 1 on any
        CONFIRMED breach or REMOVED key (vanished from the bench =
        coverage regression). NEW keys (no budget) are reported, not
        failed: a NEW key is either new or retired since that close,
        so the fix is one added budget for that key, never a re-level
        of every key. Without bench_prior.json, falls back to the strict
        single-close gate (every min-breach fails).
    python3 tools/bench_budget.py roll   [bench_full.json]
        persist this close's normalized medians AND mins to
        bench_prior.json — the close ritual's last step, so the NEXT
        close confirms against this one. Commit the file with the close.
    python3 tools/bench_budget.py selftest
        seeded-regression self-check: a 3x-slowed key (min and median)
        present in BOTH closes must fail; a median-only or one-close
        breach must flag, not fail; the no-prior fallback must fail a
        min-breach outright.

Close ritual: run `check` beside `PlanCensus --check`; triage FLAGged
keys with the isolated 6-run recipe (SPARK_GRAFT_ONLY=key
SPARK_GRAFT_RUNS=6, idle machine); on intended changes (new keys,
faster plans) run `update` and commit the file WITH the change that
moved it; finish with `roll`.
"""
import hashlib
import json
import os
import sys

HERE = os.path.dirname(__file__)
BUDGET_PATH = os.path.join(HERE, "..", "bench_budget.json")
PRIOR_PATH = os.path.join(HERE, "..", "bench_prior.json")
RATIO = 2.0
ABS_FLOOR = 0.25  # normalized seconds


def budget_hash():
    """Content hash of the committed budget file, so a prior close can
    record WHICH budgets its confirmation window was armed against.
    Running `update` between closes rebases budgets and would silently
    reset the two-close window; the hash makes that visible in check."""
    with open(BUDGET_PATH, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:16]


def load_bench(path):
    """Returns ({key: (normalized_med, normalized_min)}, calib)."""
    with open(path) as f:
        b = json.load(f)
    calib = b.get("calib_1t") or 1.0
    return ({k: (v["med"] / calib, v.get("min", v["med"]) / calib)
             for k, v in b["queries"].items()}, calib)


def update(bench_path):
    norm, calib = load_bench(bench_path)
    out = {k: round(v[0], 3) for k, v in sorted(norm.items())}
    with open(BUDGET_PATH, "w") as f:
        json.dump(out, f, indent=0, sort_keys=True)
        f.write("\n")
    print(f"[budget] wrote {len(out)} keys (calib_1t={calib}) to bench_budget.json")


def roll(bench_path):
    norm, calib = load_bench(bench_path)
    out = {"calib_1t": calib, "source": os.path.basename(bench_path),
           "budget_sha": budget_hash(),
           "norm": {k: round(v[0], 3) for k, v in sorted(norm.items())},
           "norm_min": {k: round(v[1], 3) for k, v in sorted(norm.items())}}
    with open(PRIOR_PATH, "w") as f:
        json.dump(out, f, indent=0, sort_keys=True)
        f.write("\n")
    print(f"[budget] rolled {len(norm)} normalized medians+mins (calib_1t={calib}) "
          "to bench_prior.json — the next close confirms against this one")


def over(budget, val, k):
    """The per-key breach predicate: 2x budget AND past the absolute floor."""
    return (val is not None and k in budget
            and val > budget[k] * RATIO and val - budget[k] > ABS_FLOOR)


def check_maps(budget, norm, prior):
    """Pure comparison. norm: {k: (med, min)}; prior: None or
    {k: (med, min)}. Returns (confirmed, flagged, new, removed):
    confirmed = MIN-run breaches in the current close whose MIN also
    breached in the prior close (prior=None -> every current min-breach
    is confirmed: strict single-close fallback); flagged = every other
    med- or min-breach (first offense / median-only wave)."""
    med_breach = {k for k, v in norm.items() if over(budget, v[0], k)}
    min_breach = {k for k, v in norm.items() if over(budget, v[1], k)}
    if prior is None:
        confirmed = min_breach
    else:
        confirmed = {k for k in min_breach
                     if k in prior and over(budget, prior[k][1], k)}
    flagged = (med_breach | min_breach) - confirmed
    new = sorted(set(norm) - set(budget))
    removed = sorted(set(budget) - set(norm))
    return sorted(confirmed), sorted(flagged), new, removed


def check(bench_path):
    with open(BUDGET_PATH) as f:
        budget = json.load(f)
    norm, calib = load_bench(bench_path)
    prior = None
    if os.path.exists(PRIOR_PATH):
        with open(PRIOR_PATH) as f:
            p = json.load(f)
        pm, pmin = p["norm"], p.get("norm_min", p["norm"])
        prior = {k: (pm[k], pmin.get(k, pm[k])) for k in pm}
        psha = p.get("budget_sha")
        if psha is not None and psha != budget_hash():
            print("[budget] WARN: bench_budget.json changed since the prior "
                  f"close was rolled (prior budget_sha {psha}, current "
                  f"{budget_hash()}) — the two-close confirmation window is "
                  "evaluating the prior close against REBASED budgets; "
                  "re-leveled keys' prior breaches may be stale")
    confirmed, flagged, new, removed = check_maps(budget, norm, prior)
    for k in confirmed:
        why = (f"MIN breached in TWO consecutive closes (prior min {prior[k][1]:.3f})"
               if prior is not None else
               "no prior close to confirm against (strict single-close gate)")
        print(f"[budget] FAIL {k}: normalized med {norm[k][0]:.3f} / min "
              f"{norm[k][1]:.3f} vs budget {budget[k]:.3f} "
              f"({norm[k][1]/budget[k]:.1f}x on the min) — {why}")
    for k in flagged:
        pv = prior.get(k) if prior is not None else None
        ps = (f"prior close med {pv[0]:.3f} / min {pv[1]:.3f}"
              if pv is not None else "no prior entry")
        print(f"[budget] FLAG {k}: normalized med {norm[k][0]:.3f} / min "
              f"{norm[k][1]:.3f} vs budget {budget[k]:.3f} "
              f"({norm[k][0]/budget[k]:.1f}x on the med) — {ps}; "
              "triage isolated, min-confirms NEXT close if real")
    for k in new:
        print(f"[budget] NEW {k}: normalized {norm[k][0]:.3f} (no committed budget: "
              "new key, or retired since this close; if new, add this one key to "
              f"bench_budget.json as \"{k}\": {round(norm[k][0], 3)}, and leave "
              "the other budgets as they are)")
    for k in removed:
        print(f"[budget] REMOVED {k}: budgeted but absent from the bench")
    mode = "two-close min" if prior is not None else "single-close (no bench_prior.json)"
    print(f"[budget] {len(norm)} keys checked (calib_1t={calib}, {mode}): "
          f"{len(confirmed)} confirmed over budget, {len(flagged)} flagged, "
          f"{len(new)} new, {len(removed)} removed")
    return 1 if (confirmed or removed) else 0


def selftest():
    budget = {"fast_key": 0.4, "slow_key": 1.0, "tiny_key": 0.05,
              "gone_key": 0.3, "wave_key": 0.6, "healed_key": 0.5,
              "flappy_key": 0.8}
    norm = {  # {key: (normalized_med, normalized_min)}
        "fast_key": (0.5, 0.4),     # 1.25x: fine
        "slow_key": (3.0, 2.8),     # 3x med AND min in BOTH closes: the regression
        "tiny_key": (0.15, 0.14),   # 3x but under the absolute floor: noise, fine
        "new_key": (0.2, 0.2),      # unbudgeted: reported, not failed
        "wave_key": (1.5, 1.4),     # min-breach NOW, fine in the prior close: flag
        "healed_key": (0.45, 0.4),  # breached in the prior close, fine now: pass
        "flappy_key": (2.5, 0.9),   # med-breach both closes, min never: flag only
    }
    prior = {
        "fast_key": (0.41, 0.38), "slow_key": (2.9, 2.7),
        "tiny_key": (0.05, 0.05), "wave_key": (0.55, 0.5),
        "healed_key": (1.8, 1.7), "flappy_key": (2.6, 0.85),
    }
    confirmed, flagged, new, removed = check_maps(budget, norm, prior)
    assert confirmed == ["slow_key"], f"seeded 2-close regression not caught: {confirmed}"
    assert flagged == ["flappy_key", "wave_key"], f"flag set wrong: {flagged}"
    assert new == ["new_key"], new
    assert removed == ["gone_key"], removed
    # no-prior fallback: strict single-close — every min-breach fails
    confirmed1, flagged1, _, _ = check_maps(budget, norm, None)
    assert confirmed1 == ["slow_key", "wave_key"], confirmed1
    assert flagged1 == ["flappy_key"], flagged1
    print("[budget] selftest OK: seeded 3x key caught in both modes, "
          "one-close min-breach flags (two-close) / fails (fallback), "
          "median-only flap never hard-fails, healed key passes, floor "
          "and new/removed classification correct")


def main():
    mode = sys.argv[1] if len(sys.argv) > 1 else "check"
    bench = sys.argv[2] if len(sys.argv) > 2 else "bench_full.json"
    if mode == "update":
        update(bench)
    elif mode == "roll":
        roll(bench)
    elif mode == "selftest":
        selftest()
    elif mode == "check":
        sys.exit(check(bench))
    else:
        sys.exit(f"unknown mode {mode}")


if __name__ == "__main__":
    main()

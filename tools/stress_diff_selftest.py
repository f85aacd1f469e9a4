#!/usr/bin/env python3
"""Synthetic self-test for stress_diff.py's gate + bounded adjudications.

Covers: a ratio jump fires; an adjudication at-or-above the new ratio
suppresses; a NEW ratio EXCEEDING the adjudicated baseline re-fires
(the round-13 advice finding: suppression must not permanently disarm
the gate); kind-scoping (a "status" verdict does not cover a ratio
flag); status baseline (adjudicated "timeout" does not cover "fail");
legacy no-baseline entries still suppress but print UNBOUNDED.

Run: python3 tools/stress_diff_selftest.py  (exit 0 = all pass)
"""
import json, os, subprocess, sys, tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
DIFF = os.path.join(HERE, "stress_diff.py")
# the synthetic artifacts; removed when main() returns
TMP = tempfile.TemporaryDirectory(prefix="stress_diff_selftest_")


def art(queries, adjudications=None):
    d = {"queries": queries}
    if adjudications:
        d["adjudications"] = adjudications
    f = tempfile.NamedTemporaryFile(
        "w", suffix=".json", delete=False, dir=TMP.name)
    json.dump(d, f)
    f.close()
    return f.name


def run(old, new):
    p = subprocess.run([sys.executable, DIFF, old, new],
                       capture_output=True, text=True)
    return p.returncode, p.stdout


def q(secs, status="ok", ratio=None, iso=None):
    d = {"secs": secs, "status": status}
    if ratio is not None:
        d["ratio"] = ratio
    if iso is not None:
        d["iso_secs"] = iso
    return d


def main():
    fails = []

    def check(name, cond, out=""):
        if not cond:
            fails.append(name)
            print(f"FAIL {name}\n{out}")
        else:
            print(f"pass {name}")

    old = art({"k": q(2.0, ratio=4.0)})

    # 1. a ratio jump with no adjudication fires the gate
    rc, out = run(old, art({"k": q(30.0, ratio=20.0)}))
    check("ratio jump fires", rc == 1 and "RATIO JUMPS" in out, out)

    # 2. adjudicated at baseline >= new ratio suppresses
    rc, out = run(old, art(
        {"k": q(30.0, ratio=20.0)},
        {"k": {"kind": "ratio", "baseline": 20.0, "round": "r14",
               "verdict": "isolated re-run: recording variance"}}))
    check("at-baseline suppresses", rc == 0 and "suppressed" in out, out)

    # 3. a NEW ratio exceeding the adjudicated baseline RE-FIRES
    rc, out = run(old, art(
        {"k": q(80.0, ratio=48.0)},
        {"k": {"kind": "ratio", "baseline": 20.0, "round": "r14",
               "verdict": "covers only the 20x flag"}}))
    check("above-baseline re-fires", rc == 1 and "RATIO JUMPS" in out, out)

    # 4. kind-scoped: a status verdict does not cover a ratio flag
    rc, out = run(old, art(
        {"k": q(30.0, ratio=20.0)},
        {"k": {"kind": "status", "baseline": "timeout",
               "verdict": "wrong kind"}}))
    check("kind-scoped", rc == 1, out)

    # 5. status baseline: adjudicated timeout covers timeout ...
    rc, out = run(old, art(
        {"k": q(240.0, status="timeout", ratio=5.0)},
        {"k": {"kind": "status", "baseline": "timeout",
               "verdict": "quadratic-by-contract pair-lister"}}))
    check("status at-baseline suppresses", rc == 0, out)

    # 6. ... but NOT a fail (different status than the verdict settled)
    rc, out = run(old, art(
        {"k": q(1.0, status="fail", ratio=5.0)},
        {"k": {"kind": "status", "baseline": "timeout",
               "verdict": "covers only timeout"}}))
    check("status escalation re-fires", rc == 1, out)

    # 7. legacy no-baseline entry still suppresses, marked UNBOUNDED
    rc, out = run(old, art(
        {"k": q(30.0, ratio=20.0)},
        {"k": {"kind": "ratio", "verdict": "legacy r13-style entry"}}))
    check("legacy unbounded warns", rc == 0 and "UNBOUNDED" in out, out)

    # 8. an in-artifact isolated re-run that recovers auto-adjudicates
    #    (iso ratio = 20 * 3/30 = 2.0 — would not have fired)
    rc, out = run(old, art({"k": q(30.0, ratio=20.0, iso=3.0)}))
    check("iso recovery auto-adjudicates",
          rc == 0 and "auto-adjudicated" in out, out)

    # 9. an isolated re-run that REPRODUCES the jump still fires
    #    (iso ratio = 20 * 28/30 = 18.7 — growth 4.7x, still > 10)
    rc, out = run(old, art({"k": q(30.0, ratio=20.0, iso=28.0)}))
    check("iso reproduction still fires",
          rc == 1 and "RATIO JUMPS" in out, out)

    # 10. overhead floor: both denominators within 3x floor, sf1 secs
    #     flat -> suppressed. old: 2.0s ratio 4 (denom 0.5); new: 2.4s
    #     ratio 24 (denom 0.1); floor 0.2 -> 3x floor = 0.6 covers both
    floor_adj = {"k": {"kind": "overhead_floor", "floor_secs": 0.2,
                       "round": "r17",
                       "verdict": "fixpoint overhead-dominated at bench SFs"}}
    rc, out = run(old, art({"k": q(2.4, ratio=24.0)}, floor_adj))
    check("overhead floor suppresses",
          rc == 0 and "overhead-floor adjudicated" in out, out)

    # 11. overhead floor does NOT cover a denominator above 3x floor
    #     (new denom = 30/15 = 2.0 > 0.6: data mass is now visible)
    rc, out = run(old, art({"k": q(30.0, ratio=15.0)}, floor_adj))
    check("overhead floor bounded by denom", rc == 1, out)

    # 12. overhead floor does NOT cover super-linear sf1 secs growth
    #     (denoms 0.5, 0.17 both under 3x floor, but secs 2.0 -> 4.0
    #     is a 2.0x > 1.5x jump at the sf1 level itself)
    rc, out = run(old, art({"k": q(4.0, ratio=24.0)}, floor_adj))
    check("overhead floor bounded by secs growth", rc == 1, out)

    print(f"{12 - len(fails)}/12 ok")
    return 1 if fails else 0


if __name__ == "__main__":
    with TMP:
        rc = main()
    sys.exit(rc)

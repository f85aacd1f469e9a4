#!/usr/bin/env python3
"""Diff two StressSweep artifacts (plans/stress/STRESS_r{N}.json) the way BENCH
wall-times are diffed round-over-round. Usage:
    python3 tools/stress_diff.py <old.json> <new.json> [--ratio-jump 1.5]
Reports, in order of severity:
  * status regressions (ok -> timeout/fail) and recoveries,
  * super-linear ratio jumps: keys whose sf1/sf0.1 ratio grew by more
    than --ratio-jump x between rounds (the scaling-shape signal; raw
    seconds on this sandbox carry ~1.7x session noise, ratios divide
    it out because both passes of one artifact share a session),
  * keys added / removed,
  * the ten largest absolute second deltas (informational).
Exit code 1 iff a status regression or a ratio jump is found, so the
round driver can gate on it.

ADJUDICATIONS: a flag investigated and accepted (isolated re-run shows
recording variance, a documented contract, etc.) is recorded in the NEW
artifact's top-level "adjudications" object:
    "adjudications": {"d5_embedding_neardup": {
        "kind": "ratio", "baseline": 17.0, "round": "r12",
        "verdict": "isolated re-run 1.9s, recording variance"}}
A flag whose key+kind is adjudicated is printed under "adjudicated
(suppressed)" and does NOT set the exit code — verdicts travel with the
artifact of record, so an already-adjudicated flag never re-fires in a
later round's gate.

IN-ARTIFACT ISOLATED RE-RUNS (round 16): StressSweep re-runs flag
suspects isolated after the sweep and records "iso_secs" per key. A
ratio jump whose isolated measurement would NOT have fired (iso ratio
within the jump threshold, or <= 10) is auto-adjudicated here —
printed, suppressed, no hand-written verdict needed. An isolated
measurement that REPRODUCES the jump still fires the gate. kind is "ratio" or "status".

OVERHEAD FLOOR (round 17): iterative keys (driver-loop fixpoints — g3
pagerank class) cost ~constant seconds at bench SFs because 3-6 chained
shuffle stages of task scheduling dominate data mass; their sf1/sf0.1
ratio divides two overhead-dominated numbers and is pure noise. The
floor is measured ONCE (sf0.01 seconds, where data mass is provably
irrelevant) and recorded as kind "overhead_floor" with "floor_secs": a
ratio jump on such a key is suppressed when both denominators sit
within 3x the floor AND the sf1 seconds did not themselves grow
super-linearly. Unlike ratio/status kinds, the floor entry never goes
stale — it encodes a property of the key's SHAPE, not one settled
magnitude.

The suppression is BOUNDED by "baseline" — the magnitude the verdict
actually settled (for kind "ratio": the new ratio at adjudication time;
for kind "status": the adjudicated status string, e.g. "timeout"). A
later, genuinely NEW regression on the same key+kind that EXCEEDS the
adjudicated baseline (ratio above it, or a different non-ok status)
re-fires the gate: an old verdict only covers what it examined. A legacy
entry without a baseline still suppresses, but is called out as
unbounded so the next round records one.
"""
import json, sys


def load(path):
    with open(path) as f:
        d = json.load(f)
    return d["queries"], d.get("adjudications", {})


def main():
    # accept both --ratio-jump=1.5 and the documented space-separated
    # form --ratio-jump 1.5 (whose value must not leak into positionals)
    argv, args, jump = sys.argv[1:], [], 1.5
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--ratio-jump"):
            if "=" in a:
                jump = float(a.split("=", 1)[1])
            elif i + 1 < len(argv):
                jump = float(argv[i + 1])
                i += 1
        elif not a.startswith("--"):
            args.append(a)
        i += 1
    if len(args) != 2:
        print(__doc__)
        return 2
    (old, _), (new, adjudications) = load(args[0]), load(args[1])

    unbounded = set()

    def adjudicated(key, kind, magnitude):
        """True iff key+kind carries a verdict AND the new flag does not
        exceed the adjudicated baseline (ratio: numeric at-or-below;
        status: same status string). A verdict only covers what it
        examined — anything larger re-fires the gate."""
        a = adjudications.get(key)
        if a is None or a.get("kind") != kind:
            return False
        base = a.get("baseline")
        if base is None:  # legacy entry: suppress, but flag as unbounded
            unbounded.add(key)
            return True
        if kind == "ratio":
            return magnitude <= float(base)
        return magnitude == base  # status: only the settled status

    bad = False
    suppressed = []
    regressed, reg_adj = [], []
    for k in old.keys() & new.keys():
        if old[k]["status"] == "ok" and new[k]["status"] != "ok":
            (reg_adj if adjudicated(k, "status", new[k]["status"])
             else regressed).append(k)
    recovered = [k for k in old.keys() & new.keys()
                 if old[k]["status"] != "ok" and new[k]["status"] == "ok"]
    if regressed:
        bad = True
        print("STATUS REGRESSIONS (ok -> %s):" % ",".join(
            sorted({new[k]['status'] for k in regressed})))
        for k in sorted(regressed):
            print("  %-30s %7.1fs -> %7.1fs %s" % (
                k, old[k]["secs"], new[k]["secs"], new[k]["status"]))
    suppressed += [(k, "status") for k in reg_adj]
    if recovered:
        print("recovered (non-ok -> ok): " + ", ".join(sorted(recovered)))

    jumps, jump_adj, iso_adj, floor_adj = [], [], [], []
    for k in old.keys() & new.keys():
        ro, rn = old[k].get("ratio"), new[k].get("ratio")
        if new[k]["status"] != "ok":
            continue  # a timeout's secs are capped, so its ratio is floor-noise
        if ro and rn and ro > 0 and rn / ro > jump and rn > 10:
            # the sweep re-runs flag suspects isolated (JVM warm, no
            # sweep neighbors) and records iso_secs alongside: if the
            # flag would NOT have fired on the isolated measurement,
            # the artifact itself has adjudicated it as sweep-neighbor
            # state — stronger evidence than a hand-written verdict
            iso = new[k].get("iso_secs")
            if iso is not None and new[k]["secs"] > 0:
                rn_iso = rn * iso / new[k]["secs"]
                if rn_iso / ro <= jump or rn_iso <= 10:
                    iso_adj.append((k, iso, rn_iso))
                    continue
            # OVERHEAD FLOOR (round 17, generalizing the g3_pagerank
            # adjudication): an iterative key's wall time at bench SFs
            # is fixed per-iteration scheduling overhead, measured once
            # at sf0.01 and recorded as kind "overhead_floor" with
            # "floor_secs". When BOTH ratio denominators (the sf0.1
            # baseline secs, recoverable as secs/ratio) sit within 3x
            # that floor, the ratio divides two overhead-dominated
            # numbers and its jump is floor-noise — suppress, BOUNDED:
            # the numerator (sf1 secs) must not itself have grown
            # super-linearly, else the flag still fires (and the
            # iso_secs machinery above gets first say regardless).
            fa = adjudications.get(k)
            if fa is not None and fa.get("kind") == "overhead_floor":
                floor = float(fa.get("floor_secs", 0) or 0)
                denom_old, denom_new = old[k]["secs"] / ro, new[k]["secs"] / rn
                if (floor > 0 and max(denom_old, denom_new) <= 3 * floor
                        and new[k]["secs"] <= old[k]["secs"] * jump):
                    floor_adj.append((k, denom_old, denom_new, floor))
                    continue
            if adjudicated(k, "ratio", rn):
                jump_adj.append(k)
            else:
                jumps.append((rn / ro, k, ro, rn))
    if jumps:
        bad = True
        print("SUPER-LINEAR RATIO JUMPS (> %.2fx growth, new ratio > 10):" % jump)
        for g, k, ro, rn in sorted(jumps, reverse=True):
            print("  %-30s ratio %6.1f -> %6.1f  (%.2fx)" % (k, ro, rn, g))
    suppressed += [(k, "ratio") for k in jump_adj]
    if iso_adj:
        print("auto-adjudicated (in-artifact isolated re-run recovers):")
        for k, iso, rn_iso in sorted(iso_adj):
            print("  %-30s in-sweep %7.1fs -> isolated %7.1fs (iso ratio %.1f)"
                  % (k, new[k]["secs"], iso, rn_iso))
    if floor_adj:
        print("overhead-floor adjudicated (ratio denominator is fixed "
              "per-iteration overhead):")
        for k, do, dn, fl in sorted(floor_adj):
            print("  %-30s denom %5.2fs -> %5.2fs vs floor %5.2fs x3"
                  % (k, do, dn, fl))

    if suppressed:
        print("adjudicated (suppressed):")
        for k, kind in sorted(suppressed):
            tag = " [UNBOUNDED — no baseline recorded; add one]" \
                if k in unbounded else ""
            print("  %-30s [%s]%s %s" % (
                k, kind, tag, adjudications[k].get("verdict", "")))

    added = sorted(new.keys() - old.keys())
    removed = sorted(old.keys() - new.keys())
    if added:
        print("added:   " + ", ".join(added))
    if removed:
        print("removed: " + ", ".join(removed))

    deltas = sorted(
        ((new[k]["secs"] - old[k]["secs"], k) for k in old.keys() & new.keys()),
        key=lambda t: -abs(t[0]))[:10]
    print("largest second deltas (informational; sandbox noise ~1.7x):")
    for d, k in deltas:
        print("  %-30s %+7.1fs  (%.1f -> %.1f)" % (
            k, d, old[k]["secs"], new[k]["secs"]))

    n_ok = sum(1 for v in new.values() if v["status"] == "ok")
    print("summary: %d keys, %d ok, %d regressions, %d ratio jumps"
          % (len(new), n_ok, len(regressed), len(jumps)))
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())

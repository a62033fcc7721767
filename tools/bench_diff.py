#!/usr/bin/env python3
"""Calibration-normalized comparison of two bench artifacts.

Usage: python3 tools/bench_diff.py OLD.json NEW.json [--top N] [--strict]

Reads two `bench_full.json`-style artifacts (as written by `graft.Bench` via
SPARK_GRAFT_BENCH_OUT) and answers the question a raw total cannot: did the
plans move, or did the host? Protocol (see SCALE.md "bench calibration" and
memory note bench-ab-protocol):

  1. Sessions are normalized by a calibration probe timed min-of-5 at
     session start/end. ratio = (new_q / new_cal) / (old_q / old_cal), where
     cal = min(start, end). The basis is the frozen bare-parquet-scan probe
     (cal_scan_start_sec/cal_scan_end_sec) when both artifacts carry it —
     no query optimization can move it — else the q_sma `calibration`
     block. The basis used is printed. If either artifact lacks both,
     raw ratios are reported and flagged as unnormalized.
  2. Ambient movement is the MEDIAN normalized ratio: uniform drift moves
     every query identically, so a real regression is a query whose ratio
     stands out from the median by >1.5x, not one whose raw time grew.
  3. shuffle_mb is compared unnormalized (bytes are host-independent): any
     query whose shuffle grew >20% and >8 MB is flagged as a plan-shape
     regression regardless of wall time. Bench emits -1.0 for queries whose
     listener-bus drain timed out; those are reported as dropped, never
     silently intersected away.

Exit-1 conditions (the regression gate):
  - BROKEN: a query that succeeded in OLD is failed (-1) or missing in NEW.
  - SHUFFLE: a query's shuffle_mb grew >20% and >8 MB (plan-shape movement).
  - REGRESSION: a wall-time outlier (>1.5x median normalized AND >0.5 s
    absolute growth in new-session seconds) CORROBORATED either by shuffle
    growth OR by the new session's own min-of-3 in-session rerun
    (`rerun_sec`, stamped by graft.Bench since r13) still being an outlier
    — that closes the same-plan same-shuffle CPU-regression blind spot
    without a human rerun.

When `rerun_sec` is present for a query, the rerun REPLACES its wall time
(it is the adjudicated steady-state sample); a raw outlier whose rerun
comes back at baseline is reported as CLEARED. Wall-time outliers with
neither shuffle growth nor a rerun are printed as SUSPECTS but exit 0
(1 under --strict): the round-11 control A/B — two sessions of the IDENTICAL
build — flagged 5 queries with one swinging x1.93 while shuffle was flat on
all 343, so an uncorroborated wall-time swing is indistinguishable from
session noise at this host's ambient level. Plan drift is separately locked
by the test suite (PlanSpec fingerprints fail `sbt test` on any exchange/
sort/join/scan-count change).
"""
import json
import statistics
import sys


def load(path):
    with open(path) as f:
        return json.load(f)


def min_of(d, keys):
    """Session calibration anchor = MIN of the start/end min-of-5 samples.
    Host interference bursts only ever INFLATE a sample (r14: a burst
    caught the start calibration at 4.74 s vs 1.34 s at end — the mean
    would have skewed every normalized ratio 2.2x), so the min is the
    honest steady-state anchor, exactly like the per-query min-of-2."""
    vals = [d[k] for k in keys if isinstance(d.get(k), (int, float))]
    return min(vals) if vals else None


def cal_of(art):
    """q_sma calibration anchor."""
    return min_of(art.get("calibration") or {}, ("start_sec", "end_sec"))


def cal_basis(old, new):
    """(basis, old_cal, new_cal): the frozen cal_scan probe when BOTH
    artifacts carry both of its keys — q_sma is also an optimization
    target, and a round that speeds it up would otherwise rescale every
    ratio — else the q_sma calibration."""
    keys = ("cal_scan_start_sec", "cal_scan_end_sec")
    if all(isinstance(a.get(k), (int, float)) for a in (old, new) for k in keys):
        return "cal_scan", min_of(old, keys), min_of(new, keys)
    return "q_sma", cal_of(old), cal_of(new)


def selftest():
    """Synthetic A/B battery:
      - uniform 2x ambient must NOT flag (rc 0);
      - a same-build noisy session (one query x1.9 normalized, shuffle
        flat) must NOT flag (rc 0) but must print it as a suspect —
        the round-11 false-positive class;
      - a 4x query WITH shuffle growth MUST flag (rc 1);
      - a shuffle-only regression (time flat) MUST flag (rc 1);
      - a query that fails in NEW (-1.0) MUST flag (rc 1);
      - a query missing from NEW MUST flag (rc 1);
      - a raw outlier whose in-session rerun_sec is back at baseline must
        NOT flag and must print as 'cleared' (rc 0);
      - a raw outlier whose rerun_sec is STILL slow MUST flag (rc 1) even
        with flat shuffle — the same-plan CPU-regression blind spot;
      - artifacts without cal_scan normalize by q_sma; when both carry
        it, a 2x-faster q_sma with a flat cal_scan must NOT rescale the
        per-query ratios."""
    import copy
    import subprocess
    import tempfile

    old = {"value": 10.0, "queries": {"a": 1.0, "b": 1.0, "c": 1.0},
           "shuffle_mb": {"a": 10.0, "b": 10.0, "c": 0.0},
           "calibration": {"query": "q", "runs": 5,
                           "start_sec": 1.0, "end_sec": 1.0}}
    amb = copy.deepcopy(old)
    amb["queries"] = {k: v * 2 for k, v in old["queries"].items()}
    amb["calibration"] = {"query": "q", "runs": 5,
                          "start_sec": 2.0, "end_sec": 2.0}
    noisy = copy.deepcopy(amb)
    noisy["queries"]["b"] = 3.8  # x1.9 normalized, shuffle flat
    reg = copy.deepcopy(amb)
    reg["queries"]["b"] = 4.0
    reg["shuffle_mb"]["b"] = 50.0  # time AND shuffle move together
    sh_only = copy.deepcopy(amb)
    sh_only["shuffle_mb"]["b"] = 50.0  # plan-shape movement, time flat
    broken = copy.deepcopy(amb)
    broken["queries"]["b"] = -1.0  # Bench records a crashed query as -1
    gone = copy.deepcopy(amb)
    del gone["queries"]["b"]
    sh_gain = copy.deepcopy(amb)
    sh_gain["shuffle_mb"]["c"] = 50.0  # zero-shuffle query GAINS an exchange
    # a burst-inflated START calibration (9.0 vs steady 2.0) must not skew
    # the anchor — cal_of takes the MIN, so uniform 2x stays unflagged
    burst_cal = copy.deepcopy(amb)
    burst_cal["calibration"] = {"query": "q", "runs": 5,
                                "start_sec": 9.0, "end_sec": 2.0}
    rerun_clears = copy.deepcopy(noisy)   # raw x1.9, rerun back at baseline
    rerun_clears["rerun_sec"] = {"b": 2.0}
    rerun_confirms = copy.deepcopy(noisy)  # rerun STILL x1.9, shuffle flat
    rerun_confirms["rerun_sec"] = {"b": 3.8}
    scan_old = copy.deepcopy(old)
    scan_old["cal_scan_start_sec"] = scan_old["cal_scan_end_sec"] = 0.5
    sma_fast = copy.deepcopy(scan_old)  # q_sma 2x faster, scan and queries flat
    sma_fast["calibration"] = {"query": "q", "runs": 5,
                               "start_sec": 0.5, "end_sec": 0.5}
    with tempfile.TemporaryDirectory() as td:
        paths = {}
        arts = [("old", old), ("amb", amb), ("noisy", noisy), ("reg", reg),
                ("sh_only", sh_only), ("broken", broken), ("gone", gone),
                ("sh_gain", sh_gain), ("burst_cal", burst_cal),
                ("rerun_clears", rerun_clears),
                ("rerun_confirms", rerun_confirms),
                ("scan_old", scan_old), ("sma_fast", sma_fast)]
        for name, art in arts:
            paths[name] = f"{td}/{name}.json"
            with open(paths[name], "w") as f:
                json.dump(art, f)
        expectations = [("amb", 0, "calibration basis: q_sma"),
                        ("noisy", 0, "suspect"),
                        ("reg", 1, None), ("sh_only", 1, None),
                        ("broken", 1, None), ("gone", 1, None),
                        ("sh_gain", 1, None),
                        ("burst_cal", 0, None),
                        ("rerun_clears", 0, "cleared"),
                        ("rerun_confirms", 1, "rerun")]
        import os
        for name, expect_rc, expect_text in expectations:
            p = subprocess.run(
                [sys.executable, __file__, paths["old"], paths[name]],
                capture_output=True, text=True, cwd=td)
            assert p.returncode == expect_rc, \
                f"{name}: rc={p.returncode}, expected {expect_rc}\n{p.stdout}"
            if expect_text:
                assert expect_text in p.stdout, \
                    f"{name}: expected '{expect_text}' in output\n{p.stdout}"
            # the self-closing handoff: uncorroborated suspects (and only
            # they) must be written for the next Bench session to replay
            pend = f"{td}/bench_suspects_pending.json"
            if name == "noisy":
                assert os.path.exists(pend), "noisy: expected suspects handoff"
                handoff = json.load(open(pend))
                assert handoff["suspects"] == ["b"], handoff
            if os.path.exists(pend):
                os.remove(pend)
        # --strict promotes the noisy suspect to a failure
        p = subprocess.run(
            [sys.executable, __file__, paths["old"], paths["noisy"], "--strict"],
            capture_output=True, text=True, cwd=td)
        assert p.returncode == 1, f"strict noisy: rc={p.returncode}, expected 1"
        p = subprocess.run(
            [sys.executable, __file__, paths["scan_old"], paths["sma_fast"]],
            capture_output=True, text=True, cwd=td)
        assert p.returncode == 0, f"sma_fast: rc={p.returncode}\n{p.stdout}"
        for text in ("calibration basis: cal_scan",
                     "session calibration ratio (new/old): 1.000",
                     "median normalized ratio: 1.000"):
            assert text in p.stdout, f"sma_fast: expected '{text}'\n{p.stdout}"
    print("selftest OK: ambient and same-build-noise unflagged (noise -> "
          "suspect), corroborated/shuffle/broken/missing all flagged, "
          "rerun_sec clears or confirms without a manual rerun, "
          "cal_scan basis immune to a faster q_sma")


def main():
    argv = sys.argv[1:]
    top = 10
    strict = False
    if "--selftest" in argv:
        selftest()
        sys.exit(0)
    if "--strict" in argv:
        strict = True
        argv.remove("--strict")
    if "--top" in argv:
        i = argv.index("--top")
        top = int(argv[i + 1])
        del argv[i:i + 2]
    args = argv
    if len(args) != 2:
        print(__doc__)
        sys.exit(2)
    old, new = load(args[0]), load(args[1])
    oq, nq = old.get("queries", {}), new.get("queries", {})
    basis, ocal, ncal = cal_basis(old, new)
    normalized = ocal is not None and ncal is not None and ocal > 0 and ncal > 0
    calratio = (ncal / ocal) if normalized else 1.0

    common = sorted(set(oq) & set(nq))
    # ADVICE r11: a query that succeeded in OLD but crashed (-1) or vanished
    # in NEW is an automatic failure — the old loop's oq[k] > 0 guard let a
    # crashed query print under 'improvements' and exit 0.
    broken = sorted([k for k in common if nq[k] < 0 <= oq[k]] +
                    [k for k in oq if oq[k] >= 0 and k not in nq])
    # graft.Bench (r13+) stamps min-of-3 in-session reruns of its own
    # outliers; the rerun replaces the wall time as the adjudicated sample
    rerun = {k: v for k, v in (new.get("rerun_sec") or {}).items()
             if isinstance(v, (int, float)) and v >= 0}
    def newtime(k):
        return rerun.get(k, nq[k])
    ratios, raw_ratios = {}, {}
    for k in common:
        if oq[k] > 0 and nq[k] >= 0:
            ratios[k] = (newtime(k) / oq[k]) / calratio
            raw_ratios[k] = (nq[k] / oq[k]) / calratio
    med = statistics.median(ratios.values()) if ratios else float("nan")

    print(f"old: {args[0]}  total={old.get('value')}s  n={len(oq)}  cal={ocal}")
    print(f"new: {args[1]}  total={new.get('value')}s  n={len(nq)}  cal={ncal}")
    if normalized:
        print(f"calibration basis: {basis}")
        print(f"session calibration ratio (new/old): {calratio:.3f} "
              f"(ambient host factor divided out of every per-query ratio)")
    else:
        print("WARNING: calibration missing in at least one artifact — "
              "ratios below are RAW and conflate host noise with plan movement")
    print(f"common queries: {len(common)}  "
          f"added: {sorted(set(nq) - set(oq))[:8] or '[]'}  "
          f"removed: {sorted(set(oq) - set(nq))[:8] or '[]'}")
    print(f"median normalized ratio: {med:.3f} "
          f"(residual ambient after calibration; 1.0 = no drift)")

    if broken:
        print(f"\nBROKEN queries (ok in old, failed/missing in new): {len(broken)}")
        for k in broken[:top]:
            print(f"  {k}: {oq[k]:.2f}s -> "
                  f"{'missing' if k not in nq else 'failed (-1)'}")

    # shuffle comparison first: it corroborates (or clears) wall-time movers
    osh, nsh = old.get("shuffle_mb", {}), new.get("shuffle_mb", {})
    # exclude only the -1 drain-timeout sentinel: a zero-shuffle query that
    # GAINS an exchange is exactly the plan regression this check exists for
    sh_common = sorted(k for k in set(osh) & set(nsh)
                       if osh[k] >= 0 and nsh[k] >= 0)
    sh_flag = [(k, osh[k], nsh[k]) for k in sh_common
               if nsh[k] > osh[k] * 1.2 and nsh[k] - osh[k] > 8.0]
    sh_grew = {k for k, _, _ in sh_flag}
    # ADVICE r11: queries whose byte count was measured in old but dropped
    # to the -1 sentinel (or missing) in new lose their shuffle signal —
    # report them instead of silently comparing the intersection.
    sh_dropped = sorted(k for k in osh
                        if osh[k] >= 0 and (k not in nsh or nsh[k] < 0))

    movers = sorted(ratios.items(), key=lambda kv: kv[1], reverse=True)
    # absolute growth measured in NEW-session seconds: old time projected
    # into the new session is oq[k] * calratio
    outliers = [(k, r) for k, r in movers
                if r > 1.5 * med and newtime(k) - oq[k] * calratio > 0.5]
    # corroboration = shuffle growth OR a still-slow in-session rerun
    flagged = [(k, r) for k, r in outliers if k in sh_grew or k in rerun]
    suspects = [(k, r) for k, r in outliers
                if k not in sh_grew and k not in rerun]
    outlier_keys = {k for k, _ in outliers}
    cleared = [k for k, r in sorted(raw_ratios.items(), key=lambda kv: -kv[1])
               if k in rerun and k not in outlier_keys
               and r > 1.5 * med and nq[k] - oq[k] * calratio > 0.5]
    print(f"\nregressions (>1.5x median AND >0.5s, corroborated by shuffle "
          f"growth or a still-slow in-session rerun): {len(flagged)}")
    for k, r in flagged[:top]:
        why = (f"rerun {rerun[k]:.2f}s" if k in rerun else
               f"shuffle {osh[k]:.1f} -> {nsh[k]:.1f} MB")
        print(f"  {k}: {oq[k]:.2f}s -> {nq[k]:.2f}s  normalized x{r:.2f}  {why}")
    if cleared:
        print(f"\ncleared by in-session rerun (raw outlier, min-of-3 back at "
              f"baseline): {len(cleared)}")
        for k in cleared[:top]:
            print(f"  {k}: {oq[k]:.2f}s -> {nq[k]:.2f}s raw, "
                  f"rerun {rerun[k]:.2f}s (x{ratios[k]:.2f} normalized)")
    if suspects:
        print(f"\nsuspects (wall-time outlier, shuffle flat, no in-session "
              f"rerun available): {len(suspects)}")
        for k, r in suspects[:top]:
            print(f"  {k}: {oq[k]:.2f}s -> {nq[k]:.2f}s  normalized x{r:.2f}")
        print("  confirm with: GRAFT_BENCH_ONLY=" +
              ",".join(k for k, _ in suspects[:top]) +
              " on both commits in ONE session")
        # self-closing loop (r13 verdict #1): hand the uncorroborated
        # suspects to the NEXT graft.Bench session, which replays them
        # min-of-3 into rerun_sec and consumes the file — so a cross-round
        # same-plan compute change always ends up adjudicated without a
        # human in the loop
        handoff = {"suspects": sorted(k for k, _ in suspects),
                   "old": args[0], "new": args[1]}
        with open("bench_suspects_pending.json", "w") as f:
            json.dump(handoff, f, indent=1)
        print("  handed off to bench_suspects_pending.json — the next "
              "FULL graft.Bench run adjudicates them min-of-3 "
              "automatically (subset runs leave the handoff untouched)")
    print(f"\ntop {top} movers (normalized ratio):")
    for k, r in movers[:top]:
        print(f"  {k}: {oq[k]:.2f}s -> {nq[k]:.2f}s  x{r:.2f}")
    print(f"top {top} improvements:")
    for k, r in movers[::-1][:top]:
        print(f"  {k}: {oq[k]:.2f}s -> {nq[k]:.2f}s  x{r:.2f}")

    print(f"\nshuffle_mb compared on {len(sh_common)} queries; "
          f"grown >20% and >8 MB: {len(sh_flag)}")
    for k, o, n in sh_flag[:top]:
        print(f"  {k}: {o:.1f} MB -> {n:.1f} MB")
    if sh_dropped:
        print(f"WARNING: {len(sh_dropped)} queries had shuffle bytes in old "
              f"but a drain-timeout sentinel/missing entry in new (shuffle "
              f"regressions invisible there): "
              f"{', '.join(sh_dropped[:12])}{'...' if len(sh_dropped) > 12 else ''}")
    fail = bool(flagged or sh_flag or broken or (strict and suspects))
    sys.exit(1 if fail else 0)


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Cross-round bench regression gate (dev tool): diff two BENCH artifacts'
basket-normalized per-query series and separate signal from noise — a
delta only counts as a regression when it exceeds the query's own
measured rep spread (plus a floor), otherwise it's ambient load (the r16
driver-vs-self normalized totals disagreed 1.7x on identical code).

Usage: python3 dev/bench_delta.py OLD.json NEW.json [out.json] [--new2=NEW2.json]
         [--calib=SAMECODE_DELTA.json] [--isolate[=K]] [--isolate-sf=DIR]

--new2 is a SECOND new-side run on the same code: PLANS.md's rule is
that a mover is only believable if it reproduces across two runs (two
same-day r17 runs produced disjoint mover sets of similar size on
untouched code). With --new2, every non-noise row is stamped
`reproduced`: true iff the second run classifies it the same way.

--isolate[=K] closes the loop the r18 verdict ran BY HAND: every
credible regression (reproduced + exceeds calibration) is re-measured
K (default 3) times back-to-back, BENCH_ONLY-isolated with the basket
forced on (SPARK_GRAFT_BENCH_ANCHOR=1), on the CURRENT build. If the
isolated min-norm reaches back to the old reading (within the noise
floor), the mover is same-code wander, not a code regression — stamped
per row as `isolated_norms` / `isolation_verdict`, and the artifact
gains `confirmed_regressions`. Requires sbt + the fixture
(--isolate-sf=DIR, default: the sf0.1 fixture); do NOT run while
another sbt is in flight (shared target lock).

Accepts the harness wrapper ({"parsed": {...}, "tail": ...}), raw Bench
stdout, or the bench_headline.json sidecar (contract line, then detail
line). Every JSON object line in the file is merged into one record, so
the sidecar's rep spreads join its contract line.

Writes a JSON artifact (default BENCH_DELTA.json next to the newer file)
with per-query norm ratios, spread context, and a `regressions` list,
and prints the top movers.
"""
import sys, json, os, subprocess

FLOOR = 0.15  # ignore <15% moves outright: below rep-to-rep noise floor


def norms_of(d):
    """The per-query normalized series of a bench record: queries_min /
    basket_scale (median of five heterogeneous probe ratios, robust to
    one wandering element). None for an uncalibrated run."""
    mins, scale = d.get("queries_min"), d.get("basket_scale")
    if not mins or not scale or scale <= 0:
        return None
    return {q: v / scale for q, v in mins.items()}


def json_objects(txt):
    """Every JSON object that sits on a line of its own in `txt`."""
    for line in txt.splitlines():
        line = line.strip()
        if not line.startswith("{"):
            continue
        try:
            d = json.loads(line)
        except json.JSONDecodeError:
            continue
        if isinstance(d, dict):
            yield d


def merged(dicts):
    out = {}
    for d in dicts:
        out.update(d)
    return out


def isolate(queries, sf, k):
    """Re-measure `queries` K times back-to-back, BENCH_ONLY-isolated
    with the basket forced on; return {query: [norm, ...]}."""
    env = dict(os.environ,
               SPARK_GRAFT_SF_DIR=sf,
               SPARK_GRAFT_BENCH_ONLY=",".join(queries),
               SPARK_GRAFT_BENCH_ANCHOR="1")
    norms = {q: [] for q in queries}
    for i in range(k):
        print(f"  isolation run {i + 1}/{k} ({','.join(queries)}) ...",
              flush=True)
        r = subprocess.run(["sbt", "-batch", "runMain graft.Bench"],
                           capture_output=True, text=True, env=env,
                           cwd=os.path.dirname(os.path.dirname(
                               os.path.abspath(__file__))))
        n = norms_of(merged(json_objects(r.stdout)))
        if n is None:
            print(f"  isolation run {i + 1} produced no calibrated "
                  f"contract line (rc={r.returncode}) — skipped",
                  file=sys.stderr)
            continue
        for q in queries:
            if q in n:
                norms[q].append(n[q])
    return norms


def load(p):
    """One bench record from any artifact shape (see the module doc):
    the wrapper's own keys, its `parsed` dict, then every JSON object
    line of the file or of the wrapper's `tail` capture, merged."""
    txt = open(p).read()
    dicts, line_sources = [], [txt]
    try:
        d = json.loads(txt)
        if isinstance(d, dict):
            dicts.append(d)
            if isinstance(d.get("parsed"), dict):
                dicts.append(d["parsed"])
            if isinstance(d.get("tail"), str):
                line_sources.append(d["tail"])
    except json.JSONDecodeError:
        pass
    for src in line_sources:
        dicts.extend(json_objects(src))
    if not dicts:
        sys.exit(f"{p}: no parseable bench JSON found")
    return merged(dicts)


def classify(old, new):
    """Median-centered, spread-arbitrated per-query verdicts."""
    on, nn = norms_of(old), norms_of(new)
    if not on or not nn:
        sys.exit("both artifacts need queries_min and basket_scale "
                 "(basket-calibrated runs)")
    spread = new.get("queries_spread", {})
    shared = [q for q in sorted(set(on) & set(nn)) if on[q] > 0]
    raw = {q: nn[q] / on[q] for q in shared}
    # median-center: when the WHOLE suite moved together, that's basket
    # miscalibration / ambient load, not code (two same-code r16
    # self-runs showed a uniform 10-15% shift that classified 98 queries
    # as "improved"). A code change moves ITS queries against the
    # suite's median, which is what the centered ratio isolates.
    srt = sorted(raw.values())
    med = srt[len(srt) // 2] if srt else 1.0
    rows = []
    for q in shared:
        ratio = raw[q] / med if med > 0 else raw[q]
        sp = spread.get(q)
        # the query's own rep spread is the noise bar; when this run
        # didn't stamp one (older artifact), fall back to the floor
        bar = max(FLOOR, sp if sp is not None else FLOOR)
        verdict = ("regression" if ratio - 1 > bar else
                   "improvement" if 1 - ratio > bar else "noise")
        rows.append({"query": q, "old_norm": on[q], "new_norm": nn[q],
                     "ratio": round(ratio, 3), "raw_ratio": round(raw[q], 3),
                     "spread": sp, "verdict": verdict})
    rows.sort(key=lambda r: -r["ratio"])
    return rows, med


def main():
    new2_p = calib_p = None
    iso_k, iso_sf = 0, "/root/testdata/sf0.1"
    argv = []
    for a in sys.argv[1:]:
        if a.startswith("--new2="):
            new2_p = a.split("=", 1)[1]
        elif a.startswith("--calib="):
            calib_p = a.split("=", 1)[1]
        elif a == "--isolate" or a.startswith("--isolate="):
            iso_k = int(a.split("=", 1)[1]) if "=" in a else 3
        elif a.startswith("--isolate-sf="):
            iso_sf = a.split("=", 1)[1]
        else:
            argv.append(a)
    if len(argv) < 2:
        sys.exit(__doc__)
    old_p, new_p = argv[0], argv[1]
    out_p = argv[2] if len(argv) > 2 else \
        os.path.join(os.path.dirname(os.path.abspath(new_p)), "BENCH_DELTA.json")
    old, new = load(old_p), load(new_p)
    rows, med = classify(old, new)
    # mover reproduction: re-classify against the second new-side run
    # and stamp agreement on every non-noise row
    n_repro = None
    if new2_p:
        rows2, _ = classify(old, load(new2_p))
        v2 = {r["query"]: r["verdict"] for r in rows2}
        for r in rows:
            if r["verdict"] != "noise":
                r["reproduced"] = v2.get(r["query"]) == r["verdict"]
        n_repro = sum(1 for r in rows
                      if r["verdict"] == "regression" and r.get("reproduced"))
    # ambient calibration: a delta artifact computed from a SAME-CODE
    # run pair measures this box's cross-run noise directly (within-run
    # rep spreads understate it ~10x: r18 measured rep spreads ~0.03
    # but same-code cross-run movers up to 1.46x). A mover is only
    # evidence of a code regression if it exceeds that envelope.
    envelope = None
    if calib_p:
        cal = json.load(open(calib_p))
        envelope = max((abs(r["ratio"] - 1) for r in cal.get("rows", [])),
                       default=None)
        if envelope is not None:
            for r in rows:
                if r["verdict"] != "noise":
                    r["exceeds_calibration"] = abs(r["ratio"] - 1) > envelope
    regs = [r for r in rows if r["verdict"] == "regression"]
    imps = [r for r in rows if r["verdict"] == "improvement"]
    art = {"old": os.path.basename(old_p), "new": os.path.basename(new_p),
           "old_commit": old.get("commit"), "new_commit": new.get("commit"),
           "basket_old": old.get("basket_scale"), "basket_new": new.get("basket_scale"),
           "median_raw_ratio": round(med, 3),
           "n_compared": len(rows), "n_regressions": len(regs),
           "n_improvements": len(imps), "rows": rows,
           "regressions": [r["query"] for r in regs]}
    if new2_p:
        art["new2"] = os.path.basename(new2_p)
        art["n_reproduced_regressions"] = n_repro
        art["reproduced_regressions"] = [
            r["query"] for r in regs if r.get("reproduced")]
    if envelope is not None:
        art["calib"] = os.path.basename(calib_p)
        art["ambient_envelope"] = round(envelope, 3)
        art["credible_regressions"] = [
            r["query"] for r in regs
            if r.get("reproduced", True) and r.get("exceeds_calibration")]
    # direct isolation of the credible set (the step the r18 verdict ran
    # by hand): K back-to-back BENCH_ONLY runs per credible mover; if the
    # isolated min-norm reaches back to the old reading (+noise floor),
    # the mover is cross-run wander on this box, not the code
    creds = art.get("credible_regressions",
                    art.get("reproduced_regressions",
                            art["regressions"]) if iso_k else [])
    if iso_k and creds:
        iso = isolate(creds, iso_sf, iso_k)
        by_q = {r["query"]: r for r in rows}
        confirmed = []
        for q in creds:
            ns = iso.get(q, [])
            r = by_q[q]
            r["isolated_norms"] = [round(n, 3) for n in ns]
            if not ns:
                r["isolation_verdict"] = "no-data"
                confirmed.append(q)  # fail loud: unmeasured stays accused
            elif min(ns) <= r["old_norm"] * (1 + FLOOR):
                r["isolation_verdict"] = "same-code-wander"
            else:
                r["isolation_verdict"] = "confirmed"
                confirmed.append(q)
        art["isolated"] = {q: [round(n, 3) for n in iso.get(q, [])]
                           for q in creds}
        art["confirmed_regressions"] = confirmed
    elif iso_k:
        art["confirmed_regressions"] = []
    json.dump(art, open(out_p, "w"), indent=1)
    rep = "" if n_repro is None else f" ({n_repro} reproduced in {new2_p})"
    iso_rep = "" if "confirmed_regressions" not in art else \
        f"; {len(art['confirmed_regressions'])} confirmed after isolation"
    print(f"compared {len(rows)} queries "
          f"({old.get('commit')} -> {new.get('commit')}); "
          f"{len(regs)} regressions{rep}{iso_rep}, "
          f"{len(imps)} improvements -> {out_p}")
    for r in rows[:10]:
        sp = "n/a" if r["spread"] is None else f"{r['spread']:.2f}"
        extra = "" if "reproduced" not in r else \
            (" REPRODUCED" if r["reproduced"] else " not-reproduced")
        print(f"  {r['query']:<28} {r['old_norm']:>8.2f} -> {r['new_norm']:>8.2f} "
              f"x{r['ratio']:<6} spread={sp:<5} {r['verdict']}{extra}")


if __name__ == "__main__":
    main()

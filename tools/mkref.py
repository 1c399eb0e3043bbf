#!/usr/bin/env python3
"""Distill a full bench artifact (BENCH_LAST.json shape) into the
checked-in per-query reference BENCH_REF.json the self-healing retry
and the acceptance bar compare against. Refresh from a CLEAN run
whenever the board changes, BEFORE the closing run.

De-ratcheted (round-13, the self-reference finding): the reference is
self-referential — it is distilled from the engine's own previous
clean run — so without a tripwire a slow regression re-references
itself every round, and a reference captured in a bad mode (q127's
14.7 s wall vs the same query's 3.5 s clean measurement) silently
inflates the 2x acceptance bar. Two mechanisms:

  * per-query value = MIN over the last HIST_N clean runs
    (``cpu_hist``/``wall_hist`` carry the window) — one bad-mode
    capture cannot move the bar, and a legitimate slowdown raises the
    reference only after HIST_N consecutive clean runs confirm it;
  * any effective reference moving >DRIFT_RATIO x vs the prior file is
    recorded in ``drift_notes`` (and printed) — the ratchet can rise,
    but never silently.

The run's ``fixtures`` row (build seconds per /tmp store, prepared
untimed before the queries that read it) rides along so cross-round
per-query comparisons against this reference are interpretable: no
query's wall carries a store build.

Usage: python3 tools/mkref.py [in=BENCH_LAST.json] [out=BENCH_REF.json]
(defaults: the two files at the root of the checkout holding this script)
"""
import json, sys, os

HIST_N = 3
DRIFT_RATIO = 1.5
MIN_BASE = 0.3  # references below this are too noisy to call drift on

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
src = sys.argv[1] if len(sys.argv) > 1 else os.path.join(REPO, "BENCH_LAST.json")
out = sys.argv[2] if len(sys.argv) > 2 else os.path.join(REPO, "BENCH_REF.json")
a = json.load(open(src))
cpu = {k: v for k, v in a.get("cpu_s", {}).items() if isinstance(v, (int, float))}
wall = {k: v for k, v in a.get("queries", {}).items() if isinstance(v, (int, float))}
if not cpu:
    sys.exit(f"{src} has no numeric cpu_s map — run the full-artifact bench first")

prior = {}
if os.path.exists(out):
    try:
        prior = json.load(open(out))
    except Exception as e:
        print(f"warning: could not read prior {out} ({e}) — starting fresh")


def hist(field, hist_field, current):
    """Last-HIST_N window per query: current run prepended to the prior
    window (older files carried only a scalar — seed from it). Queries
    gone from the board drop out."""
    ph = prior.get(hist_field)
    if ph is None:
        ph = {k: [v] for k, v in prior.get(field, {}).items()
              if isinstance(v, (int, float))}
    return {k: ([v] + [x for x in ph.get(k, []) if isinstance(x, (int, float))])[:HIST_N]
            for k, v in current.items()}


cpu_hist = hist("cpu_s", "cpu_hist", cpu)
wall_hist = hist("wall_s", "wall_hist", wall)
eff_cpu = {k: min(vs) for k, vs in cpu_hist.items()}
eff_wall = {k: min(vs) for k, vs in wall_hist.items()}

drift_notes = {}
for axis, eff, pri in (("wall", eff_wall, prior.get("wall_s", {})),
                       ("cpu", eff_cpu, prior.get("cpu_s", {}))):
    for k, v in sorted(eff.items()):
        p = pri.get(k)
        if isinstance(p, (int, float)) and p > MIN_BASE and v > DRIFT_RATIO * p:
            drift_notes.setdefault(k, {})[axis] = {
                "prior": round(p, 3), "new": round(v, 3),
                "note": f"{axis} reference rose >{DRIFT_RATIO}x vs the prior "
                        "round — confirmed by the full min-of-last-"
                        f"{HIST_N} window; verify it is a real plan/code "
                        "change, not an absorbed regression",
            }

ref = {
    "source": os.path.basename(src),
    "sf": os.path.basename(a.get("sf", "sf0.1")),
    "calib_cpu_s": a.get("calib_cpu_s", -1.0),
    # Effective per-query references: min over the last-N window. The
    # acceptance bar (wall <= 2x ref-wall; cpu axis only without a
    # wall ref) and the shard-median heat detector read these.
    "cpu_s": dict(sorted((k, round(v, 3)) for k, v in eff_cpu.items())),
    "wall_s": dict(sorted((k, round(v, 3)) for k, v in eff_wall.items())),
    "cpu_hist": {k: [round(x, 3) for x in v] for k, v in sorted(cpu_hist.items())},
    "wall_hist": {k: [round(x, 3) for x in v] for k, v in sorted(wall_hist.items())},
    "drift_notes": drift_notes,
    "fixtures": a.get("fixtures", {}),
}
json.dump(ref, open(out, "w"), indent=1)
print(f"wrote {out}: {len(cpu)} query references, calib {ref['calib_cpu_s']}")
if drift_notes:
    print(f"DRIFT: {len(drift_notes)} reference(s) rose >{DRIFT_RATIO}x vs the "
          "prior round:")
    for k, axes in drift_notes.items():
        for axis, d in axes.items():
            print(f"  {k} [{axis}]: {d['prior']} -> {d['new']}")

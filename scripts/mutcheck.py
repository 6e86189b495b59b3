#!/usr/bin/env python3
"""Gate-sensitivity (mutation) audit.

Runs graft.MutantVerify over every MutantQueries entry: planted entries
(the key itself, with graft.plans.Mutate making one plan edit: a boundary
comparison, a frame bound, a tie-break, a NULL ordering, a dropped
distinct/dedup key or conjunct, a limit/offset, a numeric constant, a
semi/anti join type) and hand-written mutants (a copy of the key with a
wrong formula, aggregate or window spec, or a defect inside a checkpoint
or Derived build), each against the fixture that makes its defect
observable (clean sf0.01, or an EdgeFixtures hostile variant). Then runs
the UNCHANGED scripts/check.py compare and requires it to FAIL every
mutant. A mutant the gate passes ("survived") is a proven blind spot: the
oracle mirrors the bug or the fixture lacks the triggering shape. The
entries come from the manifest MutantVerify writes
(target/mutout/mutants.json); in MUTCHECK.json a planted entry's record
carries each planted edit as "Node: before -> after", and a hand entry's
record its `desc`. Writes MUTCHECK.json.

Usage: python3 scripts/mutcheck.py [--skip-gen]
  --skip-gen  reuse target/edgedata01 variants (else regenerates them)
"""
import json
import os
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).parent))
from check import run_check  # noqa: E402

REPO = Path(__file__).resolve().parent.parent
# sf0.01, not sf0.001: boundary mutants need the boundary INSTANT occupied
# (at sf0.001's ~2.6 rows/day, the flagship's exact cutoff day is empty
# even on the day-gridded ties variant; at sf0.01's ~26/day it never is)
CLEAN = "/root/testdata/sf0.01"
EDGE = REPO / "target" / "edgedata01"
OUT = REPO / "target" / "mutout"


def sh(args):
    e = dict(os.environ)
    e.setdefault("SPARK_GRAFT_CPUS", "8")
    return subprocess.run(args, cwd=REPO, env=e,
                          stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                          text=True)


def main():
    if not ("--skip-gen" in sys.argv and EDGE.is_dir()):
        print("[mutcheck] generating edge variants ...", flush=True)
        r = sh(["scripts/run.sh", "graft.EdgeFixtures", CLEAN, str(EDGE)])
        if r.returncode != 0:
            print(r.stderr[-3000:])
            sys.exit(2)
    r = sh(["scripts/run.sh", "graft.MutantVerify", CLEAN, str(EDGE), str(OUT)])
    if r.returncode != 0:
        print(r.stdout[-2000:])
        print(r.stderr[-2000:])
        sys.exit(2)
    groups = {}
    for m in json.loads((OUT / "mutants.json").read_text()):
        groups.setdefault(m["fixture"], []).append(m)

    report = {"mutants": {}, "survived": []}
    for fixture, ms in sorted(groups.items()):
        fdir = CLEAN if fixture == "clean" else str(EDGE / fixture)
        print(f"[mutcheck] {fixture}: {[m['name'] for m in ms]}", flush=True)
        # results are keyed by output name, "<key>__<class>": a key may
        # carry several defects
        res = run_check(fdir, str(OUT / fixture), [m["name"] for m in ms])
        for m in ms:
            key, clazz = m["key"], m["class"]
            info = res.get(m["name"], {"status": "missing", "msg": "no result"})
            # 'missing' means the mutant crashed, or its rule planted
            # nothing, before writing output — an infra failure, NOT gate
            # sensitivity: a kill requires the mutant to have produced
            # output the unchanged compare REJECTED
            status = "did-not-run" if info["status"] == "missing" \
                else info["status"]
            killed = status in ("fail", "error")
            rec = {"class": clazz, "fixture": fixture,
                   "gate": status,
                   "killed": killed,
                   "msg": (info.get("msg") or "")[:200]}
            if "op" in m:
                rec.update(op=m["op"], site=m["site"], planted=m["planted"])
            else:
                rec["desc"] = m["desc"]
            report["mutants"][f"{key}:{clazz}"] = rec
            if status == "did-not-run":
                report.setdefault("did_not_run", []).append(f"{key}:{clazz}")
            elif not killed:
                report["survived"].append(f"{key}:{clazz}")
            print(f"[mutcheck]   {key:22s} {clazz:22s} "
                  f"{'KILLED' if killed else status.upper()} ({status})",
                  flush=True)

    report["ok"] = not report["survived"] and not report.get("did_not_run")
    Path(REPO, "MUTCHECK.json").write_text(json.dumps(report, indent=1))
    n = len(report["mutants"])
    n_killed = sum(1 for v in report["mutants"].values() if v["killed"])
    print(f"[mutcheck] {n_killed}/{n} mutants killed; "
          f"survivors: {report['survived'] or 'none'}; "
          f"did-not-run: {report.get('did_not_run') or 'none'}")
    sys.exit(0 if report["ok"] else 1)


if __name__ == "__main__":
    main()

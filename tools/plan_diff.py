#!/usr/bin/env python3
"""Compare two `graft.tools.PlanDump` output directories query by query.

    python3 tools/plan_diff.py BEFORE_DIR AFTER_DIR [--baseline BEFORE2_DIR ...] [--diff]

PlanDump writes one `<query>_<suffix>.txt` per declared query: the
initial `explain formatted` plan, then the post-AQE executed plan. Both
carry ids that change from run to run even when the plan does not
(expression ids, plan/RDD ids, source line numbers, AQE query-stage and
codegen-stage numbers, lambda class and lambda variable names); they
are normalized away before comparing.

Some plans also differ between two runs of the SAME commit (the runtime
build side of a join between two equal-sized sides, for instance). Pass
more dumps of the BEFORE commit as `--baseline` (repeatable): a query
section that differs between BEFORE and any baseline is reported as
noise, not as a change.

Prints one line per query whose initial or final plan differs, and a
summary. `--diff` also prints a unified diff of each changed section.
Exits 1 when some difference is not explained by the baseline.
"""
import argparse
import difflib
import os
import re
import sys

NORMALIZE = [
    (re.compile(r"#[0-9]+L?"), "#N"),
    (re.compile(r"plan_id=[0-9]+"), "plan_id=N"),
    (re.compile(r"\[id=[0-9]+\]"), "[id=N]"),
    (re.compile(r"RDD\[[0-9]+\]"), "RDD[N]"),
    (re.compile(r"\.scala:[0-9]+"), ".scala:N"),
    (re.compile(r"QueryStage [0-9]+"), "QueryStage N"),
    (re.compile(r"\*\([0-9]+\)"), "*(N)"),
    (re.compile(r"\$\$Lambda\$[0-9]+/0x[0-9a-f]+@[0-9a-f]+"), "Lambda"),
    (re.compile(r"\b([xyz])_[0-9]+#N"), r"\1_N#N"),
]

FINAL_MARK = "--- executedPlan after AQE run ---"
SECTIONS = ("initial", "final")


def normalize(text):
    for pat, rep in NORMALIZE:
        text = pat.sub(rep, text)
    return text


def load(d):
    """{query: (initial, final)} of one PlanDump directory, normalized."""
    out = {}
    for f in sorted(os.listdir(d)):
        if not f.endswith(".txt"):
            continue
        query = f[: -len(".txt")].rsplit("_", 1)[0]
        with open(os.path.join(d, f), encoding="utf-8") as fh:
            text = normalize(fh.read())
        initial, _, final = text.partition(FINAL_MARK)
        out[query] = (initial, final)
    return out


def differing(a, b):
    """Sections (initial/final) in which two loaded plans differ."""
    return {s for s, x, y in zip(SECTIONS, a, b) if x != y}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("before")
    ap.add_argument("after")
    ap.add_argument("--baseline", action="append", default=[],
                    help="another PlanDump of the BEFORE commit (repeatable)")
    ap.add_argument("--diff", action="store_true", help="print unified diffs")
    args = ap.parse_args()

    before, after = load(args.before), load(args.after)
    bases = [load(b) for b in args.baseline]

    only = sorted(set(before) ^ set(after))
    for q in only:
        side = "before" if q in before else "after"
        print(f"{q}: only in {side}")

    changed, noise = [], []
    for q in sorted(set(before) & set(after)):
        diff = differing(before[q], after[q])
        if not diff:
            continue
        seen = set().union(*(differing(before[q], b[q]) for b in bases if q in b))
        real = diff - seen
        tag = "CHANGED" if real else "noise"
        (changed if real else noise).append(q)
        detail = ", ".join(
            s + (" (also differs in baseline)" if s in seen else "")
            for s in SECTIONS if s in diff)
        print(f"{q}: {tag} — {detail}")
        if args.diff and real:
            for i, s in enumerate(SECTIONS):
                if s in real:
                    sys.stdout.writelines(difflib.unified_diff(
                        before[q][i].splitlines(True), after[q][i].splitlines(True),
                        f"{q} {s} (before)", f"{q} {s} (after)"))

    common = len(set(before) & set(after))
    print(f"{common} queries compared: {common - len(changed) - len(noise)} identical, "
          f"{len(noise)} differ only as the baseline does, {len(changed)} changed"
          + (f", {len(only)} present on one side" if only else ""))
    sys.exit(1 if changed or only else 0)


if __name__ == "__main__":
    main()

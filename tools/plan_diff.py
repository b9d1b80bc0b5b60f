#!/usr/bin/env python3
"""Plan check for the superstep kernels: diff ExplainAudit dumps.

    python3 tools/plan_diff.py PARENT_A PARENT_B CHANGE [--match REGEX]

Each argument is the stdout of one ExplainAudit run
(`sbt "runMain graft.tools.ExplainAudit <sf dir>" > dump.txt`): sections
headed `===== <name> =====`. Only the sections whose name matches
`--match` (default: the superstep and half-step plans of
`GraphOps.superstepPlans`) are kept. Expression ids (`#123`) and
`plan_id=123` are session counters, and a literal array prints with its
JVM identity hash (`[D@1b08f0ef`), so all three are replaced before the
compare.

It prints the diff of the two parent dumps first (run-to-run noise on one
host), then the diff of CHANGE against PARENT_A, section by section. A
section where the parents agree and the change differs is listed as
CHANGED: the change moved that plan, and the move needs a reason. Exit
status: 0 when no section is CHANGED, 1 otherwise, 2 on a missing or
mismatched section.
"""
import argparse
import difflib
import re
import sys

HEADER = re.compile(r"^===== (.+) =====$")


def sections(path, match):
    """{name: normalized plan text} of the matching sections of a dump."""
    out, name, lines = {}, None, []

    def flush():
        if name is not None and match.search(name):
            out[name] = "\n".join(lines).strip("\n")

    with open(path, encoding="utf-8") as f:
        for raw in f:
            line = raw.rstrip("\n")
            if line.startswith("[info] "):  # sbt's logged-output prefix
                line = line[len("[info] "):]
            m = HEADER.match(line)
            if m:
                flush()
                name, lines = m.group(1), []
            else:
                line = re.sub(r"#\d+", "#N", line)
                line = re.sub(r"plan_id=\d+", "plan_id=N", line)
                line = re.sub(r"(\[[A-Z]|\w)@[0-9a-f]+\b", r"\1@H", line)
                lines.append(line)
    flush()
    return out


def diff(a, b, name, label_a, label_b):
    return list(difflib.unified_diff(
        a.splitlines(), b.splitlines(), f"{label_a}: {name}",
        f"{label_b}: {name}", lineterm="", n=2))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent_a")
    ap.add_argument("parent_b")
    ap.add_argument("change")
    ap.add_argument("--match", default=r"superstep|half-step",
                    help="regex on section names (default: %(default)s)")
    args = ap.parse_args()
    match = re.compile(args.match)
    pa, pb, ch = (sections(p, match)
                  for p in (args.parent_a, args.parent_b, args.change))
    if not pa:
        print(f"no section of {args.parent_a} matches {args.match!r}")
        return 2
    if set(pa) != set(pb) or set(pa) != set(ch):
        print("section names differ:")
        for label, s in (("parent_a", pa), ("parent_b", pb), ("change", ch)):
            print(f"  {label}: {sorted(s)}")
        return 2

    print("== parent_a vs parent_b (noise between two parent runs)")
    noisy = set()
    for name in sorted(pa):
        d = diff(pa[name], pb[name], name, "parent_a", "parent_b")
        if d:
            noisy.add(name)
            print("\n".join(d))
    if not noisy:
        print("identical")

    print("\n== change vs parent_a")
    changed = []
    for name in sorted(pa):
        d = diff(pa[name], ch[name], name, "parent_a", "change")
        if not d:
            print(f"[same]    {name}")
            continue
        kind = "noise?" if name in noisy else "CHANGED"
        if kind == "CHANGED":
            changed.append(name)
        print(f"[{kind}] {name}")
        print("\n".join(d))
    print(f"\n{len(pa)} sections, {len(changed)} changed where the parents "
          f"agree: {', '.join(changed) or 'none'}")
    return 1 if changed else 0


if __name__ == "__main__":
    sys.exit(main())

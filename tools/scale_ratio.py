#!/usr/bin/env python3
"""Join two `graft.tools.Probe time` logs (sf0.1 + sf1.0) into per-query
10x ratios.

Usage: python3 tools/scale_ratio.py <sf01log> <sf10log> [flag_ratio]
                [--dirs SMALL_DIR BIG_DIR]
Prints one line per query: name sf0.1s sf1.0s ratio rows01->rows10,
sorted by ratio descending, and a FLAG marker past the threshold
(default 3.0). A SCALE line without `rows=` (Probe times full output
through the noop sink and counts no rows) prints `-` for its rows.

Labels are keyed STRICTLY on the dir paths present across both logs —
never on which file a line came from (a single log may cover both
dirs, and the first-dir-seen-is-this-file's-scale heuristic inverted
the ratio whenever a log led with the other scale's lines). Exactly
two distinct dirs must appear; more is an error. Which of the two is
the small scale is decided by the sfX suffix when both dirs carry one,
else by --dirs.
"""
import re
import sys


def parse(path):
    """{name: {dir: (wall, rows or "-")}} keyed by the raw dir path."""
    out = {}
    for line in open(path, errors="replace"):
        m = re.match(
            r"SCALE (\S+) (\S+) wall=([0-9.]+)(?: rows=(\d+))?", line.strip())
        if m:
            name, d = m.group(1), m.group(2)
            out.setdefault(name, {})[d] = (float(m.group(3)), m.group(4) or "-")
    return out


def sf_of(d):
    """Numeric sf parsed from a .../sfX[.Y] path component, or None."""
    m = re.search(r"(?:^|/)sf([0-9.]+)/?$", d.rstrip("/"))
    return float(m.group(1)) if m else None


def label_dirs(all_dirs, explicit):
    """{dir: label} for exactly two dirs; exits loudly otherwise."""
    if len(all_dirs) != 2:
        sys.exit(f"scale_ratio: expected exactly 2 distinct SCALE dirs "
                 f"across both logs, found {len(all_dirs)}: "
                 f"{sorted(all_dirs)} (pass logs covering one pair, or "
                 f"split the log)")
    if explicit:
        small, big = explicit
        if set(explicit) != all_dirs:
            sys.exit(f"scale_ratio: --dirs {explicit} do not match the "
                     f"dirs in the logs: {sorted(all_dirs)}")
        return {small: "sf0.1", big: "sf1.0"}
    sfs = {d: sf_of(d) for d in all_dirs}
    if any(v is None for v in sfs.values()) or len(set(sfs.values())) < 2:
        # unparseable OR equal sf suffixes (e.g. two rebuilds of the same
        # scale): ordering would be arbitrary — silently inverted ratios
        # are the bug this tool's rewrite exists to kill, so exit loudly
        sys.exit(f"scale_ratio: cannot infer scale order from dir names "
                 f"{sorted(all_dirs)} — pass --dirs SMALL_DIR BIG_DIR")
    small, big = sorted(all_dirs, key=lambda d: sfs[d])
    return {small: "sf0.1", big: "sf1.0"}


def main(a, b, flag=3.0, explicit=None):
    pa, pb = parse(a), parse(b)
    merged = {}
    for src in (pa, pb):
        for name, d in src.items():
            merged.setdefault(name, {}).update(d)
    labels = label_dirs({d for per in merged.values() for d in per},
                        explicit)
    rows = []
    for name, per in merged.items():
        byl = {labels[d]: wr for d, wr in per.items()}
        if "sf0.1" in byl and "sf1.0" in byl:
            w0, r0 = byl["sf0.1"]
            w1, r1 = byl["sf1.0"]
            rows.append((w1 / max(w0, 1e-9), name, w0, w1, r0, r1))
        else:
            print(f"MISSING {name}: {sorted(byl)}")
    rows.sort(reverse=True)
    for ratio, name, w0, w1, r0, r1 in rows:
        mark = " FLAG" if ratio > flag else ""
        rows = "-" if r0 == r1 == "-" else f"{r0}->{r1}"
        print(f"{name:28s} {w0:7.2f} {w1:7.2f} {ratio:5.1f}x rows {rows}{mark}")


if __name__ == "__main__":
    argv = sys.argv[1:]
    explicit = None
    if "--dirs" in argv:
        i = argv.index("--dirs")
        if len(argv) < i + 3:
            sys.exit("scale_ratio: --dirs needs two operands: "
                     "--dirs SMALL_DIR BIG_DIR")
        explicit = (argv[i + 1], argv[i + 2])
        argv = argv[:i] + argv[i + 3:]
    if len(argv) < 2:
        sys.exit("usage: scale_ratio.py <sf01log> <sf10log> [flag_ratio] "
                 "[--dirs SMALL_DIR BIG_DIR]")
    main(argv[0], argv[1],
         float(argv[2]) if len(argv) > 2 else 3.0, explicit)

#!/usr/bin/env python3
"""Net line-count delta of the Scala sources under src/main between two
git revisions, per file and in total.

Each figure reads `code [all]`: code lines are the non-blank lines
outside `/** ... */` scaladoc blocks (`//` and `/* */` comments count
as code); all lines are every line of the file. A file that exists on
one side only counts as 0 lines on the other.

Usage: python3 tools/loc_delta.py <from-rev> <to-rev> [path ...]
       python3 tools/loc_delta.py --self-check
Paths (default src/main) limit the files compared, as in `git diff`.
"""
import subprocess, sys

# (from, to, code, all): recorded deltas this rule reproduces
KNOWN = [("dc9c624", "c743b20", 44, 92), ("c743b20", "3c822de", 21, 85),
         ("3c822de", "068780b", -18, 7), ("eafe15c", "8f92068", -57, 70)]


def git(*args):
    return subprocess.run(["git", *args], check=True, capture_output=True,
                          text=True).stdout


def counts(rev, path):
    """(code, all) lines of `path` at `rev`; (0, 0) where it is absent."""
    try:
        text = git("show", f"{rev}:{path}")
    except subprocess.CalledProcessError:
        return 0, 0
    lines = text.splitlines()
    code, in_doc = 0, False
    for line in lines:
        s = line.strip()
        if not in_doc and s.startswith("/**"):
            in_doc = True
        if in_doc:
            if "*/" in s:
                in_doc = False
        elif s:
            code += 1
    return code, len(lines)


def delta(a, b, paths):
    files = git("diff", "--name-only", a, b, "--", *paths).split()
    rows = []
    for f in sorted(x for x in files if x.endswith(".scala")):
        (c0, a0), (c1, a1) = counts(a, f), counts(b, f)
        rows.append((f, c1 - c0, a1 - a0))
    return rows


def fmt(code, all_):
    return f"{code:+d} [{all_:+d}]"


def main(argv):
    if argv == ["--self-check"]:
        bad = 0
        for a, b, code, all_ in KNOWN:
            rows = delta(a, b, ["src/main"])
            got = (sum(r[1] for r in rows), sum(r[2] for r in rows))
            ok = got == (code, all_)
            bad += not ok
            print(f"[{'ok' if ok else 'FAIL'}] {a} {b}: {fmt(*got)}, recorded {fmt(code, all_)}")
        return 1 if bad else 0
    if len(argv) < 2:
        print(__doc__, file=sys.stderr)
        return 2
    rows = delta(argv[0], argv[1], argv[2:] or ["src/main"])
    for f, code, all_ in rows:
        print(f"{fmt(code, all_):>16}  {f}")
    print(f"{fmt(sum(r[1] for r in rows), sum(r[2] for r in rows)):>16}  total")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

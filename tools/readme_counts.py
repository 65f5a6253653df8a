#!/usr/bin/env python3
"""Keep README.md's test count generated: sum the <testsuite tests=...>
counts of the JUnit reports a full `sbt test` leaves in
target/test-reports/TEST-*.xml and write them into README's
"N tests in M suites" line. Regenerate after a full run with:
    python3 tools/readme_counts.py
Freshness check (exit 1 and print both values when README disagrees
with the reports, as tools/gen_index.py --check does for INDEX.md):
    python3 tools/readme_counts.py --check
"""
import glob, os, re, sys
import xml.etree.ElementTree as ET

REPORTS = "target/test-reports/TEST-*.xml"
README = "README.md"
LINE = re.compile(r"\b(\d+) tests in (\d+) suites\b")

paths = sorted(glob.glob(REPORTS))
if not paths:
    print(f"no reports match {REPORTS}: run a full `sbt test` first")
    sys.exit(2)
tests = sum(int(ET.parse(p).getroot().get("tests", "0")) for p in paths)
want = f"{tests} tests in {len(paths)} suites"

text = open(README).read() if os.path.exists(README) else ""
found = LINE.search(text)
if found is None:
    print(f"{README} has no \"N tests in M suites\" line (reports: {want})")
    sys.exit(1)
have = found.group(0)

if "--check" in sys.argv[1:]:
    if have != want:
        print(f"{README} test count stale:\n  have: {have}\n  want: {want}")
        sys.exit(1)
    print(f"{README} test count fresh: {have}")
elif have != want:
    with open(README, "w") as fh:
        fh.write(text[:found.start()] + want + text[found.end():])
    print(f"{README}: {have} -> {want}")
else:
    print(f"{README} unchanged: {have}")

#!/usr/bin/env python3
"""Ledger checks for COVERAGE.md.

1. Completeness: every query key in the newest CORRECTNESS_r*.json (or
   an explicit json arg) must appear somewhere in COVERAGE.md. TPC-H deck
   rows q1_agg..q22_* are covered by the single deck row, so a bare
   `q<digits>_` prefix also counts as covered.
2. Drift: every code name COVERAGE.md cites in backticks must still exist
   under src/main. A CamelCase name must be a Scala class/object/trait;
   `Obj.member` (or `Obj.{a,b}`) also needs each member defined in Obj's
   file; a path token such as `streaming/WarpSink` must name a source
   file. NON_GRAFT lists the Spark/JDK words the ledger cites.

Usage: python3 tools/coverage_check.py [correctness.json]
Exit 0 = complete and current; exit 1 = missing rows or stale names (listed).
"""
import glob
import json
import os
import re
import sys

repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if len(sys.argv) > 1:
    src = sys.argv[1]
else:
    cands = sorted(glob.glob(os.path.join(repo, "CORRECTNESS_r*.json")))
    if not cands:
        print("no CORRECTNESS_r*.json found", file=sys.stderr)
        sys.exit(2)
    src = cands[-1]

keys = sorted(json.load(open(src)).keys())
cov = open(os.path.join(repo, "COVERAGE.md")).read()

deck = re.compile(r"^q\d+_")
missing = [k for k in keys
           if k not in cov and not (deck.match(k) and "q1_agg" in cov)]

print(f"{src}: {len(keys)} query keys, {len(keys) - len(missing)} ledgered")
if missing:
    print("MISSING from COVERAGE.md:")
    for k in missing:
        print(f"  {k}")

# --- drift: cited names that no longer exist under src/main ---
NON_GRAFT = {"Dataset", "DataFrame", "String", "SparkSession", "StreamingQueryProgress"}

main = os.path.join(repo, "src", "main", "scala", "graft")
files = {}  # relative path without .scala -> source text
for path in glob.glob(os.path.join(main, "**", "*.scala"), recursive=True):
    files[os.path.relpath(path, main)[:-len(".scala")]] = open(path).read()
type_def = re.compile(r"\b(?:class|object|trait)\s+(\w+)")
member_def = re.compile(r"\b(?:def|val|var|object|class|trait|type)\s+(\w+)")
defined_in = {}  # type name -> files defining it
for rel, text in files.items():
    for name in type_def.findall(text):
        defined_in.setdefault(name, set()).add(rel)


def members(rels):
    return {m for rel in rels for m in member_def.findall(files[rel])}


# optional `dir/` path, a CamelCase name (with a lowercase letter, so SQL
# keywords and $ENV words pass), optional `.member` or `.{a,b}`; names
# inside hyphenated words (HTTP headers) and after `$` are not code
ref = re.compile(
    r"(?<![\w$.-])(?:[a-z]\w*\.)*(?:(\w+)/)?([A-Z]\w*[a-z]\w*)(?![\w-])"
    r"(?:\.(?:\{([\w,]+)\}|(\w+)))?")
stale = []
for span in re.findall(r"`([^`\n]+)`", cov):
    for d, name, group, single in ref.findall(span):
        wanted = [m for m in (group.split(",") if group else [single]) if m]
        if d:
            rel = f"{d}/{name}"
            if rel not in files:
                stale.append(f"{rel} (no file src/main/scala/graft/{rel}.scala)")
                continue
            rels = {rel}
        elif name in NON_GRAFT:
            continue
        elif name not in defined_in:
            stale.append(f"{name} (no class/object/trait)")
            continue
        else:
            rels = defined_in[name]
        have = members(rels)
        stale += [f"{name}.{m} (no member in {', '.join(sorted(rels))})"
                  for m in wanted if m not in have]

if stale:
    print("STALE names in COVERAGE.md (not under src/main):")
    for s in sorted(set(stale)):
        print(f"  {s}")
if missing or stale:
    sys.exit(1)
print("COVERAGE.md ledger complete; every cited name exists")

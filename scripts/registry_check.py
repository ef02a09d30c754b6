#!/usr/bin/env python3
"""Registry/doc cross-check: the baseline-rung navigation layer stays true.

Four invariants (VERDICT r16 item 7 — rung annotations had gone stale as
newer production paths landed):

  1. Every query name mentioned in COVERAGE.md's "Baseline -> production
     path registry" table (both columns) is a registered query.
  2. Every "production path" pointer inside a query pack's doc/comment
     segment references registered queries only.
  3. For every rung that appears in the COVERAGE table, the doc-string
     pointers are a SUBSET of the table row's production column — a doc
     that names a retired/renamed production twin fails here.
  4. The names parsed from the packs are exactly the key set of
     perfbench/digests.json (one result digest per registered query), so
     a `Q(...)` whose name line the parser cannot see fails loudly instead
     of silently shrinking invariants 1-3.

Usage: python3 scripts/registry_check.py   (exit 0 = all green)
"""
import glob
import json
import re
import sys

NAME = re.compile(r"\b([a-z]+\d+_[a-z0-9_]+)\b")
QDEF = re.compile(r'^\s*"([a-z]+\d+_[a-z0-9_]+)",\s*$')


def registered_queries():
    names = []
    for f in sorted(glob.glob("src/main/scala/graft/queries/*.scala")):
        for line in open(f):
            m = QDEF.match(line)
            if m:
                names.append(m.group(1))
    return set(names)


def doc_pointers():
    """query -> set of production pointers named in its source segment."""
    out = {}
    for f in sorted(glob.glob("src/main/scala/graft/queries/*.scala")):
        cur, seg = None, []
        segments = []
        for line in open(f):
            m = QDEF.match(line)
            if m:
                if cur:
                    segments.append((cur, "\n".join(seg)))
                cur, seg = m.group(1), []
            elif cur:
                seg.append(line.rstrip("\n"))
        if cur:
            segments.append((cur, "\n".join(seg)))
        for name, text in segments:
            ptrs = set()
            for mm in re.finditer(r"production path[^\n]*?(?::|is)\s*", text):
                # pointers may continue onto following string-literal lines;
                # scan to the end of the current doc paragraph (blank or
                # non-comment/non-string line) instead of a fixed window,
                # which silently truncated long pointer lists (ADVICE r17)
                rest = text[mm.end():]
                stop = re.search(
                    r"\n\s*(?:\*\s*)?\n|\n\s*\*/|\n\s*(?![*/\"'\s])", rest)
                tail = rest[:stop.start()] if stop else rest
                ptrs.update(n for n in NAME.findall(tail) if n != name)
            if ptrs:
                out[name] = ptrs
    return out


def coverage_table():
    """rung -> production set, from the COVERAGE.md registry table."""
    text = open("COVERAGE.md").read()
    m = re.search(
        r"## Baseline → production path registry(.*?)(?:\n## |\Z)", text, re.S)
    if not m:
        print("FAIL: COVERAGE.md registry section not found")
        sys.exit(1)
    rows = []
    for line in m.group(1).split("\n"):
        if line.startswith("|") and "---" not in line and "Baseline rung" not in line:
            cells = [c.strip() for c in line.strip("|").split("|")]
            if len(cells) >= 2:
                rungs = set(NAME.findall(cells[0]))
                prods = set(NAME.findall(cells[1]))
                if rungs:
                    rows.append((rungs, prods))
    return rows


def main():
    reg = registered_queries()
    bad = 0
    if len(reg) < 200:
        print(f"FAIL: only {len(reg)} registered queries parsed — regex drift?")
        sys.exit(1)

    digested = set(json.load(open("perfbench/digests.json")))
    for n in sorted(digested - reg):
        print(f"FAIL: {n} has a digest but no parsable Q(\"{n}\", ...) line")
        bad += 1
    for n in sorted(reg - digested):
        print(f"FAIL: {n} is registered but has no digest in perfbench/digests.json")
        bad += 1

    rows = coverage_table()
    table_prod = {}
    for rungs, prods in rows:
        for n in rungs | prods:
            if n not in reg:
                print(f"FAIL: COVERAGE.md registry names unknown query {n}")
                bad += 1
        for r in rungs:
            table_prod.setdefault(r, set()).update(prods)

    for q, ptrs in sorted(doc_pointers().items()):
        for p in ptrs:
            if p not in reg:
                print(f"FAIL: {q} doc points at unknown query {p}")
                bad += 1
        if q in table_prod and table_prod[q]:
            stale = {p for p in ptrs if p in reg} - table_prod[q]
            if stale:
                print(f"FAIL: {q} doc points at {sorted(stale)} but the "
                      f"COVERAGE.md registry row says {sorted(table_prod[q])}")
                bad += 1

    print(f"== registry check: {len(reg)} queries, {len(rows)} table rows, "
          f"{bad} violations ==")
    sys.exit(1 if bad else 0)


main()

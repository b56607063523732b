#!/usr/bin/env python3
"""Generate docs/CATALOG.md: one row per catalog query with its
definition site and oracle status.

Usage:
  sbt -batch "Test/runMain graft.CatalogDump" 2>/dev/null | \
      python3 scripts/gen_catalog_md.py

Dev-only tool; the output is committed so reviewers can navigate the
catalog without running anything.
"""
import re
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def definition_sites():
    """name -> (file, line) of the query DEFINITION (not call sites).

    Definitions live where GraftQuery("name", ...) / noOracle("name")
    is constructed: the name literal sits on the constructor's line or
    opens the line right after it. The same string literals also
    appear at call sites (specs, probes, dev tools), so only
    constructor sites count; a catalog name with no constructor site
    maps to "?" and fails the run. Files are walked in sorted order."""
    constructor = re.compile(r'(GraftQuery|noOracle)\(\s*$')
    sites = {}
    for f in sorted((ROOT / "src/main/scala/graft").rglob("*.scala")):
        prev = ""
        for ln, body in enumerate(f.read_text().splitlines(), start=1):
            n = re.search(r'"(q\d+_[a-z0-9_]+)"', body)
            if n:
                before = body[:n.start()]
                on_line = re.search(r'(GraftQuery|noOracle)\($', before)
                after_open = constructor.search(prev) and not before.strip()
                if (on_line or after_open) and n.group(1) not in sites:
                    sites[n.group(1)] = (str(f.relative_to(ROOT)), ln)
            if body.strip():
                prev = body
    return sites


def main():
    rows = [l.rstrip("\n").split("\t") for l in sys.stdin if l.startswith("q")]
    sites = definition_sites()
    def key(r):
        return int(re.match(r"q(\d+)", r[0]).group(1))
    lines = [
        "# Query catalog index",
        "",
        "Generated by `scripts/gen_catalog_md.py` from `SparkEntry.catalog`.",
        f"{len(rows)} queries; 'oracle' = DuckDB-hash-checked by the driver,",
        "'rows-only' = approximate/trained/iterative by construction (each",
        "covered by a spec instead). Headline queries are benchmarked",
        "median-of-5 per round. Numbering note: q247 is intentionally",
        "unused (a round-7 numbering skip, not a removed query) — the",
        "count above is the audit-true total.",
        "",
        "| Query | Check | Bench | Defined at |",
        "|---|---|---|---|",
    ]
    missing = [r[0] for r in rows if r[0] not in sites]
    if missing:
        sys.exit(f"no GraftQuery/noOracle constructor site for: {missing}")
    for name, oracle, headline in sorted(rows, key=key):
        f, ln = sites[name]
        lines.append(f"| {name} | {oracle} | {headline or ''} | `{f}:{ln}` |")
    out = ROOT / "docs" / "CATALOG.md"
    out.write_text("\n".join(lines) + "\n")
    print(f"wrote {out} ({len(rows)} queries)")


if __name__ == "__main__":
    main()

#!/usr/bin/env python3
"""Regenerate CATALOG.md from the QueryDef registries in src/main/scala."""
import re, glob, os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Durable per-query caveats, appended to the registry one-liner so they
# survive regeneration.
NOTES = {
    "q141_semantic_dedup":
        "NOTE: oracle equivalence is cap-conditional — clusters over the "
        "size gate route through probabilistic-recall RP-LSH while the SQL "
        "oracle stays exact all-pairs; untriggered at every provided SF "
        "(the gate exists for skewed 100 TB label distributions)",
}

rows = []
for f in glob.glob(f"{ROOT}/src/main/scala/graft/**/*.scala", recursive=True):
    mod = f.split("graft/")[-1]
    for m in re.finditer(
            r'QueryDef\("(q\d+[a-z_0-9]*)",\s*\w+,\s*(Some\(\w+\)|None),\s*\n?\s*"([^"]+)"\)',
            open(f).read()):
        doc = m.group(3)
        if m.group(1) in NOTES:
            doc += ". " + NOTES[m.group(1)]
        rows.append((int(re.match(r"q(\d+)", m.group(1)).group(1)),
                     m.group(1), mod, m.group(2) != "None", doc))
rows.sort()
with open(f"{ROOT}/CATALOG.md", "w") as out:
    out.write("# CATALOG — every registered query\n\n")
    out.write(f"{len(rows)} queries; {sum(1 for r in rows if r[3])} DuckDB-oracled "
              "(hash-exact), the rest rows-checked + spec-pinned. Generated by\n"
              "`tools/gen_catalog.py` from the `QueryDef` registries; descriptions\n"
              "are the registry one-liners — full rationale lives in each query's\n"
              "Scaladoc.\n\n")
    out.write("| query | module | check | what it is |\n|---|---|---|---|\n")
    for _, name, mod, oracle, doc in rows:
        out.write(f"| {name} | `{mod}` | {'oracle' if oracle else 'rows+spec'} | {doc} |\n")
print(f"{len(rows)} queries -> CATALOG.md")

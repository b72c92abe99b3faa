#!/usr/bin/env python3
"""Regenerate SURVEY.md §8.1 — the mechanical catalog audit table.

One row per catalog entry: its family (the `<Family>Queries.scala` file
that declares it), the query's one-line purpose (first line of its
`// ---- qNN` comment block), the graft operators/functions its body
references, and its oracle. Parsed straight from the family files under
src/main/scala/graft/catalog so the table cannot drift from the code; run
after every catalog change:

    python3 scripts/gen_survey_catalog.py        # rewrites SURVEY.md in place
    python3 scripts/gen_survey_catalog.py --stdout
"""
import glob
import os
import re
import sys

SRC_GLOB = "src/main/scala/graft/catalog/*Queries.scala"
SURVEY = "SURVEY.md"
BEGIN = "<!-- BEGIN GENERATED CATALOG TABLE (scripts/gen_survey_catalog.py) -->"
END = "<!-- END GENERATED CATALOG TABLE -->"

# graft object names whose use inside a query body marks the operator under
# test (package prefixes stripped). Built from the package listing.
OPERATOR_RE = re.compile(
    r"\b(?:graft\.(?:operators|functions|streaming|plans|multimodal)\.)?"
    r"(AsOfJoin|Audit|Bucketing|Centrality|Chunking|Cleaning|ConnectedComponents|"
    r"Dedup|Diagnostics|Encoding|Funnel|Importance|Layout|Linkage|Merge|Packing|"
    r"Retention|Rollup|Sampling|Similarity|Sketches|SkewJoin|TfIdf|"
    r"AggFunctions|GeoFunctions|HashFunctions|PiiFunctions|TextFunctions|"
    r"VectorFunctions|Streaming\w+|Multimodal|CosineSimilarity|MinHashSig|"
    r"NfcNormalize|EnrichedTokenCount|TopKAgg|KmvAgg)\b")


def main():
    # (query number, catalog key, family, description, operators)
    rows = []
    for path in sorted(glob.glob(SRC_GLOB)):
        family = os.path.basename(path)[:-len("Queries.scala")].lower()
        src = open(path).read()
        # A header may name several queries that share one block
        # ("// ---- q26/q27"): each entry in the block gets its description.
        for m in re.finditer(
                r"// -{10,} (q\d+[a-z]?(?:/q\d+[a-z]?)*)\n(.*?)(?=\n  // -{10,} q|\n}\n)",
                src, re.S):
            block = m.group(2)
            comment_lines = [
                line.strip().lstrip("/ ").strip()
                for line in block.splitlines() if line.strip().startswith("//")
            ]
            desc = ""
            for line in comment_lines:
                desc += (" " if desc else "") + line
                if len(desc) > 90:
                    break
            desc = re.sub(r"\s+", " ", desc)[:140].rstrip()
            body = re.sub(r"//[^\n]*", "", block)  # ops from code, not comments
            ops = sorted(set(OPERATOR_RE.findall(body)))
            for key in re.findall(r'= query\("(q(\d+)[a-z0-9_]*)"\)', block):
                rows.append((int(key[1]), key[0], family, desc, ops))
    rows.sort()
    keys = [r[1] for r in rows]
    assert len(keys) == len(set(keys)), "duplicate catalog key"
    rows = [
        f"| {key} | {family} | {desc or '—'} | {', '.join(ops) or 'DataFrame ops'} | value |"
        for _, key, family, desc, ops in rows]

    table = "\n".join([
        BEGIN,
        "",
        f"{len(rows)} catalog queries; \"value\" = DuckDB oracle hash-checks "
        "every cell (every entry has an oracle). Regenerate with "
        "`python3 scripts/gen_survey_catalog.py` after any catalog change.",
        "",
        "| Catalog query | Family | Purpose (from the in-code comment) | graft modules exercised | Oracle |",
        "|---|---|---|---|---|",
        *rows,
        "",
        END,
    ])

    if "--stdout" in sys.argv:
        print(table)
        return
    survey = open(SURVEY).read()
    if BEGIN in survey:
        survey = re.sub(re.escape(BEGIN) + ".*?" + re.escape(END), table,
                        survey, flags=re.S)
    else:
        survey = survey.rstrip() + "\n\n### 8.1 Mechanical catalog audit table\n\n" + table + "\n"
    open(SURVEY, "w").write(survey)
    print(f"wrote {len(rows)} rows to {SURVEY}")


if __name__ == "__main__":
    main()

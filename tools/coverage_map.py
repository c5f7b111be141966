"""Regenerate the full-registry query inventory in COVERAGE.md.

The hand-written COVERAGE.md maps SURVEY §2
operator rows to implementations, but predates the round-9 waves and
never enumerated the registry itself.  This tool appends (or
replaces) a GENERATED section between marker comments: every catalog
query grouped by SURVEY §2 / LLM-brief family, with its module,
bench-set membership and the first docstring sentence.

Run from the repo root:  python tools/coverage_map.py
"""

from __future__ import annotations

import os
import sys

BEGIN = "<!-- BEGIN GENERATED QUERY INVENTORY (tools/coverage_map.py) -->"
END = "<!-- END GENERATED QUERY INVENTORY -->"

# query module -> (family heading, SURVEY / brief anchor)
FAMILIES: dict[str, tuple[str, str]] = {
    "relational": ("Relational core", "SURVEY §2.6 sorts/set-ops/grouping/joins/aggs"),
    "tpch": ("TPC-H query shapes", "SURVEY §2.6 full intent set"),
    "windows": ("Windowed aggregation", "SURVEY §2.6 tumbling/sliding/session"),
    "events": ("Event analytics", "SURVEY §2.6 + LLM brief: behavioral tables"),
    "paths": ("Paths / funnels / attribution", "LLM brief: training-pipeline analytics"),
    "kv": ("KV statement surface", "SURVEY §2.5"),
    "cdc_queries": ("CDC envelope analytics", "SURVEY §2.1 MongoDB change streams"),
    "text": ("Text analysis", "LLM brief: text analysis"),
    "text2": ("Text analysis (2)", "LLM brief: text analysis"),
    "text3": ("Text analysis (3)", "LLM brief: text analysis"),
    "langid": ("Language identification", "LLM brief: language-ID"),
    "dedup": ("Deduplication", "LLM brief: exact/MinHash-LSH/SimHash/Jaccard/cosine dedup"),
    "similarity": ("Similarity / ANN", "LLM brief: embedding kNN, IVF, LSH, PQ"),
    "clustering": ("Clustering", "LLM brief: embedding structure"),
    "graphq": ("Graph analytics", "LLM brief: dedup closure / centrality"),
    "sampling": ("Sampling", "LLM brief: stratified/weighted sampling"),
    "curation": ("Corpus curation", "LLM brief: decontamination, packing, budgets"),
    "curation2": ("Corpus curation (2)", "LLM brief: data cards, shard plans"),
    "splits": ("Train/eval splits", "LLM brief: leakage-safe splits"),
    "governance": ("Governance / privacy", "LLM brief: k-anon, DP, PII"),
    "features": ("Model-quality loop", "LLM brief: features, AUC/PR, calibration"),
    "diagnostics": ("Data diagnostics", "LLM brief: drift, outliers, integrity"),
    "sketches": ("Sketches", "LLM brief: KMV/CMS/AMS/HLL/bloom"),
    "stats": ("Hypothesis testing", "LLM brief: z/t/U/chi²/KS, SRM, permutation"),
    "experiment": ("Experiment decisions", "LLM brief: ANOVA, FDR, power, QTE, DiD"),
    "timeseries": ("Time series", "LLM brief: ACF, SES, baselines, CATE"),
    "search": ("Search / retrieval", "LLM brief: BM25, phrase, hybrid RRF"),
    "preference": ("Preference analytics", "LLM brief: RLHF pairwise contests, Wilson bounds, Bradley-Terry"),
    "extras": ("Relational extras", "SURVEY §2.6"),
    "extras2": ("Relational extras (2)", "SURVEY §2.6"),
    "extras3": ("Relational extras (3)", "SURVEY §2.6"),
    "extras4": ("Relational extras (4)", "SURVEY §2.6"),
    "extras5": ("Relational extras (5)", "SURVEY §2.6"),
}


def first_sentence(doc: str) -> str:
    doc = " ".join((doc or "").split())
    for stop in (". ", ".\n"):
        if stop in doc:
            return doc.split(stop, 1)[0] + "."
    return doc or "—"


def generate(root: str = ".") -> str:
    sys.path.insert(0, root)
    from wire_spark.catalog import load_registry

    reg = load_registry()

    by_mod: dict[str, list] = {}
    for q in reg.values():
        by_mod.setdefault(q.fn.__module__.rsplit(".", 1)[1], []).append(q)

    lines = [BEGIN, "", "## Full query inventory (generated)", ""]
    lines.append(
        f"All **{len(reg)}** catalog queries (every one paired with an exact "
        "DuckDB oracle in `oracle_sql()`), grouped by family.  \"bench\" "
        "marks the bench.py headline set."
    )
    lines.append("")
    for mod in sorted(by_mod, key=lambda m: (FAMILIES.get(m, (m, ""))[0], m)):
        fam, anchor = FAMILIES.get(mod, (mod, ""))
        qs = sorted(by_mod[mod], key=lambda q: q.name)
        lines.append(f"### {fam} — `queries/{mod}.py` ({len(qs)}) — {anchor}")
        lines.append("")
        lines.append("| query | bench | what it computes |")
        lines.append("|---|---|---|")
        for q in qs:
            doc = first_sentence(q.doc).replace("|", "\\|")
            lines.append(
                f"| `{q.name}` | {'yes' if q.bench else ''} | {doc} |"
            )
        lines.append("")
    lines.append(END)
    return "\n".join(lines) + "\n"


def main(root: str = ".") -> None:
    path = os.path.join(root, "COVERAGE.md")
    text = open(path).read()
    section = generate(root)
    if BEGIN in text:
        if END not in text:
            raise SystemExit(
                "COVERAGE.md has the BEGIN marker but no END marker — "
                "refusing to rewrite (would delete everything after BEGIN)"
            )
        pre = text.split(BEGIN)[0]
        # the section already ends with one newline after END; strip
        # the previous run's leading newlines from the remainder so
        # regeneration is byte-idempotent
        post = text.split(END, 1)[1].lstrip("\n")
        text = pre + section + post
    else:
        text = text.rstrip() + "\n\n" + section
    with open(path, "w") as fh:
        fh.write(text)
    print(f"wrote generated inventory into {path}")


if __name__ == "__main__":
    main(sys.argv[1] if len(sys.argv) > 1 else ".")

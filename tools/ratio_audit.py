#!/usr/bin/env python3
"""Per-query Spark-vs-DuckDB ratio audit (round-11 directive #2).

The standing 2x perf gate was enforced only at the suite total, which lets a
single query run 5x its own oracle and hide inside the aggregate. This joins
a graft.Bench per-query map against tools/oracle_timing.py's per-query dump
and flags per-query breaches of the gate.

The gate is AFFINE, not a bare ratio: breach iff

    spark_sec > OVERHEAD + RATIO_CAP * duckdb_sec

A bare ratio is meaningless at sf0.1 for small queries: Spark pays a fixed
multi-stage scheduling/codegen cost (~0.1 s per stage, ~1 s for a deep plan
at local[32]) that does NOT scale with data, while DuckDB's in-process
execution of a trivial oracle is single-digit milliseconds — q79 reads 111x
on 0.005 s of DuckDB work, which is a statement about scheduler constants,
not about the plan (the BENCH_NOTES r1 "tiny-input / stage-overhead-bound"
taxonomy, made continuous). OVERHEAD amortizes to zero at production scale;
the 2x slope is the part that scales, and it is what this audit enforces
per query. The suite-total gate (BENCH_NOTES, ~1.4-1.5x) remains the
headline number.

Exclusions (incomparable by construction):
  - dump-derived oracles re-read a Verify dump: DuckDB reads the answer
    Spark computed — different work.

Usage: python3 tools/ratio_audit.py <bench_json> <oracle_times_json>
  <bench_json>: a capture of graft.Bench's stdout (the line carrying
  "queries" is read) or any flat {"name": sec} map, e.g. bench_pins.json.
Exit 1 if any non-excluded query breaches the gate. Exit 2, printing no
table, when the capture's "sf" is off the oracle times' scale (Bench's rule:
the last path component of "_meta.sf" must be a path component of "sf").
"""
import json
import sys

RATIO_CAP = 2.0
OVERHEAD = 1.0  # s: multi-stage scheduling+codegen fixed cost at local[32]

# Oracles that replay a Verify dump instead of recomputing (incomparable by
# construction — DuckDB reads the answer Spark computed).
DUMP_DERIVED = {
    "q25_lineage_edges", "q26_repo_links", "q27_impact_closure",
    "q28_corpus_docs", "q29_qa_retrieval", "q30_qa_evidence",
    "q44_qa_retrieval_simple", "q169_recursive_closure",
    "q183_grounded_answers", "q184_mermaid_doc",
    "aux_corpus_parts", "aux_qa_vectors",
}


def load_bench(path):
    """(per-query map, run dir) of a Bench capture: the JSON line that
    carries `queries` (Bench prints three lines; only the full one has it),
    else the file as one JSON value from its first `{` (bench_pins.json).
    The run dir is that value's `sf`, None when it has none."""
    txt = open(path).read()
    for line in txt.splitlines():
        if '"queries"' in line and "{" in line:
            try:
                j = json.loads(line[line.index("{"):])
            except json.JSONDecodeError:
                continue
            if isinstance(j, dict) and "queries" in j:
                return j["queries"], j.get("sf")
    j = json.loads(txt[txt.index("{"):])
    return j.get("queries", j), j.get("sf")


def off_scale(sf, duck):
    """Why the oracle times do not belong to run dir `sf`, by Bench's rule
    (`Bench.oracleRefAt`); None when they do or the capture names no dir."""
    if sf is None:
        return None
    tag = [p for p in str((duck.get("_meta") or {}).get("sf") or "").split("/") if p]
    if not tag:
        return f'oracle times carry no "_meta.sf" tag; capture sf is {sf!r}'
    if tag[-1] not in str(sf).split("/"):
        return f"oracle times measured at {tag[-1]!r} but capture sf is {sf!r}"
    return None


def main(bench_path, oracle_path):
    spark, sf = load_bench(bench_path)
    duck = json.load(open(oracle_path))
    why = off_scale(sf, duck)
    if why:
        print(f"ratio_audit: REFUSED: {why}", file=sys.stderr)
        return 2
    rows = []
    breaches = []
    for name in sorted(set(spark) & set(duck)):
        s, d = spark[name], duck[name]
        if s < 0:  # failed query: Bench reports -1; not a ratio
            continue
        budget = OVERHEAD + RATIO_CAP * d
        excess = s - budget
        excl = "dump-derived" if name in DUMP_DERIVED else None
        rows.append((name, s, d, excess, excl))
        if excess > 0 and excl is None:
            breaches.append((name, s, d, excess))
    rows.sort(key=lambda r: -r[3])
    print(f"| query | spark s | duckdb s | budget {OVERHEAD}+{RATIO_CAP}d | status |")
    print("|---|---|---|---|---|")
    for name, s, d, excess, excl in rows[:30]:
        status = excl or ("**BREACH**" if excess > 0 else "ok")
        print(f"| {name} | {s:.2f} | {d:.3f} | {OVERHEAD + RATIO_CAP*d:.2f} | {status} |")
    if len(rows) > 30:
        # the remainder may still hold breaches (rows sort by excess but
        # include excluded entries); never claim "all ok" without checking
        rest_breach = sum(1 for r in rows[30:] if r[3] > 0 and r[4] is None)
        tag = "all ok" if rest_breach == 0 else f"{rest_breach} BREACHES below cutoff"
        print(f"| ... ({len(rows) - 30} more, {tag}) | | | | |")
    n_cmp = sum(1 for r in rows if r[4] is None)
    print(f"\ncomparable: {n_cmp}, dump-derived: "
          f"{sum(1 for r in rows if r[4] == 'dump-derived')}, "
          f"breaches: {len(breaches)}")
    for name, s, d, excess in breaches:
        print(f"BREACH {name}: spark {s:.2f}s vs budget "
              f"{OVERHEAD + RATIO_CAP*d:.2f}s (duckdb {d:.3f}s, excess {excess:.2f}s)")
    return 1 if breaches else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))

#!/usr/bin/env python3
"""Render PLANS.md from a run record, a Verify `<outDir>/trace.json` or a
Bench record file, or check a record against PLANS.md, without starting
Spark.

Usage: python3 tools/plans.py <record.json> > PLANS.md
       python3 tools/plans.py --check <record.json> [plans.md]

`--check` prints, per query, each plan fact or digest that differs from
PLANS.md (or the given table) as `column: old → new`, and the queries
present on one side only; it exits 1 if any row differs, 0 if none does.
"""
import json
import os
import sys

COLUMNS = ["shuffles", "broadcasts", "reused", "joins", "pushed filters", "codegen spans", "digest"]


def cells(t):
    """The PLANS.md cells of one trace entry, in COLUMNS order."""
    p = t.get("plan")
    if p is None:
        return ["", "", "", "no plan: the query failed", "", "", ""]
    joins = " ".join(j.replace("Join", "") for j in p["joins"]) or "—"
    return [str(p["shuffle_exchanges"]), str(p["broadcast_exchanges"]), str(p["reused_exchanges"]),
            joins, "yes" if p["pushed_filters"] else "", str(p["codegen_spans"]), f"`{t['plan_digest']}`"]


def render(path, rec):
    prov = rec.get("provenance", {})
    print(f"""# Physical plans (rendered by `tools/plans.py` from `{path}`)

sf `{rec.get("sf")}`, git `{prov.get("git_sha")}`{" (uncommitted changes)" if prov.get("git_dirty") else ""},
{prov.get("spark_cores")} Spark cores on a {prov.get("nproc")}-core host, {prov.get("jdk")}, Spark {prov.get("spark")}.

Each query's `plan` and `plan_digest` from the record's trace: the AQE-final
plan that ran, counted over its nodes (README, "Bench").

| query | {" | ".join(COLUMNS)} |
|---|---|---|---|---|---|---|---|""")
    for name, t in sorted(rec["trace"].items()):
        print(f"| {name} | {' | '.join(cells(t))} |")


def table(path):
    """PLANS.md's rows: query -> cells."""
    rows = {}
    for line in open(path):
        parts = [c.strip() for c in line.strip().strip("|").split("|")]
        if line.startswith("| ") and len(parts) == len(COLUMNS) + 1 and parts[0] != "query":
            rows[parts[0]] = parts[1:]
    return rows


def check(rec, plans):
    old = table(plans)
    new = {name: cells(t) for name, t in rec["trace"].items()}
    moved = 0
    for name in sorted(old.keys() | new.keys()):
        if name not in new:
            print(f"{name}: only in {plans}")
        elif name not in old:
            print(f"{name}: not in {plans}")
        else:
            diffs = [f"{c}: {a or '(none)'} → {b or '(none)'}"
                     for c, a, b in zip(COLUMNS, old[name], new[name]) if a != b]
            if not diffs:
                continue
            print(f"{name}: {'; '.join(diffs)}")
        moved += 1
    print(f"{moved} of {len(old.keys() | new.keys())} rows differ from {plans}", file=sys.stderr)
    return 1 if moved else 0


if __name__ == "__main__":
    args = sys.argv[1:]
    if args[:1] == ["--check"]:
        default = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "PLANS.md")
        sys.exit(check(json.load(open(args[1])), args[2] if len(args) > 2 else default))
    render(args[0], json.load(open(args[0])))

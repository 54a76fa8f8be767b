#!/usr/bin/env python3
"""Render PLANS.md from a run record, a Verify `<outDir>/trace.json` or a
Bench record file, without starting Spark.

Usage: python3 tools/plans.py <record.json> > PLANS.md
"""
import json
import sys

rec = json.load(open(sys.argv[1]))
prov = rec.get("provenance", {})
print(f"""# Physical plans (rendered by `tools/plans.py` from `{sys.argv[1]}`)

sf `{rec.get("sf")}`, git `{prov.get("git_sha")}`{" (uncommitted changes)" if prov.get("git_dirty") else ""},
{prov.get("spark_cores")} Spark cores on a {prov.get("nproc")}-core host, {prov.get("jdk")}, Spark {prov.get("spark")}.

Each query's `plan` and `plan_digest` from the record's trace: the AQE-final
plan that ran, counted over its nodes (README, "Bench").

| query | shuffles | broadcasts | reused | joins | pushed filters | codegen spans | digest |
|---|---|---|---|---|---|---|---|""")
for name, t in sorted(rec["trace"].items()):
    p = t.get("plan")
    if p is None:
        print(f"| {name} | | | | no plan: the query failed | | | |")
        continue
    joins = " ".join(j.replace("Join", "") for j in p["joins"]) or "—"
    print(f"| {name} | {p['shuffle_exchanges']} | {p['broadcast_exchanges']} | {p['reused_exchanges']} | {joins} "
          f"| {'yes' if p['pushed_filters'] else ''} | {p['codegen_spans']} | `{t['plan_digest']}` |")

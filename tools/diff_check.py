#!/usr/bin/env python3
"""Compare reference-engine records (ref_runner.js) with kernel records
(`graft.tools.Main diff`, graft.DiffRunner). Usage: diff_check.py <ref.json> <kernel.json>
"""
import json, sys
from collections import Counter

ref = {(r["file"], r["opts"]): r for r in json.load(open(sys.argv[1]))}
ker = {(r["file"], r["opts"]): r for r in json.load(open(sys.argv[2]))}

missing = set(ref) ^ set(ker)
if missing:
    print("record set mismatch:", list(missing)[:5])

mismatch_fields = Counter()
mismatch_examples = {}
errors = 0
for key in sorted(set(ref) & set(ker)):
    a, b = ref[key], ker[key]
    if "error" in a or "error" in b:
        errors += 1
        if "error" in a and "error" not in b:
            mismatch_fields["ref-error-only"] += 1
            mismatch_examples.setdefault("ref-error-only", key)
        if "error" in b and "error" not in a:
            mismatch_fields["kernel-error-only"] += 1
            mismatch_examples.setdefault("kernel-error-only", key)
        continue
    for field in ("valid", "outer", "structured", "text", "rawText",
                  "structure", "json", "removeWs", "attrs", "rawAttrs",
                  "idClass", "mutAttr", "mutInner", "mutContent", "mutTrim"):
        if a.get(field) != b.get(field):
            mismatch_fields[field] += 1
            mismatch_examples.setdefault(field, key)
    for s, av in a.get("sel", {}).items():
        bv = b.get("sel", {}).get(s)
        if av != bv:
            mismatch_fields[f"sel:{s}"] += 1
            mismatch_examples.setdefault(f"sel:{s}", key)

total = len(set(ref) & set(ker))
print(f"compared {total} records ({errors} with engine errors, skipped)")
if mismatch_fields:
    print("MISMATCHES:")
    for f, c in mismatch_fields.most_common():
        print(f"  {f}: {c}   e.g. {mismatch_examples[f]}")
    sys.exit(1)
print("ALL MATCH")

#!/bin/bash
# Differential test: kernel vs the actual reference engine (transpiled to JS
# at run time from the read-only checkout — no reference code enters the repo).
# Usage: tools/run_diff_test.sh [nFuzz=400] [seed=42]
set -e
cd "$(dirname "$0")/.."
N=${1:-400}
SEED=${2:-42}
python3 tools/gen_entities_shim.py /tmp/ref_js
python3 tools/transpile_reference.py /tmp/ref_js
rm -rf /tmp/graft_fuzz
python3 tools/gen_fuzz.py /tmp/graft_fuzz "$N" "$SEED"
node tools/ref_runner.js /tmp/graft_fuzz /tmp/graft_ref.json
sbt -batch "runMain graft.tools.Main diff /tmp/graft_fuzz /tmp/graft_ker.json" | grep wrote
python3 tools/diff_check.py /tmp/graft_ref.json /tmp/graft_ker.json

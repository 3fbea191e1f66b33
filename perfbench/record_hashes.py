#!/usr/bin/env python3
"""Record the expected content hash of every registered query at sf0.1.

    python3 perfbench/record_hashes.py [VERIFY_OUT_DIR]

Runs every registered query once on perfbench/data/sf0.1 and hashes its
output with the same all-column xxhash64 / bit_xor reduce as `graft.Bench`'s
`force()`. With VERIFY_OUT_DIR (the output of `graft.Verify` on the same
tables, checked with tools/parity_check.py) the query outputs written there
are hashed too, and every oracled query must agree with it: its expected hash
is then the hash of a DuckDB-verified result. Queries without an oracle keep
the hash of the engine as it stands. Writes perfbench/expected_hashes.json.
"""

import json
import os
import sys

import run


def main():
    cp = run.build()
    live = run.launch(cp, "hashes", 0, 0, 0, ["--data", run.DATA], 1800)
    hashes = live["hashes"]
    errors = sorted(n for n, h in hashes.items() if h.startswith("error"))
    verified = []
    if len(sys.argv) > 1:
        dumps = os.path.abspath(sys.argv[1])
        with open(os.path.join(dumps, "oracle_sql.json")) as fh:
            oracled = set(json.load(fh))
        dumped = run.launch(cp, "hash-dumps", 0, 0, 0, ["--dumps", dumps], 900)["hashes"]
        disagree = sorted(n for n in oracled if dumped.get(n) != hashes.get(n))
        if disagree:
            raise SystemExit("live and verified hashes differ: %s" % ", ".join(disagree))
        verified = sorted(oracled)
    if errors:
        raise SystemExit("queries failed: %s" % ", ".join(errors))
    out = {
        "tables": "perfbench/data/sf0.1",
        "reduce": "bit_xor(xxhash64(struct(all output columns)))",
        "verified_against_duckdb": verified,
        "hashes": dict(sorted(hashes.items())),
        "wall_ms_cold": {k: round(v, 1) for k, v in sorted(live["walls"].items())},
    }
    with open(run.EXPECTED, "w") as fh:
        json.dump(out, fh, indent=1)
        fh.write("\n")
    print("recorded %d hashes (%d verified against DuckDB)" % (len(hashes), len(verified)))


if __name__ == "__main__":
    main()

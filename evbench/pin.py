#!/usr/bin/env python3
"""Set the output pins in pins.json (run from the root of a checkout).

    python3 evbench/pin.py SEED [SEED ...]

Runs one serial pass per seed, requires every pipeline to succeed with
zero contract violations and the same evidence row count under every
seed, then records the row counts (valid for every seed at this scale)
and each seed's order-independent evidence digests. Re-run only when the
generator, the scale or the program's intended output changes.
"""
import json
import os
import sys

import run


def main():
    seeds = [int(s) for s in sys.argv[1:]]
    if not seeds:
        run.fail("usage: pin.py SEED [SEED ...]")
    cp, _ = run.build()
    rows, digests = None, {}
    for seed in seeds:
        report, out = run.run_pass(cp, "evidence_serial", run.inputs(seed), seed, 0, f"pin{seed}")
        bad = [(u["name"], u["error"]) for u in report["units"] if not u["ok"]]
        if bad or report["contract_violations"]:
            run.fail(f"seed {seed}: failed units {bad}, violations {report['contract_violations']}")
        got = {}
        digests[str(seed)] = {}
        for u in report["units"]:
            n, dg = run.evidence_digest(os.path.join(out, f"{u['name']}.json.gz"))
            got[u["name"]] = n
            digests[str(seed)][u["name"]] = dg
        if rows is not None and got != rows:
            diff = {k: (rows[k], got[k]) for k in rows if rows[k] != got.get(k)}
            run.fail(f"row counts depend on the seed: {diff}")
        rows = got
        run.log(f"seed {seed}: {sum(got.values())} evidence rows over {len(got)} pipelines")
    path = os.path.join(run.HERE, "pins.json")
    pins = run.load_json(path, {})
    pins[str(run.SCALE)] = {"rows": rows, "digests": digests}
    with open(path, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()

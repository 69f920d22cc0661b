"""Regenerate ``pins.json``: row count and digest of each rows-only query of
query_mix on its table set. Run from the root of a checkout after a
change to ``gen.py``, at a commit whose rows-only results are trusted::

    python3 perfbench/pin.py
"""

from __future__ import annotations

import json
import os
import sys
import time

import run


def main() -> int:
    scratch = os.path.join(run.WORK, f"run-{os.getpid()}")
    run.configure_environment(scratch)
    import check
    import workloads

    bench = workloads.Run(run.WORK, "query_mix", 0, 0, False, time.time())
    got = {}
    try:
        bench.setup()
        bench.table_dir = workloads.tables_dir(run.WORK, workloads.MIX_SF)
        for name in (n for n in workloads.MIX if n not in bench.oracles):
            out = os.path.join(bench.outputs, name)
            bench._query(name, out)
            _, rows = check.read_result(out)
            got[name] = {"n": len(rows), "digest": check.rows_digest(rows)}
        pins = {workloads.pin_key(): got}
    finally:
        bench.close()
        run.stop_children()
    with open(workloads.PINS_PATH, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")
    print(json.dumps(pins, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())

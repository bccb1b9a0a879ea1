"""Regenerate ``pinned_curate.json``: the content fingerprints of the
``curate`` workload's kept and packs tables for each seed in a range.

    python3 perfbench/pin_curate.py FIRST LAST

Run it only when the page generator or the curation semantics change on
purpose; the benchmark's ``curate`` check compares every op against it.
"""

from __future__ import annotations

import json
import shutil
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def main(argv: list[str]) -> int:
    first, last = int(argv[0]), int(argv[1])
    sys.path.insert(0, str(ROOT))
    from perfbench.host import stop_spark
    from perfbench.run import start_spark
    from perfbench.workloads import CURATE_PAGES, PINNED, Curate, curate_fingerprints

    work = Path.cwd() / ".bench_work" / "pin_curate"
    shutil.rmtree(work, ignore_errors=True)
    pins = json.loads(PINNED.read_text()) if PINNED.is_file() else {}
    by_seed = pins.setdefault(str(CURATE_PAGES), {})
    spark = start_spark(work)
    try:
        for seed in range(first, last + 1):
            wl = Curate(spark, work, seed)
            wl.prepare()
            out = wl.fresh_dir("op")
            wl.run(out)
            by_seed[str(seed)] = curate_fingerprints(spark, out)
            print(seed, by_seed[str(seed)], flush=True)
            shutil.rmtree(wl.pages.parent, ignore_errors=True)
            shutil.rmtree(out, ignore_errors=True)
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    pins[str(CURATE_PAGES)] = dict(sorted(by_seed.items(), key=lambda kv: int(kv[0])))
    PINNED.write_text(json.dumps(pins, indent=1) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))

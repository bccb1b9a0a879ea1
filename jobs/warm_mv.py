"""Rebuild the driver MVs (data/mv/<sf>-<fingerprint>/) at every tier.

Run after any edit that rotates ``_mentions_fingerprint()`` (kernel/*,
fixtures.py, stages.py, kg.py) so the driver's one-shot bench reads warm
parquet instead of paying a cold multi-minute annotate+canonicalize
rebuild inside the timed capture.  The MVs are gitignored; ``_mv``
also builds a missing one on demand.

Usage::

    python -m jobs.warm_mv [--prune] [sf0.001 sf0.01 sf0.1]
"""

from __future__ import annotations

import shutil
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))

TIERS = ("sf0.001", "sf0.01", "sf0.1")


def main(argv: list[str]) -> None:
    import __spark_entry__ as entry_mod
    from deduce_spark.spark.session import get_spark

    prune = "--prune" in argv
    tiers = [a for a in argv if a.startswith("sf")] or list(TIERS)
    fp = entry_mod._mentions_fingerprint()
    spark = get_spark(master="local[32]", app_name="warm_mv")
    for sf in tiers:
        # touching each MV table materializes (or reuses) the on-disk
        # parquet keyed by the current fingerprint
        sf_dir = f"/root/testdata/{sf}"
        for table in entry_mod._MV_TABLES:
            entry_mod._mv(spark, sf_dir, table)
        print(f"{sf}: warm at {fp}")
    spark.stop()
    if prune:
        for d in entry_mod._MV_ROOT.iterdir():
            if d.is_dir() and not d.name.endswith(fp):
                shutil.rmtree(d)
                print(f"pruned stale {d.name}")


if __name__ == "__main__":
    main(sys.argv[1:])

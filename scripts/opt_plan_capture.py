#!/usr/bin/env python3
"""Capture .explain("formatted") for named queries into
<out_dir>/<name>_<tag>.txt.

Usage: python scripts/opt_plan_capture.py <tag> <out_dir> <repo_root> <sf_dir> <name> [name ...]

Run with tag=after on the optimized checkout and tag=before with repo_root
set to a checkout of the pre-optimization commit, so the committed plans
can be diffed (plans/r11 and plans/r12 were captured this way).  Each
query is collected first, so the FINAL adaptive plan is captured.
Multi-action lifecycle gates explain their RETURNED (serve) plan only; the
write-side changes need phase timings and layout file inventories.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

if len(sys.argv) < 6:
    sys.exit(__doc__)
TAG, OUT_DIR, ROOT, SF = sys.argv[1:5]
NAMES = sys.argv[5:]

sys.path.insert(0, ROOT)


def main() -> None:
    import __spark_entry__ as entry_mod
    from codecdb_queryengine_spark.session import get_spark

    os.makedirs(OUT_DIR, exist_ok=True)
    spark = get_spark(f"plan-capture-{TAG}")
    qs = entry_mod.queries()
    for name in NAMES:
        fn = qs[name]
        df = fn(spark, SF)
        df.collect()  # execute so AQE's FINAL plan (ReusedExchange,
        #               AQEShuffleRead, coalesced exchanges) is captured
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        with open(os.path.join(OUT_DIR, f"{name}_{TAG}.txt"), "w") as fh:
            fh.write(buf.getvalue())
        print(f"captured {name}_{TAG}", flush=True)


if __name__ == "__main__":
    main()

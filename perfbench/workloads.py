"""The benchmark's workloads: which registry operations one pass runs.

Every workload is a closed loop with one client: the next operation starts
only after the previous one returned.  An operation is one registry call:
build the DataFrame, force its physical plan, collect.  A run times whole
passes, each a seeded permutation of the workload's operations, so every
run does the same work and the seed only changes its order.

Operations are chosen so that a warm pass takes 4-6 s on a 4-core host and
every oracle evaluates in about a second or less: a run (set-up with an
untimed JIT-cold pass, the timed passes and the oracle check) has to stay
near a minute on a 4-core host.
"""

from __future__ import annotations

import math
import random
from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    ops: tuple[str, ...]
    pass_s: float  # nominal warm pass time on the reference host
    # Write-heavy operations: the runner collects garbage (Python and JVM)
    # after each, outside the timed wall, so their heap churn does not land
    # on whichever operation the seed puts next.
    heavy: frozenset[str] = frozenset()

    def passes(self, seconds: float) -> int:
        """Whole passes that fill at least ``seconds`` at the nominal pace
        (at least two, so the tail percentile has samples)."""
        return max(2, math.ceil(seconds / self.pass_s))


def pass_order(ops: tuple[str, ...], seed: int, pass_index: int) -> list[str]:
    """The order of one pass: a permutation fixed by (seed, pass)."""
    order = list(ops)
    random.Random(f"{seed}/{pass_index}").shuffle(order)
    return order


# Why each workload exists, and which layers it stresses, is recorded in
# BENCHMARK.json ("why") and perfbench/README.md.
WORKLOADS: dict[str, Workload] = {
    # Five queries in both forms: with ten operations the median falls
    # between the two forms of q1, inside a cluster of near-equal latencies,
    # not in the gap between q1 and q3.
    "olap": Workload(
        ops=(
            "q1", "q1_sql", "q3", "q3_sql", "q6", "q6_sql", "q14", "q14_sql",
            "ssb_q2_1", "ssb_q2_1_sql",
        ),
        pass_s=4.5,
    ),
    "pipeline_rw": Workload(
        ops=(
            "mm_features", "docs_search_index", "docs_tfidf", "sim_ann_ivf_filtered",
            "docs_upsert_partitioned", "events_stream_window",
        ),
        pass_s=5.7,
        heavy=frozenset({"docs_upsert_partitioned", "events_stream_window"}),
    ),
}

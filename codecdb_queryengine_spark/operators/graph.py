"""Distributed graph primitives for the dedup pipeline.

The reference has no graph operators (SURVEY.md §2 — its only "graph" is
the query DAG itself); connected components is the driver-mandated
extension that turns near-duplicate PAIRS (dedup.py) into duplicate
CLUSTERS, the form a 100-TB dedup job actually consumes (keep one doc per
component, drop the rest).

Two algorithms, one contract ((node, component), component = min reachable
id — deterministic, so oracle-comparable):

- connected_components: iterative min-label propagation (each node adopts
  the smallest label among itself and its neighbors until fixpoint), the
  classic MapReduce-CC formulation (Kiveris et al., "Connected Components
  in MapReduce and Beyond", SoCC'14).  Rounds ∝ component diameter —
  near-dup components are tiny near-cliques (diameter ≤ 3-4), so this is
  the default for dedup workloads.
- connected_components_star: the same paper's alternating large-star/
  small-star algorithm — O(log² n) rounds regardless of diameter, the
  escape hatch for adversarial long-chain graphs (session stitching,
  citation chains) where propagation's diameter-bound rounds explode.

Durability: both take `checkpoint_dir`.  Unset, rounds truncate lineage
with localCheckpoint (executor-local blocks — fast, but lost on executor
death, fine for single-job local runs).  Set, rounds write reliable
checkpoint() files under the dir (HDFS/S3 at cluster scale), so a lost
executor recovers from storage instead of recomputing the whole chain —
the cluster-durable mode.  Superseded round states are unpersisted as soon
as their successor is materialized, so cached blocks do not accumulate
across rounds (one live copy, not one per round).
"""

from __future__ import annotations

from py4j.protocol import Py4JError
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _round_ckpt(df: DataFrame, reliable: bool, eager: bool = True) -> DataFrame:
    """Materialize + truncate lineage for one iteration round.

    `eager=False` (honored only for the localCheckpoint mode) marks the
    round's frame for checkpointing WITHOUT spending a job on it: the
    caller's very next action — every iteration loop here runs one
    (convergence probe / signature aggregate) — computes the round once
    and caches its blocks, so the per-round action count halves (r12,
    guide §1.2).  Reliable checkpoints stay eager: a lazy reliable
    checkpoint re-computes the whole plan a second time to write the
    checkpoint files unless the RDD is also cached."""
    if reliable:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=eager)


def _release_ckpt(df: DataFrame) -> None:
    """Free a superseded round's checkpoint storage.

    localCheckpoint: DataFrame.unpersist() is a no-op here — the blocks
    live on the plan's internal RDD, not in the SQL cache manager — so
    reach the RDD id through the checkpointed frame's LogicalRDD and
    unpersist it directly (verified: storage-info count drops to zero).
    Reliable checkpoint(): the data is FILES under the checkpoint dir,
    which Spark never deletes unless cleaner.referenceTracking.
    cleanCheckpoints was on at context start — so delete the round's
    directory through the Hadoop FS API, or a 30-round run retains 30
    edge-set copies of cluster storage.  Best-effort: if an internal
    accessor moves in a future Spark, degrade to keep-until-GC rather
    than failing the job.  NEVER call on a frame that is still reachable
    from a returned result.
    """
    try:
        sc = df.sparkSession.sparkContext._jsc.sc()
        rdd = df._jdf.queryExecution().analyzed().rdd()
        sc.unpersistRDD(rdd.id(), False)
        ckpt_file = rdd.getCheckpointFile()  # Scala Option[String]
        if ckpt_file.isDefined():
            jvm = df.sparkSession._jvm
            path = jvm.org.apache.hadoop.fs.Path(ckpt_file.get())
            fs = path.getFileSystem(sc.hadoopConfiguration())
            fs.delete(path, True)
    except Py4JError:  # cleanup must never fail the query
        pass


def _prepare_ckpt_dir(
    edges: DataFrame, checkpoint_dir: str | None
) -> tuple[bool, str | None]:
    """Point the context at `checkpoint_dir` for this run's rounds.

    SparkContext's checkpoint dir is process-global state — Spark offers
    no narrower scope — so the caller restores the previous dir (second
    return value) once its eager rounds are done; if no dir was set
    before, the new one necessarily remains (the API cannot unset it).
    The returned frames' final files live under `checkpoint_dir`, so the
    DIRECTORY must outlive consumption of the result either way.
    """
    if checkpoint_dir is None:
        return False, None
    sc = edges.sparkSession.sparkContext
    old = sc._jsc.sc().getCheckpointDir()
    old_dir = old.get() if old.isDefined() else None
    sc.setCheckpointDir(checkpoint_dir)
    return True, old_dir


def _restore_ckpt_dir(df: DataFrame, reliable: bool, old_dir: str | None) -> None:
    if reliable and old_dir is not None:
        df.sparkSession.sparkContext.setCheckpointDir(old_dir)


def connected_components(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iter: int = 20,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, component) for every node in `edges`, component = min node id
    reachable — deterministic, so oracle-comparable.

    Scale design per round: `labels` is one row per node and `und` one row
    per directed edge; both shuffles key on node id (uniform — ids, not
    content), with map-side partial min.  Lineage is truncated with an
    eager checkpoint every round: without it the plan doubles per iteration
    and Catalyst analysis time dominates past ~8 rounds (and at cluster
    scale the recursive re-computation on task retry would be quadratic).
    Convergence is detected by an aggregate (any label changed?) — one
    lightweight job per round on the already-checkpointed labels.

    Rounds needed = max component diameter; for long-chain graphs use
    connected_components_star (O(log² n) rounds) instead of raising
    max_iter.
    """
    reliable, old_ckpt_dir = _prepare_ckpt_dir(edges, checkpoint_dir)
    und = (
        edges.select(F.col(src).alias("n"), F.col(dst).alias("m"))
        .union(edges.select(F.col(dst).alias("n"), F.col(src).alias("m")))
        .distinct()
    )
    und = _round_ckpt(und, reliable)
    labels = _round_ckpt(
        und.select("n").distinct().withColumn("comp", F.col("n")), reliable
    )

    converged = False
    for _ in range(max_iter):
        nbr_min = (
            und.join(labels, on="n")
            .select(F.col("m").alias("n"), "comp")
            .groupBy("n")
            .agg(F.min("comp").alias("nbr_comp"))
        )
        # lazy round checkpoint: the convergence probe right below is the
        # materializing action, so each round costs ONE job, not two
        new_ck = _round_ckpt(
            labels.join(nbr_min, on="n", how="left").select(
                "n",
                F.least(F.col("comp"), F.coalesce(F.col("nbr_comp"), F.col("comp"))).alias(
                    "comp"
                ),
                (F.col("nbr_comp") < F.col("comp")).alias("_changed"),
            ),
            reliable,
            eager=reliable,
        )
        changed = new_ck.agg(F.sum(F.col("_changed").cast("int")).alias("c")).first()["c"]
        _release_ckpt(labels)  # superseded round state — drop its cached blocks
        labels = new_ck
        if not changed:
            converged = True
            break
    _release_ckpt(und)
    _restore_ckpt_dir(edges, reliable, old_ckpt_dir)
    if not converged:
        # Exhausting the loop without a no-change round means some
        # component's diameter exceeds max_iter and its labels are still
        # intermediate — silently returning them would split one real
        # component into several.  Fail loudly; the caller can raise
        # max_iter or switch to connected_components_star.
        _release_ckpt(labels)
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds: "
            "a component's diameter exceeds max_iter (labels would be wrong); "
            "use connected_components_star for long-chain graphs"
        )
    return labels.select(F.col("n").alias("node"), F.col("comp").alias("component"))


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round: every node connects its strictly-larger
    neighbors to the minimum of its closed neighborhood (Kiveris SoCC'14,
    Alg. 'large-star').  Two keyed shuffles: groupBy for the per-node min,
    join to re-attach it to (u, v>u) edges."""
    both = e.select("u", "v").union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = both.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("mn"))
    return (
        both.filter(F.col("v") > F.col("u"))
        .join(mins, "u")
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: orient edges large→small; every node connects
    its smaller neighbors (and itself) to their collective minimum."""
    oriented = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v"))
    mins = oriented.groupBy("u").agg(F.min("v").alias("mn"))
    relinked = (
        oriented.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        .union(mins.select("u", F.col("mn").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    return relinked


def connected_components_star(
    edges: DataFrame,
    src: str,
    dst: str,
    max_iter: int = 30,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, component) via alternating large-star/small-star (Kiveris et
    al. SoCC'14) — converges in O(log² n) rounds INDEPENDENT of component
    diameter, so a million-node chain finishes in ~20 rounds where label
    propagation needs a million.

    Each round is two keyed shuffles per phase (per-node min + re-link);
    at convergence the edge set is a forest of stars whose centers are the
    component minima.  Convergence check is exact: the small-star output
    equals its input edge set (one exceptAll-limit-1 probe per round —
    cheap because both sides are already checkpointed).  Isolated
    self-loop-only input edges contribute their node with itself as
    component.
    """
    reliable, old_ckpt_dir = _prepare_ckpt_dir(edges, checkpoint_dir)
    # ONE materialization of the (possibly expensive) upstream edge
    # pipeline: self-loops are kept in the checkpointed base so the node
    # universe can be derived from it too — computing `nodes` from the raw
    # input would run the whole upstream plan a second time (measured: the
    # simhash-pairs pipeline cost ~8 s per materialization at sf0.1).
    ebase = _round_ckpt(
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).distinct(),
        reliable,
    )
    nodes = ebase.select(F.col("u").alias("node")).union(
        ebase.select(F.col("v").alias("node"))
    ).distinct()
    e = ebase.filter(F.col("u") != F.col("v"))

    def _sig(df: DataFrame) -> tuple:
        """Order-free signature of a DISTINCT edge set: (count, xor of
        per-edge hashes).  Set equality ⇒ signature equality, so a
        signature MISmatch proves the round changed something with one
        tiny aggregate instead of the exceptAll probe; only a match runs
        the exact probe to rule out the (astronomically unlikely) xor
        collision — net effect: one exact probe per RUN, not per round
        (measured ~0.7 s/round at 95k edges)."""
        row = df.agg(
            F.count(F.lit(1)).alias("c"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).first()
        return (row["c"], row["h"])

    prev_sig = _sig(e)
    converged = False
    e_is_base = True  # ebase blocks feed `nodes` at the end — never release
    for _ in range(max_iter):
        # one fused checkpoint per round: the large-star output is consumed
        # exactly once (by small-star), so materializing it separately was
        # pure per-round overhead; the checkpoint itself is LAZY — the
        # signature aggregate right below is the materializing action, so
        # each round costs one job (r12)
        ss = _round_ckpt(_small_star(_large_star(e)), reliable, eager=reliable)
        sig = _sig(ss)
        stable = sig == prev_sig and (
            # Exact symmetric-difference probe in ONE job (both sides are
            # distinct edge sets, so exceptAll ≡ except and the union of
            # the two differences is empty iff the sets are equal).
            ss.exceptAll(e).union(e.exceptAll(ss)).limit(1).count() == 0
        )
        prev_sig = sig
        if not e_is_base:
            _release_ckpt(e)
        e_is_base = False
        e = ss
        if stable:
            converged = True
            break
    _restore_ckpt_dir(edges, reliable, old_ckpt_dir)
    if not converged:
        _release_ckpt(e)
        _release_ckpt(ebase)
        raise RuntimeError(
            f"connected_components_star did not converge in {max_iter} rounds "
            "(theory bound is O(log² n) — raise max_iter)"
        )
    # Stars point child → center (center = component min); centers and
    # isolated nodes label themselves.
    star = e.select(F.col("u").alias("node"), F.col("v").alias("component"))
    out = nodes.join(star, "node", "left").select(
        "node", F.coalesce(F.col("component"), F.col("node")).alias("component")
    )
    return out


def pagerank_micro(
    edges: DataFrame,
    iters: int = 6,
    d_num: int = 85,
    d_den: int = 100,
    src: str = "src",
    dst: str = "dst",
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """PageRank (Brin & Page 1998) in EXACT integer micro-units, so even
    the iteration replays bit-for-bit in a SQL oracle (the Lloyd-training
    discipline applied to a graph recurrence):

        pr_0(v)   = 1_000_000
        contrib   = pr_t(u) div deg(u)              (floor)
        pr_{t+1}(v) = ((d_den−d_num)·1e6) div d_den
                      + (d_num · Σ_{u→v} contrib) div d_den

    All BIGINT — no float mass ever crosses an engine boundary, and the
    Σ is order-free, so any partitioning/merge order gives the same
    ranks.  The floor divisions lose < 1 micro-unit per term vs real
    PageRank — ranking-irrelevant at corpus scale.

    Assumes every node has ≥ 1 out-edge (true for symmetrized graphs —
    callers with genuinely directed, dangling-node graphs symmetrize or
    add self-loops first, the standard dangling fix).

    Scale shape: deg is computed once and joined into the edge list once
    (edge-partitioned); each round is ONE join of the node-sized pr frame
    into that edge frame plus ONE groupBy(dst) — both hash-partitioned on
    node keys, no broadcast of anything corpus-sized, rounds localCheckpoint
    (or reliably checkpoint under `checkpoint_dir`) exactly like
    connected_components so lineage stays flat.
    """
    reliable, old_dir = _prepare_ckpt_dir(edges, checkpoint_dir)
    teleport = ((d_den - d_num) * 1_000_000) // d_den
    ed = (
        edges.select(src, dst)
        .join(
            edges.groupBy(src).agg(F.count(F.lit(1)).alias("deg")),
            src,
        )
        .persist()
    )
    pr = _round_ckpt(
        ed.select(F.col(src).alias("node")).distinct().select(
            "node", F.lit(1_000_000).cast("long").alias("pr")
        ),
        reliable,
    )
    try:
        # Checkpoint every SECOND round (and the last): pagerank's round
        # plan grows linearly in the un-truncated depth (one join + one
        # agg per round, the pr frame referenced once), so a depth-2
        # lineage is safe for Catalyst and task retry while halving the
        # per-round materialization jobs (r12, guide §1.2).  Reliable
        # mode keeps the every-round cadence — its checkpoints are the
        # durability contract, not a local cache.
        prev_ck = pr
        for i in range(iters):
            nxt = (
                ed.join(pr, ed[src] == pr["node"])
                .groupBy(F.col(dst).alias("out_node"))
                .agg(
                    F.expr(
                        f"CAST({teleport} + ({d_num} * sum(pr div deg)) "
                        f"div {d_den} AS BIGINT)"
                    ).alias("pr")
                )
                .select(F.col("out_node").alias("node"), "pr")
            )
            if reliable or i % 2 == 1 or i == iters - 1:
                nxt = _round_ckpt(nxt, reliable)
                _release_ckpt(prev_ck)
                prev_ck = nxt
            pr = nxt
        return pr
    finally:
        ed.unpersist()
        _restore_ckpt_dir(edges, reliable, old_dir)


def triangle_counts(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Per-node triangle counts over an undirected graph: orient every
    edge low→high (each triangle then exists exactly once as a<b<c),
    enumerate wedges a<b<c through the shared middle vertex, and close
    them against the oriented edge list; every closed triangle credits
    its three corners.  Exact integers end to end.

    Scale shape: the classic oriented-join triangle enumeration (the
    degree-ordered refinement drops in by replacing `<` with a
    (deg, id) order when hub skew demands it) — two hash joins on node
    keys plus one explode+count; candidate wedges, not node pairs, bound
    the work.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("lo"),
            F.greatest(F.col(src), F.col(dst)).alias("hi"),
        )
        .filter(F.col("lo") < F.col("hi"))
        .distinct()
    )
    ab = e.select(F.col("lo").alias("a"), F.col("hi").alias("b"))
    bc = e.select(F.col("lo").alias("b"), F.col("hi").alias("c"))
    ac = e.select(F.col("lo").alias("a"), F.col("hi").alias("c"))
    tri = ab.join(bc, "b").join(ac, ["a", "c"])
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )

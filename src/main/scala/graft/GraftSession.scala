package graft

import org.apache.spark.sql.SparkSession

/** The one place a driver SparkSession is built. Bench, Verify, Smoke,
  * DevExplain, IngestServer.main and every Dev ladder main come through
  * here, so the correctness gate certifies by construction the plans the
  * bench times. Only the master and the shuffle-partition count vary by
  * caller; every other setting is a constant, each settled by an A/B
  * recorded in OPTIMIZATION_r13.md / OPTIMIZATION_r14.md. Idempotent:
  * `getOrCreate` hands back the running session if there is one.
  */
object GraftSession {
  def apply(master: String, shufflePartitions: Int): SparkSession =
    SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // guards on: a data-sized global window fails the query here, not
      // in post-hoc review
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.graft.guard.globalWindow", "error")
      // AQE SMJ->SHJ rewrite (guide §3.1): when EVERY post-shuffle
      // partition of a sort-merge join is under this threshold, AQE
      // replaces the join with a shuffled-hash join at runtime — the
      // sort is pure waste at that size. Scale-adaptive by construction
      // (at production volumes partitions exceed the bound and SMJ
      // stays; the bound caps the per-task build-side hash map, 64m <<
      // task memory). Measured r13: 18 of 20 SMJ-planning queries
      // faster, subset total -11.5% (graph_ktruss 0.70x,
      // graph_scc_seeds 0.84x), two within noise.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64m")
      // AQE partition coalescing floor (guide §2.2 "fewer, larger reduce
      // partitions"): with parallelismFirst (kept true — the r14 A/B of
      // parallelismFirst=false DOUBLED graph_triangles/squares, whose
      // compute-dense shuffles must keep core-count parallelism), AQE's
      // coalescing target is max(totalShuffleBytes/parallelism,
      // minPartitionSize). Raising the floor 1m -> 2m only touches
      // shuffles under 2m x parallelism TOTAL — the scheduling-bound
      // tail — and is a structural no-op at production volumes. r14
      // A/B, 20-query subset reps-4 same-window: 59.4 -> 52.8 s (-11%),
      // no query slower than 1.02x; the 4m and 8m floors regressed the
      // graph heavies (OPTIMIZATION_r14.md).
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "2m")
      .getOrCreate()
}

package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Whole-graph analytics beyond the BFS/fixpoint family ([[RecursiveCte]],
  * used by the k-hop / shortest-path queries) — currently PageRank in
  * exact integer arithmetic.
  */
object Graphs {

  /** Optional lineage truncation for the bounded-round kernels (VERDICT
    * r17 Next #5). The LPA/min-plus iterate feeds TWO consumers per
    * round (neighbor/relax join + carry/union), so the analyzed plan
    * grows 2^rounds without truncation — measured at 20k nodes by
    * round 10 (PLANS.md r18). `spark.graft.graph.checkpointEvery=k`
    * (default off) truncates the iterate's lineage every k rounds,
    * capping each segment at the same ceiling the knobless 16-round
    * bound enforces. Results are row-identical either way
    * (spec-pinned); a malformed or non-positive value degrades to off.
    *
    * Truncation requests `eager = false`, but note (ADVICE r18): with
    * AQE enabled (the default, and what this repo's plan tests assert)
    * even a non-eager `checkpoint`/`localCheckpoint` RUNS JOBS at
    * DataFrame-BUILD time — `AdaptiveSparkPlanExec.doExecute`
    * materializes every upstream shuffle stage when the checkpoint RDD
    * is created. So with the knob set, merely building a kernel
    * DataFrame executes the truncated segments, and schema
    * inspection/explain are no longer side-effect-free; leave the knob
    * off (the default) for pure plan inspection. The mechanism is
    * picked by session config: with `SparkContext.setCheckpointDir`
    * set it uses a RELIABLE checkpoint (survives executor loss — the
    * right mode for the cluster regime this knob targets, where
    * `localCheckpoint`'s executor-local blocks would make the job
    * unrecoverable under decommissioning); otherwise executor-local
    * checkpoint, the single-host smoke-regime default.
    *
    * Reliable-mode operational notes (ADVICE r18): (1) Spark does NOT
    * delete reliable checkpoint files when the DataFrame is GC'd unless
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true` — size the
    * checkpoint dir for rounds/k snapshots per run, or set that conf /
    * sweep the dir between runs; (2) writing a non-eager reliable
    * checkpoint of an unpersisted segment recomputes that segment once
    * at write time — deliberate here: a persist-before-checkpoint would
    * trade the one recompute for a pinned cache entry per truncated
    * segment that outlives the kernel call (this helper hands back a
    * plain DataFrame and has no unpersist point), and the truncated
    * segments are each ≤ k rounds of joins by construction. */
  private def truncateEvery(df: DataFrame): Option[Int] =
    df.sparkSession.conf.getOption("spark.graft.graph.checkpointEvery")
      .flatMap(_.toIntOption).filter(_ > 0)

  private def maybeTruncate(df: DataFrame, round: Int,
                            every: Option[Int]): DataFrame =
    every match {
      // shared reliable-aware mode selection (r20): same semantics as
      // the inline checkpointDir dispatch this used to spell out
      case Some(k) if (round + 1) % k == 0 =>
        Materialize.once(df, eager = false)
      case _ => df
    }

  /** rounds > 16 are allowed only when truncation keeps every segment
    * within the measured 2^16 ceiling (any active cadence ≤ 16). */
  private def roundsOk(rounds: Int, every: Option[Int]): Boolean =
    rounds >= 0 && (rounds <= 16 || every.exists(_ <= 16))

  /** PageRank power iteration with damping 0.85, computed entirely in
    * BIGINT so the result is bit-identical on any engine and any
    * partitioning — no floating point anywhere. The standard recurrence
    * `p' = 0.15·p₀ + 0.85·Σ p/outdeg` is scaled through by 20 per
    * iteration (0.85 = 17/20):
    *
    *   P'(v) = 3·20^i·seed + 17·Σ_{u→v} P(u) div outdeg(u)
    *
    * so P(v) = 20^iters · pageRank-ish(v) and ranking/ratios are
    * preserved. Exactness: `P div d` truncates UNLESS d | P, so choose a
    * `seed` with enough factor-2/3/5… headroom for the graph's
    * out-degrees and iteration count (the default 1024 = 2^10 covers
    * out-degrees that are powers of two for ≥ 10 iterations; the ldbc4
    * projection has outdeg ≤ 2 and 3 iterations). Dangling mass is
    * dropped (simplified PageRank); teleport keeps every node ranked.
    *
    * Scale shape: per iteration, one vertex-key equi-join (p ⋈ edges) and
    * one dst-key rollup — the classic distributed power iteration.
    * Nothing scale-proportional is broadcast or collected; iterations
    * compose into one declarative plan (persist `edges` externally for
    * many-iteration runs so the projection isn't re-derived per wave).
    *
    * `nodes`: one `node` column. `edges`: (src, dst), src/dst ∈ nodes.
    * Output: (node, p) with p = the scaled integer score after `iters`
    * iterations. */
  def pageRankInt(nodes: DataFrame, edges: DataFrame, iters: Int,
                  seed: Long = 1024L): DataFrame = {
    // Overflow posture: per-node mass grows ~ 20^i · seed · (hub
    // in-degree factors), so large iteration counts or seeds overflow
    // Long. Driver-side teleport constants use multiplyExact (loud), and
    // executor-side sums/multiplies throw under Spark's default ANSI
    // mode — so overflow is an ERROR, not silent wraparound. The iters
    // bound rejects configurations whose teleport constant alone cannot
    // fit; dense hubs can still hit the (loud) executor limit earlier —
    // switch to a double-precision PageRank beyond that. The same bound
    // also caps analyzer cost: this iterate feeds ONE consumer per
    // round, so the plan grows LINEARLY (unlike the 2^rounds LPA/
    // min-plus shape), and 12 rounds is far inside the measured budget.
    require(iters >= 0 && iters <= 12,
      s"pageRankInt: iters=$iters overflows the 20^i Long teleport" +
        " scaling (max 12); use fewer iterations or a floating-point" +
        " PageRank")
    val de = edges
      .join(edges.groupBy(col("src")).agg(count(lit(1)).as("d")), Seq("src"))
    val every = truncateEvery(nodes)
    var p = nodes.select(col("node"), lit(seed).as("p"))
    for (i <- 0 until iters) {
      val tele = Math.multiplyExact(
        Math.multiplyExact(3L, Iterator.iterate(1L)(_ * 20L).drop(i).next()),
        seed)
      val sums = p.join(de, col("node") === col("src"))
        .select(col("dst"), expr("p div d").as("contrib"))
        .groupBy(col("dst")).agg(sum(col("contrib")).as("s"))
      p = maybeTruncate(
        nodes.select(col("node"))
          .join(sums, col("node") === col("dst"), "left")
          .select(col("node"),
            (lit(tele) + lit(17L) * coalesce(col("s"), lit(0L))).as("p")),
        i, every)
    }
    p
  }

  /** Multi-source weighted shortest distances by bounded min-plus
    * relaxation (Bellman–Ford over the tropical semiring): after `rounds`
    * iterations, (seed, node, dist) holds the exact minimum total weight
    * over all paths of ≤ `rounds` edges — all BIGINT arithmetic, so the
    * result is bit-identical on any engine and partitioning.
    *
    * Scale shape: per round, one vertex-key equi-join (frontier ⋈ edges)
    * and one (seed, node) min-aggregate — partial aggregation collapses
    * duplicate relaxations map-side, so the exchange carries distinct
    * (seed, node) pairs, not path multiplicities. State is the reached
    * pair set (the same bound the BFS fixpoint family carries); nothing
    * is broadcast or collected.
    *
    * `seeds`: one `node` column. `edges`: (src, dst, w) with BIGINT w ≥ 0.
    * Output: (seed, node, dist), including (seed, seed, 0). */
  def minPlusDistances(seeds: DataFrame, edges: DataFrame,
                       rounds: Int): DataFrame = {
    val every = truncateEvery(seeds)
    // the iterate is referenced twice per round (relax + union), so the
    // analyzed plan grows 2^rounds without truncation — measured at
    // 20k nodes by round 10 (PLANS.md r18). The cap is new in r18:
    // before it, rounds > 16 didn't fail, it HUNG the analyzer
    // (minutes at 16, ~2^rounds beyond) — failing loudly with the
    // remedy beats that.
    require(roundsOk(rounds, every),
      s"minPlusDistances: rounds=$rounds — the analyzed plan doubles " +
        "per round; beyond 16 rounds set " +
        "spark.graft.graph.checkpointEvery (<= 16) to truncate lineage")
    var d = seeds.select(col("node").as("seed"), col("node"),
      lit(0L).as("dist"))
    for (r <- 0 until rounds) {
      val relaxed = d.join(edges, col("node") === col("src"))
        .select(col("seed"), col("dst").as("node"),
          (col("dist") + col("w")).as("dist"))
      d = maybeTruncate(
        d.unionByName(relaxed)
          .groupBy(col("seed"), col("node"))
          .agg(min(col("dist")).as("dist")),
        r, every)
    }
    d
  }

  /** Synchronous label propagation (LPA community detection, the LDBC
    * Graphalytics CDLP workload: reference `benchmark/SOURCES.md` names
    * the LDBC suite): every vertex starts labeled with its own id; each
    * round, every vertex adopts the label that is MOST FREQUENT among
    * its neighbors' current labels, ties broken by the SMALLEST label —
    * the deterministic tie rule that makes synchronous LPA reproducible
    * on any engine and any partitioning (all arithmetic is integer
    * counts over BIGINT labels). Isolated vertices keep their label.
    *
    * Scale shape: per round, one vertex-key equi-join (labels ⋈
    * undirected edges) and one (vertex, label) count + one per-vertex
    * max-of-struct aggregate — partial aggregation collapses label
    * multiplicities map-side, so the exchange carries distinct
    * (vertex, label) pairs. The argmax is `max(struct(count, -label))`,
    * a plain aggregate (max count, then min label), NOT a per-vertex
    * window — nothing global, nothing collected, rounds compose into
    * one declarative plan.
    *
    * `nodes`: one `node` column. `undirected`: (v, w) with BOTH
    * directions present for each edge. Output: (node, lab) after
    * `rounds` synchronous rounds. */
  def labelPropagation(nodes: DataFrame, undirected: DataFrame,
                       rounds: Int): DataFrame = {
    val every = truncateEvery(nodes)
    // same 2^rounds plan growth as minPlusDistances (the iterate feeds
    // both the neighbor join and the carry join) — measured in
    // PLANS.md r18; the 16-round ceiling lifts only under truncation
    require(roundsOk(rounds, every),
      s"labelPropagation: rounds=$rounds — the analyzed plan doubles " +
        "per round; beyond 16 rounds set " +
        "spark.graft.graph.checkpointEvery (<= 16) to truncate lineage")
    var lab = nodes.select(col("node"), col("node").as("lab"))
    for (r <- 0 until rounds) {
      val neigh = undirected
        .join(lab.select(col("node").as("w"), col("lab")), Seq("w"))
        .groupBy(col("v"), col("lab")).agg(count(lit(1)).as("c"))
      val pick = neigh
        .groupBy(col("v"))
        .agg(max(struct(col("c").as("c"),
          (lit(0L) - col("lab")).as("nl"))).as("m"))
        .select(col("v"), (lit(0L) - col("m.nl")).as("newlab"))
      lab = maybeTruncate(
        lab.join(pick, col("node") === col("v"), "left")
          .select(col("node"),
            coalesce(col("newlab"), col("lab")).as("lab")),
        r, every)
    }
    lab
  }
}

package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampType}

/** Shared physical-layout helpers for the operator library. */
object Spread {
  /** The pinned barrier width: `spark.graft.spread.partitions` when set
    * (VERDICT r19 #6 — a cluster conf sized for big relational shuffles,
    * e.g. thousands of `spark.sql.shuffle.partitions`, should not also
    * pin thousands of tiny tasks under every small-corpus CPU barrier),
    * else the session's shuffle parallelism. Malformed / non-positive
    * values degrade to the default. */
  private[graft] def count(df: DataFrame): Int =
    df.sparkSession.conf.getOption("spark.graft.spread.partitions")
      .flatMap(_.toIntOption).filter(_ > 0)
      .getOrElse(df.sparkSession.sessionState.conf.numShufflePartitions)

  /** Hash-repartition on `key` at [[count]] partitions, with the count
    * PINNED (passing it explicitly opts the exchange out of AQE partition
    * coalescing). The coalescer sizes partitions by shuffle BYTES, but
    * the operators using this barrier put heavy per-row CPU (regex
    * tokenize, shingle+minhash, per-dim explodes, literal-argmin vector
    * encodes) ABOVE the exchange — on their small-bytes/high-CPU frames
    * AQE folds the shuffle back to one or two tasks and the work runs
    * serial. The count stays conf-driven, so cluster deployments scale it
    * with the cluster and low-core local runs stay at their core count.
    * Caller contract (ADVICE r19): sessions must size
    * spark.sql.shuffle.partitions (or spark.graft.spread.partitions) to
    * their core count, as Bench/Verify do — a default-200 session pins
    * 200 tasks under every barrier. */
  def by(df: DataFrame, key: Column): DataFrame =
    df.repartition(count(df), key)

  /** [[by]] only when `df` scans at parallelism below the barrier width —
    * the CPU-parallelism rescue for single-split/low-split inputs (every
    * smoke parquet here is one row group, so heavy-per-row projections
    * otherwise run ONE task), while an already well-split cluster input
    * keeps the narrow scan-fused path and is never shuffled just to be
    * shuffled (ADVICE r19 on Retrieval). The gate reads file-source
    * METADATA only (size / file count vs maxPartitionBytes — no physical
    * planning, no jobs, unlike an `.rdd` probe, which would also
    * materialize upstream stages under AQE); non-file-backed frames
    * (local relations, RDD scans) are treated as under-split. */
  def ensure(df: DataFrame, key: Column): DataFrame = {
    val n = count(df)
    if (scanParallelism(df).exists(_ >= n)) df else df.repartition(n, key)
  }

  /** Estimated scan parallelism of the file relations under `df`:
    * max(#files, ceil(bytes / maxPartitionBytes)) summed per relation —
    * within ~2× of Spark's real split count in both the few-big-files
    * and many-small-files regimes, which is all the ensure() gate needs.
    * None when any leaf isn't a file source. */
  private def scanParallelism(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation,
      LogicalRelation}
    val maxSplit = math.max(1L,
      df.sparkSession.sessionState.conf.filesMaxPartitionBytes)
    val rels = df.queryExecution.logical.collect {
      case l: LogicalRelation => l.relation
    }
    val fs = rels.collect { case r: HadoopFsRelation => r }
    if (fs.isEmpty || fs.size != rels.size) None
    else Some(fs.map { r =>
      math.max(r.location.inputFiles.length.toLong,
        (r.location.sizeInBytes + maxSplit - 1) / maxSplit)
    }.sum)
  }
}

/** Table loading helpers shared by SparkEntry / Verify / Bench / tests.
  *
  * All driver test tables are single parquet files under a scale-factor
  * directory (see /root/repo/TESTDATA.md). At cluster scale the same code
  * path reads a partitioned parquet directory — `spark.read.parquet` is
  * agnostic; filter pushdown + column pruning happen in Catalyst either way.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Timestamp physical-type tolerance (the driver has regenerated
    // events.parquet with different encodings across rounds):
    //  - TIMESTAMP(NANOS), which Spark's reader rejects outright → read
    //    the nanos as epoch-long instead and convert where needed;
    //  - TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark 4 would
    //    surface as TIMESTAMP_NTZ → read as plain TimestampType. The
    //    parquet value is passed through as micros-since-epoch unchanged
    //    (no session-timezone shift on read), and every session here runs
    //    UTC, so this matches DuckDB's naive-timestamp oracle semantics.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.read.parquet(s"$dir/$name.parquet")
  }

  /** Adds the canonical microsecond event-time column `t` (TimestampType)
    * to an events-shaped frame, dispatching on the physical type `ts`
    * arrived as. Downstream code uses `t` (and `unix_micros(t)` for epoch
    * math) exclusively, so query code is independent of how the driver
    * encoded the column this round. */
  def withEventTime(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      // epoch-nanos long (legacy TIMESTAMP(NANOS) surfaced via
      // nanosAsLong): floor-truncate to micros, matching CAST(ns AS
      // TIMESTAMP) in the oracle engine. NOTE: on this path `t` is a
      // DERIVED column, so time-band predicates on `t` cannot reach the
      // parquet scan as PushedFilters (they do on the canonical
      // TIMESTAMP path below — pinned in PlanGuardSpec via c24).
      case LongType => df.withColumn("t", timestamp_micros(expr("ts DIV 1000")))
      // already a micros timestamp: use as-is.
      case TimestampType => df.withColumn("t", col("ts"))
      case other => throw new IllegalArgumentException(
        s"events.ts has unsupported type $other — expected epoch-nanos " +
          "BIGINT or TIMESTAMP")
    }

  /** events with a proper microsecond timestamp column `t` (see
    * [[withEventTime]] for the physical-type dispatch). */
  def events(spark: SparkSession, dir: String): DataFrame =
    withEventTime(load(spark, dir, "events"))

  /** Registers every test table as a temp view so `spark.sql` text matches
    * the DuckDB oracle dialect as closely as possible. Idempotent. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings")
      .foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}

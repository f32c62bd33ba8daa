package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One benchmark run in one JVM: a closed loop with a single client that
  * runs registry statements (`SparkEntry.queries(name)(spark, sf)` then
  * `.count()`) in timed passes and writes what it saw to `<out>/run.json`.
  *
  * Order of work:
  *   1. the session (set-up starts at process start);
  *   2. one untimed cold pass: each statement is built once, its result
  *      written as parquet to `<out>/results/<name>` for the oracle
  *      compare, and `.count()` run on the same DataFrame, which warms the
  *      JIT and the count plan; then [[Runner.WarmPasses]] untimed plain
  *      passes (set-up ends here);
  *   3. timed passes, each a seed-permuted order of the statements, until
  *      `seconds` have passed; the pass in flight is finished so every
  *      statement has the same number of samples;
  *   4. the oracle SQL of every statement, rendered now that the
  *      statements ran (some oracles embed literals the statements stash).
  *
  * With `trace=1`, step 3 alternates plain passes with traced passes (see
  * [[Trace]]).
  *
  * Arguments are `key=value`: seed, seconds, trace, sf, out, stmts (comma
  * list of the statements of one pass), cores.
  */
object Runner {
  /** Untimed `.count()` passes after the cold pass. The JIT is still
    * compiling hot paths for several passes: on a 4-core VM, with one
    * warm pass the timed passes still got 10-20% faster from the first
    * to the fifth, so a run's figures depended on how many passes it
    * fitted. */
  val WarmPasses = 3

  def main(args: Array[String]): Unit = {
    val marks = mutable.ArrayBuffer[(String, Long)](
      "jvm" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
      "main" -> System.currentTimeMillis())
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val seed = kv("seed").toLong
    val seconds = kv("seconds").toDouble
    val traced = kv("trace") == "1"
    val sf = kv("sf")
    val out = kv("out")
    val cores = kv("cores").toInt
    val stmts = kv("stmts").split(',').toIndexedSeq

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/local")
      .withExtensions(new graft.plans.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    marks += "spark" -> System.currentTimeMillis()
    val registry = graft.SparkEntry.queries
    val missing = stmts.filterNot(registry.contains)
    require(missing.isEmpty, s"unknown statements: ${missing.mkString(", ")}")

    val coldS = stmts.map(n => n -> dumpAndCount(spark, n, registry(n), sf, s"$out/results"))
    marks += "cold_pass" -> System.currentTimeMillis()
    for (_ <- 1 to WarmPasses; n <- stmts) plainRun(spark, registry(n), sf)
    marks += "warm_pass" -> System.currentTimeMillis()

    val sentinel = mutable.ArrayBuffer[(String, Double)]()
    sentinel += "start" -> Sentinel.time()
    val trace = if (traced) Some(new Trace(spark, cores)) else None
    val rng = new Random(seed)
    val samples = mutable.ArrayBuffer[Sample]()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var pass = 0
    var midDone = false
    while (elapsed < seconds) {
      val order = rng.shuffle(stmts)
      // traced runs alternate plain and traced passes, so the two medians
      // come from the same JVM at the same warmth
      val tracedPass = trace.isDefined && pass % 2 == 1
      order.foreach { n =>
        samples += (trace match {
          case Some(t) if tracedPass => t.run(n, pass, registry(n), sf)
          case _ =>
            val s0 = System.nanoTime()
            val (rows, err) = plainRun(spark, registry(n), sf)
            Sample(n, pass, traced = false, (System.nanoTime() - s0) / 1e9, rows, err)
        })
      }
      pass += 1
      if (!midDone && elapsed >= seconds / 2) {
        sentinel += "mid" -> Sentinel.time()
        midDone = true
      }
    }
    val measuredS = elapsed
    sentinel += "end" -> Sentinel.time()

    val oracles = graft.SparkEntry.oracleSql
    val peakRssMb = Sentinel.peakRssMb()
    val j = new Json
    j.obj {
      j.key("setup_marks_ms"); j.obj(marks.foreach { case (k, v) => j.field(k, v) })
      j.field("measured_s", measuredS)
      j.field("passes", pass)
      j.field("peak_rss_mb", peakRssMb)
      j.field("cores", cores)
      j.key("cold_s"); j.obj(coldS.foreach { case (n, t) => j.field(n, t) })
      j.key("oracles"); j.obj(stmts.foreach(n => oracles.get(n).foreach(j.field(n, _))))
      j.key("sentinel_s"); j.obj(sentinel.foreach { case (k, v) => j.field(k, v) })
      j.key("samples")
      j.arr(samples.toSeq) { s =>
        j.obj {
          j.field("stmt", s.stmt); j.field("pass", s.pass)
          j.field("traced", s.traced); j.field("s", s.seconds)
          j.field("rows", s.rows)
          s.error.foreach(j.field("error", _))
          if (s.layers.nonEmpty) {
            j.key("layers"); j.obj(s.layers.foreach { case (k, v) => j.field(k, v) })
          }
        }
      }
      trace.foreach { t => j.key("spans"); t.writeSpans(j) }
    }
    Files.write(Paths.get(s"$out/run.json"), j.result.getBytes(UTF_8))
    spark.stop()
  }

  /** Builds the statement once, writes its result where the oracle
    * compare reads it, then runs `.count()` on the same DataFrame: one
    * cold pass that both dumps and warms the count plan. Returns the
    * seconds it took, or -1 if it threw. */
  def dumpAndCount(spark: SparkSession, name: String,
                   fn: (SparkSession, String) => DataFrame, sf: String, dir: String): Double = {
    val t0 = System.nanoTime()
    try {
      val df = fn(spark, sf)
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name")
      df.count()
      (System.nanoTime() - t0) / 1e9
    } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        -1.0
    }
  }

  /** The statement as users and `graft.Bench` run it. */
  def plainRun(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
               sf: String): (Long, Option[String]) =
    try (fn(spark, sf).count(), None)
    catch { case e: Throwable => (-1L, Some(e.toString.take(300))) }
}

/** One timed statement. `layers` is filled on traced runs only. */
case class Sample(stmt: String, pass: Int, traced: Boolean, seconds: Double,
                  rows: Long, error: Option[String],
                  layers: Seq[(String, Double)] = Nil)

/** Noise sentinel: a fixed CPU-bound control, timed the same way at the
  * start, middle and end of the timed passes, so host drift during a run
  * is visible next to its numbers. */
object Sentinel {
  @volatile private var sink = 0L

  def time(): Double = {
    val runs = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      var h = 1125899906842597L
      var i = 0
      while (i < 20000000) { h = h * 31 + (i ^ (h >>> 17)); i += 1 }
      sink += h
      (System.nanoTime() - t0) / 1e9
    }
    runs.sorted.apply(2)
  }

  /** High-water resident set of this JVM, from /proc. */
  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble / 1024 }
      .getOrElse(-1.0)
}

/** Minimal streaming JSON writer (no dependency beyond the JDK). */
class Json {
  private val sb = new StringBuilder
  private var comma = false

  private def pre(): Unit = { if (comma) sb += ','; comma = false }
  def obj(body: => Unit): Unit = { pre(); sb += '{'; body; sb += '}'; comma = true }
  def arr[T](xs: Seq[T])(f: T => Unit): Unit = {
    pre(); sb += '['; xs.foreach(f); sb += ']'; comma = true
  }
  def key(k: String): Unit = { pre(); quote(k); sb += ':' }
  def str(s: String): Unit = { pre(); quote(s); comma = true }
  private def raw(s: String): Unit = { pre(); sb ++= s; comma = true }
  def field(k: String, v: Any): Unit = {
    key(k)
    v match {
      case s: String => str(s)
      case d: Double => raw(if (d.isNaN || d.isInfinite) "null" else d.toString)
      case other => raw(other.toString)
    }
  }
  private def quote(s: String): Unit = {
    sb += '"'
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
  }
  def result: String = sb.toString
}

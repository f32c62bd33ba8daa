package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Native codegen'd vector expressions vs the declarative HOF spelling:
  * must be bit-identical (same IEEE fold order) and null-safe. */
class NativeExprSpec extends SparkSpec {
  import spark.implicits._

  test("extensions register the native functions") {
    assert(VectorFunctions.nativeAvailable(spark))
  }

  test("graft_cosine is bit-identical to the HOF cosine on real data") {
    val e = Tables.load(spark, sf, "embeddings").limit(50)
    val pairs = e.select(col("vec_id").as("a_id"), col("embedding").as("a"))
      .crossJoin(e.select(col("vec_id").as("b_id"), col("embedding").as("b")))
      .filter(col("a_id") < col("b_id"))
    val diff = pairs.select(
        call_function("graft_cosine", col("a"), col("b")).as("native"),
        VectorFunctions.cosine(col("a"), col("b")).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.count() == 0)
  }

  test("graft_dot matches HOF dot and handles nulls") {
    val df = Seq(
      (Some(Array(1.0f, 2.0f)), Some(Array(3.0f, 4.0f))),
      (None, Some(Array(1.0f)))).toDF("a", "b")
    val out = df.select(call_function("graft_dot", col("a"), col("b")))
      .collect()
    assert(out(0).getDouble(0) == 11.0)
    assert(out(1).isNullAt(0))
  }

  test("optimizer rule rewrites HOF dot folds to native expressions") {
    val e = Tables.load(spark, sf, "embeddings").limit(10)
    val pairs = e.select(col("vec_id").as("a_id"), col("embedding").as("a"))
      .crossJoin(e.select(col("vec_id").as("b_id"), col("embedding").as("b")))
    val hofDot = pairs.select(
      VectorFunctions.dot(col("a"), col("b")).as("d"))
    assert(hofDot.queryExecution.optimizedPlan.toString.contains("graft_dot"),
      "DotFold pattern did not fire:\n" +
        hofDot.queryExecution.optimizedPlan.toString)
    val hofCos = pairs.select(
      VectorFunctions.cosine(col("a"), col("b")).as("c"))
    assert(hofCos.queryExecution.optimizedPlan.toString.contains("graft_cosine"),
      "Cosine pattern did not fire:\n" +
        hofCos.queryExecution.optimizedPlan.toString)
    // and the rewritten plan returns the same values as the raw fold
    val expect = pairs.withColumn("c",
      call_function("graft_cosine", col("a"), col("b"))).select("c")
    assert(hofCos.collect().map(_.getDouble(0)).toSeq ==
      expect.collect().map(_.getDouble(0)).toSeq)
  }

  test("graft_minhash equals the declarative HOF signature exactly") {
    import graft.functions.TextFunctions
    val docs = Tables.load(spark, sf, "documents").limit(50)
    val sh = TextFunctions.wordShingles(col("text"), 3)
    val diff = docs.select(
        call_function("graft_minhash", sh, lit(16)).as("native"),
        TextFunctions.minHash(sh, 16).as("hof"))
      .filter(col("native") =!= col("hof"))
    assert(diff.count() == 0)
  }

  test("TopKPerKey custom operator equals the window-function spelling") {
    import graft.plans.TopKPerKey
    val df = Tables.load(spark, sf, "lineitem")
      .select(col("l_returnflag").as("q_id"),
        col("l_orderkey").as("n_id"), col("l_extendedprice").as("sim"))
    val viaOp = TopKPerKey.topK(df, Seq("q_id"),
        Seq("sim" -> false, "n_id" -> true), 4)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("sim").desc, col("n_id").asc)
    val viaWindow = df.withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 4).drop("rnk")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(viaOp == viaWindow)
    // physical plan actually contains the custom exec + an exchange
    val planStr = TopKPerKey.topK(df, Seq("q_id"),
      Seq("sim" -> false), 4).queryExecution.executedPlan.toString
    assert(planStr.contains("TopKPerKey") &&
      planStr.contains("Exchange hashpartitioning"), planStr)
  }

  test("double arrays are accepted too") {
    val df = Seq((Array(3.0, 4.0), Array(3.0, 4.0))).toDF("a", "b")
    assert(df.select(call_function("graft_cosine", col("a"), col("b")))
      .as[Double].head() == 1.0)
  }

  test("md5MinHash matches an independent plain-Scala reference " +
    "(pins the r16 one-md5-per-shingle oracle recipe)") {
    import graft.functions.TextFunctions
    // reference implementation straight from the documented recipe:
    // shingle -> md5 -> first 15 hex chars -> BIGINT mod P, component
    // i = min over shingles of ((2i+1)*b + i*1013904223) mod P
    val P = 2147483647L
    def refSig(text: String, n: Int, k: Int): Seq[Long] = {
      val toks = text.trim.split("\\s+").toSeq
      val shingles =
        (if (toks.size >= n) toks.sliding(n).map(_.mkString(" ")).toSeq
         else Seq(toks.mkString(" "))).distinct
      val md = java.security.MessageDigest.getInstance("MD5")
      val bs = shingles.map { sh =>
        val hex = md.digest(sh.getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString.take(15)
        java.lang.Long.parseLong(hex, 16) % P
      }
      (0 until k).map(i => bs.map(b => ((2L * i + 1) * b + i * 1013904223L) % P).min)
    }
    val rows = Tables.load(spark, sf, "documents").limit(40)
      .select(col("doc_id"),
        TextFunctions.md5MinHash(
          TextFunctions.wordShingles(col("text"), 3), 16).as("sig"),
        col("text"))
      .collect()
    for (r <- rows) {
      val got = r.getSeq[Long](1)
      val want = refSig(r.getString(2), 3, 16)
      assert(got == want,
        s"doc ${r.getLong(0)}: spark=$got ref=$want")
    }
  }
  test("graft_argmin is bit-identical to the declarative literal argmin") {
    // the r20 single-node argmin vs the array_min(struct(d, c_id))
    // spelling it replaces, on real embeddings: whole-vector strict mode
    // (cell assignment) and sliced mode (PQ subspace), plus crafted
    // tie / NaN-free edge rows. Exact equality on BOTH struct fields.
    val e = Tables.load(spark, sf, "embeddings").limit(200)
      .select(col("vec_id"), col("embedding"))
    val cents: Seq[(Long, Seq[Double], Double)] =
      e.orderBy(col("vec_id")).limit(16).collect().toSeq.map { r =>
        val emb = r.getSeq[Any](1).map {
          case f: Float => f.toDouble
          case d: Double => d
          case n: java.lang.Number => n.doubleValue
        }.toSeq
        (r.getLong(0), emb, emb.foldLeft(0.0)((s, v) => s + v * v))
      }
    def declarative(vec: org.apache.spark.sql.Column) =
      array_min(array(cents.map { case (cid, emb, normSq) =>
        struct((lit(normSq) - lit(2.0) *
          call_function("graft_dot", vec, typedLit(emb))).as("d"),
          lit(cid).as("c_id"))
      }: _*))
    val native = call_function("graft_argmin", col("embedding"),
      lit(0), lit(true), typedLit(cents.map(_._2)),
      typedLit(cents.map(_._3)), typedLit(cents.map(_._1)))
    val diff = e.select(declarative(col("embedding")).as("a"),
        native.as("b"))
      .filter(col("a.d") =!= col("b.d") || col("a.c_id") =!= col("b.c_id"))
    assert(diff.count() == 0, "strict whole-vector mode diverged")

    // sliced mode: subspace m=2 of 4 over 16-dim codewords
    val cb: Seq[Seq[Double]] = cents.take(8).map(_._2.slice(32, 48))
    val norms = cb.map(_.foldLeft(0.0)((s, v) => s + v * v))
    def declarativeSub(vec: org.apache.spark.sql.Column) = {
      val sub = slice(vec, 33, 16)
      array_min(array(cb.zipWithIndex.map { case (cw, j) =>
        struct((lit(norms(j)) - lit(2.0) *
          call_function("graft_dot", sub, typedLit(cw))).as("d"),
          lit(j.toLong).as("c_id"))
      }: _*))
    }
    val nativeSub = call_function("graft_argmin", col("embedding"),
      lit(32), lit(false), typedLit(cb), typedLit(norms),
      typedLit(cb.indices.map(_.toLong)))
    val diffSub = e.select(declarativeSub(col("embedding")).as("a"),
        nativeSub.as("b"))
      .filter(col("a.d") =!= col("b.d") || col("a.c_id") =!= col("b.c_id"))
    assert(diffSub.count() == 0, "sliced PQ mode diverged")

    // ties break to the LOWER id in both spellings (duplicate candidate)
    val dupCents: Seq[(Long, Seq[Double], Double)] =
      Seq((7L, Seq(1.0, 0.0), 1.0), (3L, Seq(1.0, 0.0), 1.0),
        (5L, Seq(0.0, 1.0), 1.0))
    val tiny = Seq((1L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val nat = tiny.select(call_function("graft_argmin", col("embedding"),
      lit(0), lit(true), typedLit(dupCents.map(_._2)),
      typedLit(dupCents.map(_._3)), typedLit(dupCents.map(_._1)))
      .as("b")).select(col("b.c_id")).head.getLong(0)
    assert(nat == 3L, s"tie must break to the lower c_id, got $nat")

    // short vector in strict mode: every d is NULL (length mismatch) and
    // NULL sorts FIRST — both spellings pick the lowest id
    val short = Seq((1L, Seq(1.0f))).toDF("vec_id", "embedding")
    val both = short.select(
      call_function("graft_argmin", col("embedding"), lit(0), lit(true),
        typedLit(dupCents.map(_._2)), typedLit(dupCents.map(_._3)),
        typedLit(dupCents.map(_._1))).as("n"),
      array_min(array(dupCents.map { case (cid, emb, normSq) =>
        struct((lit(normSq) - lit(2.0) *
          call_function("graft_dot", col("embedding"), typedLit(emb))).as("d"),
          lit(cid).as("c_id"))
      }: _*)).as("h")).head
    val n = both.getStruct(0); val h = both.getStruct(1)
    assert(n.isNullAt(0) == h.isNullAt(0) && n.getLong(1) == h.getLong(1),
      s"null-d ordering diverged: native=$n hof=$h")
  }

  test("graft_argmin never reads past the vector: random start/strict via SQL") {
    // seeded trials through spark.sql with codegen forced on and off:
    // every row must equal a plain-Scala reference of the length rule
    // (strict: exactly subDim elements from start; sliced: at least
    // subDim), and a negative start is refused when the call is built
    val r = new scala.util.Random(20)
    // row `id` holds a vector of length id + 1
    def vec(id: Int): Seq[Double] =
      (1 to id + 1).map(i => ((i * 7 + id * 3) % 11 - 5).toDouble)
    val vecSql = "transform(sequence(1, CAST(id AS INT) + 1), " +
      "i -> CAST((i * 7 + CAST(id AS INT) * 3) % 11 - 5 AS DOUBLE))"
    val trials = (1 to 16).map { _ =>
      val subDim = 1 + r.nextInt(3); val m = 1 + r.nextInt(3)
      val cands = Seq.fill(m)(Seq.fill(subDim)((r.nextInt(7) - 3).toDouble))
      (r.nextInt(7) - 1, r.nextBoolean(), cands,
        cands.map(_.map(x => x * x).sum), Seq.fill(m)(r.nextInt(4).toLong))
    }
    def expected(v: Seq[Double], start: Int, strict: Boolean,
                 cands: Seq[Seq[Double]], norms: Seq[Double],
                 ids: Seq[Long]): (Option[Double], Long) = {
      val sub = cands.head.length
      val dNull =
        if (strict) v.length - start != sub else v.length - start < sub
      cands.indices.map { i =>
        val d = if (dNull) None else Some(norms(i) - 2.0 *
          (0 until sub).foldLeft(0.0)((acc, j) => acc + v(start + j) * cands(i)(j)))
        (d, ids(i))
      }.minBy { case (d, id) => (d.isDefined, d.getOrElse(0.0), id) }(
        Ordering.Tuple3(Ordering.Boolean, Ordering.Double.TotalOrdering,
          Ordering.Long))
    }
    for ((mode, wholeStage) <- Seq(("CODEGEN_ONLY", "true"),
        ("NO_CODEGEN", "false"))) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try for ((start, strict, cands, norms, ids) <- trials) {
        def arr(xs: Seq[String]) = xs.mkString("array(", ", ", ")")
        def run() = spark.sql(
          s"SELECT id, graft_argmin($vecSql, $start, $strict, " +
            arr(cands.map(c => arr(c.map(_ + "D")))) + ", " +
            arr(norms.map(_ + "D")) + ", " + arr(ids.map(_ + "L")) +
            ") AS a FROM range(7) ORDER BY id").collect()
        val what = s"$mode start=$start strict=$strict cands=$cands"
        if (start < 0) {
          val e = intercept[Exception](run())
          assert(Iterator.iterate[Throwable](e)(_.getCause)
            .takeWhile(_ != null).exists(t => Option(t.getMessage)
              .exists(_.contains("start must be >= 0"))), what)
        } else for (row <- run()) {
          val id = row.getLong(0).toInt
          val a = row.getStruct(1)
          val got = (if (a.isNullAt(0)) None else Some(a.getDouble(0)),
            a.getLong(1))
          assert(got == expected(vec(id), start, strict, cands, norms, ids),
            s"$what row=$id")
        }
      } finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }
  }

  test("graft_argmin compares by content: equal calls are semanticEquals") {
    import graft.plans.ArgminScore
    def argmin(norms: Seq[Double]) = call_function("graft_argmin", col("v"),
      lit(0), lit(true), typedLit(Seq(Seq(1.0, 0.0), Seq(0.0, 1.0))),
      typedLit(norms), typedLit(Seq(1L, 2L)))
    val q = spark.range(2)
      .select(array(col("id").cast("double"), lit(1.0)).as("v"))
      .select(argmin(Seq(1.0, 1.0)).as("a"), argmin(Seq(1.0, 1.0)).as("b"),
        argmin(Seq(1.0, 2.0)).as("c"))
    val calls = q.queryExecution.analyzed.expressions
      .flatMap(_.collect { case a: ArgminScore => a })
    assert(calls.size == 3)
    assert(calls(0).semanticEquals(calls(1)))
    assert(calls(0).hashCode == calls(1).hashCode)
    assert(!calls(0).semanticEquals(calls(2)))
    val plan = q.queryExecution.toString
    assert(plan.contains("graft_argmin"))
    assert(!plan.contains("[D@") && !plan.contains("[J@"), plan)
  }
}

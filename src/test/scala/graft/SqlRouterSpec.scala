package graft

import java.nio.file.Files
import graft.api.GraftSession

/** execute_sql entry-point parity: DDL + DML + parameterized queries
  * through one textual entry (reference wrapper_dispatcher execute_sql /
  * execute_sql_with_params). */
class SqlRouterSpec extends SparkSpec {
  import spark.implicits._

  private def g = GraftSession(spark,
    graft.TmpDirs.create("graft"))

  test("full SQL lifecycle: create, insert, update, delete, select") {
    val s = g
    s.execute("CREATE TABLE items (id BIGINT, name STRING, qty BIGINT)")
    s.execute("INSERT INTO items (id, name, qty) VALUES (1, 'a', 10), (2, 'b', 20)")
    s.execute("INSERT INTO items SELECT 3 AS id, 'c' AS name, 30 AS qty")
    assert(s.execute("SELECT count(*) AS n FROM items").as[Long].head() == 3)
    val updated = s.execute("UPDATE items SET qty = qty + 5 WHERE id >= 2")
    assert(updated.count() == 2) // RETURNING semantics
    assert(s.execute("SELECT sum(qty) AS s FROM items").as[Long].head()
      == 10 + 25 + 35)
    val deleted = s.execute("DELETE FROM items WHERE qty > 30")
    assert(deleted.count() == 1)
    assert(s.execute("SELECT count(*) AS n FROM items").as[Long].head() == 2)
    s.execute("DROP TABLE items")
    intercept[Exception] { s.execute("SELECT * FROM items").collect() }
  }

  test("CREATE TABLE without columns makes a dynamic table") {
    val s = g
    s.execute("CREATE TABLE docs")
    s.execute("INSERT INTO docs (_id, a) VALUES ('x', 1)")
    s.execute("INSERT INTO docs (_id, a, b) VALUES ('y', 2, 'two')")
    val out = s.execute("SELECT _id, a, b FROM docs ORDER BY _id")
    assert(out.columns.toSeq == Seq("_id", "a", "b"))
    assert(out.count() == 2)
    // the reference's empty-column-list spelling means dynamic too
    s.execute("CREATE TABLE docs2()")
    s.execute("INSERT INTO docs2 (_id, a) VALUES ('z', 3)")
    assert(s.execute("SELECT a FROM docs2").count() == 1)
  }

  test("SET TIMEZONE routes to the session config") {
    val s = g
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      s.execute("SET TIME ZONE 'America/New_York'")
      assert(spark.conf.get("spark.sql.session.timeZone")
        == "America/New_York")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("parameterized execute ($n binding)") {
    val s = g
    s.execute("CREATE TABLE t (v BIGINT)")
    s.execute("INSERT INTO t (v) VALUES (1), (5), (9)")
    assert(s.execute("SELECT count(*) AS n FROM t WHERE v > $1", Seq(4))
      .as[Long].head() == 2)
  }

  test("jsonb operators ride through execute") {
    val s = g
    s.execute("CREATE TABLE ev (id BIGINT, props STRING)")
    s.execute("""INSERT INTO ev (id, props) VALUES (1, '{"k": 42}')""")
    assert(s.execute("SELECT CAST(props->>'k' AS BIGINT) AS k FROM ev")
      .as[Long].head() == 42L)
  }

  test("UPDATE ... SET ... FROM ... WHERE ... RETURNING through execute") {
    val s = g
    s.execute("CREATE TABLE items (id BIGINT, qty BIGINT)")
    s.execute("CREATE TABLE adj (a_id BIGINT, delta BIGINT)")
    s.execute("INSERT INTO items (id, qty) VALUES (1, 10), (2, 20), (3, 30)")
    s.execute("INSERT INTO adj (a_id, delta) VALUES (1, 5), (3, 7)")
    // RETURNING references BOTH the (qualified) target and the FROM source
    val ret = s.execute(
      """UPDATE items SET qty = qty + delta FROM adj
         WHERE items.id = adj.a_id RETURNING items.id, qty, delta""")
    assert(ret.as[(Long, Long, Long)].collect().sorted.toSeq
      == Seq((1L, 15L, 5L), (3L, 37L, 7L)))
    assert(s.execute("SELECT qty FROM items ORDER BY id")
      .as[Long].collect().toSeq == Seq(15L, 20L, 37L))
  }

  test("UPDATE ... FROM with a colliding source column keeps target values") {
    val s = g
    s.execute("CREATE TABLE tc (k BIGINT, v BIGINT)")
    s.execute("CREATE TABLE srcc (s_k BIGINT, v BIGINT)")
    s.execute("INSERT INTO tc (k, v) VALUES (1, 10), (2, 20)")
    s.execute("INSERT INTO srcc (s_k, v) VALUES (1, 777)")
    // an unqualified v in the SET expression is ambiguous — PG errors
    // here too ("column reference v is ambiguous"); qualify the target
    intercept[org.apache.spark.sql.AnalysisException] {
      s.execute("UPDATE tc SET v = v + 1 FROM srcc WHERE tc.k = srcc.s_k")
    }
    // RETURNING's unqualified v is the POST-UPDATE target value (the
    // colliding source column is excluded from the wide frame)
    val ret = s.execute(
      "UPDATE tc SET v = tc.v + 1 FROM srcc WHERE tc.k = srcc.s_k RETURNING k, v")
    assert(ret.as[(Long, Long)].collect().toSeq == Seq((1L, 11L)))
    assert(s.execute("SELECT v FROM tc ORDER BY k")
      .as[Long].collect().toSeq == Seq(11L, 20L))
  }

  test("UPDATE ... FROM without RETURNING yields post-update target rows only") {
    val s = g
    s.execute("CREATE TABLE t (k BIGINT, v BIGINT)")
    s.execute("CREATE TABLE src (s_k BIGINT)")
    s.execute("INSERT INTO t (k, v) VALUES (1, 1), (2, 2)")
    s.execute("INSERT INTO src (s_k) VALUES (2)")
    val ret = s.execute("UPDATE t SET v = v * 10 FROM src WHERE t.k = src.s_k")
    assert(ret.columns.toSeq == Seq("k", "v"))
    assert(ret.as[(Long, Long)].collect().toSeq == Seq((2L, 20L)))
  }

  test("DELETE ... USING ... WHERE ... RETURNING the USING source's columns") {
    val s = g
    s.execute("CREATE TABLE t (id BIGINT, v STRING)")
    s.execute("CREATE TABLE kill (k_id BIGINT, reason STRING)")
    s.execute("INSERT INTO t (id, v) VALUES (1, 'a'), (2, 'b'), (3, 'c')")
    s.execute("INSERT INTO kill (k_id, reason) VALUES (1, 'dup'), (3, 'spam')")
    val ret = s.execute(
      """DELETE FROM t USING kill WHERE t.id = kill.k_id
         RETURNING id, v, reason""")
    assert(ret.as[(Long, String, String)].collect().sorted.toSeq
      == Seq((1L, "a", "dup"), (3L, "c", "spam")))
    assert(s.execute("SELECT id FROM t").as[Long].collect().toSeq == Seq(2L))
  }

  test("DELETE ... RETURNING expression list over the target") {
    val s = g
    s.execute("CREATE TABLE t (id BIGINT, v BIGINT)")
    s.execute("INSERT INTO t (id, v) VALUES (1, 10), (2, 20)")
    val ret = s.execute("DELETE FROM t WHERE v > 15 RETURNING id, v * 2 AS v2")
    assert(ret.as[(Long, Long)].collect().toSeq == Seq((2L, 40L)))
  }

  test("CREATE TYPE AS ENUM: typed columns, modifiers, escaped quotes, UPDATE") {
    val s = g
    s.execute("CREATE TYPE mood AS ENUM ('happy', 'sad', 'it''s')")
    // the NOT NULL modifier must not break the enum type lookup
    s.execute("CREATE TABLE m (id BIGINT, status mood NOT NULL)")
    s.execute("INSERT INTO m (id, status) VALUES (1, 'happy'), (2, 'it''s')")
    intercept[IllegalStateException] {
      s.execute("INSERT INTO m (id, status) VALUES (3, 'bogus')")
    }
    // UPDATE must re-validate the membership CHECK (PG rejects this too)
    intercept[IllegalStateException] {
      s.execute("UPDATE m SET status = 'bogus' WHERE id = 1")
    }
    assert(s.execute("SELECT status FROM m ORDER BY id")
      .as[String].collect().toSeq == Seq("happy", "it's"))
    s.execute("DROP TYPE mood")
  }

  test("INSERT ... SELECT routes through the catalog insert path") {
    val s = g
    s.execute("CREATE TABLE src2 (a BIGINT)")
    s.execute("INSERT INTO src2 (a) VALUES (1), (2), (3)")
    s.execute("CREATE TABLE dst2 (a BIGINT)")
    s.execute("INSERT INTO dst2 SELECT a FROM src2 WHERE a > 1")
    assert(s.execute("SELECT a FROM dst2 ORDER BY a")
      .as[Long].collect().toSeq == Seq(2L, 3L))
  }

  test("BEGIN/COMMIT/ROLLBACK fail with the documented reason") {
    val e = intercept[UnsupportedOperationException] { g.execute("BEGIN") }
    assert(e.getMessage.contains("transactions are not supported"))
    intercept[UnsupportedOperationException] { g.execute("COMMIT;") }
    intercept[UnsupportedOperationException] {
      g.execute("ROLLBACK TO SAVEPOINT x")
    }
  }

  test("CREATE DATABASE + db.table addressing (reference-style)") {
    val s = g
    s.execute("CREATE DATABASE bench")
    s.execute("CREATE TABLE bench.ev (did STRING, kind STRING)")
    s.execute("INSERT INTO bench.ev (did, kind) VALUES ('a', 'commit'), ('b', 'commit'), ('a', 'identity')")
    assert(s.execute(
      "SELECT COUNT(DISTINCT did) AS n FROM bench.ev WHERE kind = 'commit'")
      .as[Long].head() == 2L)
    s.execute("DELETE FROM bench.ev WHERE kind = 'identity'")
    assert(s.execute("SELECT COUNT(*) AS n FROM bench.ev").as[Long].head() == 2L)
    // qualifier stripping must not touch string literals
    s.execute("CREATE TABLE bench.lit (v STRING)")
    s.execute("INSERT INTO bench.lit (v) VALUES ('bench.ev')")
    assert(s.execute("SELECT v FROM bench.lit").as[String].head()
      == "bench.ev")
    s.execute("DROP TABLE bench.lit")
    s.execute("DROP TABLE bench.ev")
    s.execute("DROP DATABASE bench")
  }

  test("ALTER TABLE, CREATE INDEX, CHECKPOINT route to the session APIs") {
    val s = g
    s.execute("CREATE TABLE alt (a BIGINT)")
    s.execute("INSERT INTO alt (a) VALUES (1), (2)")
    s.execute("ALTER TABLE alt ADD COLUMN b STRING")
    s.execute("ALTER TABLE alt RENAME COLUMN b TO c")
    assert(s.execute("SELECT * FROM alt").columns.toSeq == Seq("a", "c"))
    s.execute("ALTER TABLE alt DROP COLUMN c")
    assert(s.execute("SELECT * FROM alt").columns.toSeq == Seq("a"))
    s.execute("CREATE INDEX alt_a ON alt (a)")
    assert(s.listIndexes("alt_a") == (("alt", Seq("a"))))
    s.execute("DROP INDEX alt_a")
    s.execute("CHECKPOINT alt")
    assert(s.execute("SELECT COUNT(*) AS n FROM alt").as[Long].head() == 2L)
  }

  test("CREATE TYPE AS (composite) maps to a struct column") {
    val s = g
    s.execute("CREATE TYPE point_t AS (px INT, py INT)")
    s.execute("CREATE TABLE geo (id BIGINT, loc point_t)")
    s.execute(
      "INSERT INTO geo (id, loc) VALUES (1, named_struct('px', 3, 'py', 4))")
    assert(s.execute("SELECT loc.px + loc.py AS m FROM geo")
      .as[Int].head() == 7)
    s.execute("DROP TYPE point_t")
  }

  test("CREATE SEQUENCE with START/INCREMENT and nextval in INSERT") {
    val s = g
    s.execute("CREATE SEQUENCE ids START 10 INCREMENT 2")
    s.execute("CREATE TABLE st (id BIGINT, v STRING)")
    s.execute("INSERT INTO st (id, v) VALUES (nextval('ids'), 'a'), (nextval('ids'), 'b')")
    s.execute("INSERT INTO st VALUES (nextval('ids'), 'c')")
    assert(s.execute("SELECT id FROM st ORDER BY id")
      .as[Long].collect().toSeq == Seq(10L, 12L, 14L))
    s.execute("DROP SEQUENCE ids")
    // a dropped sequence restarts at the defaults (1, +1)
    s.execute("INSERT INTO st (id, v) VALUES (nextval('ids'), 'd')")
    assert(s.execute("SELECT MIN(id) FROM st").as[Long].head() == 1L)
  }

  test("CREATE [MATERIALIZED] VIEW and DROP VIEW through execute") {
    val s = g
    s.execute("CREATE TABLE vb (v BIGINT)")
    s.execute("INSERT INTO vb (v) VALUES (1), (2), (3)")
    s.execute("CREATE VIEW v_odd AS SELECT v FROM vb WHERE v % 2 = 1")
    assert(s.execute("SELECT COUNT(*) AS n FROM v_odd").as[Long].head() == 2L)
    s.execute("CREATE MATERIALIZED VIEW mv_sum AS SELECT SUM(v) AS s FROM vb")
    assert(s.execute("SELECT s FROM mv_sum").as[Long].head() == 6L)
    // matview is a snapshot: new rows don't appear until refresh
    s.execute("INSERT INTO vb (v) VALUES (10)")
    assert(s.execute("SELECT s FROM mv_sum").as[Long].head() == 6L)
    s.refreshMatView("mv_sum")
    assert(s.execute("SELECT s FROM mv_sum").as[Long].head() == 16L)
    s.execute("DROP VIEW v_odd")
    intercept[Exception] { s.execute("SELECT * FROM v_odd").collect() }
  }

  test("INSERT without a column list uses the declared column order") {
    val s = g
    s.execute("CREATE TABLE pt (id BIGINT, name STRING)")
    s.execute("INSERT INTO pt VALUES (1, 'a'), (2, 'b')")
    assert(s.execute("SELECT id, name FROM pt ORDER BY id")
      .as[(Long, String)].collect().toSeq == Seq((1L, "a"), (2L, "b")))
    // a dynamic table with no columns yet has no positional meaning
    s.execute("CREATE DYNAMIC TABLE dyn")
    intercept[IllegalArgumentException] {
      s.execute("INSERT INTO dyn VALUES (1, 'a')")
    }
  }

  test("SHOW TABLES / DESCRIBE expose the catalog (relkind vocabulary)") {
    val s = g
    s.execute("CREATE TABLE fixed (id BIGINT, name STRING)")
    s.execute("CREATE DYNAMIC TABLE dyn2")
    s.execute("CREATE VIEW v2 AS SELECT id FROM fixed")
    s.execute("INSERT INTO fixed VALUES (1, 'a')")
    s.execute("CREATE MATERIALIZED VIEW mv2 AS SELECT count(*) AS n FROM fixed")
    val rels = s.execute("SHOW TABLES").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(rels("fixed") == "r" && rels("dyn2") == "g"
      && rels("v2") == "v" && rels("mv2") == "m")
    val cols = s.execute("DESCRIBE fixed").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(cols == Seq(("id", "bigint"), ("name", "string")))
    // plain views describe via their analyzed body schema
    val vcols = s.execute("DESCRIBE v2").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    assert(vcols == Seq(("id", "bigint")))
  }

  test("CREATE TABLE AS SELECT and REFRESH MATERIALIZED VIEW") {
    val s = g
    s.execute("CREATE TABLE src (v BIGINT)")
    s.execute("INSERT INTO src VALUES (1), (2), (3)")
    s.execute("CREATE TABLE tgt AS SELECT v * 2 AS d FROM src")
    assert(s.execute("SELECT sum(d) AS sd FROM tgt").as[Long].head() == 12L)
    s.execute("CREATE MATERIALIZED VIEW mv AS SELECT sum(v) AS s FROM src")
    s.execute("INSERT INTO src VALUES (10)")
    assert(s.execute("SELECT s FROM mv").as[Long].head() == 6L) // stale
    s.execute("REFRESH MATERIALIZED VIEW mv")
    assert(s.execute("SELECT s FROM mv").as[Long].head() == 16L)
  }

  test("TRUNCATE empties the table but keeps schema and constraints") {
    val s = g
    s.execute("CREATE TABLE tt (id BIGINT, name STRING)")
    s.execute("INSERT INTO tt VALUES (1, 'a'), (2, 'b')")
    s.execute("TRUNCATE TABLE tt")
    assert(s.execute("SELECT count(*) AS n FROM tt").as[Long].head() == 0L)
    // schema intact: inserts still validate against it
    s.execute("INSERT INTO tt VALUES (3, 'c')")
    assert(s.execute("SELECT id, name FROM tt").as[(Long, String)]
      .collect().toSeq == Seq((3L, "c")))
    intercept[Exception] { s.execute("TRUNCATE missing_table") }
  }

  test("WITH RECURSIVE (UNION ALL): integer series through execute") {
    val out = g.execute("""
      WITH RECURSIVE t(n) AS (
        SELECT CAST(1 AS BIGINT) AS n
        UNION ALL
        SELECT n + 1 AS n FROM t WHERE n < 10)
      SELECT n FROM t ORDER BY n""")
    assert(out.as[Long].collect().toSeq == (1L to 10L))
  }

  test("WITH RECURSIVE: recursive CTE in second position works (PG scoping)") {
    val out = g.execute("""
      WITH RECURSIVE base(n0) AS (SELECT CAST(2 AS BIGINT) AS n0),
      t(n) AS (
        SELECT n0 AS n FROM base
        UNION ALL
        SELECT n + 1 AS n FROM t WHERE n < 6)
      SELECT n FROM t ORDER BY n""")
    assert(out.as[Long].collect().toSeq == (2L to 6L))
  }

  test("WITH RECURSIVE: leading + trailing CTEs around the recursive one") {
    val out = g.execute("""
      WITH RECURSIVE lo(a) AS (SELECT CAST(1 AS BIGINT) AS a),
      t(n) AS (
        SELECT a AS n FROM lo
        UNION ALL
        SELECT n + 1 AS n FROM t WHERE n < 5),
      hi(m) AS (SELECT max(n) AS m FROM t)
      SELECT m FROM hi""")
    assert(out.as[Long].head() == 5L)
  }

  test("WITH RECURSIVE with no self-reference is plain WITH semantics") {
    val out = g.execute("""
      WITH RECURSIVE a(x) AS (SELECT CAST(7 AS BIGINT) AS x),
      b(y) AS (SELECT x + 1 AS y FROM a)
      SELECT y FROM b""")
    assert(out.as[Long].head() == 8L)
  }

  test("WITH RECURSIVE: two recursive CTEs are refused with a clear error") {
    val e = intercept[IllegalArgumentException] {
      g.execute("""
        WITH RECURSIVE p(n) AS (
          SELECT CAST(1 AS BIGINT) AS n UNION ALL SELECT n + 1 FROM p WHERE n < 3),
        q(m) AS (
          SELECT CAST(1 AS BIGINT) AS m UNION ALL SELECT m + 1 FROM q WHERE m < 3)
        SELECT * FROM p JOIN q ON p.n = q.m""")
    }
    assert(e.getMessage.contains("at most one recursive CTE"))
  }

  test("WITH RECURSIVE restores a shadowed pre-existing temp view") {
    spark.range(3).toDF("v").createOrReplaceTempView("shadowed")
    g.execute("""
      WITH RECURSIVE shadowed(n) AS (
        SELECT CAST(100 AS BIGINT) AS n
        UNION ALL
        SELECT n + 1 AS n FROM shadowed WHERE n < 102)
      SELECT n FROM shadowed""")
    // the user's binding must survive the statement, not stay rebound to
    // the recursive closure
    assert(spark.table("shadowed").count() == 3)
    assert(spark.table("shadowed").columns.toSeq == Seq("v"))
    spark.catalog.dropTempView("shadowed")
  }

  test("WITH RECURSIVE (UNION): cycle terminates via dedup fixpoint") {
    val s = g
    s.execute("CREATE TABLE e (src BIGINT, dst BIGINT)")
    // 0 -> 1 -> 2 -> 0 cycle plus a stray edge not reachable from 0
    s.execute("INSERT INTO e VALUES (0, 1), (1, 2), (2, 0), (7, 8)")
    val out = s.sql("""
      WITH RECURSIVE reach(node) AS (
        SELECT CAST(0 AS BIGINT) AS node
        UNION
        SELECT e.dst AS node FROM e JOIN reach r ON e.src = r.node)
      SELECT node FROM reach ORDER BY node""")
    assert(out.as[Long].collect().toSeq == Seq(0L, 1L, 2L))
  }

  test("WITH RECURSIVE: non-converging query fails with a clear error") {
    // one bound for both paths, Spark's recursion level limit: UNION ALL
    // runs on Spark's UnionLoop and fails at the action with its error
    // class; the UNION driver fixpoint fails while the frame is built
    val s = g
    spark.conf.set("spark.sql.cteRecursionLevelLimit", "5")
    try {
      val e = intercept[org.apache.spark.SparkException] {
        s.sql("""
          WITH RECURSIVE r(n) AS (
            SELECT CAST(1 AS BIGINT) AS n
            UNION ALL
            SELECT n AS n FROM r)
          SELECT count(*) AS c FROM r""").collect()
      }
      assert(e.getCondition == "RECURSION_LEVEL_LIMIT_EXCEEDED")
      val u = intercept[IllegalArgumentException] {
        s.sql("""
          WITH RECURSIVE r(n) AS (
            SELECT CAST(1 AS BIGINT) AS n
            UNION
            SELECT n + 1 AS n FROM r)
          SELECT count(*) AS c FROM r""")
      }
      assert(u.getMessage.contains("did not converge"))
    } finally spark.conf.unset("spark.sql.cteRecursionLevelLimit")
  }

  test("tables referenced only inside CTE bodies are registered") {
    val s = g
    s.execute("CREATE TABLE cte_only (v BIGINT)")
    s.execute("INSERT INTO cte_only VALUES (4), (5)")
    spark.catalog.dropTempView("cte_only")
    val out =
      s.sql("WITH x AS (SELECT v FROM cte_only) SELECT sum(v) AS s FROM x")
    assert(out.as[Long].head() == 9L)
  }

  test("WITH RECURSIVE (UNION ALL) analyzes to Spark's UnionLoop") {
    val out = g.sql("""
      WITH RECURSIVE t(n) AS (
        SELECT CAST(1 AS BIGINT) AS n
        UNION ALL
        SELECT n + 1 AS n FROM t WHERE n < 4)
      SELECT n FROM t ORDER BY n""")
    assert(out.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.catalyst.plans.logical.UnionLoop => l
    }.isDefined)
    assert(out.as[Long].collect().toSeq == Seq(1L, 2L, 3L, 4L))
  }

  test("WITH RECURSIVE (UNION): step reference inside a subquery, MAX RECURSION LEVEL") {
    val s = g
    s.execute("CREATE TABLE ue (src BIGINT, dst BIGINT)")
    s.execute("INSERT INTO ue VALUES (0, 1), (1, 2), (2, 0), (5, 6)")
    // the recursive name is referenced only inside an IN subquery
    val out = s.sql("""
      WITH RECURSIVE reach(node) AS (
        SELECT CAST(0 AS BIGINT) AS node
        UNION
        SELECT dst AS node FROM ue WHERE src IN (SELECT node FROM reach))
      SELECT node FROM reach ORDER BY node""")
    assert(out.as[Long].collect().toSeq == Seq(0L, 1L, 2L))
    // the member's own level bound applies to the driver fixpoint too
    val e = intercept[IllegalArgumentException] {
      s.sql("""
        WITH RECURSIVE r(n) MAX RECURSION LEVEL 3 AS (
          SELECT CAST(1 AS BIGINT) AS n
          UNION
          SELECT n + 1 AS n FROM r WHERE n < 10)
        SELECT n FROM r""")
    }
    assert(e.getMessage.contains("did not converge in 3"))
  }

  test("WITH RECURSIVE: comments with parens/UNION do not confuse parsing") {
    val out = g.sql("""
      WITH RECURSIVE t(n) AS (
        SELECT CAST(1 AS BIGINT) AS n -- seed :) union?
        UNION ALL
        SELECT n + 1 AS n /* step ( */ FROM t WHERE n < 4)
      SELECT sum(n) AS s FROM t""")
    assert(out.collect().head.getLong(0) == 10L)
  }

  test("WITH RECURSIVE followed by a plain CTE and literal hazards") {
    // the ') UNION (' tokens inside string literals must not confuse the
    // body/union scanner; the trailing plain CTE rides on the outer query
    val out = g.sql("""
      WITH RECURSIVE t(n, tag) AS (
        SELECT CAST(1 AS BIGINT) AS n, 'seed)union' AS tag
        UNION ALL
        SELECT n + 1 AS n, 'step''(' AS tag FROM t WHERE n < 3),
      doubled AS (SELECT n * 2 AS d FROM t)
      SELECT sum(d) AS s FROM doubled""")
    import spark.implicits._
    assert(out.as[Long].head() == 12L) // (1+2+3)*2
  }

  test("COPY TO / COPY FROM round-trips tables and query results") {
    val s = g
    val out = graft.TmpDirs.createPath("graft_copy")
    s.execute("CREATE TABLE src (id BIGINT, name STRING)")
    s.execute("INSERT INTO src (id, name) VALUES (1, 'a'), (2, 'b'), (3, 'c')")

    // table export, default parquet; returns (path, rows)
    val exported = s.execute(s"COPY src TO '$out/t' (FORMAT parquet)")
    assert(exported.collect().head.getString(1) == "3")

    // query export with explicit format
    s.execute(s"COPY (SELECT id, name FROM src WHERE id > 1) " +
      s"TO '$out/q' (FORMAT csv)")

    // COPY FROM reads with the target's declared schema (no inference
    // drift on csv) and appends through the normal insert path
    s.execute("CREATE TABLE back (id BIGINT, name STRING)")
    s.execute(s"COPY back FROM '$out/q' (FORMAT csv)")
    import spark.implicits._
    assert(s.execute("SELECT id FROM back ORDER BY id")
      .as[Long].collect().toSeq == Seq(2L, 3L))

    s.execute(s"COPY back FROM '$out/t'") // parquet default, appends
    assert(s.execute("SELECT count(*) AS n FROM back").as[Long].head() == 5)

    intercept[IllegalArgumentException] {
      s.execute(s"COPY src TO '$out/x' (FORMAT avro)")
    }
  }

  test("COPY TO parquet reports rows from footer metadata, not a re-read") {
    // the count must come from parquet footers (O(#files) driver-side
    // metadata), never a second scan of what was just written — at a
    // 100 TB export the re-read doubles the I/O. Pin it by job count:
    // parquet COPY runs the write job(s) only, csv COPY runs the same
    // write plus a count-read job, so parquet must run strictly fewer.
    val s = g
    val out = graft.TmpDirs.createPath("graft_copy_meta")
    s.execute("CREATE TABLE msrc (id BIGINT)")
    s.execute("INSERT INTO msrc VALUES (1), (2), (3)")
    s.execute("INSERT INTO msrc VALUES (4), (5)")
    def jobsFor(group: String)(body: => Unit): Int = {
      spark.sparkContext.setJobGroup(group, group)
      try body finally spark.sparkContext.clearJobGroup()
      // job-start events land on the status store asynchronously — poll
      // until the count is stable, never a bare sleep
      val tracker = spark.sparkContext.statusTracker
      val deadline = System.nanoTime + 5L * 1000 * 1000 * 1000
      var last = tracker.getJobIdsForGroup(group).length
      var stable = 0
      while (System.nanoTime < deadline && stable < 5) {
        Thread.sleep(50)
        val cur = tracker.getJobIdsForGroup(group).length
        if (cur == last) stable += 1 else { last = cur; stable = 0 }
      }
      last
    }
    var pq: org.apache.spark.sql.DataFrame = null
    var cs: org.apache.spark.sql.DataFrame = null
    val pqJobs = jobsFor("copy-pq") {
      pq = s.execute(s"COPY msrc TO '$out/p' (FORMAT parquet)")
    }
    val csJobs = jobsFor("copy-csv") {
      cs = s.execute(s"COPY msrc TO '$out/c' (FORMAT csv)")
    }
    // counts agree either way; the multi-batch insert above makes the
    // parquet output multi-file, so the footer count is a real sum
    assert(pq.collect().head.getString(1) == "5")
    assert(cs.collect().head.getString(1) == "5")
    assert(pqJobs < csJobs,
      s"parquet COPY ran $pqJobs jobs vs csv's $csJobs — the parquet " +
        "count must be footer-metadata-only, with no re-read job")
  }

  test("EXPLAIN returns the plan as rows through the router") {
    val s = g
    s.execute("CREATE TABLE ex (id BIGINT, v DOUBLE)")
    s.execute("INSERT INTO ex (id, v) VALUES (1, 1.5), (2, 2.5)")
    val plan = s.execute(
      "EXPLAIN SELECT id, sum(v) AS sv FROM ex GROUP BY id")
      .collect().map(_.getString(0)).mkString("\n")
    assert(plan.contains("Physical Plan"))
    assert(plan.contains("HashAggregate") || plan.contains("Aggregate"))
    val analyzed = s.execute(
      "EXPLAIN ANALYZE SELECT count(*) AS n FROM ex")
      .collect().map(_.getString(0)).mkString("\n")
    assert(analyzed.nonEmpty)
    s.execute("DROP TABLE ex")
  }
}

package graft.queries

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.Tables
import graft.api.GraftSession
import graft.functions.Jsonb
import graft.operators.{Materialize, RecursiveCte}

/** Long-tail operator surface (SURVEY §2.7, §2.10, §2.11): recursive CTE,
  * DML with RETURNING through the session catalog, PG-dialect JSONB SQL
  * through the rewriter, and runtime UDF registration. */
object ExtQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- WITH RECURSIVE, UNION ALL semantics to match the oracle: one
    // lazy UnionLoop plan that Spark iterates when the frame executes, so
    // building it runs no job (the UNION driver fixpoint is exercised by
    // x10's cyclic closure) ---
    "x1_recursive_cte" -> ((s, dir) => {
      import s.implicits._
      RecursiveCte.fixpointAll(
        Seq(1L).toDF("n"),
        d => d.filter(col("n") < 25).select((col("n") + 1).as("n")))
        .orderBy(col("n"))
    }),

    // --- WITH RECURSIVE through the SQL surface: graph reachability with
    // a cycle (0 →+5→ 5 → … → 20 → 0 mod 25), UNION semantics, so the
    // dedup fixpoint must terminate on the cycle ---
    "x10_recursive_sql" -> ((s, dir) => {
      val g = GraftSession(s, graft.TmpDirs.create("graft_q"))
      val edges = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").cast("bigint").as("src"),
          ((col("n_nationkey") + 5) % 25).cast("bigint").as("dst"))
      g.createTable("edges", edges.schema)
      g.insert("edges", edges)
      g.sql("""
        WITH RECURSIVE reach(node) AS (
          SELECT CAST(0 AS BIGINT) AS node
          UNION
          SELECT e.dst AS node FROM edges e JOIN reach r ON e.src = r.node)
        SELECT node FROM reach ORDER BY node""")
    }),

    // --- LDBC SNB BI-style multi-hop reachability (the reference ships
    // LDBC SNB BI as a runnable corpus: /root/reference/benchmark/
    // SOURCES.md:18-19; the full social schema is outside the driver's
    // 8 tables, so the k-hop SHAPE runs over an edge projection of
    // customer: k → {k+1, k+10} within the same nation). BFS from seed
    // customers bounded at 3 hops, aggregated per nation. Scale shape:
    // the edge build is an exploded two-key EQUI join (never an OR-join
    // that would degrade to nested-loop), and the fixpoint is
    // frontier-only — work per wave is O(newly reached pairs), the
    // LDBC-at-scale answer, not an all-pairs closure ---
    "ldbc1_khop" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("bigint").as("k"),
          col("c_nationkey").cast("bigint").as("nat"))
      // candidate targets exploded, then validated by equi-join on
      // (dst, nat) — hash-joinable at any scale
      val cand = c.select(col("k").as("src"), col("nat"),
        explode(array(col("k") + 1, col("k") + 10)).as("dst"))
      // materialized once (r19): every fixpoint round is its own action,
      // so an un-checkpointed projection re-runs scan+explode+join per
      // round
      val edges = cand
        .join(c.select(col("k").as("dst"), col("nat")), Seq("dst", "nat"))
        .select(col("src"), col("dst"))
        // reliable-aware since r20 (VERDICT r19 #3): executor-local on a
        // single host, a RELIABLE checkpoint when a checkpoint dir is set
        .transform(Materialize.once(_))
      val seeds = c.filter(col("k") % 100 === 1)
        .select(col("k").as("seed"), col("nat"))
      val reach = RecursiveCte.fixpoint(
        seeds.select(col("seed"), col("seed").as("node"),
          lit(0).as("hop")),
        d => d.filter(col("hop") < 3)
          .join(edges, col("node") === col("src"))
          .select(col("seed"), col("dst").as("node"),
            (col("hop") + 1).as("hop")))
      val perSeed = reach.groupBy(col("seed"))
        .agg((countDistinct(col("node")) - 1).as("n_reach"))
      perSeed.join(seeds, "seed")
        .groupBy(col("nat"))
        .agg(count(lit(1)).as("n_seeds"),
          sum(col("n_reach")).cast("bigint").as("sum_reach"),
          max(col("n_reach")).as("max_reach"))
        .orderBy(col("nat"))
    }),

    // --- LDBC-style triangle counting (SNB BI's clustering-coefficient
    // family) over a denser edge projection: k → {k+1, k+2, k+3} within
    // the same nation, so (a, a+1, a+2)-shaped triangles exist. The
    // classic distributed enumeration — edges joined twice on vertex
    // keys, both EQUI joins — counts each triangle once via the
    // src<dst orientation of the projection. At 100 TB the candidate
    // edge build is bounded at 3|V| by the explode, and both triangle
    // joins shuffle on vertex keys (no broadcast of anything
    // scale-proportional, never an all-pairs step) ---
    "ldbc2_triangles" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("bigint").as("k"),
          col("c_nationkey").cast("bigint").as("nat"))
      val cand = c.select(col("k").as("src"), col("nat"),
        explode(array(col("k") + 1, col("k") + 2, col("k") + 3))
          .as("dst"))
      val edges = cand
        .join(c.select(col("k").as("dst"), col("nat")), Seq("dst", "nat"))
        .select(col("src"), col("dst"), col("nat"))
      val e2 = edges.select(col("src").as("b2"), col("dst").as("c2"))
      val e3 = edges.select(col("src").as("a3"), col("dst").as("c3"))
      edges.select(col("src").as("a"), col("dst").as("b"), col("nat"))
        .join(e2, col("b") === col("b2"))
        .join(e3, col("a") === col("a3") && col("c2") === col("c3"))
        .groupBy(col("nat"))
        .agg(count(lit(1)).as("n_triangles"),
          countDistinct(col("a")).as("n_apex"))
        .orderBy(col("nat"))
    }),

    // --- LDBC-style local clustering coefficient ingredients: per
    // nation, Σ vertex-incident triangles and Σ wedges (deg·(deg−1)/2)
    // over the undirected ldbc2 projection — lcc = sum_tri/sum_wedges is
    // one division for the reader; the outputs stay exact integers so
    // the check is hash-exact. Scale: reuses the vertex-key equi-join
    // triangle enumeration (each triangle explodes to its 3 vertices —
    // a 3× narrow explode), degree is one shuffle on the vertex key ---
    "ldbc6_lcc" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("bigint").as("k"),
          col("c_nationkey").cast("bigint").as("nat"))
      val cand = c.select(col("k").as("src"), col("nat"),
        explode(array(col("k") + 1, col("k") + 2, col("k") + 3))
          .as("dst"))
      val edges = cand
        .join(c.select(col("k").as("dst"), col("nat")), Seq("dst", "nat"))
        .select(col("src"), col("dst"))
      val e2 = edges.select(col("src").as("b2"), col("dst").as("c2"))
      val e3 = edges.select(col("src").as("a3"), col("dst").as("c3"))
      val tri = edges.select(col("src").as("a"), col("dst").as("b"))
        .join(e2, col("b") === col("b2"))
        .join(e3, col("a") === col("a3") && col("c2") === col("c3"))
        .select(col("a"), col("b"), col("c2").as("c"))
      val triV = tri
        .select(explode(array(col("a"), col("b"), col("c"))).as("v"))
        .groupBy(col("v")).agg(count(lit(1)).as("tri_v"))
      val und = edges.select(col("src").as("v"), col("dst").as("w"))
        .unionByName(edges.select(col("dst").as("v"), col("src").as("w")))
      val deg = und.groupBy(col("v")).agg(count(lit(1)).as("deg"))
      deg.join(triV, Seq("v"), "left")
        .join(c.select(col("k").as("v"), col("nat")), Seq("v"))
        .groupBy(col("nat"))
        .agg(sum(coalesce(col("tri_v"), lit(0L))).as("sum_tri"),
          sum(expr("deg * (deg - 1) div 2")).cast("bigint")
            .as("sum_wedges"),
          count(lit(1)).as("n_vertices"))
        .orderBy(col("nat"))
    }),

    // --- LDBC BI shortest-path-length histogram (the path-length
    // distribution family of LDBC SNB BI — reference corpus pointer:
    // /root/reference/benchmark/SOURCES.md:18-19). Same bounded BFS
    // machinery as ldbc1, but instead of reachable-set sizes it keeps
    // the MINIMUM hop per (seed, node) pair and histograms pairs by
    // that shortest path length — per-hop frontier decay. Scale shape:
    // the min() collapse is one vertex-key shuffle over the reach set
    // (which the fixpoint already bounded at O(pairs within 3 hops)),
    // and the histogram is O(#hops) groups ---
    "ldbc3_sp_hist" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("bigint").as("k"),
          col("c_nationkey").cast("bigint").as("nat"))
      // denser projection than ldbc1 (out-candidates k+1..k+20, same
      // nation) and a wider seed set, so the histogram has mass at
      // every hop and the per-hop decay is visible
      val cand = c.select(col("k").as("src"), col("nat"),
        explode(sequence(col("k") + 1, col("k") + 20)).as("dst"))
      // materialized once (r19): every fixpoint round is its own action,
      // so an un-checkpointed projection re-runs scan+explode+join per
      // round — the pageRankInt scaladoc's "persist edges externally"
      // advice, applied. The fixpoint already executes at build time, so
      // this adds no new build-time side effect class.
      val edges = cand
        .join(c.select(col("k").as("dst"), col("nat")), Seq("dst", "nat"))
        .select(col("src"), col("dst"))
        // reliable-aware since r20 (VERDICT r19 #3): executor-local on a
        // single host, a RELIABLE checkpoint when a checkpoint dir is set
        .transform(Materialize.once(_))
      val seeds = c.filter(col("k") % 20 === 1)
        .select(col("k").as("seed"))
      val reach = RecursiveCte.fixpoint(
        seeds.select(col("seed"), col("seed").as("node"),
          lit(0).as("hop")),
        d => d.filter(col("hop") < 3)
          .join(edges, col("node") === col("src"))
          .select(col("seed"), col("dst").as("node"),
            (col("hop") + 1).as("hop")))
      reach.filter(col("node") =!= col("seed"))
        .groupBy(col("seed"), col("node"))
        .agg(min(col("hop")).as("sp"))
        .groupBy(col("sp"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("seed")).as("n_seeds"))
        .orderBy(col("sp"))
    }),

    // --- LDBC-style PageRank (3 unrolled power iterations, damping
    // 0.85) over the ldbc1 edge projection — in EXACT INTEGER
    // arithmetic: seed 1024 per node and the recurrence
    //   P' = 3·20^i·1024 + 17·Σ P/outdeg      (0.85 = 17/20, scaled
    // through by 20 per iteration so nothing ever divides by 20).
    // Out-degrees are ≤ 2 and the seed's 2^10 factor guarantees every
    // `P div outdeg` is exact, so both engines compute identical
    // BIGINTs — hash-exact with ZERO floating point anywhere. Scale
    // shape: per iteration one vertex-key equi-join (p ⋈ edges) and one
    // dst-key rollup — the classic distributed power iteration; nothing
    // scale-proportional is broadcast or collected. Dangling mass is
    // dropped (simplified PageRank), uniform teleport keeps sinks
    // ranked. At production scale the edge projection would be
    // persisted once instead of re-derived per unrolled wave ---
    "ldbc4_pagerank" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("bigint").as("k"),
          col("c_nationkey").cast("bigint").as("nat"))
      val cand = c.select(col("k").as("src"), col("nat"),
        explode(array(col("k") + 1, col("k") + 10)).as("dst"))
      val edges = cand
        .join(c.select(col("k").as("dst"), col("nat")), Seq("dst", "nat"))
        .select(col("src"), col("dst"))
      val p = graft.operators.Graphs.pageRankInt(
        c.select(col("k").as("node")), edges, iters = 3)
      p.join(c, col("node") === col("k"))
        .groupBy(col("nat"))
        .agg(count(lit(1)).as("n_nodes"), sum(col("p")).as("sum_pr"),
          max(col("p")).as("max_pr"), min(col("p")).as("min_pr"))
        .orderBy(col("nat"))
    }),

    // --- UPDATE ... RETURNING through the session write path ---
    "x2_update_returning" -> ((s, dir) => {
      val g = GraftSession(s, graft.TmpDirs.create("graft_q"))
      // only the columns the statement touches ride through the write path
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
      g.createTable("c", cust.schema)
      g.insert("c", cust)
      g.update("c",
          Map("c_acctbal" -> (col("c_acctbal") * 1.1)),
          col("c_acctbal") < 0)
        .select(col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_custkey"))
    }),

    // --- DELETE ... RETURNING ---
    "x3_delete_returning" -> ((s, dir) => {
      val g = GraftSession(s, graft.TmpDirs.create("graft_q"))
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
      g.createTable("d", d.schema)
      g.insert("d", d)
      g.delete("d", col("n_chars") < 100)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),

    // --- UPDATE ... SET ... FROM ... WHERE ... RETURNING, driven through
    // the SQL router end-to-end (reference test_returning.cpp; the
    // RETURNING list references the FROM source's column) ---
    "x8_sql_update_from" -> ((s, dir) => {
      val g = GraftSession(s, graft.TmpDirs.create("graft_q"))
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
      g.createTable("c", cust.schema)
      g.insert("c", cust)
      val src = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
      g.createTable("src", src.schema)
      g.insert("src", src)
      g.execute("""
          UPDATE c SET c_acctbal = c_acctbal + cnt FROM src
          WHERE c.c_custkey = src.o_custkey AND c_acctbal < 0
          RETURNING c_custkey, c_acctbal, cnt""")
        .orderBy(col("c_custkey"))
    }),

    // --- DELETE FROM ... USING ... WHERE ... RETURNING through the SQL
    // router; the RETURNING list references the USING source's column ---
    "x9_sql_delete_using" -> ((s, dir) => {
      val g = GraftSession(s, graft.TmpDirs.create("graft_q"))
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"))
      g.createTable("d", d.schema)
      g.insert("d", d)
      val kill = Tables.load(s, dir, "documents")
        .filter(col("lang").isin("de", "fr"))
        .select(col("doc_id").as("k_id"), col("lang"))
      g.createTable("kill", kill.schema)
      g.insert("kill", kill)
      g.execute("""
          DELETE FROM d USING kill WHERE d.doc_id = kill.k_id
          RETURNING doc_id, n_chars, lang""")
        .orderBy(col("doc_id"))
    }),

    // --- PG-dialect jsonb SQL through the rewriter ---
    "x4_jsonb_sql" -> ((s, dir) => {
      Tables.load(s, dir, "events").createOrReplaceTempView("events")
      s.sql(Jsonb.rewrite("""
        SELECT CAST(props->>'k' AS BIGINT) % 5 AS kmod, COUNT(*) AS n
        FROM events WHERE CAST(props->>'k' AS BIGINT) >= $1
        GROUP BY CAST(props->>'k' AS BIGINT) % 5
        ORDER BY kmod""", Seq(10)))
    }),

    // --- dynamic (computing) table + jsonb SQL through the session:
    // documents materialize columns on insert, PG operators query them ---
    "x6_dynamic_jsonb" -> ((s, dir) => {
      val g = GraftSession(s, graft.TmpDirs.create("graft_q"))
      g.createDynamicTable("docs")
      g.insert("docs", Tables.load(s, dir, "events")
        .filter(col("event_id") < 500)
        .select(col("event_id"), col("event_type"), col("props")))
      g.sql("""
        SELECT event_type, SUM(CAST(props->>'k' AS BIGINT)) AS sum_k,
               COUNT(*) AS n
        FROM docs GROUP BY event_type ORDER BY event_type""")
    }),

    // --- SQL macro (CREATE FUNCTION → textual expansion at plan time) ---
    "x7_sql_macro" -> ((s, dir) => {
      val g = GraftSession(s, graft.TmpDirs.create("graft_q"))
      Tables.load(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      g.execute(
        "CREATE MACRO net_price(p, d) AS p * (1.0 - d)")
      g.sql("""
        SELECT l_returnflag,
          CAST(SUM(CAST(net_price(l_extendedprice, l_discount)
            AS DECIMAL(28,6))) AS DOUBLE) AS net
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""")
    }),

    // --- as-of join (inclusive latest-right-per-left; DuckDB ASOF oracle)
    "j1_asof_join" -> ((s, dir) => {
      val e = graft.Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("t"), col("value"))
      val rates = e.groupBy(col("event_type"),
          date_trunc("hour", col("t")).as("h"))
        .agg(count(lit(1)).as("rate"))
      val joined = graft.operators.TimeJoins.asOfJoin(
        e.select(col("event_type"), col("event_id"),
          unix_micros(col("t")).as("lt")),
        rates.select(col("event_type"), unix_micros(col("h")).as("rt"),
          col("rate")),
        key = "event_type", leftTime = "lt", rightTime = "rt")
      joined.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_matched"),
          sum(col("rate")).as("sum_rate"))
        .orderBy(col("event_type"))
    }),

    // --- as-of join with a TOLERANCE bound (kdb/pandas merge_asof's
    // `tolerance=`): matches older than 15 minutes are dropped, not
    // carried forward. Same no-join-node union+window plan as j1; the
    // tolerance is one more filter on the already-matched rows, checked
    // here against DuckDB's native ASOF JOIN + gap predicate ---
    "j2_asof_tolerance" -> ((s, dir) => {
      val e = graft.Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("t"))
      val rates = e.groupBy(col("event_type"),
          date_trunc("hour", col("t")).as("h"))
        .agg(count(lit(1)).as("rate"))
      val joined = graft.operators.TimeJoins.asOfJoin(
        e.select(col("event_type"), col("event_id"),
          unix_micros(col("t")).as("lt")),
        rates.select(col("event_type"), unix_micros(col("h")).as("rt"),
          col("rate")),
        key = "event_type", leftTime = "lt", rightTime = "rt",
        tolerance = Some(15L * 60 * 1000000))
      joined.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_matched"),
          sum(col("rate")).as("sum_rate"))
        .orderBy(col("event_type"))
    }),

    // --- LDBC-style weighted shortest paths: bounded min-plus relaxation
    // (Bellman–Ford, 3 rounds) over the dense ldbc3-style projection
    // (k→k+1..k+12, same nation) with distance-derived integer weights
    // w = (gap+3) div 4 ∈ {1,2,3} — short-hop chains genuinely compete
    // with long direct edges (observed max dist 6 > 3 rounds × min w).
    // ALL arithmetic is BIGINT: hash-exact with zero tolerance. Scale:
    // per round one vertex-key equi-join + one (seed, node)
    // min-aggregate (map-side combined) ---
    "ldbc5_weighted_sp" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("bigint").as("k"),
          col("c_nationkey").cast("bigint").as("nat"))
      val cand = c.select(col("k").as("src"), col("nat"),
        explode(sequence(col("k") + 1, col("k") + 12)).as("dst"))
      val edges = cand
        .join(c.select(col("k").as("dst"), col("nat")), Seq("dst", "nat"))
        .select(col("src"), col("dst"),
          expr("(dst - src + 3) div 4").as("w"))
      val seeds = c.filter(col("k") % 20 === 1)
        .select(col("k").as("node"))
      val d = graft.operators.Graphs.minPlusDistances(seeds, edges,
        rounds = 3)
      d.filter(col("node") =!= col("seed"))
        .join(c.select(col("k").as("seed"), col("nat")), Seq("seed"))
        .groupBy(col("nat"))
        .agg(count(lit(1)).as("n_pairs"), sum(col("dist")).as("sum_dist"),
          min(col("dist")).as("min_dist"), max(col("dist")).as("max_dist"))
        .orderBy(col("nat"))
    }),

    // --- time-series regularization: per-user hourly resample with
    // forward fill (the gap-filling every metrics/feature pipeline runs
    // before training). ~93% of the grid is gaps at this density, so the
    // carried-value window does real work; `value` is only ever selected
    // and copied — zero FP arithmetic — so the check is hash-exact on
    // raw doubles ---
    "j3_resample_ffill" -> ((s, dir) => {
      val e = graft.Tables.events(s, dir)
      graft.operators.TimeJoins.resampleFill(
          e.select(col("user_id"), col("t"), col("value"), col("event_id")),
          keyCol = "user_id", tsCol = "t", valCol = "value",
          ordCol = "event_id", bucket = "hour")
        .orderBy(col("user_id"), col("bucket_ts"))
    }),

    // --- link prediction by common-neighbor count (the classic
    // similarity score of Liben-Nowell & Kleinberg 2003): candidate
    // pairs are generated by a WEDGE equi-join on the shared middle
    // vertex (never all-pairs — work is Σ deg², bounded by the ldbc2
    // projection's constant degree), already-connected pairs are removed
    // with a LeftAnti on the undirected edge set, and the per-nation
    // rollup keeps the output tiny. All-integer — hash-exact ---
    "ldbc7_link_prediction" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("bigint").as("k"),
          col("c_nationkey").cast("bigint").as("nat"))
      val cand = c.select(col("k").as("src"), col("nat"),
        explode(array(col("k") + 1, col("k") + 2, col("k") + 3))
          .as("dst"))
      val edges = cand
        .join(c.select(col("k").as("dst"), col("nat")), Seq("dst", "nat"))
        .select(col("src"), col("dst"))
      val und = edges.select(col("src").as("v"), col("dst").as("w"))
        .unionByName(edges.select(col("dst").as("v"), col("src").as("w")))
      val pairs = und.select(col("v").as("m"), col("w").as("a"))
        .join(und.select(col("v").as("m"), col("w").as("b")), Seq("m"))
        .filter(col("a") < col("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("n_common"))
      val unconnected = pairs.join(
        und.select(col("v").as("a"), col("w").as("b")),
        Seq("a", "b"), "left_anti")
      unconnected
        .join(c.select(col("k").as("a"), col("nat")), Seq("a"))
        .groupBy(col("nat"))
        .agg(count(lit(1)).as("n_candidates"),
          max(col("n_common")).as("max_common"),
          sum(col("n_common")).cast("bigint").as("sum_common"))
        .orderBy(col("nat"))
    }),

    // --- LDBC BI-style FILTERED shortest path (the Q19/Q20 family:
    // paths restricted to qualifying vertices): same frontier machinery
    // as ldbc3, but the graph keeps only "active" customers
    // (c_acctbal > 0) — the vertex predicate pushes INTO the edge
    // projection BEFORE any traversal (both endpoints filtered at the
    // scan, the BI-query contract), so the fixpoint never visits a
    // disqualified node. Histogram per seed mktsegment: reachable pairs
    // within 3 hops, total shortest-path hops, distinct seeds.
    // All-integer — hash-exact.
    // Ref: /root/reference/benchmark/ldbc/bi-19.sql (interaction-
    // weighted city-pair SP; the vertex gate here plays its
    // city-restriction role) and /root/reference/benchmark/ldbc/
    // bi-20.sql (knows-graph SP restricted to qualifying edges) ---
    "ldbc8_filtered_sp" -> ((s, dir) => {
      val active = Tables.load(s, dir, "customer")
        .filter(col("c_acctbal") > 0)
        .select(col("c_custkey").cast("bigint").as("k"),
          col("c_nationkey").cast("bigint").as("nat"),
          col("c_mktsegment").as("seg"))
      val cand = active.select(col("k").as("src"), col("nat"),
        explode(sequence(col("k") + 1, col("k") + 12)).as("dst"))
      // materialized once — see ldbc3: per-round actions re-derive an
      // un-checkpointed projection
      val edges = cand
        .join(active.select(col("k").as("dst"), col("nat")),
          Seq("dst", "nat"))
        .select(col("src"), col("dst"))
        // reliable-aware since r20 (VERDICT r19 #3): executor-local on a
        // single host, a RELIABLE checkpoint when a checkpoint dir is set
        .transform(Materialize.once(_))
      val seeds = active.filter(col("k") % 25 === 1)
        .select(col("k").as("seed"), col("seg"))
      val reach = RecursiveCte.fixpoint(
        seeds.select(col("seed"), col("seed").as("node"),
          lit(0).as("hop")),
        d => d.filter(col("hop") < 3)
          .join(edges, col("node") === col("src"))
          .select(col("seed"), col("dst").as("node"),
            (col("hop") + 1).as("hop")))
      reach.filter(col("node") =!= col("seed"))
        .groupBy(col("seed"), col("node"))
        .agg(min(col("hop")).as("sp"))
        .join(seeds, "seed")
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("sp")).cast("bigint").as("sum_sp"),
          countDistinct(col("seed")).as("n_seeds"))
        .orderBy(col("seg"))
    }),

    // --- LPA community detection (the LDBC Graphalytics CDLP
    // workload): synchronous most-frequent-neighbor-label rounds with
    // the smallest-label tie-break — pure integer counts over BIGINT
    // labels, so the fixpoint is bit-identical on any engine (see
    // operators/Graphs.labelPropagation). Same-nation chain projection
    // as ldbc2/ldbc6; top communities by size ---
    "ldbc9_community" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("bigint").as("k"),
          col("c_nationkey").cast("bigint").as("nat"))
      val cand = c.select(col("k").as("src"), col("nat"),
        explode(array(col("k") + 1, col("k") + 2, col("k") + 3))
          .as("dst"))
      val edges = cand
        .join(c.select(col("k").as("dst"), col("nat")), Seq("dst", "nat"))
        .select(col("src"), col("dst"))
      val und = edges.select(col("src").as("v"), col("dst").as("w"))
        .unionByName(edges.select(col("dst").as("v"), col("src").as("w")))
      graft.operators.Graphs.labelPropagation(
          c.select(col("k").as("node")), und, rounds = 2)
        .groupBy(col("lab"))
        .agg(count(lit(1)).as("n_members"),
          min(col("node")).as("first_member"),
          max(col("node")).as("last_member"))
        .select(col("lab").as("community"), col("n_members"),
          col("first_member"), col("last_member"))
        .orderBy(col("n_members").desc, col("community"))
        .limit(20)
    }),

    // --- LDBC BI Q8-style message-thread fanout: persons = customers on
    // the standard synthetic knows-graph (k → k+1..k+12, same nation —
    // the ldbc1/ldbc5 projection), messages = orders authored by
    // o_custkey, and a reply edge exists when a message with a key in
    // (mid+1..mid+5) is authored by someone the parent's author KNOWS.
    // The BI Q8 score weights direct replies 2× and second-level replies
    // 1× (the spec's 1.0/0.5 ratio in integers). Scale shape: reply
    // candidates are an explode-bounded ×5 fan (never a theta join), the
    // knows check is one equi-join, depth 2 is one self-equi-join of the
    // bounded reply set, and both depth counts are map-side-combined
    // aggregates — all BIGINT, hash-exact.
    // Ref: /root/reference/benchmark/ldbc/ (BI Q8 "central person") ---
    "ldbc10_thread_fanout" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("bigint").as("k"),
          col("c_nationkey").cast("bigint").as("nat"))
      val knows = c.select(col("k").as("src"), col("nat"),
          explode(sequence(col("k") + 1, col("k") + 12)).as("dst"))
        .join(c.select(col("k").as("dst"), col("nat")), Seq("dst", "nat"))
        .select(col("src"), col("dst"))
      val msgs = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("bigint").as("mid"),
          col("o_custkey").cast("bigint").as("author"))
      val replies = msgs
        .select(col("mid").as("parent"), col("author").as("p_author"),
          explode(sequence(col("mid") + 1, col("mid") + 5)).as("child"))
        .join(msgs.select(col("mid").as("child"),
          col("author").as("r_author")), Seq("child"))
        .join(knows, col("p_author") === col("src") &&
          col("r_author") === col("dst"))
        .select(col("parent"), col("child"), col("p_author"))
      val d1 = replies.groupBy(col("p_author").as("person"))
        .agg(count(lit(1)).as("n1"))
      val d2 = replies
        .join(replies.select(col("parent").as("r2_parent")),
          col("child") === col("r2_parent"))
        .groupBy(col("p_author").as("person"))
        .agg(count(lit(1)).as("n2"))
      c.select(col("k").as("person"))
        .join(d1, Seq("person"), "left")
        .join(d2, Seq("person"), "left")
        .select(col("person"),
          (coalesce(col("n1"), lit(0L)) * 2 +
            coalesce(col("n2"), lit(0L))).as("score"),
          coalesce(col("n1"), lit(0L)).as("direct_replies"),
          coalesce(col("n2"), lit(0L)).as("second_level"))
        .filter(col("direct_replies") + col("second_level") > 0)
        .orderBy(col("score").desc, col("person"))
        .limit(20)
    }),

    // --- LDBC BI Q5-style "most active posters in a topic": messages =
    // orders (author = o_custkey), topic filter = priority, replies =
    // the ldbc10 ×5 explode fan (no knows check — Q5 counts ALL
    // replies), likes = lineitems referencing the message's order key.
    // Q5's exact structure: per-message reply/like counts arrive as
    // pre-aggregated LEFT JOINs (sum(coalesce(c,0))), rolled up per
    // author, weighted score = 1·messages + 2·replies + 10·likes,
    // top-100. Scale shape: both engagement arms aggregate BEFORE
    // joining (grain = message key, never an exploded fact-fact row),
    // the fan is explode-bounded ×5, everything BIGINT.
    // Ref: /root/reference/benchmark/ldbc/bi-5.sql ---
    "ldbc11_engagement_score" -> ((s, dir) => {
      val all = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("bigint").as("mid"),
          col("o_custkey").cast("bigint").as("author"))
      val topic = Tables.load(s, dir, "orders")
        .filter(col("o_orderpriority") === "2-HIGH")
        .select(col("o_orderkey").cast("bigint").as("mid"),
          col("o_custkey").cast("bigint").as("author"))
      val rc = topic
        .select(col("mid").as("rparent"),
          explode(sequence(col("mid") + 1, col("mid") + 5)).as("child"))
        .join(all.select(col("mid").as("child")), Seq("child"))
        .groupBy(col("rparent")).agg(count(lit(1)).as("r"))
      val lc = Tables.load(s, dir, "lineitem")
        .groupBy(col("l_orderkey").cast("bigint").as("lparent"))
        .agg(count(lit(1)).as("l"))
      topic
        .join(rc, col("mid") === col("rparent"), "left")
        .join(lc, col("mid") === col("lparent"), "left")
        .groupBy(col("author"))
        .agg(count(lit(1)).as("message_count"),
          sum(coalesce(col("r"), lit(0L))).as("reply_count"),
          sum(coalesce(col("l"), lit(0L))).as("like_count"))
        .select(col("author").as("person"), col("message_count"),
          col("reply_count"), col("like_count"),
          (col("message_count") + col("reply_count") * 2 +
            col("like_count") * 10).as("score"))
        .orderBy(col("score").desc, col("person"))
        .limit(100)
    }),

    // --- LDBC BI Q9-style "top thread initiators": threads = orders in
    // a date window, thread messages = the order's lineitems shipped in
    // the same window, pre-aggregated per thread (Q9's MPP CTE) and
    // INNER-joined back to the root — initiators with zero in-window
    // messages drop out, exactly like Q9. Per person: threadCount +
    // total messageCount, top-100 by messages. One (orderkey) grain
    // aggregate, one equi-join, one author rollup — no windows.
    // Ref: /root/reference/benchmark/ldbc/bi-9.sql ---
    "ldbc12_thread_initiators" -> ((s, dir) => {
      val lo = lit("1997-01-01").cast("timestamp")
      val hi = lit("1999-01-01").cast("timestamp")
      val mpp = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .groupBy(col("l_orderkey").cast("bigint").as("root"))
        .agg(count(lit(1)).as("mc"))
      Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= lo && col("o_orderdate") < hi)
        .select(col("o_orderkey").cast("bigint").as("root"),
          col("o_custkey").cast("bigint").as("person"))
        .join(mpp, Seq("root"))
        .groupBy(col("person"))
        .agg(count(lit(1)).as("thread_count"),
          sum(col("mc")).as("message_count"))
        .orderBy(col("message_count").desc, col("person"))
        .limit(100)
    }),

    // --- LDBC BI Q2 tag evolution: for every tag in a tag class, the
    // message count in each half of a 200-day window and the
    // window-over-window |delta|, keeping zero-activity tags. Mapping:
    // tag class = p_type 'PROMO', tags = its brands, a message tagged t
    // = a lineitem of a brand-t part, creationDate = l_shipdate. Scale
    // shape: the two half-window counts are ONE conditional aggregation
    // over a single range-pruned lineitem scan (PushedFilters carries
    // the 200-day band; the split point is a row-side CASE, not a
    // second scan); the tag dimension re-enters by LEFT join from the
    // DISTINCT brand set — aggregated to ≤ |brands| rows before any
    // join, so the spec's COALESCE(0) zero-tag contract costs nothing.
    // All-integer — hash-exact.
    // Ref: /root/reference/benchmark/ldbc/bi-2.sql ---
    "ldbc13_tag_evolution" -> ((s, dir) => {
      val lo = lit("1997-01-01").cast("timestamp")
      val mid = lit("1997-04-11").cast("timestamp") // +100 days
      val hi = lit("1997-07-20").cast("timestamp") // +200 days
      val myTag = Tables.load(s, dir, "part")
        .filter(col("p_type") === "PROMO")
        .select(col("p_partkey"), col("p_brand"))
      val detail = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lo && col("l_shipdate") < hi)
        .select(col("l_partkey"), col("l_shipdate"))
        .join(myTag, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          count(when(col("l_shipdate") < mid, 1)).as("c1"),
          count(when(col("l_shipdate") >= mid, 1)).as("c2"))
      myTag.select(col("p_brand")).distinct()
        .join(detail, Seq("p_brand"), "left")
        .select(col("p_brand").as("brand"),
          coalesce(col("c1"), lit(0L)).as("cnt1"),
          coalesce(col("c2"), lit(0L)).as("cnt2"),
          abs(coalesce(col("c1"), lit(0L)) - coalesce(col("c2"), lit(0L)))
            .as("diff"))
        .orderBy(col("diff").desc, col("brand"))
        .limit(100)
    }),

    // --- LDBC BI Q18 friend recommendation: pairs of interested
    // persons who share a mutual friend but are NOT already connected,
    // scored by common-friend count. Mapping: persons = customers on a
    // k → k+1..k+4 chain knows-graph (nation-free — the same-nation
    // projection leaves the interest-filtered wedge empty at the smoke
    // scale), interest = c_mktsegment 'BUILDING'. Scale shape: the
    // candidate pairs come from a WEDGE equi-join on the shared friend
    // (work is Σ deg² with deg ≤ 8 — never all-pairs), the spec's NOT
    // EXISTS knows-edge is a LeftAnti against the undirected edge set
    // AFTER the pair aggregation (≤ one row per pair reaches it), and
    // the ×4 fan is explode-bounded. Ordered pairs, both orientations,
    // as in the spec. All-integer — hash-exact.
    // Ref: /root/reference/benchmark/ldbc/bi-18.sql ---
    "ldbc14_friend_recommendation" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("bigint").as("k"),
          col("c_mktsegment").as("seg"))
      val cand = c.select(col("k").as("src"),
        explode(array(col("k") + 1, col("k") + 2, col("k") + 3,
          col("k") + 4)).as("dst"))
      val edges = cand
        .join(c.select(col("k").as("dst")), Seq("dst"))
        .select(col("src"), col("dst"))
      val und = edges.unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst")))
      val interested = c.filter(col("seg") === "BUILDING").select(col("k"))
      val foi = und.join(interested, col("src") === col("k"), "left_semi")
      val pairs = foi.select(col("dst").as("mid"), col("src").as("p1"))
        .join(foi.select(col("dst").as("mid"), col("src").as("p2")),
          Seq("mid"))
        .filter(col("p1") =!= col("p2"))
        .groupBy(col("p1"), col("p2"))
        .agg(count(lit(1)).as("mutual_friends"))
      pairs
        .join(und.select(col("src").as("p1"), col("dst").as("p2")),
          Seq("p1", "p2"), "left_anti")
        .orderBy(col("mutual_friends").desc, col("p1"), col("p2"))
        .limit(20)
        .select(col("p1").as("person1"), col("p2").as("person2"),
          col("mutual_friends"))
    }),

    // --- LDBC BI Q12 message-count histogram: how many persons wrote
    // exactly k messages — the count-of-counts double aggregation.
    // Mapping: messages = orders since the window start. Scale shape:
    // the inner aggregate shuffles once to the person grain; the outer
    // histogram's key space is ≤ max-messages-per-person (bounded
    // metadata), so the second shuffle carries one row per person and
    // outputs one row per count value. All-integer — hash-exact.
    // Ref: /root/reference/benchmark/ldbc/bi-12.sql ---
    "ldbc15_msg_histogram" -> ((s, dir) => {
      Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_msgs"))
        .groupBy(col("n_msgs"))
        .agg(count(lit(1)).as("n_persons"))
        .orderBy(col("n_persons").desc, col("n_msgs").desc)
    }),

    // --- LDBC BI Q6-style authority score: a person's score is the sum,
    // over all likers of their messages, of each liker's own popularity
    // (their total like count) — the two-level join-aggregate that makes
    // Q6 distinctive. Mapping: messages = orders, a like = a lineitem
    // row, liker = the supplier on that lineitem, liker popularity = the
    // supplier's total lineitem count. Scale shape: liker popularity is
    // ONE partial-aggregated shuffle on the bare suppkey; it re-enters
    // the like fact by equi-join (supplier is scale-proportional — no
    // broadcast hint, AQE sizes it); per-message and per-person rollups
    // are two more keyed aggregations; top-100 rides
    // TakeOrderedAndProject. All-integer — hash-exact.
    // Ref: /root/reference/benchmark/ldbc/bi-6.sql ---
    "ldbc16_authority_score" -> ((s, dir) => {
      val likes = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val likerPop = likes.groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("pop"))
      val msgScore = likes
        .join(likerPop, Seq("l_suppkey"))
        .groupBy(col("l_orderkey"))
        .agg(sum(col("pop")).as("msc"))
      Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"))
        .join(msgScore, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_custkey").as("person"))
        .agg(sum(col("msc")).cast("bigint").as("score"))
        .orderBy(col("score").desc, col("person"))
        .limit(100)
    }),

    // --- LDBC BI Q1 posting summary: corpus-wide message stats by
    // (year, isComment, lengthCategory) with each cell's share of the
    // GLOBAL total. Mapping: messages = orders before an end date,
    // isComment = finished status, length category = totalprice bands,
    // length = exact cents. Scale shape: one scan feeds BOTH the global
    // 1-row count (broadcast by construction — the h11 exemption) and
    // the grouped cells in a self-contained plan; the average is the
    // single BIGINT→double division, the share is exact integral ppm —
    // no FP in any grouping or filter.
    // Ref: /root/reference/benchmark/ldbc/bi-1.sql ---
    "ldbc17_posting_summary" -> ((s, dir) => {
      val msgs = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
        .select(year(col("o_orderdate")).as("msg_year"),
          when(col("o_orderstatus") === "F", 1).otherwise(0)
            .as("is_comment"),
          when(col("o_totalprice") < 50000, 0)
            .when(col("o_totalprice") < 150000, 1)
            .when(col("o_totalprice") < 300000, 2)
            .otherwise(3).as("len_cat"),
          (col("o_totalprice").cast(DecimalType(28, 2)) * lit(100))
            .cast("bigint").as("cents"))
      val total = msgs.agg(count(lit(1)).as("total_cnt"))
      msgs.groupBy(col("msg_year"), col("is_comment"), col("len_cat"))
        .agg(count(lit(1)).as("message_count"),
          sum(col("cents")).as("sum_cents"))
        .crossJoin(broadcast(total))
        .select(col("msg_year"), col("is_comment"), col("len_cat"),
          col("message_count"),
          col("sum_cents").cast("bigint").as("sum_cents"),
          (col("sum_cents").cast("double") /
            col("message_count").cast("double")).as("avg_cents"),
          expr("message_count * 1000000 div total_cnt").as("share_ppm"))
        .orderBy(col("msg_year").desc, col("is_comment"), col("len_cat"))
    }),

    // --- LDBC BI Q7 related topics: messages tagged T → their comments
    // (the ldbc10 ×5 reply fan) that are NOT themselves tagged T
    // (LeftAnti — Q7's `NOT IN MyMessage`) → the tags of those comments,
    // counted per related tag. Mapping: a message tagged t = an order
    // containing brand-t lineitems. Scale shape: the tagged set is a
    // DISTINCT on the order grain (one shuffle), the reply fan is
    // explode-bounded ×5, the anti-join runs on the bare key, and the
    // final rollup is ≤ |brands| rows. All-integer — hash-exact.
    // Ref: /root/reference/benchmark/ldbc/bi-7.sql ---
    "ldbc18_related_tags" -> ((s, dir) => {
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey").cast("bigint").as("mid"),
          col("l_partkey"))
      val brandOf = Tables.load(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"))
      val tagged = li.join(brandOf.filter(col("p_brand") === "Brand#7"),
          col("l_partkey") === col("p_partkey"))
        .select(col("mid")).distinct()
      val replies = tagged
        .select(col("mid").as("parent"),
          explode(sequence(col("mid") + 1, col("mid") + 5)).as("child"))
      val cmt = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("bigint").as("child"))
        .join(replies, Seq("child"))
        .join(tagged.select(col("mid").as("child")), Seq("child"),
          "left_anti")
        .select(col("child"))
      cmt.join(li, col("child") === col("mid"))
        .join(brandOf, col("l_partkey") === col("p_partkey"))
        .filter(col("p_brand") =!= "Brand#7")
        .groupBy(col("p_brand").as("related_tag"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("related_tag"))
        .limit(100)
    }),

    // --- LDBC BI Q13 zombies: low-activity persons (fewer messages than
    // months since their first activity — the spec's <1 msg/month
    // HAVING, all-integer calendar arithmetic) scored by what fraction
    // of the "likes" on their messages come from OTHER low-activity
    // accounts. Mapping: person = customer, creationDate = first order
    // date, a like on a message = a lineitem of the order, liker = its
    // supplier, low-activity liker = a supplier whose total lineitem
    // count is below 20/21 of the mean (exact cross-multiplied
    // integers — no FP threshold). Scale shape: the zombie cohort is one
    // customer-grain aggregate with an integer HAVING; the liker cohort
    // is one supplier-grain aggregate crossed with a 1-row global
    // (broadcast by construction); the like rollup joins on bare keys
    // and aggregates BEFORE the final LEFT join back to the cohort;
    // score is exact integral ppm. Top-100 rides TakeOrderedAndProject.
    // Ref: /root/reference/benchmark/ldbc/bi-13.sql ---
    "ldbc19_zombies" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      val zombies = o.groupBy(col("o_custkey").as("person"))
        .agg(count(lit(1)).as("n_orders"),
          min(col("o_orderdate")).as("created"))
        .filter(col("n_orders") <
          lit(12 * 1999 + 1) -
            (lit(12) * year(col("created")) + month(col("created"))) + 1)
        .select(col("person"))
      val li = Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"))
      val suppCnt = li.groupBy(col("l_suppkey")).agg(count(lit(1)).as("cnt"))
      val g = suppCnt.agg(sum(col("cnt")).as("total"),
        count(lit(1)).as("ns"))
      val lowSupp = suppCnt.crossJoin(broadcast(g))
        .filter(col("cnt") * col("ns") * lit(21L) <
          col("total") * lit(20L))
        .select(col("l_suppkey").as("low_liker"))
      val likes = li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(zombies, col("o_custkey") === col("person"), "left_semi")
        .select(col("o_custkey").as("person"), col("l_suppkey"))
      val t = likes
        .join(lowSupp.withColumn("is_low", lit(1L)),
          col("l_suppkey") === col("low_liker"), "left")
        .groupBy(col("person"))
        .agg(count(lit(1)).as("total_likes"),
          sum(when(col("is_low").isNotNull, 1L).otherwise(0L))
            .as("zombie_likes"))
      zombies.join(t, Seq("person"), "left")
        .select(col("person"),
          coalesce(col("zombie_likes"), lit(0L)).as("zombie_likes"),
          coalesce(col("total_likes"), lit(0L)).as("total_likes"),
          when(coalesce(col("total_likes"), lit(0L)) > 0,
            expr("zombie_likes * 1000000 div total_likes"))
            .otherwise(lit(0L)).as("zombie_score_ppm"))
        .orderBy(col("zombie_score_ppm").desc, col("person"))
        .limit(100)
    }),

    // --- LDBC BI Q8 central person for a tag: the interest cohort
    // (fixed +100 score) FULL OUTER joined with the date-windowed
    // message score — Q8's signature is exactly this FULL JOIN with
    // coalesced score fusion, which none of the other shapes exercise.
    // Mapping: tag = brand, interested = customers with ≥2 brand-T
    // lineitems ever, message score = DISTINCT tagged orders in the
    // window. Scale shape: both arms aggregate to the person grain
    // BEFORE the full join (never row-level), the window band is a
    // pushed timestamp range, top-100 rides TakeOrderedAndProject.
    // Ref: /root/reference/benchmark/ldbc/bi-8.sql ---
    "ldbc20_central_person" -> ((s, dir) => {
      val tagged = Tables.load(s, dir, "orders")
        .join(Tables.load(s, dir, "lineitem"),
          col("o_orderkey") === col("l_orderkey"))
        .join(Tables.load(s, dir, "part")
          .filter(col("p_brand") === "Brand#7"),
          col("l_partkey") === col("p_partkey"))
        .select(col("o_custkey").as("person"), col("o_orderkey"),
          col("o_orderdate"))
      val interested = tagged.groupBy(col("person"))
        .agg(count(lit(1)).as("n_tagged"))
        .filter(col("n_tagged") >= 2)
        .select(col("person").as("i_person"))
      val msgScore = tagged
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .groupBy(col("person").as("m_person"))
        .agg(countDistinct(col("o_orderkey")).as("score"))
      interested.join(msgScore,
          col("i_person") === col("m_person"), "full_outer")
        .select(coalesce(col("i_person"), col("m_person")).as("person"),
          (when(col("i_person").isNull, 0L).otherwise(100L) +
            coalesce(col("score"), lit(0L))).cast("bigint").as("score"))
        .orderBy(col("score").desc, col("person"))
        .limit(100)
    }),

    // --- LDBC BI Q11 friend triangles, filtered: unique triangles
    // (p1 < p2 < p3) in ONE region's knows-graph with a per-EDGE
    // attribute window on both endpoints — Q11's distinction from the
    // plain Graphalytics count (ldbc2) is exactly the region scope +
    // per-edge filter + single global count. Knows-edges are the ldbc2
    // synthetic projection (same-nation, key distance ≤ 8 — explode-
    // bounded fan ×8, dst > src by construction so each triangle counts
    // once as (a,b)(b,c)(a,c)). Scale shape: the edge build is one
    // bounded explode + equi-join; the triangle enumeration is two
    // equi-joins on vertex keys (never a cross product); the endpoint
    // filters prune the customer scan BEFORE any join.
    // Ref: /root/reference/benchmark/ldbc/bi-11.sql ---
    "ldbc21_filtered_triangles" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .filter(col("c_acctbal") > 0)
        .join(broadcast(Tables.load(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.load(s, dir, "region")
          .filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("c_custkey").cast("bigint").as("k"),
          col("c_nationkey").cast("bigint").as("nat"))
      val cand = c.select(col("k").as("src"), col("nat"),
        explode(sequence(col("k") + 1, col("k") + 8)).as("dst"))
      val edges = cand
        .join(c.select(col("k").as("dst"), col("nat")), Seq("dst", "nat"))
        .select(col("src"), col("dst"))
      val e2 = edges.select(col("src").as("b2"), col("dst").as("c2"))
      val e3 = edges.select(col("src").as("a3"), col("dst").as("c3"))
      edges.select(col("src").as("a"), col("dst").as("b"))
        .join(e2, col("b") === col("b2"))
        .join(e3, col("a") === col("a3") && col("c2") === col("c3"))
        .agg(count(lit(1)).cast("bigint").as("n_triangles"))
    }),

    // --- LDBC BI Q10's hop-band frontier algebra: per seed, the nodes
    // reachable in EXACTLY 3..4 hops — (hop3 ∪ hop4) EXCEPT
    // (hop1 ∪ hop2 ∪ seed) — Q10's friends_between_3_and_4_hops
    // UNION/EXCEPT structure verbatim. Graph = the ldbc10 reply fan
    // (message k's replies are messages k+1..k+5 where they exist —
    // deep chains, unlike the sparse customer knows-graph). Scale
    // shape: each hop is ONE equi-join on
    // the bare key followed by DISTINCT on (seed, node) — frontiers
    // only, never paths; the set subtraction is a LeftAnti on the same
    // pair key; per-seed counts are the bounded output.
    // Ref: /root/reference/benchmark/ldbc/bi-10.sql ---
    "ldbc22_hop_band" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("bigint").as("k"))
      val edges = o
        .select(col("k").as("src"),
          explode(sequence(col("k") + 1, col("k") + 5)).as("dst"))
        .join(o.select(col("k").as("dst")), Seq("dst"))
        .select(col("src"), col("dst"))
      val seeds = o.filter(col("k") % 500 === 1).select(col("k").as("seed"))
      def hop(frontier: DataFrame): DataFrame = frontier
        .join(edges, frontier("node") === edges("src"))
        .select(col("seed"), col("dst").as("node")).distinct()
      val h1 = hop(seeds.select(col("seed"), col("seed").as("node")))
      val h2 = hop(h1)
      val near = h1.union(h2).distinct()
      val h3 = hop(near)
      val h4 = hop(h3)
      val far = h3.union(h4).distinct()
        .join(near.union(seeds.select(col("seed"),
          col("seed").as("node"))), Seq("seed", "node"), "left_anti")
      far.groupBy(col("seed"))
        .agg(count(lit(1)).cast("bigint").as("n_far"))
        .orderBy(col("seed"))
    }),

    // --- forward as-of join (pandas direction='forward'): each event
    // picks the EARLIEST hourly rate bucket at-or-after it — the
    // backward j1 on a negated axis, so both directions share one code
    // path. DuckDB's ASOF supports the <= orientation directly ---
    "j5_asof_forward" -> ((s, dir) => {
      val e = graft.Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("t"), col("value"))
      val rates = e.groupBy(col("event_type"),
          date_trunc("hour", col("t")).as("h"))
        .agg(count(lit(1)).as("rate"))
      val joined = graft.operators.TimeJoins.asOfJoinForward(
        e.select(col("event_type"), col("event_id"),
          unix_micros(col("t")).as("lt")),
        rates.select(col("event_type"), unix_micros(col("h")).as("rt"),
          col("rate")),
        key = "event_type", leftTime = "lt", rightTime = "rt")
      joined.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_matched"),
          sum(col("rate")).as("sum_rate"))
        .orderBy(col("event_type"))
    }),

    // --- interval-overlap range join (bucketed, never a per-key nested
    // loop): per supplier, 1996-shipped order↔ship activity spans,
    // counting concurrently-open span pairs and their widest co-active
    // spread. The driver's synthetic dates are NOT TPC-H-conformant
    // (shipdate can precede orderdate), so the span is normalized to
    // [least, greatest] — the operator's start ≤ end contract — on both
    // sides. The 1024-day bucket width covers the ≈2000-day max span in
    // ≤ 3 copies; pair identity is the (orderkey, linenumber) tuple
    // order. All-integer — hash-exact ---
    "j4_interval_overlap" -> ((s, dir) => {
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey"),
          unix_date(col("o_orderdate").cast("date")).cast("bigint")
            .as("od"))
      // range predicate, not year()=1996: the literal bounds push into
      // the parquet scan (PushedFilters + row-group min/max skipping) —
      // a function-wrapped column would scan everything
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
        .join(o, col("l_orderkey") === col("o_orderkey"))
        .select(col("l_suppkey").cast("bigint").as("k"),
          unix_date(col("l_shipdate").cast("date")).cast("bigint")
            .as("sd"),
          col("od"), col("l_orderkey").cast("bigint").as("ok"),
          col("l_linenumber").cast("bigint").as("ln"))
        .select(col("k"), least(col("od"), col("sd")).as("s"),
          greatest(col("od"), col("sd")).as("e"), col("ok"), col("ln"))
      graft.operators.TimeJoins.intervalOverlapPairs(
          li, "k", "s", "e", bucketWidth = 1024)
        .filter(struct(col("a_ok"), col("a_ln")) <
          struct(col("b_ok"), col("b_ln")))
        .groupBy(col("a_k").as("suppkey"))
        .agg(count(lit(1)).as("n_pairs"),
          max(least(col("a_e"), col("b_e")) -
            greatest(col("a_s"), col("b_s"))).as("max_overlap_days"))
        .orderBy(col("suppkey"))
    }),

    // --- sequences end-to-end with an oracle: nextval-tagged inserts in
    // a driven order (nation rows by key), so id = START + INC·rank is a
    // CLOSED FORM the oracle reproduces — the file-backed monotonic
    // counter's contract, checked on values not just monotonicity ---
    "x12_sequences" -> ((s, dir) => {
      import s.implicits._
      val g = GraftSession(s, graft.TmpDirs.create("graft_q"))
      g.execute("CREATE SEQUENCE ids START 100 INCREMENT 7")
      val n = Tables.load(s, dir, "nation").orderBy(col("n_nationkey"))
        .select(col("n_nationkey").cast("bigint"), col("n_name"))
        .collect()
      val tagged = n.toSeq.map(r =>
        (g.nextSequence("ids"), r.getLong(0), r.getString(1)))
        .toDF("id", "key", "name")
      g.createTable("tagged", tagged.schema)
      g.insert("tagged", tagged)
      g.sql("SELECT id, key, name FROM tagged ORDER BY key")
    }),

    // --- ALTER TABLE lifecycle with an oracle: ADD COLUMN (tombstone
    // default NULL), UPDATE backfill, RENAME, DROP — the final table
    // content is a pure function of the source rows that plain SQL
    // reproduces ---
    "x13_alter_lifecycle" -> ((s, dir) => {
      val g = GraftSession(s, graft.TmpDirs.create("graft_q"))
      val c = Tables.load(s, dir, "customer")
        .filter(col("c_custkey") < 100)
        .select(col("c_custkey").as("k"), col("c_name").as("name"),
          col("c_acctbal").as("bal"))
      g.createTable("c", c.schema)
      g.insert("c", c)
      g.execute("ALTER TABLE c ADD COLUMN seg STRING")
      g.execute("UPDATE c SET seg = 'hi' WHERE bal >= 5000")
      g.execute("ALTER TABLE c RENAME COLUMN bal TO balance")
      g.execute("ALTER TABLE c DROP COLUMN name")
      g.sql("""SELECT k, balance, COALESCE(seg, 'lo') AS seg
               FROM c ORDER BY k""")
    }),

    // --- FK ON DELETE CASCADE with an oracle: deleting urgent orders
    // cascades into their lineitems; the surviving child content is the
    // anti-join the oracle spells directly ---
    "x14_fk_cascade" -> ((s, dir) => {
      val g = GraftSession(s, graft.TmpDirs.create("graft_q"))
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") < 2000)
        .select(col("o_orderkey").as("id"), col("o_orderpriority").as("prio"))
      val li = Tables.load(s, dir, "lineitem")
        .filter(col("l_orderkey") < 2000)
        .select(col("l_orderkey").as("oid"), col("l_linenumber").as("ln"),
          col("l_returnflag").as("rf"))
      g.createTable("parent", o.schema)
      g.insert("parent", o)
      g.createTable("child", li.schema)
      g.addForeignKey("child", "oid", "parent", "id", g.Cascade)
      g.insert("child", li)
      g.delete("parent", col("prio") === "1-URGENT")
      g.sql("""SELECT rf, COUNT(*) AS n, COUNT(DISTINCT oid) AS n_orders
               FROM child GROUP BY rf ORDER BY rf""")
    }),

    // --- incremental matview + REFRESH with an oracle: batch 2 lands
    // AFTER the view is defined, refresh folds only the delta (the
    // mergeable-partials path), and the refreshed content equals the
    // full-recompute SQL the oracle runs ---
    "x15_matview_refresh" -> ((s, dir) => {
      val g = GraftSession(s, graft.TmpDirs.create("graft_q"))
      val d = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      g.createTable("base", d.schema)
      g.insert("base", d.filter(col("doc_id") % 2 === 0))
      g.execute("""CREATE INCREMENTAL MATERIALIZED VIEW mv AS
        SELECT lang, count(*) AS n, sum(n_chars) AS chars
        FROM base GROUP BY lang""")
      g.insert("base", d.filter(col("doc_id") % 2 === 1))
      g.execute("REFRESH MATERIALIZED VIEW mv")
      g.execute("SELECT lang, n, chars FROM mv ORDER BY lang")
    }),

    // --- COPY TO / COPY FROM round-trip with an oracle: a query result
    // exported to parquet, re-ingested into a declared table, and
    // aggregated — proving the export/import path loses nothing ---
    "x16_copy_roundtrip" -> ((s, dir) => {
      val g = GraftSession(s, graft.TmpDirs.create("graft_q"))
      val out = graft.TmpDirs.create("graft_copy")
      val p = Tables.load(s, dir, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
      g.createTable("src", p.schema)
      g.insert("src", p)
      g.execute("COPY (SELECT p_partkey, p_brand, p_retailprice FROM src " +
        s"WHERE p_retailprice > 910) TO '$out/hi' (FORMAT parquet)")
      g.createTable("back", p.schema)
      g.execute(s"COPY back FROM '$out/hi'")
      g.sql("""SELECT p_brand, COUNT(*) AS n,
                 CAST(SUM(CAST(p_retailprice AS DECIMAL(28,6))) AS DOUBLE)
                   AS total
               FROM back GROUP BY p_brand ORDER BY p_brand""")
    }),

    // --- index_scan end-to-end with an oracle: CREATE INDEX + CHECKPOINT
    // rewrites the table clustered on the key (parquet row-group min/max
    // = the index; read-side skip pinned by IndexSpec), and a range
    // query over the clustered layout must return exactly what plain SQL
    // returns on the raw rows — the index changes I/O, never results ---
    "x17_index_scan" -> ((s, dir) => {
      val g = GraftSession(s, graft.TmpDirs.create("graft_q"))
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
      g.createTable("c", c.schema)
      // interleaved inserts so the raw layout is NOT key-clustered
      g.insert("c", c.filter(col("c_custkey") % 3 === 0))
      g.insert("c", c.filter(col("c_custkey") % 3 === 1))
      g.insert("c", c.filter(col("c_custkey") % 3 === 2))
      g.execute("CREATE INDEX c_key ON c (c_custkey)")
      g.execute("CHECKPOINT c")
      g.sql("""SELECT c_custkey, c_nationkey, c_acctbal FROM c
               WHERE c_custkey BETWEEN 20 AND 120
               ORDER BY c_custkey""")
    }),

    // --- ENUM type end-to-end with an oracle: the enum is a STRING +
    // membership CHECK (SURVEY §1.2); valid inserts land, the final
    // grouped content equals plain SQL over the source rows ---
    "x18_enum_check" -> ((s, dir) => {
      val g = GraftSession(s, graft.TmpDirs.create("graft_q"))
      g.execute("CREATE TYPE prio AS ENUM ('1-URGENT', '2-HIGH', " +
        "'3-MEDIUM', '4-NOT SPECIFIED', '5-LOW')")
      g.execute("CREATE TABLE op (o_orderkey BIGINT, p prio)")
      val o = Tables.load(s, dir, "orders")
        .filter(col("o_orderkey") < 3000)
        .select(col("o_orderkey").cast("bigint"),
          col("o_orderpriority").as("p"))
      g.insert("op", o)
      g.sql("""SELECT p, COUNT(*) AS n, MIN(o_orderkey) AS first_key
               FROM op GROUP BY p ORDER BY p""")
    }),

    // --- MERGE INTO through the SQL router (exceeds the reference's DML:
    // delete + conditional update + insert arms in one statement). The
    // source's key remap makes heavy customers (cnt >= 8) miss the join,
    // exercising the INSERT arm; the oracle recomputes the post-merge
    // table state in plain SQL. ---
    "x11_merge_upsert" -> ((s, dir) => {
      val g = GraftSession(s, graft.TmpDirs.create("graft_q"))
      val cust = Tables.load(s, dir, "customer")
        .select(col("c_custkey"), col("c_acctbal"))
      g.createTable("c", cust.schema)
      g.insert("c", cust)
      val src = Tables.load(s, dir, "orders")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
        .select(when(col("cnt") >= 8, col("o_custkey") + 1000000)
          .otherwise(col("o_custkey")).as("k"), col("cnt"))
      g.createTable("src", src.schema)
      g.insert("src", src)
      g.execute("""
        MERGE INTO c USING src ON c.c_custkey = src.k
        WHEN MATCHED AND c_acctbal < 0 THEN DELETE
        WHEN MATCHED AND c_acctbal < 1000 THEN
          UPDATE SET c_acctbal = c_acctbal + cnt
        WHEN NOT MATCHED THEN INSERT (c_custkey, c_acctbal) VALUES (k, cnt)
      """)
      g.table("c").select(col("c_custkey"), col("c_acctbal"))
        .orderBy(col("c_custkey"))
    }),

    // --- runtime UDF registration (reference register_udf surface) ---
    "x5_udf" -> ((s, dir) => {
      s.udf.register("graft_discounted",
        (price: Double, disc: Double) => price * (1.0 - disc))
      Tables.load(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""
        SELECT l_orderkey, l_linenumber,
               graft_discounted(l_extendedprice, l_discount) AS net
        FROM lineitem
        ORDER BY l_orderkey, l_linenumber, net
        LIMIT 200""")
    }),

    // --- LDBC BI Q4 "top message creators by country forums": the
    // two-level membership aggregate — level 1 computes each forum's
    // member count (forum ≈ part, member ≈ distinct ordering customer)
    // and creation date (min order date), keeps the top-100 forums
    // created after the cutoff; level 2 counts messages (lineitems)
    // per person WITHIN those forums only. Scale shape: membership is
    // one (forum, person)-grain distinct + count — never a per-message
    // row explosion; the top-100 list is a TakeOrderedAndProject and
    // re-enters as a 100-row equi-join probe (AQE broadcasts it); the
    // final rollup is one author-grain aggregate.
    // Ref: /root/reference/benchmark/ldbc/bi-4.sql ---
    "ldbc23_forum_posters" -> ((s, dir) => {
      val lo = Tables.load(s, dir, "lineitem")
        .join(Tables.load(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
      val membership = lo
        .select(col("l_partkey").as("forum"), col("o_custkey").as("person"))
        .distinct()
        .groupBy(col("forum")).agg(count(lit(1)).as("members"))
      val created = lo
        .groupBy(col("l_partkey").as("cforum"))
        .agg(min(col("o_orderdate")).as("created"))
        .filter(col("created") > lit("1995-03-01").cast("timestamp"))
        .select(col("cforum"))
      val top100 = membership
        .join(created, col("forum") === col("cforum"), "left_semi")
        .orderBy(col("members").desc, col("forum"))
        .limit(100).select(col("forum"))
      lo.join(top100, col("l_partkey") === col("forum"), "left_semi")
        .groupBy(col("o_custkey").as("person"))
        .agg(count(lit(1)).cast("bigint").as("message_count"))
        .orderBy(col("message_count").desc, col("person"))
        .limit(100)
    }),

    // --- LDBC BI Q9 with the REPLY-TREE CLOSURE (completes ldbc12,
    // which counted direct children only): a root thread's message
    // count covers the root, its replies, and its replies' replies —
    // the MPP-over-RootPostId semantics. Reply edges are the ldbc10/
    // ldbc11 fan (child keys root+1..root+5 validated by existence),
    // closed to depth 2 as two explode+equi-join generations UNIONed
    // and de-duplicated at the (root, node) grain — the ldbc22
    // frontier-algebra machinery, never a path enumeration. Fan is
    // bounded ×5 per generation, so the closure is linear in the
    // window's orders; the window band prunes both scans.
    // Ref: /root/reference/benchmark/ldbc/bi-9.sql ---
    "ldbc24_thread_closure" -> ((s, dir) => {
      val w = Tables.load(s, dir, "orders")
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
        .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
        .select(col("o_orderkey").cast("bigint").as("k"),
          col("o_custkey").cast("bigint").as("person"))
      val nodes = w.select(col("k"))
      def fan(frontier: DataFrame, from: String): DataFrame =
        frontier
          .select(col("root"),
            explode(sequence(col(from) + 1, col(from) + 5)).as("node"))
          .join(nodes.select(col("k").as("node")), Seq("node"))
          .select(col("root"), col("node"))
      val self = w.select(col("k").as("root"), col("k").as("node"))
      val gen1 = fan(w.select(col("k").as("root"), col("k")), "k")
      val gen2 = fan(gen1.select(col("root"), col("node").as("n1")), "n1")
      val closure = self.unionByName(gen1).unionByName(gen2).distinct()
      val mpp = closure.groupBy(col("root")).agg(count(lit(1)).as("mc"))
      w.join(mpp, col("k") === col("root"))
        .groupBy(col("person"))
        .agg(count(lit(1)).cast("bigint").as("thread_count"),
          sum(col("mc")).cast("bigint").as("message_count"))
        .orderBy(col("message_count").desc, col("person"))
        .limit(100)
    }),

    // --- LDBC BI Q14 "international dialog": person pairs across two
    // countries (country ≈ region here — the nation-key neighbor
    // projection needs the wider bucket for cross-country edges to
    // exist at the smoke scale), scored 4·(p2 replied to p1) +
    // 1·(p1 replied to p2) + 10·(same-day dialog), then the best pair
    // PER CITY (Q14's DISTINCT ON) and a global top-100. Scale shape:
    // every interaction probe aggregates to the (k1, k2) pair grain as
    // a DISTINCT equi-join (flags, never row multiplication); the
    // per-city winner is an argmax AGGREGATE — max(struct(score, -k1,
    // -k2)) — so no window function touches a corpus-shaped frame.
    // Ref: /root/reference/benchmark/ldbc/bi-14.sql ---
    "ldbc25_international_dialog" -> ((s, dir) => {
      val n = broadcast(Tables.load(s, dir, "nation"))
      val cust = Tables.load(s, dir, "customer")
        .join(n, col("c_nationkey") === col("n_nationkey"))
      val p1 = cust.filter(col("n_regionkey") === 0)
        .select(col("c_custkey").cast("bigint").as("k1"),
          concat(col("n_name"), lit("_"),
            (col("c_custkey") % 10).cast("string")).as("city"))
      val p2 = cust.filter(col("n_regionkey") === 1)
        .select(col("c_custkey").cast("bigint").as("k2"))
      val pairs = p1
        .select(col("k1"), col("city"),
          explode(array(col("k1") + 1, col("k1") + 7)).as("k2"))
        .join(p2, Seq("k2"))
        .select(col("k1"), col("k2"), col("city"))
      val o = Tables.load(s, dir, "orders")
        .select(col("o_orderkey").cast("bigint").as("ok"),
          col("o_custkey").cast("bigint").as("person"),
          col("o_orderdate").as("d"))
      // reply probe: x's order key falls in the 5-wide fan under one of
      // y's orders — exploded candidates validated by equi-join, then
      // collapsed to the pair grain before flagging
      def reply(xs: String, ys: String): DataFrame =
        pairs
          .join(o.select(col("person").as(xs), col("ok").as("xok")),
            Seq(xs))
          .select(col("k1"), col("k2"),
            explode(sequence(col("xok") + 1, col("xok") + 5)).as("yok"))
          .join(o.select(col("person").as("yper"), col("ok").as("yok")),
            Seq("yok"))
          .filter(col("yper") === col(ys))
          .select(col("k1"), col("k2")).distinct()
      val rep21 = reply("k1", "k2").withColumn("f21", lit(4))
      val rep12 = reply("k2", "k1").withColumn("f12", lit(1))
      val samed = pairs
        .join(o.select(col("person").as("k1"), col("d")), Seq("k1"))
        .join(o.select(col("person").as("k2"), col("d")), Seq("k2", "d"))
        .select(col("k1"), col("k2")).distinct()
        .withColumn("fsd", lit(10))
      val scored = pairs
        .join(rep21, Seq("k1", "k2"), "left")
        .join(rep12, Seq("k1", "k2"), "left")
        .join(samed, Seq("k1", "k2"), "left")
        .select(col("k1"), col("k2"), col("city"),
          (coalesce(col("f21"), lit(0)) + coalesce(col("f12"), lit(0)) +
            coalesce(col("fsd"), lit(0))).as("score"))
      scored.groupBy(col("city"))
        .agg(max(struct(col("score"), (-col("k1")).as("nk1"),
          (-col("k2")).as("nk2"))).as("m"))
        .select(col("m.score").as("score"),
          (-col("m.nk1")).as("person1"), (-col("m.nk2")).as("person2"),
          col("city"))
        .select(col("person1"), col("person2"), col("city"),
          col("score").cast("int").as("score"))
        .orderBy(col("score").desc, col("person1"), col("person2"))
        .limit(100)
    }),

    // --- LDBC BI Q3 "popular topics in a country": forums whose
    // MODERATOR lives in a given country, ranked by the count of their
    // messages that carry a given tag class. Corpus mapping: forum ≈
    // part (the ldbc23 convention), message ≈ lineitem in that forum,
    // moderator ≈ the forum's lowest-keyed posting customer (a
    // deterministic per-forum argmin — forums have no owner column in
    // the 8-table corpus), tag-class gate ≈ the message's order is
    // URGENT (rides the lineitem→orders equi-join, never a correlated
    // probe), country ≈ nation region bucket (the ldbc25 precedent —
    // wide enough to be non-empty at smoke scale). Scale shape: the
    // per-forum moderator/created/message-count are forum-grain
    // aggregates off ONE joined scan; the country gate probes the
    // ~|part| aggregate (LeftSemi), never fact rows; top-20 is a
    // TakeOrderedAndProject. Ref: /root/reference/benchmark/ldbc/
    // bi-3.sql ---
    "ldbc26_country_topic_forums" -> ((s, dir) => {
      val lo = Tables.load(s, dir, "lineitem")
        .join(Tables.load(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
      val fstat = lo.groupBy(col("l_partkey").as("forum"))
        .agg(min(col("o_custkey")).as("moderator"),
          min(col("o_orderdate")).as("created"))
      val tagged = lo
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("l_partkey").as("tforum"))
        .agg(count(lit(1)).cast("bigint").as("message_count"))
      val modLoc = Tables.load(s, dir, "customer")
        .join(broadcast(Tables.load(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .filter(col("n_regionkey") === 3)
        .select(col("c_custkey").as("moderator"))
      fstat.join(tagged, col("forum") === col("tforum"))
        .join(modLoc, Seq("moderator"), "left_semi")
        .join(Tables.load(s, dir, "part")
            .select(col("p_partkey").as("forum"),
              col("p_name").as("title")),
          Seq("forum"))
        .select(col("forum"), col("title"), col("created"),
          col("moderator"), col("message_count"))
        .orderBy(col("message_count").desc, col("forum"))
        .limit(20)
    }),

    // --- LDBC BI Q15 "trusted connection paths through forums created
    // in a timeframe": weighted shortest paths over the knows graph
    // where an edge's weight reflects how much its two persons actually
    // interacted — replies between their messages inside forums created
    // in the window (root-post reply = 10, comment reply = 5), mapped
    // to trust cost 10/(w+10) exactly as bi-15's `path` CTE, here in
    // exact integer MICRO-units (1e7 div (w+10)) so the min-plus
    // fixpoint stays BIGINT/hash-exact. Corpus mapping: knows = the
    // ldbc5 same-nation k+1..k+12 fan; forums/messages as ldbc23/26;
    // reply = the established ok+1..ok+5 fan WITHIN a forum; root post
    // = linenumber 1. Scale shape: the interaction weights aggregate
    // to the (least, greatest) PAIR grain before ever touching the
    // knows edges (a bounded equi-join — the mm CTE of bi-15);
    // traversal is Graphs.minPlusDistances — per round one vertex-key
    // equi-join + a map-side-combined (seed, node) min-aggregate —
    // never path enumeration. Ref: /root/reference/benchmark/ldbc/
    // bi-15.sql ---
    "ldbc27_trusted_paths" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .select(col("c_custkey").cast("bigint").as("k"),
          col("c_nationkey").cast("bigint").as("nat"))
      val lo = Tables.load(s, dir, "lineitem")
        .join(Tables.load(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey").as("forum"),
          col("l_orderkey").as("ok"), col("l_linenumber").as("ln"),
          col("o_custkey").as("creator"), col("o_orderdate"))
      // forum creation = first message date; the qualifying window sits
      // at the START of the data range because a 30-message forum's min
      // date almost surely lands in the first weeks — a late window
      // would select no forums and starve the mm weights
      val myForums = lo.groupBy(col("forum"))
        .agg(min(col("o_orderdate")).as("created"))
        .filter(col("created") >= lit("1995-01-01").cast("timestamp"))
        .filter(col("created") < lit("1995-03-01").cast("timestamp"))
        .select(col("forum"))
      val msgs = lo.join(myForums, Seq("forum"))
      val replies = msgs
        .select(col("forum"), col("ok"), col("ln"), col("creator"),
          explode(sequence(col("ok") + 1, col("ok") + 5)).as("rok"))
        .join(msgs.select(col("forum"), col("ok").as("rok"),
          col("creator").as("rcreator")), Seq("forum", "rok"))
      val mm = replies
        .select(least(col("creator"), col("rcreator")).as("src"),
          greatest(col("creator"), col("rcreator")).as("dst"),
          when(col("ln") === 1, 10L).otherwise(5L).as("pts"))
        .groupBy(col("src"), col("dst"))
        .agg(sum(col("pts")).as("w"))
      val cand = c.select(col("k").as("src"), col("nat"),
        explode(sequence(col("k") + 1, col("k") + 12)).as("dst"))
      val edges = cand
        .join(c.select(col("k").as("dst"), col("nat")), Seq("dst", "nat"))
        .join(mm, Seq("src", "dst"), "left")
        .select(col("src"), col("dst"),
          expr("CAST(10000000 AS BIGINT) div " +
            "(coalesce(w, CAST(0 AS BIGINT)) + 10)").as("w"))
      val seeds = c.filter(col("k") % 25 === 3)
        .select(col("k").as("node"))
      val d = graft.operators.Graphs.minPlusDistances(seeds, edges,
        rounds = 3)
      d.filter(col("node") =!= col("seed"))
        .join(c.select(col("k").as("seed"), col("nat")), Seq("seed"))
        .groupBy(col("nat"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(col("dist")).cast("bigint").as("sum_trust"),
          min(col("dist")).as("min_trust"),
          max(col("dist")).as("max_trust"))
        .orderBy(col("nat"))
    }),

    // --- LDBC BI Q16 "fake news detection": two per-person message
    // counts over (tag, date)-gated subgraphs A and B, keeping only
    // LOW-CONNECTIVITY posters (in-subgraph knows-degree <= limit —
    // the fake-news signal), joined on person, top-20 by combined
    // volume. Corpus mapping: subgraph A = URGENT orders of 1997-H1,
    // subgraph B = HIGH orders of 1997-04..09; knows = the same-REGION
    // k+1..k+12 fan (denser than the nation fan so the degree cap
    // genuinely bites); degree counts DISTINCT in-subgraph neighbors
    // via two semi-gated equi-joins — bi-16's LEFT JOIN + HAVING spelt
    // as aggregate-then-filter. Scale shape: each subgraph is one
    // pushed-band scan aggregated to person grain before any graph
    // work; the degree probe joins person-grain frames only.
    // Ref: /root/reference/benchmark/ldbc/bi-16.sql ---
    "ldbc28_fake_news" -> ((s, dir) => {
      val c = Tables.load(s, dir, "customer")
        .join(broadcast(Tables.load(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey").cast("bigint").as("k"),
          col("n_regionkey").cast("bigint").as("reg"))
      val cand = c.select(col("k").as("src"), col("reg"),
        explode(sequence(col("k") + 1, col("k") + 12)).as("dst"))
      val edges = cand
        .join(c.select(col("k").as("dst"), col("reg")), Seq("dst", "reg"))
        .select(col("src"), col("dst"))
      def sub(prio: String, lo0: String, hi: String): DataFrame =
        Tables.load(s, dir, "orders")
          .filter(col("o_orderpriority") === prio)
          .filter(col("o_orderdate") >= lit(lo0).cast("timestamp"))
          .filter(col("o_orderdate") < lit(hi).cast("timestamp"))
          .groupBy(col("o_custkey").cast("bigint").as("person"))
          .agg(count(lit(1)).cast("bigint").as("cm"))
      def lowDeg(subg: DataFrame): DataFrame = {
        val persons = subg.select(col("person"))
        val deg = edges
          .join(persons.select(col("person").as("src")), Seq("src"))
          .join(persons.select(col("person").as("dst")), Seq("dst"))
          .groupBy(col("src").as("person"))
          .agg(countDistinct(col("dst")).as("deg"))
        subg.join(deg, Seq("person"), "left")
          .filter(coalesce(col("deg"), lit(0L)) <= 1)
          .select(col("person"), col("cm"))
      }
      // half-year windows: a one-month gate leaves the A∩B person
      // intersection EMPTY at the sf0.001 smoke scale (150 customers)
      val a = lowDeg(sub("1-URGENT", "1997-01-01", "1997-07-01"))
        .withColumnRenamed("cm", "message_count_a")
      val b = lowDeg(sub("2-HIGH", "1997-04-01", "1997-10-01"))
        .withColumnRenamed("cm", "message_count_b")
      a.join(b, Seq("person"))
        .orderBy((col("message_count_a") + col("message_count_b")).desc,
          col("person"))
        .limit(20)
    }),

    // --- LDBC BI Q17 "information propagation analysis": for each
    // person1, count DISTINCT later messages (message2, in a DIFFERENT
    // forum, past a delta) whose creator belongs to one of person1's
    // forums, that drew a comment from another member of that same
    // forum — while person1 is NOT a member of message2's forum (the
    // out-of-echo-chamber propagation signal). Corpus mapping: tagged
    // messages = lineitems of size-17 parts (tag ≈ p_size), forum =
    // the part, creator/date via orders, comment = the ok+1..ok+5
    // reply fan, membership = distinct (forum, person) posting pairs
    // (ldbc23), delta = 4 days on the order-date clock. Scale shape:
    // bi-17's quadratic message1 x message2 self-join collapses to the
    // (person1, forum1, min_date) PROFILE grain first (the ds50
    // trick); every probe after that is an equi-join through
    // membership or the bounded reply fan — membership fan per person
    // bounds the pair candidates, so no cross join survives; the
    // NOT-member gate is a LeftAnti on (person1, forum2).
    // Ref: /root/reference/benchmark/ldbc/bi-17.sql ---
    "ldbc29_info_propagation" -> ((s, dir) => {
      // Every consumer below needs only these 4 columns of the
      // lineitem⋈orders frame; projecting once keeps each re-scan's
      // pushed ReadSchema at 2–4 columns (the measured-2×-faster
      // alternative to a ReusedExchange barrier — PLANS.md r16).
      // r19 re-audit: a pinned-spread barrier here (one 4-column shuffle
      // + five ReusedExchange reads, Spread.by so AQE cannot coalesce
      // it) was re-measured against this default now that pinning
      // exists — 8-round paired A/B read 1.11x with band [0.65, 1.41]:
      // PARITY at smoke scale (the band straddles 1.0 — ADVICE r19), so
      // the r16 default is kept, not because the barrier variant was
      // refuted but because nothing justified changing it.
      val loProj = Tables.load(s, dir, "lineitem")
        .join(Tables.load(s, dir, "orders"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_partkey"), col("l_orderkey"), col("o_custkey"),
          col("o_orderdate"))
      // 100 TB deployment switch (VERDICT r16 #7): at smoke scale the
      // default 8× pruned re-scan wins, but when the base scan itself
      // dominates (the real-cluster regime) the documented answer is to
      // materialize the projected base ONCE and share it. The conf
      // spells that variant without changing the driver-gated default;
      // MEMORY_AND_DISK because at deployment the frame outgrows heap.
      // Safe parse (ADVICE r17): a malformed value degrades to the
      // default path instead of throwing at plan-build time. The
      // persisted base is intentionally never unpersisted here: the
      // flag targets one-corpus-per-JVM deployments (the Verify/Bench
      // shape); a multi-corpus long-lived driver should manage the
      // cache externally or leave the flag off.
      val lo =
        if (s.conf.getOption("spark.graft.ldbc29.persistBase")
            .exists(_.equalsIgnoreCase("true")))
          loProj.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        else loProj
      val membership = lo
        .select(col("l_partkey").as("forum"), col("o_custkey").as("person"))
        .distinct()
      val tagged = lo
        .join(Tables.load(s, dir, "part")
            .filter(col("p_size") === 17)
            .select(col("p_partkey").as("l_partkey")),
          Seq("l_partkey"), "left_semi")
        .select(col("l_partkey").as("forum"),
          col("l_orderkey").as("ok"),
          col("o_custkey").as("creator"), col("o_orderdate").as("d"))
      val prof = tagged.groupBy(col("creator").as("person1"),
          col("forum").as("forum1"))
        .agg(min(col("d")).as("m1d"))
      // message2 candidates keyed by the forum1 they could propagate
      // into: creator3 must be a member of forum1 (equi-link through
      // membership — the move that kills bi-17's cross join)
      val m2f1 = tagged
        .select(col("forum").as("forum2"), col("ok").as("ok2"),
          col("creator").as("person3"), col("d").as("d2"))
        .join(membership.select(col("person").as("person3"),
          col("forum").as("forum1")), Seq("person3"))
        .filter(col("forum1") =!= col("forum2"))
      // comment gate per (ok2, forum1): some reply to ok2 whose creator
      // is a member of forum1 and is not person3
      val replies = lo
        .select(col("l_orderkey").as("rok"),
          col("o_custkey").as("person2"))
        .distinct()
      val commentOk = m2f1
        .select(col("ok2"), col("forum1"), col("person3")).distinct()
        .select(col("ok2"), col("forum1"), col("person3"),
          explode(sequence(col("ok2") + 1, col("ok2") + 5)).as("rok"))
        .join(replies, Seq("rok"))
        .filter(col("person2") =!= col("person3"))
        .join(membership.select(col("person").as("person2"),
          col("forum").as("forum1")), Seq("person2", "forum1"))
        .select(col("ok2"), col("forum1")).distinct()
      val gated = m2f1
        .join(commentOk, Seq("ok2", "forum1"), "left_semi")
        .join(prof, Seq("forum1"))
        .filter(col("d2") > col("m1d") + expr("INTERVAL 4 DAYS"))
        .filter(col("person1") =!= col("person3"))
      gated
        .join(membership.select(col("person").as("person1"),
          col("forum").as("forum2")), Seq("person1", "forum2"),
          "left_anti")
        .groupBy(col("person1"))
        .agg(countDistinct(col("ok2"), col("forum2")).cast("bigint")
          .as("message_count"))
        .orderBy(col("message_count").desc, col("person1"))
        .limit(10)
    })
  )

  val oracles: Map[String, String] = Map(
    "ldbc23_forum_posters" -> """
      WITH membership AS (
        SELECT DISTINCT l_partkey AS forum, o_custkey AS person
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      fstat AS (
        SELECT l_partkey AS forum,
          MIN(CAST(o_orderdate AS TIMESTAMP)) AS created
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1),
      top100 AS (
        SELECT m.forum AS forum, COUNT(*) AS members
        FROM membership m JOIN fstat f ON m.forum = f.forum
        WHERE f.created > TIMESTAMP '1995-03-01'
        GROUP BY m.forum
        ORDER BY members DESC, m.forum LIMIT 100)
      SELECT o_custkey AS person, CAST(COUNT(*) AS BIGINT) AS message_count
      FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN top100 ON l_partkey = top100.forum
      GROUP BY 1 ORDER BY message_count DESC, person LIMIT 100""",
    "ldbc24_thread_closure" -> """
      WITH w AS (
        SELECT o_orderkey AS k, o_custkey AS person
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'),
      gen1 AS (
        SELECT p.k AS root, c.k AS node
        FROM w p JOIN w c ON c.k BETWEEN p.k + 1 AND p.k + 5),
      gen2 AS (
        SELECT g.root, c.k AS node
        FROM gen1 g JOIN w c ON c.k BETWEEN g.node + 1 AND g.node + 5),
      closure AS (
        SELECT DISTINCT root, node FROM (
          SELECT k AS root, k AS node FROM w
          UNION ALL SELECT root, node FROM gen1
          UNION ALL SELECT root, node FROM gen2) u),
      mpp AS (SELECT root, COUNT(*) AS mc FROM closure GROUP BY root)
      SELECT person, CAST(COUNT(*) AS BIGINT) AS thread_count,
        CAST(SUM(mc) AS BIGINT) AS message_count
      FROM w JOIN mpp ON w.k = mpp.root
      GROUP BY person ORDER BY message_count DESC, person LIMIT 100""",
    "ldbc25_international_dialog" -> """
      WITH p1 AS (
        SELECT c_custkey AS k1,
          n_name || '_' || CAST(c_custkey % 10 AS VARCHAR) AS city
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE n_regionkey = 0),
      p2 AS (
        SELECT c_custkey AS k2
        FROM customer JOIN nation ON c_nationkey = n_nationkey
        WHERE n_regionkey = 1),
      pairs AS (
        SELECT k1, k2, city FROM p1 JOIN p2
          ON k2 = k1 + 1 OR k2 = k1 + 7),
      o AS (SELECT o_orderkey AS ok, o_custkey AS person,
              CAST(o_orderdate AS TIMESTAMP) AS d FROM orders),
      rep21 AS (
        SELECT DISTINCT pr.k1, pr.k2
        FROM pairs pr
          JOIN o o1 ON o1.person = pr.k1
          JOIN o o2 ON o2.person = pr.k2
            AND o2.ok BETWEEN o1.ok + 1 AND o1.ok + 5),
      rep12 AS (
        SELECT DISTINCT pr.k1, pr.k2
        FROM pairs pr
          JOIN o o2 ON o2.person = pr.k2
          JOIN o o1 ON o1.person = pr.k1
            AND o1.ok BETWEEN o2.ok + 1 AND o2.ok + 5),
      samed AS (
        SELECT DISTINCT pr.k1, pr.k2
        FROM pairs pr
          JOIN o o1 ON o1.person = pr.k1
          JOIN o o2 ON o2.person = pr.k2 AND o2.d = o1.d),
      scored AS (
        SELECT p.k1, p.k2, p.city,
          (CASE WHEN r21.k1 IS NOT NULL THEN 4 ELSE 0 END
           + CASE WHEN r12.k1 IS NOT NULL THEN 1 ELSE 0 END
           + CASE WHEN sd.k1 IS NOT NULL THEN 10 ELSE 0 END) AS score
        FROM pairs p
          LEFT JOIN rep21 r21 ON p.k1 = r21.k1 AND p.k2 = r21.k2
          LEFT JOIN rep12 r12 ON p.k1 = r12.k1 AND p.k2 = r12.k2
          LEFT JOIN samed sd ON p.k1 = sd.k1 AND p.k2 = sd.k2),
      winners AS (
        SELECT k1, k2, city, score FROM scored
        QUALIFY ROW_NUMBER() OVER (PARTITION BY city
          ORDER BY score DESC, k1, k2) = 1)
      SELECT k1 AS person1, k2 AS person2, city, CAST(score AS INT) AS score
      FROM winners ORDER BY score DESC, person1, person2 LIMIT 100""",
    "x1_recursive_cte" -> """
      WITH RECURSIVE t(n) AS (
        SELECT CAST(1 AS BIGINT)
        UNION ALL
        SELECT n + 1 FROM t WHERE n < 25)
      SELECT n FROM t ORDER BY n""",
    "x10_recursive_sql" -> """
      WITH RECURSIVE reach(node) AS (
        SELECT CAST(0 AS BIGINT) AS node
        UNION
        SELECT CAST((n_nationkey + 5) % 25 AS BIGINT) AS node
        FROM nation JOIN reach ON n_nationkey = reach.node)
      SELECT node FROM reach ORDER BY node""",
    "ldbc1_khop" -> """
      WITH RECURSIVE
      c AS (SELECT CAST(c_custkey AS BIGINT) AS k,
                   CAST(c_nationkey AS BIGINT) AS nat
            FROM customer),
      edges AS (
        SELECT a.k AS src, b.k AS dst
        FROM c a JOIN c b
          ON b.nat = a.nat AND (b.k = a.k + 1 OR b.k = a.k + 10)),
      seeds AS (SELECT k AS seed, nat FROM c WHERE k % 100 = 1),
      reach(seed, node, hop) AS (
        SELECT seed, seed, 0 FROM seeds
        UNION
        SELECT r.seed, e.dst, r.hop + 1
        FROM reach r JOIN edges e ON e.src = r.node
        WHERE r.hop < 3),
      per_seed AS (
        SELECT seed, COUNT(DISTINCT node) - 1 AS n_reach
        FROM reach GROUP BY seed)
      SELECT s.nat, COUNT(*) AS n_seeds,
        CAST(SUM(p.n_reach) AS BIGINT) AS sum_reach,
        CAST(MAX(p.n_reach) AS BIGINT) AS max_reach
      FROM per_seed p JOIN seeds s ON s.seed = p.seed
      GROUP BY s.nat ORDER BY s.nat""",
    "ldbc6_lcc" -> """
      WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS k,
                        CAST(c_nationkey AS BIGINT) AS nat
                 FROM customer),
      edges AS (
        SELECT a.k AS src, b.k AS dst
        FROM c a JOIN c b
          ON b.nat = a.nat AND b.k IN (a.k + 1, a.k + 2, a.k + 3)),
      tri AS (
        SELECT e1.src AS a, e1.dst AS b, e2.dst AS tc
        FROM edges e1
        JOIN edges e2 ON e2.src = e1.dst
        JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst),
      triv AS (
        SELECT v, COUNT(*) AS tri_v FROM (
          SELECT a AS v FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT tc FROM tri) GROUP BY v),
      und AS (
        SELECT src AS v, dst AS w FROM edges
        UNION ALL SELECT dst, src FROM edges),
      deg AS (SELECT v, COUNT(*) AS deg FROM und GROUP BY v)
      SELECT c.nat,
        CAST(SUM(COALESCE(t.tri_v, 0)) AS BIGINT) AS sum_tri,
        CAST(SUM(deg.deg * (deg.deg - 1) // 2) AS BIGINT) AS sum_wedges,
        COUNT(*) AS n_vertices
      FROM deg LEFT JOIN triv t USING (v) JOIN c ON c.k = deg.v
      GROUP BY c.nat ORDER BY c.nat""",
    "ldbc2_triangles" -> """
      WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS k,
                        CAST(c_nationkey AS BIGINT) AS nat
                 FROM customer),
      edges AS (
        SELECT a.k AS src, b.k AS dst, a.nat
        FROM c a JOIN c b
          ON b.nat = a.nat AND b.k IN (a.k + 1, a.k + 2, a.k + 3)),
      tri AS (
        SELECT e1.src AS a, e1.nat
        FROM edges e1
        JOIN edges e2 ON e2.src = e1.dst
        JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst)
      SELECT nat, COUNT(*) AS n_triangles,
        COUNT(DISTINCT a) AS n_apex
      FROM tri GROUP BY nat ORDER BY nat""",
    "ldbc3_sp_hist" -> """
      WITH RECURSIVE
      c AS (SELECT CAST(c_custkey AS BIGINT) AS k,
                   CAST(c_nationkey AS BIGINT) AS nat
            FROM customer),
      edges AS (
        SELECT a.k AS src, b.k AS dst
        FROM c a JOIN c b
          ON b.nat = a.nat
         AND b.k BETWEEN a.k + 1 AND a.k + 20),
      seeds AS (SELECT k AS seed FROM c WHERE k % 20 = 1),
      reach(seed, node, hop) AS (
        SELECT seed, seed, 0 FROM seeds
        UNION
        SELECT r.seed, e.dst, r.hop + 1
        FROM reach r JOIN edges e ON e.src = r.node
        WHERE r.hop < 3),
      spl AS (
        SELECT seed, node, MIN(hop) AS sp
        FROM reach WHERE node <> seed GROUP BY seed, node)
      SELECT sp, COUNT(*) AS n_pairs,
        COUNT(DISTINCT seed) AS n_seeds
      FROM spl GROUP BY sp ORDER BY sp""",
    "ldbc4_pagerank" -> """
      WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS k,
                        CAST(c_nationkey AS BIGINT) AS nat
                 FROM customer),
      cand AS (SELECT k AS src, nat, unnest([k + 1, k + 10]) AS dst FROM c),
      edges AS (
        SELECT cand.src, cand.dst
        FROM cand JOIN c t ON cand.dst = t.k AND cand.nat = t.nat),
      deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
      de AS (SELECT e.src, e.dst, g.d FROM edges e JOIN deg g USING (src)),
      p0 AS (SELECT k AS node, CAST(1024 AS BIGINT) AS p FROM c),
      s1 AS (SELECT de.dst, CAST(SUM(p0.p // de.d) AS BIGINT) AS s
             FROM p0 JOIN de ON p0.node = de.src GROUP BY de.dst),
      p1 AS (SELECT c.k AS node,
               3072 + 17 * COALESCE(s1.s, 0) AS p
             FROM c LEFT JOIN s1 ON c.k = s1.dst),
      s2 AS (SELECT de.dst, CAST(SUM(p1.p // de.d) AS BIGINT) AS s
             FROM p1 JOIN de ON p1.node = de.src GROUP BY de.dst),
      p2 AS (SELECT c.k AS node,
               61440 + 17 * COALESCE(s2.s, 0) AS p
             FROM c LEFT JOIN s2 ON c.k = s2.dst),
      s3 AS (SELECT de.dst, CAST(SUM(p2.p // de.d) AS BIGINT) AS s
             FROM p2 JOIN de ON p2.node = de.src GROUP BY de.dst),
      p3 AS (SELECT c.k AS node,
               1228800 + 17 * COALESCE(s3.s, 0) AS p
             FROM c LEFT JOIN s3 ON c.k = s3.dst)
      SELECT nat, COUNT(*) AS n_nodes,
        CAST(SUM(p3.p) AS BIGINT) AS sum_pr,
        CAST(MAX(p3.p) AS BIGINT) AS max_pr,
        CAST(MIN(p3.p) AS BIGINT) AS min_pr
      FROM p3 JOIN c ON p3.node = c.k
      GROUP BY nat ORDER BY nat""",
    "x11_merge_upsert" -> """
      WITH src AS (
        SELECT CASE WHEN COUNT(*) >= 8 THEN o_custkey + 1000000
                    ELSE o_custkey END AS k,
               COUNT(*) AS cnt
        FROM orders GROUP BY o_custkey),
      m AS (
        SELECT c_custkey, c_acctbal, k, cnt
        FROM customer LEFT JOIN src ON c_custkey = k)
      SELECT c_custkey,
        CASE WHEN k IS NOT NULL AND c_acctbal >= 0 AND c_acctbal < 1000
             THEN c_acctbal + cnt ELSE c_acctbal END AS c_acctbal
      FROM m
      WHERE NOT (k IS NOT NULL AND c_acctbal < 0)
      UNION ALL
      SELECT k AS c_custkey, CAST(cnt AS DOUBLE) AS c_acctbal
      FROM src WHERE k NOT IN (SELECT c_custkey FROM customer)
      ORDER BY c_custkey""",
    "x2_update_returning" -> """
      SELECT c_custkey, c_acctbal * 1.1 AS c_acctbal
      FROM customer WHERE c_acctbal < 0 ORDER BY c_custkey""",
    "x3_delete_returning" -> """
      SELECT doc_id, n_chars FROM documents WHERE n_chars < 100
      ORDER BY doc_id""",
    "x8_sql_update_from" -> """
      WITH src AS (SELECT o_custkey, COUNT(*) AS cnt
                   FROM orders GROUP BY o_custkey)
      SELECT c_custkey, c_acctbal + cnt AS c_acctbal, cnt
      FROM customer JOIN src ON c_custkey = o_custkey
      WHERE c_acctbal < 0 ORDER BY c_custkey""",
    "x9_sql_delete_using" -> """
      SELECT doc_id, n_chars, lang FROM documents
      WHERE lang IN ('de', 'fr') ORDER BY doc_id""",
    "x4_jsonb_sql" -> """
      SELECT CAST(props->>'k' AS BIGINT) % 5 AS kmod, COUNT(*) AS n
      FROM events WHERE CAST(props->>'k' AS BIGINT) >= 10
      GROUP BY CAST(props->>'k' AS BIGINT) % 5
      ORDER BY kmod""",
    "x6_dynamic_jsonb" -> """
      SELECT event_type,
        CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        COUNT(*) AS n
      FROM events WHERE event_id < 500
      GROUP BY event_type ORDER BY event_type""",
    "x7_sql_macro" -> """
      SELECT l_returnflag,
        CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
          AS DECIMAL(28,6))) AS DOUBLE) AS net
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "j1_asof_join" -> """
      WITH e AS (SELECT event_id, event_type,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS lt
                 FROM events),
      rates AS (SELECT event_type,
                  epoch_us(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS rt,
                  COUNT(*) AS rate
                FROM events GROUP BY 1, 2)
      SELECT e.event_type, COUNT(*) AS n_matched,
        CAST(SUM(rate) AS BIGINT) AS sum_rate
      FROM e ASOF JOIN rates
        ON e.event_type = rates.event_type AND e.lt >= rates.rt
      GROUP BY e.event_type ORDER BY e.event_type""",
    "j2_asof_tolerance" -> """
      WITH e AS (SELECT event_id, event_type,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS lt
                 FROM events),
      rates AS (SELECT event_type,
                  epoch_us(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS rt,
                  COUNT(*) AS rate
                FROM events GROUP BY 1, 2)
      SELECT e.event_type, COUNT(*) AS n_matched,
        CAST(SUM(rate) AS BIGINT) AS sum_rate
      FROM e ASOF JOIN rates
        ON e.event_type = rates.event_type AND e.lt >= rates.rt
      WHERE e.lt - rates.rt <= 900000000
      GROUP BY e.event_type ORDER BY e.event_type""",
    "ldbc5_weighted_sp" -> """
      WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS k,
                        CAST(c_nationkey AS BIGINT) AS nat
                 FROM customer),
      e0 AS (
        SELECT k AS src, nat, unnest(generate_series(k + 1, k + 12)) AS dst
        FROM c),
      edges AS (
        SELECT e0.src, e0.dst, (e0.dst - e0.src + 3) // 4 AS w
        FROM e0 JOIN c t ON e0.dst = t.k AND e0.nat = t.nat),
      d0 AS (SELECT k AS seed, k AS node, CAST(0 AS BIGINT) AS dist
             FROM c WHERE k % 20 = 1),
      d1 AS (SELECT seed, node, MIN(dist) AS dist FROM (
               SELECT seed, node, dist FROM d0
               UNION ALL
               SELECT d0.seed, e.dst AS node, d0.dist + e.w AS dist
               FROM d0 JOIN edges e ON d0.node = e.src)
             GROUP BY seed, node),
      d2 AS (SELECT seed, node, MIN(dist) AS dist FROM (
               SELECT seed, node, dist FROM d1
               UNION ALL
               SELECT d1.seed, e.dst AS node, d1.dist + e.w AS dist
               FROM d1 JOIN edges e ON d1.node = e.src)
             GROUP BY seed, node),
      d3 AS (SELECT seed, node, MIN(dist) AS dist FROM (
               SELECT seed, node, dist FROM d2
               UNION ALL
               SELECT d2.seed, e.dst AS node, d2.dist + e.w AS dist
               FROM d2 JOIN edges e ON d2.node = e.src)
             GROUP BY seed, node)
      SELECT nat, COUNT(*) AS n_pairs,
        CAST(SUM(dist) AS BIGINT) AS sum_dist,
        MIN(dist) AS min_dist, MAX(dist) AS max_dist
      FROM d3 JOIN c ON d3.seed = c.k
      WHERE node <> seed
      GROUP BY nat ORDER BY nat""",
    "j3_resample_ffill" -> """
      WITH obs AS (
        SELECT user_id AS k,
          CAST(date_trunc('hour', ts) AS TIMESTAMP) AS h,
          value, CAST(ts AS TIMESTAMP) AS t, event_id
        FROM events),
      ranked AS (
        SELECT k, h, value,
          ROW_NUMBER() OVER (PARTITION BY k, h
                             ORDER BY t DESC, event_id DESC) AS rn
        FROM obs),
      cnts AS (SELECT k, h, COUNT(*) AS n_events FROM obs GROUP BY k, h),
      pb AS (
        SELECT r.k, r.h, r.value AS bv, c.n_events
        FROM ranked r JOIN cnts c USING (k, h) WHERE rn = 1),
      bounds AS (SELECT k, MIN(h) AS h0, MAX(h) AS h1 FROM pb GROUP BY k),
      grid AS (
        SELECT k, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS h
        FROM bounds),
      filled AS (
        SELECT g.k, g.h,
          last_value(pb.bv IGNORE NULLS) OVER (PARTITION BY g.k ORDER BY g.h
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
          COALESCE(pb.n_events, 0) AS n_events
        FROM grid g LEFT JOIN pb ON g.k = pb.k AND g.h = pb.h)
      SELECT k AS user_id, h AS bucket_ts, value,
        CAST(n_events AS BIGINT) AS n_events,
        (n_events = 0) AS is_gap
      FROM filled ORDER BY user_id, bucket_ts""",
    "ldbc7_link_prediction" -> """
      WITH c AS (
        SELECT CAST(c_custkey AS BIGINT) AS k,
          CAST(c_nationkey AS BIGINT) AS nat
        FROM customer),
      cand AS (
        SELECT k AS src, nat, k + d AS dst
        FROM c, (VALUES (1), (2), (3)) AS t(d)),
      edges AS (
        SELECT cand.src, cand.dst
        FROM cand JOIN c ON cand.dst = c.k AND cand.nat = c.nat),
      und AS (
        SELECT src AS v, dst AS w FROM edges
        UNION ALL SELECT dst AS v, src AS w FROM edges),
      pairs AS (
        SELECT u1.w AS a, u2.w AS b, COUNT(*) AS n_common
        FROM und u1 JOIN und u2 ON u1.v = u2.v AND u1.w < u2.w
        GROUP BY a, b),
      unconnected AS (
        SELECT p.a, p.b, p.n_common
        FROM pairs p LEFT JOIN und e ON p.a = e.v AND p.b = e.w
        WHERE e.v IS NULL)
      SELECT c.nat, COUNT(*) AS n_candidates,
        MAX(n_common) AS max_common,
        CAST(SUM(n_common) AS BIGINT) AS sum_common
      FROM unconnected u JOIN c ON u.a = c.k
      GROUP BY c.nat ORDER BY c.nat""",
    "ldbc8_filtered_sp" -> """
      WITH RECURSIVE
      c AS (SELECT CAST(c_custkey AS BIGINT) AS k,
                   CAST(c_nationkey AS BIGINT) AS nat,
                   c_mktsegment AS seg
            FROM customer WHERE c_acctbal > 0),
      edges AS (
        SELECT a.k AS src, b.k AS dst
        FROM c a JOIN c b
          ON b.nat = a.nat
         AND b.k BETWEEN a.k + 1 AND a.k + 12),
      seeds AS (SELECT k AS seed, seg FROM c WHERE k % 25 = 1),
      reach(seed, node, hop) AS (
        SELECT seed, seed, 0 FROM seeds
        UNION
        SELECT r.seed, e.dst, r.hop + 1
        FROM reach r JOIN edges e ON e.src = r.node
        WHERE r.hop < 3),
      spl AS (
        SELECT seed, node, MIN(hop) AS sp
        FROM reach WHERE node <> seed GROUP BY seed, node)
      SELECT s.seg, COUNT(*) AS n_pairs,
        CAST(SUM(sp) AS BIGINT) AS sum_sp,
        CAST(COUNT(DISTINCT spl.seed) AS BIGINT) AS n_seeds
      FROM spl JOIN seeds s ON spl.seed = s.seed
      GROUP BY s.seg ORDER BY s.seg""",
    // two synchronous LPA rounds unrolled as CTEs; the per-vertex argmax
    // (count DESC, label ASC) is the exact tie rule of
    // Graphs.labelPropagation's max(struct(c, -lab))
    "ldbc9_community" -> """
      WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS k,
                        CAST(c_nationkey AS BIGINT) AS nat
                 FROM customer),
      edges AS (
        SELECT a.k AS src, b.k AS dst
        FROM c a JOIN c b
          ON b.nat = a.nat AND b.k IN (a.k + 1, a.k + 2, a.k + 3)),
      und AS (
        SELECT src AS v, dst AS w FROM edges
        UNION ALL SELECT dst, src FROM edges),
      l0 AS (SELECT k AS node, k AS lab FROM c),
      n1 AS (
        SELECT u.v, l.lab, COUNT(*) AS cnt
        FROM und u JOIN l0 l ON l.node = u.w GROUP BY u.v, l.lab),
      p1 AS (
        SELECT v, lab FROM (
          SELECT v, lab,
            ROW_NUMBER() OVER (PARTITION BY v
              ORDER BY cnt DESC, lab) AS rn
          FROM n1) WHERE rn = 1),
      l1 AS (
        SELECT l0.node, COALESCE(p1.lab, l0.lab) AS lab
        FROM l0 LEFT JOIN p1 ON p1.v = l0.node),
      n2 AS (
        SELECT u.v, l.lab, COUNT(*) AS cnt
        FROM und u JOIN l1 l ON l.node = u.w GROUP BY u.v, l.lab),
      p2 AS (
        SELECT v, lab FROM (
          SELECT v, lab,
            ROW_NUMBER() OVER (PARTITION BY v
              ORDER BY cnt DESC, lab) AS rn
          FROM n2) WHERE rn = 1),
      l2 AS (
        SELECT l1.node, COALESCE(p2.lab, l1.lab) AS lab
        FROM l1 LEFT JOIN p2 ON p2.v = l1.node)
      SELECT lab AS community, COUNT(*) AS n_members,
        MIN(node) AS first_member, MAX(node) AS last_member
      FROM l2 GROUP BY lab
      ORDER BY n_members DESC, community LIMIT 20""",
    "ldbc10_thread_fanout" -> """
      WITH knows AS (
        SELECT a.c_custkey AS src, b.c_custkey AS dst
        FROM customer a JOIN customer b
          ON b.c_custkey BETWEEN a.c_custkey + 1 AND a.c_custkey + 12
         AND a.c_nationkey = b.c_nationkey),
      msgs AS (
        SELECT CAST(o_orderkey AS BIGINT) AS mid,
               CAST(o_custkey AS BIGINT) AS author
        FROM orders),
      replies AS (
        SELECT m.mid AS parent, r.mid AS child, m.author AS p_author
        FROM msgs m
        JOIN msgs r ON r.mid BETWEEN m.mid + 1 AND m.mid + 5
        JOIN knows k ON k.src = m.author AND k.dst = r.author),
      d1 AS (SELECT p_author AS person, COUNT(*) AS n1
             FROM replies GROUP BY 1),
      d2 AS (
        SELECT r1.p_author AS person, COUNT(*) AS n2
        FROM replies r1 JOIN replies r2 ON r2.parent = r1.child
        GROUP BY 1)
      SELECT CAST(c.c_custkey AS BIGINT) AS person,
        COALESCE(n1, 0) * 2 + COALESCE(n2, 0) AS score,
        COALESCE(n1, 0) AS direct_replies,
        COALESCE(n2, 0) AS second_level
      FROM customer c
        LEFT JOIN d1 ON d1.person = c.c_custkey
        LEFT JOIN d2 ON d2.person = c.c_custkey
      WHERE COALESCE(n1, 0) + COALESCE(n2, 0) > 0
      ORDER BY score DESC, person LIMIT 20""",
    "ldbc11_engagement_score" -> """
      WITH msgs AS (
        SELECT CAST(o_orderkey AS BIGINT) AS mid,
               CAST(o_custkey AS BIGINT) AS author
        FROM orders),
      topic AS (
        SELECT CAST(o_orderkey AS BIGINT) AS mid,
               CAST(o_custkey AS BIGINT) AS author
        FROM orders WHERE o_orderpriority = '2-HIGH'),
      rc AS (
        SELECT t.mid, COUNT(*) AS r
        FROM topic t JOIN msgs m
          ON m.mid BETWEEN t.mid + 1 AND t.mid + 5
        GROUP BY t.mid),
      lc AS (
        SELECT CAST(l_orderkey AS BIGINT) AS mid, COUNT(*) AS l
        FROM lineitem GROUP BY 1)
      SELECT t.author AS person,
        COUNT(*) AS message_count,
        CAST(SUM(COALESCE(rc.r, 0)) AS BIGINT) AS reply_count,
        CAST(SUM(COALESCE(lc.l, 0)) AS BIGINT) AS like_count,
        CAST(COUNT(*) + SUM(COALESCE(rc.r, 0)) * 2 +
             SUM(COALESCE(lc.l, 0)) * 10 AS BIGINT) AS score
      FROM topic t
        LEFT JOIN rc ON rc.mid = t.mid
        LEFT JOIN lc ON lc.mid = t.mid
      GROUP BY t.author
      ORDER BY score DESC, person LIMIT 100""",
    "ldbc12_thread_initiators" -> """
      WITH mpp AS (
        SELECT CAST(l_orderkey AS BIGINT) AS root, COUNT(*) AS mc
        FROM lineitem
        WHERE CAST(l_shipdate AS TIMESTAMP) >= TIMESTAMP '1997-01-01'
          AND CAST(l_shipdate AS TIMESTAMP) < TIMESTAMP '1999-01-01'
        GROUP BY 1)
      SELECT CAST(o_custkey AS BIGINT) AS person,
        COUNT(*) AS thread_count,
        CAST(SUM(mc) AS BIGINT) AS message_count
      FROM orders JOIN mpp ON mpp.root = o_orderkey
      WHERE CAST(o_orderdate AS TIMESTAMP) >= TIMESTAMP '1997-01-01'
        AND CAST(o_orderdate AS TIMESTAMP) < TIMESTAMP '1999-01-01'
      GROUP BY o_custkey
      ORDER BY message_count DESC, person LIMIT 100""",
    "ldbc13_tag_evolution" -> """
      WITH my_tag AS (
        SELECT p_partkey, p_brand FROM part WHERE p_type = 'PROMO'),
      detail AS (
        SELECT p_brand,
          CAST(COUNT(CASE WHEN l_shipdate < TIMESTAMP '1997-04-11'
                     THEN 1 END) AS BIGINT) AS c1,
          CAST(COUNT(CASE WHEN l_shipdate >= TIMESTAMP '1997-04-11'
                     THEN 1 END) AS BIGINT) AS c2
        FROM lineitem JOIN my_tag ON l_partkey = p_partkey
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate < TIMESTAMP '1997-07-20'
        GROUP BY 1),
      tags AS (SELECT DISTINCT p_brand FROM my_tag)
      SELECT t.p_brand AS brand,
        COALESCE(c1, 0) AS cnt1, COALESCE(c2, 0) AS cnt2,
        ABS(COALESCE(c1, 0) - COALESCE(c2, 0)) AS diff
      FROM tags t LEFT JOIN detail d ON t.p_brand = d.p_brand
      ORDER BY diff DESC, brand LIMIT 100""",
    "ldbc14_friend_recommendation" -> """
      WITH c AS (
        SELECT CAST(c_custkey AS BIGINT) AS k, c_mktsegment AS seg
        FROM customer),
      cand AS (
        SELECT k AS src, k + d AS dst
        FROM c, (VALUES (1), (2), (3), (4)) AS t(d)),
      edges AS (
        SELECT cand.src, cand.dst
        FROM cand JOIN c ON cand.dst = c.k),
      und AS (
        SELECT src, dst FROM edges
        UNION ALL SELECT dst AS src, src AS dst FROM edges),
      foi AS (
        SELECT u.src, u.dst FROM und u
        WHERE u.src IN (SELECT k FROM c WHERE seg = 'BUILDING')),
      pairs AS (
        SELECT f1.src AS p1, f2.src AS p2, COUNT(*) AS mutual_friends
        FROM foi f1 JOIN foi f2 ON f1.dst = f2.dst
        WHERE f1.src <> f2.src
        GROUP BY 1, 2),
      rec AS (
        SELECT p.p1, p.p2, p.mutual_friends
        FROM pairs p LEFT JOIN und e ON p.p1 = e.src AND p.p2 = e.dst
        WHERE e.src IS NULL)
      SELECT p1 AS person1, p2 AS person2, mutual_friends
      FROM rec
      ORDER BY mutual_friends DESC, p1, p2 LIMIT 20""",
    "ldbc15_msg_histogram" -> """
      WITH per AS (
        SELECT o_custkey, COUNT(*) AS n_msgs
        FROM orders
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        GROUP BY 1)
      SELECT n_msgs, COUNT(*) AS n_persons
      FROM per GROUP BY 1
      ORDER BY n_persons DESC, n_msgs DESC""",
    "ldbc16_authority_score" -> """
      WITH liker_pop AS (
        SELECT l_suppkey, COUNT(*) AS pop FROM lineitem GROUP BY 1),
      msg_score AS (
        SELECT k.l_orderkey, CAST(SUM(p.pop) AS BIGINT) AS msc
        FROM lineitem k JOIN liker_pop p ON k.l_suppkey = p.l_suppkey
        GROUP BY 1)
      SELECT o_custkey AS person, CAST(SUM(msc) AS BIGINT) AS score
      FROM orders JOIN msg_score ON l_orderkey = o_orderkey
      GROUP BY 1 ORDER BY score DESC, person LIMIT 100""",
    "ldbc17_posting_summary" -> """
      WITH prep AS (
        SELECT CAST(EXTRACT(year FROM o_orderdate) AS INT) AS msg_year,
          CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS is_comment,
          CASE WHEN o_totalprice < 50000 THEN 0
               WHEN o_totalprice < 150000 THEN 1
               WHEN o_totalprice < 300000 THEN 2 ELSE 3 END AS len_cat,
          CAST(CAST(o_totalprice AS DECIMAL(28,2)) * 100 AS BIGINT)
            AS cents
        FROM orders WHERE o_orderdate < TIMESTAMP '1999-01-01'),
      total AS (SELECT COUNT(*) AS total_cnt FROM prep)
      SELECT msg_year, is_comment, len_cat,
        CAST(COUNT(*) AS BIGINT) AS message_count,
        CAST(SUM(cents) AS BIGINT) AS sum_cents,
        CAST(SUM(cents) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_cents,
        CAST(COUNT(*) * 1000000 // (SELECT total_cnt FROM total)
             AS BIGINT) AS share_ppm
      FROM prep
      GROUP BY 1, 2, 3
      ORDER BY msg_year DESC, is_comment, len_cat""",
    "ldbc18_related_tags" -> """
      WITH tagged AS (
        SELECT DISTINCT l_orderkey AS mid
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#7'),
      replies AS (
        SELECT t.mid AS parent, t.mid + r.i AS child
        FROM tagged t, (SELECT UNNEST(generate_series(1, 5)) AS i) r),
      cmt AS (
        SELECT o_orderkey AS child FROM orders
        JOIN replies ON o_orderkey = replies.child
        WHERE o_orderkey NOT IN (SELECT mid FROM tagged))
      SELECT p_brand AS related_tag, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM cmt
        JOIN lineitem ON l_orderkey = cmt.child
        JOIN part ON l_partkey = p_partkey
      WHERE p_brand <> 'Brand#7'
      GROUP BY 1 ORDER BY cnt DESC, related_tag LIMIT 100""",
    "ldbc19_zombies" -> """
      WITH o AS (
        SELECT o_orderkey, o_custkey, o_orderdate FROM orders
        WHERE o_orderdate < TIMESTAMP '1999-01-01'),
      zombies AS (
        SELECT o_custkey AS person FROM o
        GROUP BY 1
        HAVING COUNT(*) < (12*1999 + 1)
          - (12*EXTRACT(year FROM MIN(o_orderdate))
             + EXTRACT(month FROM MIN(o_orderdate))) + 1),
      supp_cnt AS (
        SELECT l_suppkey, COUNT(*) AS cnt FROM lineitem GROUP BY 1),
      g AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
                   COUNT(*) AS ns FROM supp_cnt),
      low_supp AS (
        SELECT l_suppkey AS low_liker FROM supp_cnt, g
        WHERE cnt * ns * 21 < total * 20),
      likes AS (
        SELECT o_custkey AS person, l_suppkey
        FROM lineitem JOIN o ON l_orderkey = o_orderkey
        WHERE o_custkey IN (SELECT person FROM zombies)),
      t AS (
        SELECT person, CAST(COUNT(*) AS BIGINT) AS total_likes,
          CAST(SUM(CASE WHEN l_suppkey IN (SELECT low_liker FROM low_supp)
                        THEN 1 ELSE 0 END) AS BIGINT) AS zombie_likes
        FROM likes GROUP BY 1)
      SELECT z.person,
        COALESCE(t.zombie_likes, 0) AS zombie_likes,
        COALESCE(t.total_likes, 0) AS total_likes,
        CASE WHEN COALESCE(t.total_likes, 0) > 0
             THEN CAST(t.zombie_likes * 1000000 // t.total_likes AS BIGINT)
             ELSE 0 END AS zombie_score_ppm
      FROM zombies z LEFT JOIN t ON z.person = t.person
      ORDER BY zombie_score_ppm DESC, z.person LIMIT 100""",
    "ldbc20_central_person" -> """
      WITH tagged AS (
        SELECT o_custkey AS person, o_orderkey, o_orderdate
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
          JOIN part ON l_partkey = p_partkey
        WHERE p_brand = 'Brand#7'),
      interested AS (
        SELECT person FROM tagged GROUP BY 1 HAVING COUNT(*) >= 2),
      msg_score AS (
        SELECT person, CAST(COUNT(DISTINCT o_orderkey) AS BIGINT) AS score
        FROM tagged
        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1998-01-01'
        GROUP BY 1)
      SELECT COALESCE(i.person, m.person) AS person,
        CAST(CASE WHEN i.person IS NULL THEN 0 ELSE 100 END
             + COALESCE(m.score, 0) AS BIGINT) AS score
      FROM interested i FULL JOIN msg_score m ON i.person = m.person
      ORDER BY score DESC, person LIMIT 100""",
    "ldbc21_filtered_triangles" -> """
      WITH c AS (
        SELECT CAST(c_custkey AS BIGINT) AS k,
               CAST(c_nationkey AS BIGINT) AS nat
        FROM customer
          JOIN nation ON c_nationkey = n_nationkey
          JOIN region ON n_regionkey = r_regionkey
        WHERE r_name = 'AMERICA' AND c_acctbal > 0),
      edges AS (
        SELECT a.k AS src, b.k AS dst
        FROM c a JOIN c b
          ON b.nat = a.nat AND b.k BETWEEN a.k + 1 AND a.k + 8)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_triangles
      FROM edges e1
        JOIN edges e2 ON e1.dst = e2.src
        JOIN edges e3 ON e2.dst = e3.dst AND e1.src = e3.src""",
    "ldbc22_hop_band" -> """
      WITH o AS (SELECT CAST(o_orderkey AS BIGINT) AS k FROM orders),
      edges AS (
        SELECT a.k AS src, a.k + d.i AS dst
        FROM o a, (SELECT UNNEST(generate_series(1, 5)) AS i) d
        WHERE EXISTS (SELECT 1 FROM o b WHERE b.k = a.k + d.i)),
      seeds AS (SELECT k AS seed FROM o WHERE k % 500 = 1),
      h1 AS (SELECT DISTINCT s.seed, e.dst AS node
             FROM seeds s JOIN edges e ON e.src = s.seed),
      h2 AS (SELECT DISTINCT h.seed, e.dst AS node
             FROM h1 h JOIN edges e ON e.src = h.node),
      near AS (SELECT seed, node FROM h1 UNION SELECT seed, node FROM h2),
      h3 AS (SELECT DISTINCT n.seed, e.dst AS node
             FROM near n JOIN edges e ON e.src = n.node),
      h4 AS (SELECT DISTINCT h.seed, e.dst AS node
             FROM h3 h JOIN edges e ON e.src = h.node),
      far AS (
        (SELECT seed, node FROM h3 UNION SELECT seed, node FROM h4)
        EXCEPT
        (SELECT seed, node FROM near UNION SELECT seed, seed FROM seeds))
      SELECT seed, CAST(COUNT(*) AS BIGINT) AS n_far
      FROM far GROUP BY 1 ORDER BY seed""",
    "j5_asof_forward" -> """
      WITH e AS (SELECT event_id, event_type,
                   epoch_us(CAST(ts AS TIMESTAMP)) AS lt
                 FROM events),
      rates AS (SELECT event_type,
                  epoch_us(CAST(date_trunc('hour', ts) AS TIMESTAMP)) AS rt,
                  COUNT(*) AS rate
                FROM events GROUP BY 1, 2)
      SELECT e.event_type, COUNT(*) AS n_matched,
        CAST(SUM(rate) AS BIGINT) AS sum_rate
      FROM e ASOF JOIN rates
        ON e.event_type = rates.event_type AND e.lt <= rates.rt
      GROUP BY e.event_type ORDER BY e.event_type""",
    "x17_index_scan" -> """
      SELECT c_custkey, c_nationkey, c_acctbal FROM customer
      WHERE c_custkey BETWEEN 20 AND 120
      ORDER BY c_custkey""",
    "x18_enum_check" -> """
      SELECT o_orderpriority AS p, COUNT(*) AS n,
        MIN(o_orderkey) AS first_key
      FROM orders WHERE o_orderkey < 3000
      GROUP BY p ORDER BY p""",
    "x12_sequences" -> """
      SELECT 100 + 7 * CAST(n_nationkey AS BIGINT) AS id,
        CAST(n_nationkey AS BIGINT) AS key, n_name AS name
      FROM nation ORDER BY key""",
    "x13_alter_lifecycle" -> """
      SELECT c_custkey AS k, c_acctbal AS balance,
        CASE WHEN c_acctbal >= 5000 THEN 'hi' ELSE 'lo' END AS seg
      FROM customer WHERE c_custkey < 100 ORDER BY k""",
    "x14_fk_cascade" -> """
      SELECT l_returnflag AS rf, COUNT(*) AS n,
        CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_orderkey < 2000 AND o_orderpriority <> '1-URGENT'
      GROUP BY rf ORDER BY rf""",
    "x15_matview_refresh" -> """
      SELECT lang, COUNT(*) AS n,
        CAST(SUM(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY lang ORDER BY lang""",
    "x16_copy_roundtrip" -> """
      SELECT p_brand, COUNT(*) AS n,
        CAST(SUM(CAST(p_retailprice AS DECIMAL(28,6))) AS DOUBLE) AS total
      FROM part WHERE p_retailprice > 910
      GROUP BY p_brand ORDER BY p_brand""",
    "j4_interval_overlap" -> """
      WITH raw AS (
        SELECT CAST(l_suppkey AS BIGINT) AS k,
          CAST(CAST(o_orderdate AS DATE) - DATE '1970-01-01' AS BIGINT)
            AS od,
          CAST(CAST(l_shipdate AS DATE) - DATE '1970-01-01' AS BIGINT)
            AS sd,
          CAST(l_orderkey AS BIGINT) AS ok,
          CAST(l_linenumber AS BIGINT) AS ln
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE l_shipdate >= TIMESTAMP '1996-01-01'
          AND l_shipdate < TIMESTAMP '1997-01-01'),
      li AS (
        SELECT k, least(od, sd) AS s, greatest(od, sd) AS e, ok, ln
        FROM raw)
      SELECT a.k AS suppkey, COUNT(*) AS n_pairs,
        MAX(least(a.e, b.e) - greatest(a.s, b.s)) AS max_overlap_days
      FROM li a JOIN li b
        ON a.k = b.k
       AND (a.ok < b.ok OR (a.ok = b.ok AND a.ln < b.ln))
       AND a.s <= b.e AND b.s <= a.e
      GROUP BY a.k ORDER BY suppkey""",
    "x5_udf" -> """
      SELECT l_orderkey, l_linenumber,
             l_extendedprice * (1.0 - l_discount) AS net
      FROM lineitem
      ORDER BY l_orderkey, l_linenumber, net
      LIMIT 200""",
    "ldbc26_country_topic_forums" -> """
      WITH lo AS (
        SELECT l_partkey, o_custkey, o_orderdate, o_orderpriority
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      fstat AS (
        SELECT l_partkey AS forum, MIN(o_custkey) AS moderator,
          MIN(CAST(o_orderdate AS TIMESTAMP)) AS created
        FROM lo GROUP BY 1),
      tagged AS (
        SELECT l_partkey AS forum,
          CAST(COUNT(*) AS BIGINT) AS message_count
        FROM lo WHERE o_orderpriority = '1-URGENT' GROUP BY 1)
      SELECT f.forum, p_name AS title, f.created, f.moderator,
        t.message_count
      FROM fstat f
        JOIN tagged t ON f.forum = t.forum
        JOIN part ON p_partkey = f.forum
      WHERE EXISTS (SELECT 1 FROM customer
          JOIN nation ON c_nationkey = n_nationkey
        WHERE c_custkey = f.moderator AND n_regionkey = 3)
      ORDER BY message_count DESC, f.forum LIMIT 20""",
    "ldbc27_trusted_paths" -> """
      WITH c AS (SELECT CAST(c_custkey AS BIGINT) AS k,
                        CAST(c_nationkey AS BIGINT) AS nat
                 FROM customer),
      lo AS (
        SELECT l_partkey AS forum, l_orderkey AS ok,
          l_linenumber AS ln, o_custkey AS creator,
          CAST(o_orderdate AS TIMESTAMP) AS od
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      myforums AS (
        SELECT forum FROM lo GROUP BY forum
        HAVING MIN(od) >= TIMESTAMP '1995-01-01'
           AND MIN(od) < TIMESTAMP '1995-03-01'),
      msgs AS (SELECT lo.* FROM lo JOIN myforums USING (forum)),
      mm AS (
        SELECT least(m1.creator, m2.creator) AS src,
          greatest(m1.creator, m2.creator) AS dst,
          CAST(SUM(CASE WHEN m1.ln = 1 THEN 10 ELSE 5 END) AS BIGINT)
            AS w
        FROM msgs m1 JOIN msgs m2
          ON m1.forum = m2.forum
         AND m2.ok BETWEEN m1.ok + 1 AND m1.ok + 5
        GROUP BY 1, 2),
      e0 AS (
        SELECT k AS src, nat, unnest(generate_series(k + 1, k + 12))
          AS dst
        FROM c),
      edges AS (
        SELECT e0.src, e0.dst,
          CAST(10000000 AS BIGINT) // (COALESCE(mm.w, 0) + 10) AS w
        FROM e0 JOIN c t ON e0.dst = t.k AND e0.nat = t.nat
          LEFT JOIN mm ON mm.src = e0.src AND mm.dst = e0.dst),
      d0 AS (SELECT k AS seed, k AS node, CAST(0 AS BIGINT) AS dist
             FROM c WHERE k % 25 = 3),
      d1 AS (SELECT seed, node, MIN(dist) AS dist FROM (
               SELECT seed, node, dist FROM d0
               UNION ALL
               SELECT d0.seed, e.dst AS node, d0.dist + e.w AS dist
               FROM d0 JOIN edges e ON d0.node = e.src)
             GROUP BY seed, node),
      d2 AS (SELECT seed, node, MIN(dist) AS dist FROM (
               SELECT seed, node, dist FROM d1
               UNION ALL
               SELECT d1.seed, e.dst AS node, d1.dist + e.w AS dist
               FROM d1 JOIN edges e ON d1.node = e.src)
             GROUP BY seed, node),
      d3 AS (SELECT seed, node, MIN(dist) AS dist FROM (
               SELECT seed, node, dist FROM d2
               UNION ALL
               SELECT d2.seed, e.dst AS node, d2.dist + e.w AS dist
               FROM d2 JOIN edges e ON d2.node = e.src)
             GROUP BY seed, node)
      SELECT nat, COUNT(*) AS n_pairs,
        CAST(SUM(dist) AS BIGINT) AS sum_trust,
        MIN(dist) AS min_trust, MAX(dist) AS max_trust
      FROM d3 JOIN c ON d3.seed = c.k
      WHERE node <> seed
      GROUP BY nat ORDER BY nat""",
    "ldbc28_fake_news" -> """
      WITH c AS (
        SELECT CAST(c_custkey AS BIGINT) AS k,
          CAST(n_regionkey AS BIGINT) AS reg
        FROM customer JOIN nation ON c_nationkey = n_nationkey),
      e0 AS (
        SELECT k AS src, reg, unnest(generate_series(k + 1, k + 12))
          AS dst
        FROM c),
      edges AS (
        SELECT e0.src, e0.dst
        FROM e0 JOIN c t ON e0.dst = t.k AND e0.reg = t.reg),
      suba AS (
        SELECT CAST(o_custkey AS BIGINT) AS person,
          CAST(COUNT(*) AS BIGINT) AS cm
        FROM orders WHERE o_orderpriority = '1-URGENT'
          AND o_orderdate >= TIMESTAMP '1997-01-01'
          AND o_orderdate < TIMESTAMP '1997-07-01'
        GROUP BY 1),
      dega AS (
        SELECT e.src AS person, COUNT(DISTINCT e.dst) AS deg
        FROM edges e JOIN suba s1 ON e.src = s1.person
          JOIN suba s2 ON e.dst = s2.person
        GROUP BY 1),
      persona AS (
        SELECT s.person, s.cm
        FROM suba s LEFT JOIN dega d ON s.person = d.person
        WHERE COALESCE(d.deg, 0) <= 1),
      subb AS (
        SELECT CAST(o_custkey AS BIGINT) AS person,
          CAST(COUNT(*) AS BIGINT) AS cm
        FROM orders WHERE o_orderpriority = '2-HIGH'
          AND o_orderdate >= TIMESTAMP '1997-04-01'
          AND o_orderdate < TIMESTAMP '1997-10-01'
        GROUP BY 1),
      degb AS (
        SELECT e.src AS person, COUNT(DISTINCT e.dst) AS deg
        FROM edges e JOIN subb s1 ON e.src = s1.person
          JOIN subb s2 ON e.dst = s2.person
        GROUP BY 1),
      personb AS (
        SELECT s.person, s.cm
        FROM subb s LEFT JOIN degb d ON s.person = d.person
        WHERE COALESCE(d.deg, 0) <= 1)
      SELECT a.person, a.cm AS message_count_a, b.cm AS message_count_b
      FROM persona a JOIN personb b ON a.person = b.person
      ORDER BY a.cm + b.cm DESC, a.person LIMIT 20""",
    "ldbc29_info_propagation" -> """
      WITH lo AS (
        SELECT l_partkey AS forum, l_orderkey AS ok,
          o_custkey AS person, CAST(o_orderdate AS TIMESTAMP) AS d
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
      membership AS (SELECT DISTINCT forum, person FROM lo),
      tagged AS (
        SELECT lo.forum, lo.ok, lo.person AS creator, lo.d
        FROM lo WHERE EXISTS (SELECT 1 FROM part
          WHERE p_partkey = lo.forum AND p_size = 17)),
      prof AS (
        SELECT creator AS person1, forum AS forum1, MIN(d) AS m1d
        FROM tagged GROUP BY 1, 2),
      m2f1 AS (
        SELECT t.forum AS forum2, t.ok AS ok2, t.creator AS person3,
          t.d AS d2, m.forum AS forum1
        FROM tagged t JOIN membership m ON m.person = t.creator
        WHERE m.forum <> t.forum),
      replies AS (SELECT DISTINCT ok AS rok, person AS person2 FROM lo),
      comment_ok AS (
        SELECT DISTINCT x.ok2, x.forum1
        FROM (SELECT DISTINCT ok2, forum1, person3 FROM m2f1) x
          JOIN replies r ON r.rok BETWEEN x.ok2 + 1 AND x.ok2 + 5
            AND r.person2 <> x.person3
          JOIN membership m ON m.person = r.person2
            AND m.forum = x.forum1),
      gated AS (
        SELECT g.forum2, g.ok2, g.person3, p.person1
        FROM m2f1 g
          JOIN comment_ok co ON co.ok2 = g.ok2 AND co.forum1 = g.forum1
          JOIN prof p ON p.forum1 = g.forum1
        WHERE g.d2 > p.m1d + INTERVAL 4 DAY
          AND p.person1 <> g.person3),
      -- tuple-distinct spelled as DISTINCT-then-COUNT(*): the registry
      -- has no driver-proven precedent for COUNT(DISTINCT (a, b)) and
      -- exotic bindings are exactly the ds38 failure class
      survivors AS (
        SELECT DISTINCT person1, ok2, forum2
        FROM gated g
        WHERE NOT EXISTS (SELECT 1 FROM membership m
          WHERE m.person = g.person1 AND m.forum = g.forum2))
      SELECT person1, CAST(COUNT(*) AS BIGINT) AS message_count
      FROM survivors
      GROUP BY 1 ORDER BY message_count DESC, person1 LIMIT 10"""
  )
}

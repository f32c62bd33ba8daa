package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions._

/** Document deduplication operators for training-data pipelines.
  *
  * All variants are expressed as declarative Spark plans: the only shuffles
  * are the group-bys on hash/bucket keys, which partition-prune naturally
  * and scale horizontally. No driver-side materialization anywhere — at
  * 100 TB the candidate-pair generation stays bounded because pairs are
  * only formed *within* LSH buckets (band join), never globally.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per identical text hash.
    * One shuffle on a 128-bit hash key — uniformly distributed, no skew. */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keep"), count(lit(1)).as("n"))

  /** Survivors of exact dedup (the canonical rows themselves). */
  def exactSurvivors(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keep = exact(df, textCol, idCol).select(col("keep").as(idCol))
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** MinHash + LSH near-duplicate candidate pairs.
    *
    * shingle → k-MinHash signature → split into `bands` bands of `rows`
    * hashes → explode one row per (band, bandHash) → self-join on the
    * band key. Only same-bucket docs ever meet, so the join is an
    * equi-join on a high-cardinality key (shuffle-partitionable); the
    * quadratic blow-up is confined to per-bucket groups. Pairs are then
    * scored by signature agreement and filtered by `threshold`.
    */
  def minHashLsh(df: DataFrame, textCol: String, idCol: String,
                 bands: Int = 8, rows: Int = 4,
                 threshold: Double = 0.5,
                 shingleSize: Int = 3): DataFrame = {
    val k = bands * rows
    // repartition = materialization barrier: without it CollapseProject
    // inlines the shingle+minhash tree into the band-explode AND both join
    // sides, re-evaluating it bands× per row (HOFs are interpreted, no CSE)
    // — measured 50× slower. The identical Exchange on both self-join
    // sides becomes a ReusedExchange, so signatures are computed once.
    // the text column rides under an internal alias so a caller whose
    // text column is literally named "id" (with a different idCol)
    // cannot make the projection ambiguous (ADVICE r19)
    val sigExpr =
      if (df.sparkSession.catalog.functionExists("graft_minhash"))
        call_function("graft_minhash",
          wordShingles(col("__txt"), shingleSize), lit(k))
      else minHash(wordShingles(col("__txt"), shingleSize), k)
    // Two exchanges on purpose: the FIRST spreads the raw (id, text)
    // pair so the shingle+minhash work (k hashes per shingle — the
    // operator's dominant CPU) runs at full parallelism instead of fused
    // onto a low-split scan (guide §2.5 input skew; gated on the input
    // actually being under-split since r20); the SECOND is the
    // materialization barrier described above, which must sit ABOVE the
    // signature projection to keep CollapseProject from inlining it.
    // The first carries text bytes, the second k longs per doc.
    val sig = graft.Spread.ensure(
        df.select(col(idCol).as("id"), col(textCol).as("__txt")),
        col("id"))
      .select(col("id"), sigExpr.as("sig"))
      .repartition(col("id"))
    val banded = sig.select(col("id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          b => xxhash64(slice(col("sig"), b * rows + 1, lit(rows)), b)))
          .as(Seq("band", "bh")))
      .select(col("id"), col("sig"), col("band"), col("bh"))
    val a = banded.select(col("band"), col("bh"), col("id").as("a_id"),
      col("sig").as("a_sig"))
    val b = banded.select(col("band"), col("bh"), col("id").as("b_id"),
      col("sig").as("b_sig"))
    a.join(b, Seq("band", "bh"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        minHashSimilarity(col("a_sig"), col("b_sig")).as("est_jaccard"))
      // threshold is deterministic per pair, so filtering BEFORE the
      // distinct shrinks its shuffle by the below-threshold fraction —
      // same result, strictly less exchange I/O
      .filter(col("est_jaccard") >= threshold)
      .distinct()
  }

  /** Production-shape near-dup pipeline: MinHash-LSH candidate generation
    * followed by EXACT word-shingle Jaccard verification. The est_jaccard
    * prefilter (low cutoff) only prunes obvious non-matches cheaply; the
    * emitted `jac` is exact, so output = { pairs with true Jaccard ≥
    * threshold } ∩ { LSH candidates }. With bands×rows sized so
    * P(candidate | j ≥ threshold) ≈ 1 (e.g. 16×2 at 0.8 → miss odds
    * ~(1−j²)^16 < 1e−7), the result is deterministically the exact
    * above-threshold pair set — which is what the DuckDB oracle checks. */
  def minHashLshVerified(df: DataFrame, textCol: String, idCol: String,
                         bands: Int = 16, rows: Int = 2,
                         threshold: Double = 0.8,
                         shingleSize: Int = 3): DataFrame = {
    // Same barrier split as [[minHashLsh]]: the exact-shingle frame feeds
    // BOTH verification join sides, so without it the scan + shingling
    // runs twice, single-task on a low-split source; the spread exchange
    // parallelizes the shingling, the id barrier makes the two join
    // sides share one ReusedExchange.
    // "__txt" alias: see minHashLsh (ADVICE r19 ambiguity guard)
    val docs = graft.Spread.ensure(
        df.select(col(idCol).as("id"), col(textCol).as("__txt")),
        col("id"))
      .select(col("id"),
        array_distinct(wordShingles(col("__txt"), shingleSize)).as("sh"))
      .repartition(col("id"))
    val cands = minHashLsh(df, textCol, idCol, bands, rows,
      threshold = 0.0, shingleSize = shingleSize)
    cands
      .join(docs.select(col("id").as("a_id"), col("sh").as("a_sh")), Seq("a_id"))
      .join(docs.select(col("id").as("b_id"), col("sh").as("b_sh")), Seq("b_id"))
      .select(col("a_id"), col("b_id"),
        jaccard(col("a_sh"), col("b_sh")).as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** Build a persisted MinHash-LSH signature index over `corpus`: one
    * row per (band, doc) carrying the band hash, the doc id, and the
    * full signature, written PARTITIONED BY (band, bucket) where
    * bucket = bandhash mod `nBuckets`. An incremental shard then
    * dedups against the corpus WITHOUT recomputing corpus signatures
    * (and without ever re-reading corpus text): [[queryLshIndex]]
    * probes only the shard's (band, bucket) directories — the e17/e18
    * build-once/serve-forever pattern applied to LSH dedup.
    *
    * Signatures are the oracle-reproducible [[md5MinHash]] family, so
    * a DuckDB oracle can replay the whole pipeline. Each band row
    * duplicates the signature (bands× storage) — the standard LSH
    * hash-table trade: it makes a probe self-contained, so candidate
    * scoring needs NO second lookup against a signature table.
    *
    * Scale shape: one corpus pass + one write shuffle; directory count
    * is bands·nBuckets (bounded by construction, never by data). */
  def buildLshIndex(corpus: DataFrame, textCol: String, idCol: String,
                    path: String, bands: Int = 8, rows: Int = 2,
                    shingleSize: Int = 3, nBuckets: Int = 32): Unit = {
    val k = bands * rows
    // repartition = materialization barrier (see minHashLsh): without
    // it the signature tree is inlined into the band explode and
    // re-evaluated bands× per row. The extra spread exchange below the
    // signature projection parallelizes the shingle+minhash CPU on
    // low-split sources (guide §2.5) — same two-exchange split as
    // minHashLsh, raw text first, k longs per doc second.
    // "__txt" alias: see minHashLsh (ADVICE r19 ambiguity guard)
    val sig = graft.Spread.ensure(
        corpus.select(col(idCol).as("id"), col(textCol).as("__txt")),
        col("id"))
      .select(col("id"),
        md5MinHash(wordShingles(col("__txt"), shingleSize), k).as("sig"))
      .repartition(col("id"))
    sig.select(col("id"), col("sig"),
        posexplode(md5BandHashes(col("sig"), bands, rows))
          .as(Seq("band", "bh")))
      .withColumn("bucket", pmod(col("bh"), lit(nBuckets.toLong)))
      .select(col("band"), col("bucket"), col("bh"), col("id"), col("sig"))
      // cluster rows by their target directory so each directory gets
      // exactly one file. NOTE the build's measured cost driver is the
      // FIXED ~20 ms/directory of a dynamic-partition write (r16
      // profiling: 256 dirs -> 7.2 s build at ANY data size; commit-v2
      // and write clustering don't move it) — size nBuckets for the
      // deployment: small at smoke scale, larger on a real cluster
      // where directory count amortizes against corpus volume
      .repartition(col("band"), col("bucket"))
      .write.mode("overwrite").partitionBy("band", "bucket")
      .parquet(s"$path/buckets")
  }

  /** Near-dup candidates of `shard` against a [[buildLshIndex]] index:
    * (a_id ∈ shard, b_id ∈ corpus, est_jaccard) for every pair sharing
    * ≥1 LSH band whose signature agreement is ≥ `threshold`. The plan
    * scans ONLY the shard text and the probed index buckets — the
    * probe-key collect is bounded by bands·nBuckets BY CONSTRUCTION
    * (bucket is mod-nBuckets), so it is driver-side metadata no matter
    * how large the shard grows, and the bucket filter prunes the index
    * read at the DIRECTORY level (static PartitionFilters, the e18
    * pattern). */
  def queryLshIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                    shard: DataFrame, textCol: String, idCol: String,
                    threshold: Double, bands: Int = 8, rows: Int = 2,
                    shingleSize: Int = 3, nBuckets: Int = 32): DataFrame = {
    val k = bands * rows
    val sig = shard.select(col(idCol).as("a_id"),
        md5MinHash(wordShingles(col(textCol), shingleSize), k).as("a_sig"))
      .repartition(col("a_id"))
    val probes = sig.select(col("a_id"), col("a_sig"),
      posexplode(md5BandHashes(col("a_sig"), bands, rows))
        .as(Seq("band", "bh")))
    val probeKeys = probes
      .select((col("band") * nBuckets +
        pmod(col("bh"), lit(nBuckets.toLong))).cast("long").as("pk"))
      .distinct().collect().map(_.getLong(0)).sorted.toSeq
    val idx = spark.read.parquet(s"$path/buckets")
      .filter((col("band") * nBuckets + col("bucket")).cast("long")
        .isin(probeKeys: _*))
    probes.join(idx, Seq("band", "bh"))
      .filter(col("a_id") =!= col("id"))
      .select(col("a_id"), col("id").as("b_id"), col("a_sig"),
        col("sig").as("b_sig"))
      .dropDuplicates("a_id", "b_id")
      .select(col("a_id"), col("b_id"),
        minHashSimilarity(col("a_sig"), col("b_sig")).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
  }

  /** SimHash signatures (64-bit, as hex) per document. Near-dup pairs =
    * signatures within a small Hamming distance; candidate generation
    * joins on 16-bit signature quarters (any pair within distance 3 must
    * agree on at least one quarter — pigeonhole). */
  def simHashSignatures(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol).as("id"), simHash(col(textCol)).as("sig"))

  def simHashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxHamming: Int = 3): DataFrame = {
    // barrier for the same CollapseProject-inlining reason as minHashLsh
    val sigs = simHashSignatures(df, textCol, idCol).repartition(col("id"))
    val quarters = sigs.select(col("id"), col("sig"),
        posexplode(transform(sequence(lit(0), lit(3)),
          q => substring(lpad(col("sig"), 16, "0"), q * 4 + 1, lit(4)))))
      .toDF("id", "sig", "q", "qh")
    val a = quarters.select(col("q"), col("qh"), col("id").as("a_id"),
      col("sig").as("a_sig"))
    val b = quarters.select(col("q"), col("qh"), col("id").as("b_id"),
      col("sig").as("b_sig"))
    a.join(b, Seq("q", "qh"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        hammingHex(col("a_sig"), col("b_sig")).as("hamming"))
      // hammingHex is deterministic per pair, so thresholding BEFORE the
      // dedup exchange is identical output with strictly less shuffle I/O
      // (same fix minHashLsh got — only surviving pairs are exchanged)
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact n-gram Jaccard similarity for candidate pairs constrained by a
    * blocking predicate (at scale, blocking comes from LSH buckets; the
    * predicate variant is for within-partition comparisons). */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int, blocking: (Column, Column) => Column,
                        threshold: Double): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
        array_distinct(charShingles(col(textCol), n)).as("sh"))
      .repartition(col("id"))
    val a = sh.select(col("id").as("a_id"), col("sh").as("a_sh"))
    val b = sh.select(col("id").as("b_id"), col("sh").as("b_sh"))
    a.join(b, blocking(col("a_id"), col("b_id")) && col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        jaccard(col("a_sh"), col("b_sh")).as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** n-gram Jaccard over id-banded pairs via adjacent-bucket equi-join
    * (TimeJoins.bandedSelfJoinPairs) — O(n·gap) candidate pairs through a
    * shuffle join instead of the O(n²) nested-loop the predicate variant
    * plans. Output identical to ngramJaccardPairs with
    * blocking = (b - a <= maxGap). */
  def ngramJaccardBanded(df: DataFrame, textCol: String, idCol: String,
                         n: Int, maxGap: Long, threshold: Double): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
        array_distinct(charShingles(col(textCol), n)).as("sh"))
      .repartition(col("id"))
    TimeJoins.bandedSelfJoinPairs(sh, "id", maxGap)
      .select(col("a_id"), col("b_id"),
        jaccard(col("a_sh"), col("b_sh")).as("jac"))
      .filter(col("jac") >= threshold)
  }

  /** Connected components over an undirected edge set — the
    * cluster-collapse step of a near-dup pipeline. LSH / Jaccard / simhash
    * emit candidate PAIRS; deduplication needs GROUPS (one canonical doc
    * per transitive cluster: a~b, b~c ⇒ {a,b,c} keep one).
    *
    * Hash-min label propagation: every node starts labelled with itself;
    * each round pushes labels across edges and keeps the minimum;
    * fixpoint when no label changes. Rounds = O(cluster diameter) — dup
    * clusters are near-cliques (LSH connects most member pairs directly),
    * so this converges in a handful of rounds even at 100 TB, where each
    * round is one equi-join + one min-aggregate, both hash-partitioned on
    * node id. Labels are monotonically non-increasing, so convergence is
    * detected by one narrow sum-aggregate per round (no extra join).
    * Lineage is truncated per round with localCheckpoint — the iterative-
    * Spark plan-growth failure mode. For graphs with long chains (not the
    * dedup shape) a large-star/small-star variant would cut rounds to
    * O(log n); diameter-bound propagation is the right trade here.
    *
    * Returns one row per node that appears in any edge:
    * (node, component) with component = min node id in the cluster. */
  def connectedComponents(edges: DataFrame, srcCol: String = "src",
                          dstCol: String = "dst",
                          maxIterations: Int = 50): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val adj = edges
      .select(col(srcCol).cast("long").as("node"),
        col(dstCol).cast("long").as("nbr"))
      .union(edges.select(col(dstCol).cast("long").as("node"),
        col(srcCol).cast("long").as("nbr")))
      .distinct()
      // scanned AND joined on `node` every round: distinct() leaves the
      // frame hash-partitioned on (node, nbr), which does NOT satisfy the
      // per-round join's node clustering — so without this repartition
      // the adjacency (the big side: 2 rows per edge) re-shuffles every
      // round. Partitioning it on the join key once before materializing
      // removes that per-round exchange outright (guide §2.4);
      // localCheckpoint preserves the partitioning across rounds.
      .transform(graft.Spread.by(_, col("node")))
      // scanned every round — materialize once; reliable-aware since
      // r20 (VERDICT r19 #3): local blocks on a single host, a RELIABLE
      // checkpoint when a checkpoint dir is set (cluster regime)
      .transform(Materialize.once(_))
    // Convergence statistic observed DURING each round's materializing
    // checkpoint action: labels are monotonically non-increasing, so an
    // unchanged Σcomponent means fixpoint, with no separate aggregate job
    // per round. Empty label sets sum to NULL, read as 0.
    def checkpointSummed(l: DataFrame): (DataFrame, java.math.BigDecimal) =
      Materialize.observed(l,
        sum(col("component").cast(DecimalType(38, 0)))) match {
        case (ck, d: java.math.BigDecimal) => (ck, d)
        case (ck, null) => (ck, java.math.BigDecimal.ZERO)
        case (_, other) => sys.error(s"observed label sum came back as $other")
      }
    // initial label = min(self, neighbors) — folds what would otherwise
    // be the whole first propagation round into the node-list aggregate
    var (labels, prev) = checkpointSummed(adj.groupBy(col("node"))
      .agg(least(col("node"), min(col("nbr"))).as("component")))
    var i = 0
    var converged = false
    while (i < maxIterations && !converged) {
      val pushed = adj.join(labels, "node")
        .select(col("nbr").as("node"), col("component"))
      val minNext = labels.union(pushed)
        .groupBy(col("node")).agg(min(col("component")).as("component"))
      // pointer-halving shortcut: a component id IS a node id, so
      // relabelling through the label's own label compresses two hops
      // into one — chains converge in O(log diameter) rounds instead of
      // O(diameter), at the cost of one extra equi-join per round
      val parents = minNext.select(col("node").as("p_node"),
        col("component").as("p_comp"))
      val (next, cur) = checkpointSummed(minNext
        .join(parents, col("component") === col("p_node"), "left")
        .select(col("node"),
          least(col("component"), coalesce(col("p_comp"), col("component")))
            .as("component")))
      converged = cur.compareTo(prev) == 0
      labels = next
      prev = cur
      i += 1
    }
    require(converged, s"connectedComponents did not converge in " +
      s"$maxIterations rounds — pathological chain graph? " +
      "(dup clusters converge in O(diameter))")
    labels
  }

  /** Canonical-keep: given near-dup candidate pairs, drop every cluster
    * member except the minimum-id one. Rows never mentioned in a pair
    * survive untouched (left-anti join against the doomed set). */
  def keepCanonical(df: DataFrame, idCol: String, pairs: DataFrame,
                    aCol: String = "a_id", bCol: String = "b_id"): DataFrame = {
    val doomed = connectedComponents(pairs, aCol, bCol)
      .filter(col("node") =!= col("component"))
      .select(col("node").as(idCol))
    df.join(doomed, Seq(idCol), "left_anti")
  }

  /** Embedding near-duplicates: cosine ≥ threshold among pairs sharing a
    * sign-LSH bucket. Same banded-join shape as MinHash LSH. */
  def embeddingNearDups(df: DataFrame, vecCol: String, idCol: String,
                        nPlanes: Int = 12, threshold: Double = 0.95): DataFrame = {
    import graft.functions.VectorFunctions._
    // hyperplane dim must match the actual vectors: a mismatch nulls every
    // projection and collapses all rows into one bucket (O(n²) blow-up)
    val dimOpt = df.filter(col(vecCol).isNotNull)
      .select(size(col(vecCol))).take(1).headOption.map(_.getInt(0))
    if (dimOpt.isEmpty) {
      return df.sparkSession.emptyDataFrame
        .select(lit(0L).as("a_id"), lit(0L).as("b_id"), lit(0.0).as("sim"))
    }
    val planes = hyperplanes(nPlanes, dimOpt.get)
    val bucketed = df.select(col(idCol).as("id"), col(vecCol).as("v"),
        lshBucket(col(vecCol), planes).as("bucket"))
      .repartition(col("id"))
    val a = bucketed.select(col("bucket"), col("id").as("a_id"), col("v").as("a_v"))
    val b = bucketed.select(col("bucket"), col("id").as("b_id"), col("v").as("b_v"))
    a.join(b, Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), cosineAuto(df.sparkSession)(col("a_v"), col("b_v")).as("sim"))
      .filter(col("sim") >= threshold)
  }

  /** Segment-level exact dedup (the paragraph-dedup stage of CCNet /
    * RefinedWeb pipelines, in the fixed-width-window form of Lee et al.
    * 2022 for text without structural paragraph breaks): chunk each
    * document into non-overlapping `width`-word segments, count each
    * distinct segment's global document frequency, and drop every
    * occurrence of segments appearing in more than `maxDocFreq` docs
    * (cross-document boilerplate), reassembling the surviving segments
    * in original order.
    *
    * Scale shape: chunking is a narrow posexplode; the doc-frequency
    * count is one shuffle on the segment text (uniformly distributed);
    * the boilerplate set is the filtered minority so the mark-join back
    * onto occurrences broadcasts under AQE; reassembly is one shuffle
    * on the doc id. Nothing touches the driver.
    *
    * Output: (idCol, n_kept, n_dropped, clean_text).
    */
  def dropBoilerplateSegments(df: DataFrame, textCol: String, idCol: String,
                              width: Int = 3, maxDocFreq: Int = 3): DataFrame = {
    // Parallelism + single-evaluation barrier (the minHashLsh repartition
    // idiom; guide §2.4/§2.5): `segs` feeds TWO consumers (the docfreq
    // count and the reassembly rollup), and without a barrier each one
    // re-runs scan → tokenize → explode — fused onto the scan, which for
    // a low-split source (one file / one row group, this corpus) is ONE
    // task. Hash-repartitioning the raw (id, text) pair on the id key
    // makes both consumers read one ReusedExchange at full parallelism,
    // and the id partitioning is preserved through Project/Generate/
    // BroadcastJoin, so the final groupBy(id) needs NO further exchange —
    // net exchanges are unchanged while the text work fans out. The
    // tokenized array is projected ONCE behind the explode instead of
    // being re-derived per reference inside the generator expression
    // (interpreted HOF evaluation does not CSE across subtrees).
    val spread = graft.Spread.by(df.select(col(idCol), col(textCol)),
      col(idCol))
    val words = graft.functions.TextFunctions.cleanTokens(col(textCol))
    val w = col("__w")
    // sequence(0, -1) would step downward, so guard empty/null docs; the
    // outer explode keeps them as a single null-segment row so no input
    // row ever silently disappears from the output
    val nSegs = floor((size(w) + lit(width - 1)) / lit(width)).cast("int")
    val segArr = when(size(w) > 0,
      transform(sequence(lit(0), nSegs - 1),
        i => array_join(slice(w, i * width + 1, lit(width)), " ")))
      .otherwise(array().cast("array<string>"))
    val segs = spread.select(col(idCol), words.as("__w"))
      .select(col(idCol),
        posexplode_outer(segArr).as(Seq("seg_idx", "seg")))
    val boiler = segs.filter(col("seg").isNotNull)
      .groupBy(col("seg"))
      .agg(countDistinct(col(idCol)).as("docfreq"))
      .filter(col("docfreq") > maxDocFreq)
      .select(col("seg"), lit(1).as("boiler"))
    segs.join(boiler, Seq("seg"), "left")
      .groupBy(col(idCol))
      .agg(
        sum(when(col("boiler").isNull && col("seg").isNotNull, 1L)
          .otherwise(0L)).as("n_kept"),
        sum(when(col("boiler").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("boiler").isNull && col("seg").isNotNull,
                struct(col("seg_idx"), col("seg"))))),
            x => x.getField("seg")),
          " ").as("clean_text"))
  }

  /** Overlapping-span duplication diagnostic — the corpus-profiling core
    * of substring-level dedup (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better": their suffix-array pass finds
    * repeated spans; at cluster scale the equivalent signal is the
    * stride-1 word `width`-gram). Unlike [[dropBoilerplateSegments]]
    * (non-overlapping segments, drop-and-reassemble) this measures, per
    * document, how many of its overlapping spans also occur in ANOTHER
    * document — the cross-document duplication profile that decides
    * whether substring dedup is worth running at all.
    *
    * Scale shape: the span explode is narrow (≈ one row per token); the
    * document-frequency count is one shuffle on the span text (uniform
    * key); the duplicated-span set is the filtered minority, marked back
    * onto positions with a LeftSemi that AQE sizes (broadcast when
    * small); the per-doc rollup shuffles on doc id. All-integer output —
    * hash-exact by construction.
    *
    * Output: (idCol, n_spans, n_dup) for EVERY input row (short docs get
    * (0,0) — no input row ever silently disappears). */
  def repeatedSpans(df: DataFrame, textCol: String, idCol: String,
                    width: Int = 5): DataFrame = {
    // Same barrier as [[dropBoilerplateSegments]]: `spans` feeds THREE
    // consumers (docfreq, the semi-join mark, the per-doc total), each of
    // which would otherwise re-run the single-task scan+tokenize+explode;
    // the id partitioning also makes both per-doc rollups exchange-free.
    val spread = graft.Spread.by(df.select(col(idCol), col(textCol)),
      col(idCol))
    val words = graft.functions.TextFunctions.cleanTokens(col(textCol))
    val w = col("__w")
    val spanArr = when(size(w) >= width,
      transform(sequence(lit(1), size(w) - lit(width - 1)),
        i => array_join(slice(w, i, lit(width)), " ")))
      .otherwise(array().cast("array<string>"))
    val spans = spread.select(col(idCol), words.as("__w"))
      .select(col(idCol), explode(spanArr).as("span"))
    val dup = spans.groupBy(col("span"))
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") >= 2)
      .select(col("span"))
    val marked = spans.join(dup, Seq("span"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_dup"))
    val total = spans.groupBy(col(idCol)).agg(count(lit(1)).as("n_spans"))
    df.select(col(idCol))
      .join(total, Seq(idCol), "left")
      .join(marked, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"))
  }

  /** Benchmark decontamination: flag training documents whose word
    * `n`-grams overlap an evaluation corpus (the train/test-overlap scrub
    * every LLM data pipeline runs before training — GPT-3 App. C / PaLM
    * style n-gram collision checks). A document is `flagged` when at least
    * `flagNum`/`flagDen` of its DISTINCT n-grams also occur anywhere in
    * the eval set; the fraction test is the integer cross-product
    * `n_hit · flagDen ≥ n_grams · flagNum` — zero FP involvement, so the
    * oracle check is exact.
    *
    * Scale shape: eval benchmarks are tiny relative to a 100 TB training
    * corpus, so the distinct eval-gram set is BROADCAST and the membership
    * probe is a map-side INNER broadcast join — only grams that actually
    * hit the eval set ever reach an exchange (the per-doc hit rollup),
    * which at a sane contamination rate is a vanishing fraction of the
    * corpus. `n_grams` itself is the narrow `size(array_distinct(...))`
    * projection — no explode, no shuffle — and the tiny hit-count side
    * broadcasts back onto it under AQE. The training corpus is never
    * shuffled wide.
    *
    * Output: (idCol, n_grams, n_hit, flagged) — one row per train doc,
    * including docs too short to have any n-gram (0, 0, false). */
  def decontaminate(train: DataFrame, eval_ : DataFrame,
                    textCol: String, idCol: String, n: Int = 3,
                    flagNum: Int = 1, flagDen: Int = 5): DataFrame = {
    def grams(df: DataFrame): DataFrame = {
      val words = graft.functions.TextFunctions.cleanTokens(col(textCol))
      df.select(col(idCol),
        when(size(words) >= n,
          array_distinct(transform(sequence(lit(0), size(words) - n),
            i => array_join(slice(words, i + 1, lit(n)), " "))))
          .otherwise(array().cast("array<string>")).as("gs"))
    }
    val evalGrams = grams(eval_).select(explode(col("gs")).as("g")).distinct()
    val hits = grams(train)
      .select(col(idCol), explode(col("gs")).as("g"))
      .join(broadcast(evalGrams), Seq("g"))
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hit"))
    grams(train)
      .select(col(idCol), size(col("gs")).cast("bigint").as("n_grams"))
      .join(hits, Seq(idCol), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"))
      .select(col(idCol), col("n_grams"), col("n_hit"),
        (col("n_hit") * flagDen.toLong >= col("n_grams") * flagNum.toLong &&
          col("n_grams") > 0L).as("flagged"))
  }

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): cluster-confined
    * embedding dedup — assign every vector to its nearest centroid, then
    * WITHIN each cell drop any vector that has a lower-id neighbor with
    * cosine ≥ `threshold` (the paper keeps one representative per
    * semantic near-duplicate group; min-id is the deterministic choice).
    *
    * Scale shape: this is the whole point of the method — the candidate
    * pair join is confined to a cell (equi-join on `cell`), never the
    * corpus cross product; at 100 TB the cell count scales with the
    * corpus so per-cell membership stays bounded. Assignment is the
    * shared [[Similarity.assignCells]] path (narrow literal argmin up to
    * maxLiteralCells, broadcast-join beyond). Determinism: cosine is the
    * same left-to-right double fold both engines compute bit-identically
    * (e1/e2-proven), so the ≥-threshold set is exact.
    *
    * Output: (vec_id, cell, keep BOOLEAN) — every input row appears. */
  def semDedup(corpus: DataFrame, centroids: Seq[Seq[Double]],
               threshold: Double, idCol: String = "vec_id",
               maxLiteralCells: Int = 128): DataFrame = {
    val spark = corpus.sparkSession
    val assigned = graft.operators.Similarity
      .assignCells(corpus, centroids, maxLiteralCells)
      .select(col("cell"), col("n_id").as(idCol), col("n_emb").as("emb"))
    val a = assigned.select(col("cell"), col(idCol).as("a_id"),
      col("emb").as("a_emb"))
    val b = assigned.select(col("cell"), col(idCol).as("b_id"),
      col("emb").as("b_emb"))
    val dominated = a.join(b, Seq("cell"))
      .filter(col("b_id") < col("a_id"))
      .filter(graft.functions.VectorFunctions
        .cosineAuto(spark)(col("a_emb"), col("b_emb")) >= threshold)
      .select(col("a_id").as(idCol)).distinct()
    assigned.select(col(idCol), col("cell"))
      .join(dominated.withColumn("_drop", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("cell"), col("_drop").isNull.as("keep"))
  }
}

package graft

import graft.PlanShapes._
import org.apache.spark.sql.execution.QueryExecution

/** Every registered query runs at sf0.001 and produces a sane result;
  * the flagship entry produces rows (the driver's smoke check); the plan
  * gates keep every query, and every step its builder runs, in shapes
  * that survive scale. */
class QueriesSmokeSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private val catalog = SparkEntry.queries.toSeq.sortBy(_._1)

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registry size matches the documented README count") {
    // r4 and r5 both shipped a stale README count; parse the README so
    // the doc and the registry CANNOT drift independently again
    val readme = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("README.md")), java.nio.charset.StandardCharsets.UTF_8)
    val m = """\((\d+) query defs = (\d+) registered outputs""".r.findFirstMatchIn(readme)
    assert(m.isDefined, "README no longer documents the query count in the " +
      "'(N query defs = M registered outputs' form")
    val documented = m.get.group(2).toInt
    assert(SparkEntry.queries.size == documented,
      s"README documents $documented registered outputs but SparkEntry has " +
        s"${SparkEntry.queries.size} — update README.md (all 3 count sites)")
  }

  test("source lint: no .persist() inside a for/while loop (q558/q602 " +
    "landmine — per-round persists stack nested persisted AQE frames " +
    "whose onUpdatePlan explain render grows combinatorially; iterative " +
    "round frames must use localCheckpoint(true) instead)") {
    import scala.jdk.CollectionConverters._
    // a loop: for/while, or a block passed to map/foreach/flatMap/foldLeft
    val loopOpen = """\b(for|while)\s*\(|\.(map|foreach|flatMap|foldLeft)\b""".r
    val offenders = scala.collection.mutable.ListBuffer[String]()
    val root = java.nio.file.Paths.get("src/main/scala")
    java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .foreach { p =>
        val lines = java.nio.file.Files.readAllLines(p).asScala
        var depth = 0
        val loopDepths = scala.collection.mutable.Stack[Int]()
        for ((l, i) <- lines.zipWithIndex) {
          val isLoop = loopOpen.findFirstIn(l).isDefined && l.contains("{")
          if (isLoop) loopDepths.push(depth + 1)
          depth += l.count(_ == '{') - l.count(_ == '}')
          while (loopDepths.nonEmpty && depth < loopDepths.top) loopDepths.pop()
          if (l.contains(".persist()") && loopDepths.nonEmpty)
            offenders += s"$p:${i + 1}"
        }
      }
    assert(offenders.isEmpty,
      s"persist() inside an iteration loop — use localCheckpoint(true) " +
        s"(the q691/q701 discipline): ${offenders.mkString(", ")}")
  }

  test("source lint: GraftAggregate is the one TypedImperativeAggregate and " +
    "GraftKernel the one RuntimeReplaceable (aggregates and kernels are declared, " +
    "not hand-written Catalyst expressions)") {
    import scala.jdk.CollectionConverters._
    val allowed = Map(
      "TypedImperativeAggregate" -> "GraftAggregate", "RuntimeReplaceable" -> "GraftKernel")
    val extension = """\b(?:extends|with)\s+(TypedImperativeAggregate|RuntimeReplaceable)\b""".r
    val definition = """\b(?:class|object|trait)\s+(\w+)""".r
    val found = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap { p =>
        val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        extension.findAllMatchIn(text).map { m =>
          val owner = definition.findAllMatchIn(text.take(m.start)).toSeq.lastOption
            .fold("?")(_.group(1))
          (m.group(1), owner, s"$p: $owner")
        }
      }
    val offenders = found.filterNot { case (base, owner, _) => allowed(base) == owner }
    assert(offenders.isEmpty, "declare aggregates as AggregateDeclarations and kernels " +
      s"with expressions.kernel: ${offenders.map(_._3).mkString(", ")}")
    assert(found.map(f => f._1 -> f._2).sorted == allowed.toSeq.sorted,
      s"expected exactly ${allowed.values.mkString(" and ")}, found ${found.map(_._3)}")
  }

  test("source lint: no 8 consecutive code lines repeat in src/main/scala (a " +
    "pipeline two queries share is one builder both call)") {
    import scala.jdk.CollectionConverters._
    val window = 8
    // SQL text is blanked (line count kept); comments, imports, blank
    // lines, lines opening with a closing or opening bracket, and lines
    // of 3 characters or fewer are no code lines; whitespace collapses
    val tripleQuoted = "(?s)\"\"\".*?\"\"\"".r
    val skipped = Seq("//", "*", "/**", "import", "}", "{", ")")
    val codeLines = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      .iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.sortBy(_.toString)
      .map { p =>
        val text = tripleQuoted.replaceAllIn(
          new String(java.nio.file.Files.readAllBytes(p), "UTF-8"),
          m => "\n" * m.matched.count(_ == '\n'))
        p -> text.split("\n", -1).toSeq.zipWithIndex
          .map { case (l, i) => (l.trim, i + 1) }
          .filter { case (l, _) => l.length > 3 && !skipped.exists(l.startsWith) }
          .map { case (l, i) => (l.split("\\s+").mkString(" "), i) }
      }
    val at = scala.collection.mutable.LinkedHashMap[Seq[String], Vector[String]]()
    for ((p, lines) <- codeLines; k <- 0 to lines.length - window) {
      val key = lines.slice(k, k + window).map(_._1)
      at(key) = at.getOrElse(key, Vector.empty) :+ s"$p:${lines(k)._2}"
    }
    val repeats = at.values.filter(_.size > 1).toSeq
    if (repeats.nonEmpty) fail(s"${repeats.size} windows of $window code lines repeat; " +
      "fold each into one builder its queries call: " +
      repeats.take(10).map(_.mkString(" = ")).mkString("; "))
  }

  test("every query has oracle SQL or is explicitly rows-only") {
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  test("select: no names selects the whole catalog in name order") {
    assert(SparkEntry.select(Nil).map(_._1) == SparkEntry.queries.keySet.toSeq.sorted)
  }

  test("select: named queries come back as given") {
    val names = Seq("q12_tpch_q3_shipping_priority", "q01_windowed_agg_sliding")
    assert(SparkEntry.select(names).map(_._1) == names)
  }

  test("select: an unknown name fails and the error names it") {
    val e = intercept[IllegalArgumentException] {
      SparkEntry.select(Seq("q01_windowed_agg_sliding", "q_typo"))
    }
    assert(e.getMessage.contains("q_typo"))
  }

  for ((name, fn) <- catalog) {
    test(s"$name runs at sf0.001") {
      val df = fn(spark, sfDir)
      assert(df.columns.nonEmpty)
      val empty = df.count() == 0
      assert(empty == sanctions.contains((name, Empty)),
        if (empty) s"$name returned 0 rows"
        else s"$name: stale sanction, returns rows at sf0.001")
    }
  }

  /** A shape the plan gates reject unless the table sanctions it for the
    * query. `Cartesian` and `ExprBomb` are never sanctioned. */
  private sealed abstract class Rule(val shape: String)
  private case object Empty extends Rule("empty result at sf0.001")
  private case object Eager extends Rule("jobs in warm construction")
  private case object Cached extends Rule("cache entry left by warm construction")
  private case object CrossJoin extends Rule("BroadcastNestedLoopJoin")
  private case object GlobalWindow extends Rule("partition-less Window")
  private case object BroadcastKeyedWindow extends Rule("Window keyed only by broadcast-side columns")
  private case object GeneratorKeyedWindow extends Rule("Window keyed only by generator outputs")
  private case object Cartesian extends Rule("CartesianProduct")
  private case object ExprBomb extends Rule("expression tree over 4000 nodes")

  private def shapes(qe: QueryExecution): Set[Rule] = {
    val plan = qe.optimizedPlan
    val physical = qe.executedPlan.toString
    Set[(Rule, Boolean)](
      Cartesian -> physical.contains("CartesianProduct"),
      CrossJoin -> physical.contains("BroadcastNestedLoopJoin"),
      GlobalWindow -> (globalWindows(plan) > 0),
      BroadcastKeyedWindow -> (keyedWindows(plan, broadcastSide) > 0),
      GeneratorKeyedWindow -> (keyedWindows(plan, generatorOutput) > 0),
      ExprBomb -> (maxExpressionNodes(plan) > 4000)).collect { case (r, true) => r }
  }

  /** The shapes each query shows, in its construction steps or its final
    * plan, from two construction passes of the catalog; both plan gates
    * below judge this one record. */
  private lazy val shown: Map[String, Set[Rule]] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val steps = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val recorder = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(action: String, qe: QueryExecution, ns: Long): Unit = steps.add(qe)
      override def onFailure(action: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val counter = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val seen = scala.collection.mutable.Map[String, Set[Rule]]().withDefaultValue(Set.empty)
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val cache = session.sharedState.cacheManager
    // every action a builder ran (memo builds, eager checkpoints, driver
    // collects) has reached the recorder once the bus is drained. The
    // cache starts empty, so no action reads another query's cached frame
    // (an InMemoryRelation is a leaf the detectors cannot look into).
    def construct(name: String) = {
      spark.catalog.clearCache()
      val df = SparkEntry.queries(name)(spark, sfDir)
      org.apache.spark.TestBus.drain(spark.sparkContext)
      seen(name) ++= Iterator.continually(steps.poll()).takeWhile(_ != null).flatMap(shapes)
      df
    }
    spark.listenerManager.register(recorder)
    spark.sparkContext.addSparkListener(counter)
    try {
      // cold pass: each memo build is recorded under the first query, in
      // name order, that needs it
      CkptMemo.invalidateAll()
      for ((name, _) <- catalog) construct(name)
      // warm pass: memos and table relations are cached, so a job here
      // is an eager step of the builder itself, and a cache entry is one
      // the builder left. The final plan is planned after the cache is
      // cleared, so the detectors see what each persisted frame holds.
      for ((name, _) <- catalog) {
        val before = jobs.get()
        val df = construct(name)
        if (jobs.get() > before) seen(name) += Eager
        if (!cache.isEmpty) seen(name) += Cached
        spark.catalog.clearCache()
        seen(name) ++= shapes(session.sessionState.executePlan(df.queryExecution.logical))
      }
    } finally {
      spark.listenerManager.unregister(recorder)
      spark.sparkContext.removeSparkListener(counter)
    }
    seen.toMap.withDefaultValue(Set.empty)
  }

  /** Fails on a shape among `rules` that the table does not sanction for
    * the query, and on an entry among `rules` whose query no longer shows
    * its shape. */
  private def gate(rules: Set[Rule]): Unit = {
    val unsanctioned = for ((q, rs) <- shown.toSeq; r <- rs
      if rules(r) && !sanctions.contains((q, r))) yield s"$q: unsanctioned ${r.shape}"
    val stale = for ((q, r) <- sanctions.keys.toSeq if rules(r) && !shown(q)(r))
      yield s"$q: stale sanction, no longer shows ${r.shape}"
    val failures = (unsanctioned ++ stale).sorted
    if (failures.nonEmpty) fail(failures.mkString("; ") + " — rewrite the query, " +
      "or add (with its row bound) or delete its entry in the sanction table")
  }

  test("query constructors are lazy: warm construction launches zero jobs") {
    gate(Set(Eager, Cached))
  }

  test("plan hygiene: no cartesian products, no unsanctioned nested loops, " +
    "no unsanctioned partition-less, broadcast-keyed, or generator-keyed " +
    "windows, no expression compile bombs") {
    gate(Set(Cartesian, CrossJoin, GlobalWindow, BroadcastKeyedWindow,
      GeneratorKeyedWindow, ExprBomb))
  }

  test("generator-keyed window canary: the unsharded posting-list form IS " +
    "detected, the sharded q657 is not") {
    // gap windows partitioned by the bare exploded token (one hot
    // stop-word = one corpus-sized partition); varintPostingCensus(width
    // <= 0) builds that shape on purpose
    def flagged(width: Long) = keyedWindows(graft.queries.EncodingPlanQueries
      .varintPostingCensus(spark, sfDir, shardWidth = width).queryExecution.optimizedPlan,
      generatorOutput)
    assert(flagged(0L) > 0,
      "the generator-keyed-window detector failed to flag the unsharded " +
        "posting-list window — the plan gate would be blind")
    // the in-shard window's (token, doc_id div S) key is mixed and must
    // pass; the stitch window runs per token over the per-(token, shard)
    // SUMMARY aggregate — corpus/S rows per partition — which the
    // detector still flags by design (q657's sanction carries that bound)
    assert(flagged(4096L) == 1)
  }

  test("window gate canary: a corpus-sized global window IS detected") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val canary = Tables.documents(spark, sfDir)
      .withColumn("rk", row_number().over(Window.orderBy(col("doc_id"))))
    assert(globalWindows(canary.queryExecution.optimizedPlan) == 1,
      "the partition-less-window detector failed to flag a deliberate " +
        "corpus-sized row_number — the plan gate would be blind")
  }

  test("broadcast-keyed window canary: a 5-probe corpus window IS detected") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // the round-6 q589 shape: corpus × broadcast probe panel, then a
    // window partitioned ONLY by the probe id — 5 partitions, each
    // corpus-sized
    val probes = Tables.embeddings(spark, sfDir)
      .filter(col("vec_id") < 5).select(col("vec_id").as("pid"))
    def flagged(key: String) = keyedWindows(Tables.embeddings(spark, sfDir)
      .crossJoin(broadcast(probes))
      .withColumn("rk", row_number().over(Window.partitionBy(col(key)).orderBy(col("vec_id"))))
      .queryExecution.optimizedPlan, broadcastSide)
    assert(flagged("pid") == 1,
      "the broadcast-keyed-window detector failed to flag a deliberate " +
        "probe-partitioned corpus window — the round-6 escape would recur")
    assert(flagged("label") == 0,
      "the broadcast-keyed-window detector must not flag stream-side keys")
  }

  test("expression-bomb canary: an exponential CASE fold IS detected") {
    import org.apache.spark.sql.functions._
    // the round-6 q547 shape: a fold that embeds the accumulator in BOTH
    // branches — 2¹⁰ leaves after ten levels
    val chain = (0 until 10).foldLeft("CAST(1000000 AS BIGINT)") { (acc, i) =>
      s"(CASE WHEN nc % ${1L << (i + 1)} >= ${1L << i} " +
        s"THEN ($acc * 999) div 1000 ELSE $acc END)"
    }
    val canary = Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("nc")).withColumn("bomb", expr(chain))
    assert(maxExpressionNodes(canary.queryExecution.optimizedPlan) > 4000,
      "the expression-node counter failed to flag a deliberate " +
        "2^10-leaf CASE fold — the compile-bomb gate would be blind")
  }

  // ---- oracle-text budget (round 8) ----
  // The 4,000-node expression budget watches Spark's OPTIMIZED plan only;
  // round 6's q547 compile bomb was mirrored in its DuckDB oracle SQL,
  // which that gate cannot see. DuckDB parses/binds the oracle from
  // scratch per driver run, so an oracle whose TEXT blows up (an
  // expanded exponential fold, a generated mega-CASE) is the same defect
  // class on the other engine. 64 KB is ~4x the largest legitimate
  // oracle (q566's unrolled bootstrap-replicate chain, ~16 KB).
  private val OracleTextBudget = 64 * 1024

  test("oracle-text budget: no oracle SQL exceeds 64 KB") {
    val offenders = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .filter(_._2.length > OracleTextBudget)
      .map { case (n, sql) => s"$n (${sql.length} chars)" }
    assert(offenders.isEmpty,
      s"oracle SQL over the ${OracleTextBudget / 1024} KB text budget — " +
        s"likely a generated expression bomb the plan gate can't see: " +
        offenders.mkString(", "))
  }

  test("oracle-text budget canary: an expanded exponential fold IS over budget") {
    // the q547 bomb as DuckDB text: each level textually embeds the
    // previous level TWICE, so ten levels is ~2^10 copies of the seed —
    // exactly what an LLM "fixing" a fold by inlining would emit
    val bomb = (0 until 10).foldLeft("CAST(o_totalprice AS BIGINT)") { (acc, i) =>
      s"(CASE WHEN o_orderkey % ${1L << (i + 1)} >= ${1L << i} " +
        s"THEN ($acc * 999) // 1000 ELSE $acc END)"
    }
    val canarySql = s"SELECT $bomb AS v FROM orders"
    assert(canarySql.length > OracleTextBudget,
      "the canary bomb no longer exceeds the budget — the gate's " +
        "threshold or the canary's construction drifted")
  }

  // ---- the sanction table: one entry per (query, rule), with its bound.
  // A bound argues why the sanctioned shape touches bounded rows at every
  // scale factor: the broadcast side of a nested loop, the rows under a
  // partition-less window or under each partition of a keyed one, the
  // size of what an eager step materialises. The gate fails on a shape
  // no entry covers and on an entry whose query no longer shows it.
  private def sanction(rule: Rule, bound: String)(queries: String*) =
    queries.map((_, rule, bound))

  /** A `Cached` entry for a lazy persist, with the builder's measured
    * seconds with it and without it (the cache cleared between
    * construction and execution, which runs the plan the persist-free
    * builder would). */
  private def persistPays(query: String, withS: Double, withoutS: Double) =
    sanction(Cached, f"the persist pays: $withS%.3f s with it, $withoutS%.3f s without")(query)

  // Bounds shared by several entries, each checked against the query's
  // plans: the broadcast side's maxRows, the window input's grouping keys.
  private val OneRowBroadcast = "every broadcast side is a one-row global aggregate (a total, " +
    "threshold, mean or anchor row; Catalyst's maxRows for it is 1), so the nested loop is " +
    "linear in the stream side"
  private val ValueHistogram = "the window runs over a value-resolution histogram (one row per " +
    "quantized score, cent value, length or bin), never over corpus rows"
  private val Vocabulary = "the window runs over a vocabulary-sized aggregate (one row per " +
    "distinct token, term, level or event type)"
  private val Calendar = "the window runs over a calendar-sized series (one row per day, week, " +
    "month or period bucket)"
  private val DimensionAggregate = "the window runs over a keyed aggregate no larger than a " +
    "dimension table (one row per customer, supplier, part, source, nation or bucket)"
  private val LimitedInput = "every partition-less window runs over a limit's or a literal " +
    "range's output: at most k rows, as Catalyst's maxRows proves"

  private val sanctions: Map[(String, Rule), String] = {
    val entries = Seq(
      // ---- Empty
      sanction(Empty, "a single (nation₁, nation₂) trade pair over two ship years is legitimately " +
        "absent from sf0.001's ~600 orders")("q361_tpch_q7_volume_shipping"),
      sanction(Empty, "sf0.001's 10 suppliers form a near-complete co-supply graph — there may be " +
        "no non-edge left to predict")("q386_link_prediction_jaccard"),
      sanction(Empty, "shares q386's candidate machinery (hub-capped common neighbors, anti-joined " +
        "against existing edges) — same emptiness")("q699_resource_allocation_links"),
      // ---- Eager
      sanction(Eager, "collects the k IVF centroids to the driver: the index build, k rows")(
        "q32_ivf_ann_topk", "q74_semantic_dedup", "q113_hard_negative_mining",
        "q137_cluster_purity", "q170_ivf_recall_sweep"),
      sanction(Eager, "runs connected components to a fixpoint over the near-duplicate pair edges, " +
        "one localCheckpoint per round")(
        "q56_dup_clusters", "q157_dup_weight", "q172_dup_split_leakage",
        "q666_dedup_pipeline_census"),
      sanction(Eager, "runs PageRank rounds over the supplier co-supply edge list, one " +
        "localCheckpoint per round")("q75_pagerank_cosupply"),
      sanction(Eager, "aggregates the bloom filter, a fixed-size bit array, on the build side")(
        "q57_bloom_semi_join"),
      sanction(Eager, "takes the one-row corpus size")("q44_tfidf_top_terms"),
      sanction(Eager, "writes the file it then reads back: the round trip through the format is " +
        "what the query checks")(
        "q34_csv_source_roundtrip", "q34_json_source_roundtrip", "q34_orc_source_roundtrip"),
      sanction(Eager, "q374/q395 localCheckpoint the (bounded, ≤ 7×7-row) transition table so the " +
        "8-step unrolled iterations scan events exactly once")(
        "q374_markov_removal_attribution", "q395_markov_stationarity"),
      sanction(Eager, "localCheckpoints the ten-row knapsack item table so the ten unrolled DP " +
        "steps never rescan documents")("q402_knapsack_source_budget"),
      sanction(Eager, "localCheckpoints its edge list (q75's pattern) so the unrolled HITS rounds " +
        "never rebuild the join, and each round's normalized authority vector (supplier-sized, " +
        "3 rounds) so round r never embeds round 1's subtree")("q415_hits_hub_authority"),
      sanction(Eager, "runs q56's iterate-to-fixpoint connected components on the bounded " +
        "percolated backbone (localCheckpoint per round)")("q592_percolation_robustness"),
      sanction(Eager, "builds the IVF index (centroid collect, the q32 pattern)")(
        "q466_ivf_cell_balance"),
      sanction(Eager, "collects the bounded 20-candidate MMR grid (the q32 centroid-collect " +
        "pattern) and greedily selects on the driver")("q484_mmr_diversified_retrieval"),
      sanction(Eager, "localCheckpoints the ≤ |brands|² duel table so the 3 unrolled Bradley-Terry " +
        "rounds never rescan lineitem")("q497_bradley_terry_arena"),
      sanction(Eager, "localCheckpoints each peeling round: its adaptive density bar is a scalar " +
        "broadcast per round, and Spark's eager broadcast futures would otherwise recompute every " +
        "uncached round lineage concurrently (measured 26 s -> ~3 s at sf0.1)")(
        "q691_densest_subgraph_peel"),
      sanction(Eager, "localCheckpoints the 8-row view-size lattice so the full-lineitem cube pass " +
        "runs once, not once per downstream reference")("q689_view_selection_exact"),
      sanction(Eager, "checkpoints the ≤625-row nation edge set + each closure doubling")(
        "q700_scc_bowtie"),
      sanction(Eager, "checkpoints each node-sized BFS round — nested persisted AQE plans made " +
        "AQE's per-stage explain render combinatorially expensive (measured 700+ s driver CPU)")(
        "q701_two_sweep_diameter"),
      sanction(Eager, "persist-in-loop retrofits (the q558 landmine sweep): each iterative round " +
        "frame moved from .persist() to localCheckpoint(true) — q558's 4 edge-peeling rounds, " +
        "q600's 3 walk-vector rounds, q602/q427's 3 BFS relaxation rounds, and q477/q489's 3 " +
        "vocabulary-sized BPE merge rounds. All per-round frames are dimension-bounded " +
        "(node/vocab-sized), never corpus")(
        "q558_kcore_peeling", "q600_katz_centrality", "q602_harmonic_closeness_landmarks",
        "q427_landmark_bfs_layers", "q477_bpe_merge_rounds", "q489_merge_transfer_eval"),
      sanction(Eager, "localCheckpoints the <=625-cell trade matrix so the top-4 selections and " +
        "the 24-permutation scoring never re-run the orders||lineitem fact join")(
        "q738_dedicated_lane_assignment"),
      sanction(Eager, "reads documents.parquet directly (the _metadata column is the point; " +
        "Tables' cached reader cannot expose it), so each construction fires the file-listing job " +
        "of that one file")("q728_file_provenance_metadata"),
      sanction(Eager, "stat.crosstab is an eager API by design: it returns a materialized local " +
        "pivot of a 3×2 grid")("q732_crosstab_contingency"),
      sanction(Eager, "SET VAR binds a data-derived parameter — the one-row threshold fold runs " +
        "when the variable is assigned, which IS the construction step of a parameterized EXECUTE " +
        "IMMEDIATE")("q753_execute_immediate_params"),
      sanction(Eager, "localCheckpoints the 12-row monthly demand table before the recursion — " +
        "Spark's recursive step re-executes its subtree per iteration, so an inline demand CTE " +
        "re-scans the fact table 12×")("q745_recursive_inventory_sim"),
      sanction(Eager, "localCheckpoints each level's surviving key set (the 4-level unrolled peel " +
        "— bounded, keys shrink geometrically)")("q756_bbhash_level_census"),
      sanction(Eager, "localCheckpoints the ≤10-row dual length histogram — the ONE corpus scan " +
        "both Sinkhorn vector chains read (6+ references; without the eager checkpoint each " +
        "reference re-scans + re-explodes the documents table)")("q755_sinkhorn_length_transport"),
      sanction(Eager, "localCheckpoints each doubled map (5 rounds, key-domain bounded — the " +
        "pointer-doubling frames)")("q759_pointer_doubling_contraction"),
      // ---- Cached: a lazy persist stays only where its builder measured
      // more than 5% slower without it (medians of 10 alternating pairs
      // at sf0.1 on 4 vCPUs, construction through a noop write)
      persistPays("q88_basket_lift", 1.667, 1.773),
      persistPays("q89_timeseries_similarity", 0.509, 0.587),
      persistPays("q92_segment_dedup", 0.805, 1.126),
      persistPays("q93_oov_bigram_quality", 0.950, 1.006),
      persistPays("q139_norm_outliers", 0.629, 0.675),
      persistPays("q147_reference_calibration", 0.419, 0.448),
      persistPays("q148_weekly_drift", 0.915, 1.116),
      persistPays("q354_t_closeness", 1.106, 1.642),
      persistPays("q410_v_optimal_histogram", 1.173, 1.572),
      persistPays("q412_successive_halving", 1.134, 1.274),
      persistPays("q420_haar_synopsis", 0.414, 0.469),
      persistPays("q421_lead_lag_xcorr", 0.869, 0.970),
      persistPays("q443_histogram_selectivity_qerror", 0.756, 0.807),
      persistPays("q456_online_agg_convergence", 0.981, 1.105),
      persistPays("q467_bandit_replay_ope", 0.943, 1.091),
      persistPays("q510_tail_hedging_policy", 0.917, 1.545),
      persistPays("q515_replica_placement_plan", 0.318, 0.335),
      persistPays("q519_fanout_tail_amplification", 0.315, 0.344),
      persistPays("q564_degree_mixing_matrix", 0.614, 0.786),
      persistPays("q572_maxsim_late_interaction", 0.191, 0.236),
      persistPays("q584_conformal_coverage_audit", 0.420, 0.473),
      persistPays("q588_confounded_logging_audit", 0.681, 1.028),
      persistPays("q598_nearest_centroid_confusion", 0.446, 0.472),
      persistPays("q616_synthetic_control_grid", 0.438, 0.482),
      persistPays("q627_pruning_class_drift", 0.697, 0.938),
      persistPays("q638_pairwise_difference_scale", 0.747, 0.857),
      persistPays("q643_cronbach_alpha", 0.388, 0.465),
      persistPays("q644_bland_altman_agreement", 0.532, 0.719),
      persistPays("q663_blomqvist_beta", 0.601, 0.801),
      persistPays("q688_blocking_quality_audit", 0.510, 0.615),
      // q590/q601: Backbone.orientByDegree's persist (Backbone.triangles reads it 3 times)
      persistPays("q590_local_clustering_census", 3.461, 6.879),
      persistPays("q601_ktruss_support_census", 0.767, 0.868),
      sanction(Cached, "its construction-time localCheckpoint rounds (connected components, " +
        "k-core peeling, walk and BFS relaxation) all read the persisted edge list")(
        "q172_dup_split_leakage", "q558_kcore_peeling", "q600_katz_centrality",
        "q602_harmonic_closeness_landmarks", "q701_two_sweep_diameter"),
      sanction(Cached, "the construction-time collect of the MMR grid reads the persisted " +
        "20-candidate frame")("q484_mmr_diversified_retrieval"),
      // ---- CrossJoin
      sanction(CrossJoin, "zips each source's share map against the broadcast ONE-ROW global share " +
        "map")("q733_map_lang_drift"),
      sanction(CrossJoin, "folds the vocab against the broadcast one-row corpus total")(
        "q740_shannon_code_budget"),
      sanction(CrossJoin, "crosses the ≤40-row band census against the broadcast ONE-ROW total for " +
        "the share denominator")("q751_sql_udf_band_census"),
      sanction(CrossJoin, "crosses the ≤5-row band census against the broadcast ONE-ROW " +
        "candidate/point totals")("q752_grid_neighbor_join"),
      sanction(CrossJoin, "fans the scan out over the broadcast 4-row hash-multiplier grid (the " +
        "sketch build) and crosses two one-row totals at the end")("q754_cms_join_size_estimate"),
      sanction(CrossJoin, "crosses each level's key set against its broadcast one-row count (the " +
        "bin-domain scalar) and the final one-row leftover")("q756_bbhash_level_census"),
      sanction(CrossJoin, "builds the 10×10 kernel grid as a literal range cross")(
        "q755_sinkhorn_length_transport"),
      sanction(CrossJoin, "crosses the 10 gold-label rows against the one-row global P/R/F1")(
        "q758_bcubed_clustering_eval"),
      sanction(CrossJoin, "crosses the key domain against its one-row count")(
        "q759_pointer_doubling_contraction"),
      sanction(CrossJoin, OneRowBroadcast)(
        "q216_survival_life_table", "q64_quality_threshold", "q72_time_decay",
        "q82_decile_binning", "q88_basket_lift", "q102_int8_quantization",
        "q107_negative_sampling", "q111_cooccurrence_lift", "q112_range_partition_plan",
        "q115_event_funnel", "q120_ks_two_sample", "q122_vocab_coverage",
        "q124_target_encoding", "q133_join_blowup_audit", "q134_conversion_latency",
        "q135_dup_size_histogram", "q136_temperature_allocation", "q139_norm_outliers",
        "q146_robust_outliers", "q147_reference_calibration", "q151_dow_seasonality",
        "q152_gini_split_quality", "q153_churn_overdue", "q159_token_budget_plan",
        "q166_source_keyness", "q172_dup_split_leakage", "q175_recency_weights",
        "q231_temporal_split_leakage", "q233_state_size_plan", "q240_did_analysis",
        "q244_uplift_by_decile", "q249_funnel_conversion_windows", "q256_int8_roundtrip_error",
        "q258_lsh_transitivity", "q259_dow_effect_size", "q266_shrunk_return_rates",
        "q270_langid_kappa", "q271_kcore_decomposition", "q274_pmi_collocations",
        "q276_growth_accounting", "q280_kneser_ney_continuation", "q283_tf_saturation_ranking",
        "q289_cardinality_estimation_audit", "q290_scalar_kmeans_codebook",
        "q292_cascade_delete_plan", "q293_pca_power_iteration", "q294_catalog_freshness",
        "q300_curation_funnel_v2", "q313_panel_balance", "q314_keyspace_density",
        "q320_tpch_q22_dormant_capital", "q326_lambda_feature_ranking", "q329_knn_modularity",
        "q331_zonemap_skip_audit", "q332_cuped_variance_reduction", "q333_group_kfold_audit",
        "q334_kaplan_meier", "q339_chisq_residuals", "q343_loo_source_ablation",
        "q350_horvitz_thompson", "q352_pinball_eval", "q353_james_stein_shrinkage",
        "q355_lm_learning_curve", "q357_ratio_tree_decomposition",
        "q364_tpch_q11_important_stock", "q372_rle_layout_plan",
        "q374_markov_removal_attribution", "q378_cluster_keyword_labels",
        "q383_runs_test_daily_revenue", "q387_gram_coverage_curve", "q390_best_campaign_window",
        "q394_bpe_merge_step", "q395_markov_stationarity", "q397_unigram_sampling_table",
        "q398_disparate_impact_audit", "q403_shard_packing_bounds"),
      sanction(CrossJoin, "the broadcast side is the one query vector, picked by key (vec_id 0)")(
        "q25_knn_bruteforce", "q173_dim_truncation_recall"),
      sanction(CrossJoin, "the broadcast side is the one query vector (vec_id 0), crossed with the " +
        "corpus and with the k centroids")("q32_ivf_ann_topk", "q170_ivf_recall_sweep"),
      sanction(CrossJoin, "the broadcast sides are the one-row day-span scalar and the query " +
        "user's daily series (one row per day)")("q89_timeseries_similarity"),
      sanction(CrossJoin, "the broadcast side is the one-row latest-order-date anchor")(
        "q116_rfm_segmentation"),
      sanction(CrossJoin, "the broadcast sides are the one-row token total and the per-source " +
        "totals (one row per source)")("q118_source_drift_tv"),
      sanction(CrossJoin, "the broadcast sides are the one-row grand total and the per-source " +
        "column totals (one row per source)")("q119_chi_square_independence"),
      sanction(CrossJoin, "the broadcast sides are the one-row token total and the 4-row literal " +
        "cutoff grid")("q145_oov_rate_by_cutoff"),
      sanction(CrossJoin, "the broadcast side is the 4-row literal k grid")("q149_k_anonymity"),
      sanction(CrossJoin, "the broadcast sides are the one query vector and the one query " +
        "timestamp, each picked by key")("q174_hybrid_rrf", "q189_rbo_rank_agreement"),
      sanction(CrossJoin, "the per-brand aggregate (about 25 brands) is self-joined by `<`: " +
        "O(brands²) rows, whatever the corpus size")("q224_rank_concordance"),
      sanction(CrossJoin, "the broadcast side is the query panel, a fixed budget of vectors (not a " +
        "fraction of the corpus), crossed with one corpus scan")("q235_map_at_10"),
      sanction(CrossJoin, "the broadcast side is the per-source KMV sketch table (one row per " +
        "source)")("q239_kmv_intersection"),
      sanction(CrossJoin, "the broadcast side is the benchmark set, every 25th vector: here 4% of " +
        "the corpus, so the cross grows quadratically with it; a deployment checks against a " +
        "fixed external benchmark set")("q272_semantic_decontamination"),
      sanction(CrossJoin, "the broadcast side is the 256-row shard ring")(
        "q312_consistent_hash_balance"),
      sanction(CrossJoin, "the broadcast side is the one median-of-means row, picked by rank")(
        "q336_median_of_means"),
      sanction(CrossJoin, "the broadcast sides are one-row threshold aggregates (grouped by a " +
        "literal)")("q342_mean_excess_tail"),
      sanction(CrossJoin, "the broadcast side is the 10-row class range")("q354_t_closeness"),
      sanction(CrossJoin, "the broadcast side is the 64-query panel (the hash-smallest vec_ids), " +
        "crossed with one corpus scan")("q373_dcg_retrieval_eval"),
      sanction(CrossJoin, "the broadcast sides are one-row totals and the cap row of each literal " +
        "(budget, k) pair")("q380_water_filling_quota"),
      sanction(CrossJoin, "the broadcast sides are the one-row rank positions and their located " +
        "bins")("q381_median_order_stat_ci"),
      sanction(CrossJoin, "the broadcast sides are one-row totals and the ten-row checkpointed " +
        "knapsack item table")("q402_knapsack_source_budget"),
      sanction(CrossJoin, "the PAV triple join runs on ≤ 11 discount bins")(
        "q405_isotonic_return_curve"),
      sanction(CrossJoin, "the m/u denominators are one-row scalar aggregates")(
        "q406_fellegi_sunter_weights"),
      sanction(CrossJoin, "the broadcast side is the one-row positive/negative totals")(
        "q407_roc_curve"),
      sanction(CrossJoin, "the broadcast side is the one-row base rate and test count")(
        "q408_brier_decomposition"),
      sanction(CrossJoin, "DP interval/level joins run on a ≤ 32-row histogram")(
        "q410_v_optimal_histogram"),
      sanction(CrossJoin, "horizon origin is a one-row broadcast")("q412_successive_halving"),
      sanction(CrossJoin, "six HITS max-normalizers are one-row broadcast scalars")(
        "q415_hits_hub_authority"),
      sanction(CrossJoin, "q416's corpus stats / q417's totals and k_max are one-row broadcast " +
        "scalars")("q416_bm25_ranking", "q417_bh_fdr_control"),
      sanction(CrossJoin, "joins 64-hash sketch rows (|sources|², vocabulary-sized)")(
        "q418_kmv_containment"),
      sanction(CrossJoin, "q420's day-zero origin and q421's best-lag max are one-row broadcasts")(
        "q420_haar_synopsis", "q421_lead_lag_xcorr"),
      sanction(CrossJoin, "q422's sketch row, q423's stats/argmin rows and q424's day-zero origin " +
        "are one-row broadcast scalars")(
        "q422_ams_f2_sketch", "q423_join_order_enum", "q424_sax_motifs"),
      sanction(CrossJoin, "joins ≤ 512 candidates against the ≤ 256-row broadcast threshold table " +
        "(depth-capped by construction)")("q430_fagin_ta_depth"),
      sanction(CrossJoin, "winner argmin is a one-row broadcast scalar")("q431_hilbert_z_locality"),
      sanction(CrossJoin, "rank thresholds join the histogram-sized cumulative by a broadcast >= " +
        "condition (3 rows against <= 2338)")("q434_histogram_quantile_error"),
      sanction(CrossJoin, "q437's day-zero origin and q438's allocation total are one-row " +
        "broadcasts")("q437_swag_sliding_max", "q438_neyman_allocation"),
      sanction(CrossJoin, "q440/q441's certificate scalars are one-row broadcasts")(
        "q440_inclusion_dependency_mining", "q441_session_stitch_certificate"),
      sanction(CrossJoin, "q443's bands and q445's predicates join histogram/zone-sized sides by " +
        "broadcast range conditions (5-6 literal rows)")(
        "q443_histogram_selectivity_qerror", "q445_sortkey_zonemap_advisor"),
      sanction(CrossJoin, "sample-size normalizers are a one-row broadcast")(
        "q448_cramer_von_mises"),
      sanction(CrossJoin, "q449's t0/first-crossing scalars and q451's rank thresholds are " +
        "one-row/3-row broadcasts against bounded sides")(
        "q449_group_sequential_monitor", "q451_sharded_quantile_merge"),
      sanction(CrossJoin, "stream-end anchor is a one-row broadcast")("q454_slo_burn_rate_alerts"),
      sanction(CrossJoin, "tier explosion joins the 7-row per-mille list by broadcast range " +
        "condition; its revenue total is a one-row broadcast")("q456_online_agg_convergence"),
      sanction(CrossJoin, "global-statistic rows are one-row broadcasts")(
        "q460_nested_percentile_fallacy"),
      sanction(CrossJoin, "q462's access total and q463's day-zero origin are one-row broadcasts")(
        "q462_static_cache_sweep", "q463_view_staleness_pricing"),
      sanction(CrossJoin, "q464's stream-end anchor and q466's cell total are one-row broadcasts")(
        "q464_watermark_laggards", "q466_ivf_cell_balance"),
      sanction(CrossJoin, "q467's baseline/oracle scalars and q468's latest-month anchor are " +
        "one-row broadcasts")("q467_bandit_replay_ope", "q468_storage_tiering_bill"),
      sanction(CrossJoin, "q470's rank thresholds, q471's scatter scalars and q472's literal query " +
        "ranges join bounded sides by broadcast")(
        "q470_dkw_percentile_bands", "q471_lda_separability", "q472_fenwick_range_serving"),
      sanction(CrossJoin, "true-distinct comparison side is a one-row broadcast")(
        "q475_chao1_distinct_from_sample"),
      sanction(CrossJoin, "q477/q489's merge pair and q479's corpus totals are one-row broadcasts")(
        "q477_bpe_merge_rounds", "q479_dsir_selection", "q489_merge_transfer_eval"),
      sanction(CrossJoin, "q482/q488's config grids are 3-row broadcast literals")(
        "q482_chunk_overlap_sweep", "q488_paged_kv_fragmentation"),
      sanction(CrossJoin, "probes the broadcast 2% query sample (q25/q373's shape)")(
        "q495_ann_routing_margin"),
      sanction(CrossJoin, "TTL grid is a 3-row broadcast literal")(
        "q498_ttl_cache_reuse_intervals"),
      sanction(CrossJoin, "probes the broadcast ≤100-row semantic cache + a 3-row threshold grid")(
        "q501_semantic_cache_hit_sweep"),
      sanction(CrossJoin, "half-year counts are one-row broadcasts")("q504_topk_churn_monitor"),
      sanction(CrossJoin, "corpus size and feedback-mass totals are one-row broadcasts")(
        "q508_prf_query_expansion"),
      sanction(CrossJoin, "q510/q511's latency totals, deadline rows and plain-p99 anchors are " +
        "one-row/3-row broadcasts on the value-resolution-bounded CCDF")(
        "q510_tail_hedging_policy", "q511_quorum_read_latency"),
      sanction(CrossJoin, "config grid is a 4-row literal against the one-row corpus total")(
        "q512_erasure_code_plan"),
      sanction(CrossJoin, "the region pair grid and the order total are ≤ 10-row broadcasts")(
        "q515_replica_placement_plan"),
      sanction(CrossJoin, "q517's GPU-demand total and q519's single-shard p99 anchor are one-row " +
        "broadcasts")("q517_gang_schedule_fragmentation", "q519_fanout_tail_amplification"),
      sanction(CrossJoin, "demand/capacity totals are one-row broadcast scalar aggregates " +
        "cross-joined onto keyed aggregates")("q520_load_shed_priority_plan"),
      sanction(CrossJoin, "the CCDF grand total is a one-row broadcast scalar aggregate " +
        "cross-joined onto keyed aggregates")("q521_write_conflict_rate"),
      sanction(CrossJoin, "q523/q527's one-row scalar aggregates and 3-4-row literal grids")(
        "q523_chinchilla_allocation", "q527_mde_power_plan"),
      sanction(CrossJoin, "q525/q526's 2-3-row broadcast grids exploded onto per-doc/per-key " +
        "arithmetic")("q525_attention_window_coverage", "q526_shuffle_spill_planner"),
      sanction(CrossJoin, "one-row corpus total onto the ≤ 1001-bin histogram")(
        "q528_best_of_n_quality_gain"),
      sanction(CrossJoin, "q532/q535's 3-row architecture/cap grids broadcast onto bounded " +
        "censuses")("q532_kv_cache_capacity", "q535_seqlen_curriculum_stages"),
      sanction(CrossJoin, "24-row capacity ladder against the one-row total")(
        "q534_lsm_write_amplification"),
      sanction(CrossJoin, "4-row reserve grid broadcasts onto the calendar-sized (day, top1, top2) " +
        "table")("q538_reserve_price_sweep"),
      sanction(CrossJoin, "q544/q545 score orders against the one-row broadcast OLS fit")(
        "q544_ols_normal_equations", "q545_ols_segment_residual_audit"),
      sanction(CrossJoin, "3-row utilization grid on the per-type CV table")(
        "q546_kingman_queue_wait"),
      sanction(CrossJoin, "weight total is a one-row broadcast")("q547_class_balanced_weights"),
      sanction(CrossJoin, "probes the broadcast 2% sample (q25/q495's shape)")(
        "q548_knn_label_noise"),
      sanction(CrossJoin, "3-row draft-length grid on the per-source acceptance table")(
        "q549_specdec_draft_length_sweep"),
      sanction(CrossJoin, "triangle/edge/wedge scalars are one-row broadcasts")(
        "q551_agm_bound_audit"),
      sanction(CrossJoin, "3-row ratio grid + day-count total on the calendar-sized day table")(
        "q552_newsvendor_stock_plan"),
      sanction(CrossJoin, "order/revenue totals are one-row broadcasts")(
        "q553_corruption_blast_radius"),
      sanction(CrossJoin, "3-row capacity-factor grid lands on 256 routing cells")(
        "q555_moe_capacity_overflow"),
      sanction(CrossJoin, "q556/q557 broadcast 3-row rate/threshold grids onto keyed series")(
        "q556_shaper_backlog_audit", "q557_peeking_inflation_audit"),
      sanction(CrossJoin, "re-enters the scan with ONE-ROW broadcast sides only (the (k+1)-th " +
        "priority tau and the true total); the lit-key equi-join constant-folds to a " +
        "trivially-true BNLJ, which is O(n) here")("q563_priority_sampling_audit"),
      sanction(CrossJoin, "ppm share divides the <=64x64 mixing cells by a one-row edge-total " +
        "broadcast")("q564_degree_mixing_matrix"),
      sanction(CrossJoin, "measures distortion on a BOUNDED 20-probe panel (190 pairs, the q484 " +
        "bounded-grid precedent) + a 3-row dim grid")("q567_jl_projection_distortion"),
      sanction(CrossJoin, "3-row arm grid lands on the 32-cell (arm16 x half) table")(
        "q569_winners_curse_audit"),
      sanction(CrossJoin, "3-row cap grid + one-row population totals onto the scan")(
        "q570_length_biased_ht_correction"),
      sanction(CrossJoin, "780 pairs of a 40-term TakeOrdered panel")(
        "q571_posting_intersection_advisor"),
      sanction(CrossJoin, "one-row query-vector broadcast (the q25 precedent) + two 10-row top-k " +
        "sets")("q572_maxsim_late_interaction"),
      sanction(CrossJoin, "3-row band grid lands on the scan")("q574_cascade_routing_frontier"),
      sanction(CrossJoin, "3-row rate grid + one-row truth")("q577_german_tank_estimate"),
      sanction(CrossJoin, "the <=8-factor one-row pivot broadcasts onto the handful of test " +
        "cohorts")("q578_chain_ladder_ltv"),
      sanction(CrossJoin, "5-row sketch-depth grid lands on the vocabulary-sized term table")(
        "q579_countsketch_bias_audit"),
      sanction(CrossJoin, "corpus total is a one-row broadcast onto the cells")(
        "q580_hellinger_drift_census"),
      sanction(CrossJoin, "broadcasts the 10-probe panel (q25 precedent)")(
        "q583_knn_shapley_valuation"),
      sanction(CrossJoin, "slope / conformal thresholds are one-row / 3-row broadcasts onto the " +
        "scan")("q584_conformal_coverage_audit"),
      sanction(CrossJoin, "q585/q586: 3-row and 39-cell grids onto one scan + one-row clean mean")(
        "q585_estimator_breakdown_audit", "q586_quantile_regression_grid"),
      sanction(CrossJoin, "everything lives on the <=11 discount cells")("q587_placebo_rd_audit"),
      sanction(CrossJoin, "broadcasts the 5-probe panel (q25 precedent)")("q589_pooling_bias_eval"),
      sanction(CrossJoin, "backbone threshold is a one-row broadcast onto the weighted edge list")(
        "q590_local_clustering_census"),
      sanction(CrossJoin, "reuses the backbone's one-row threshold broadcast, and adds 3-row club " +
        "cutoffs and one-row graph totals")("q593_rich_club_coefficient"),
      sanction(CrossJoin, "3-rate grid lands on 16 client rows")("q594_secure_agg_dropout"),
      sanction(CrossJoin, "merge bound is a one-row broadcast onto the 10-row audited panel")(
        "q596_mergeable_topk_audit"),
      sanction(CrossJoin, "3-regime grid onto the threshold cells")("q597_cost_threshold_chooser"),
      sanction(CrossJoin, "broadcasts the 10-row centroid table (q25 precedent)")(
        "q598_nearest_centroid_confusion"),
      sanction(CrossJoin, "2-row alpha grid onto ~80 month cells")("q599_dp_geometric_utility"),
      sanction(CrossJoin, "the backbone threshold is a one-row broadcast")(
        "q601_ktruss_support_census"),
      sanction(CrossJoin, "4-landmark panel")("q602_harmonic_closeness_landmarks"),
      sanction(CrossJoin, "per-relation one-row count pairs")("q604_yannakakis_reduction_audit"),
      sanction(CrossJoin, "q606/q610/q612/q618/q619/q620/q622's ≤4-row parameter grids (+ one-row " +
        "mean/ref/total broadcasts)")(
        "q606_loss_scale_range_audit", "q610_deadline_backlog_audit", "q612_page_hinkley_drift",
        "q618_contribution_clipping_audit", "q619_subsampling_amplification",
        "q620_cell_suppression_plan", "q622_rowgroup_sizing_sweep"),
      sanction(CrossJoin, "one-row span/bottleneck rows")("q609_tandem_bottleneck"),
      sanction(CrossJoin, "day-pair inequality join on the calendar-bounded day grid plus one-row " +
        "moment broadcasts")("q611_mann_kendall_trend"),
      sanction(CrossJoin, "one-row baseline")("q615_event_study_did"),
      sanction(CrossJoin, "66-combo simplex grid and one-row argmin")(
        "q616_synthetic_control_grid"),
      sanction(CrossJoin, "one-row horizon/total")("q617_competing_risks_cif"),
      sanction(CrossJoin, "one-row best")("q623_predicate_order_audit"),
      sanction(CrossJoin, "one-row centroid pair + one-row test moments")("q625_bbse_label_shift"),
      sanction(CrossJoin, "one-row 10-centroid panel and ≤100-row picked set")(
        "q626_acquisition_overlap"),
      sanction(CrossJoin, "≤10-row centroid table, 3-row budget grid, one-row totals")(
        "q627_pruning_class_drift"),
      sanction(CrossJoin, "one-row margin totals and k_max")("q628_by_vs_bh_fdr"),
      sanction(CrossJoin, "one-row weight threshold + 3-row cutoff grid")(
        "q631_core_periphery_fit"),
      sanction(CrossJoin, "one-row brand count and outdegree totals")(
        "q632_tournament_cycle_census"),
      sanction(CrossJoin, "one-row pooled-sd broadcast")("q635_risk_pooling_audit"),
      sanction(CrossJoin, "q636–q638: calendar-bounded day-grid pair joins (≤ ~730 rows a side) " +
        "plus one-row mean/median/sd broadcasts — the q611 class")(
        "q636_hodges_lehmann_location", "q637_siegel_repeated_median",
        "q638_pairwise_difference_scale"),
      sanction(CrossJoin, "16-row split grid broadcasts onto one orders scan (all 16 null splits " +
        "computed in one pass)")("q639_aa_calibration_audit"),
      sanction(CrossJoin, "one-row margin totals")("q640_fixed_sequence_gatekeeping"),
      sanction(CrossJoin, "q642/q643's one-row n/moment broadcasts and the dense brand×12-month " +
        "grid build")("q642_kendall_w_concordance", "q643_cronbach_alpha"),
      sanction(CrossJoin, "one-row limits broadcast")("q644_bland_altman_agreement"),
      sanction(CrossJoin, "q645/q647's 3-row k/TTL grids over one scan")(
        "q645_prefix_cache_reuse", "q647_ttl_staleness_audit"),
      sanction(CrossJoin, "3-row depth grid over 8 probe rows")("q648_cascade_recall_sweep"),
      sanction(CrossJoin, "q649/q650's 5/8-probe quantized panels (the q25 precedent)")(
        "q649_reciprocal_rank_fusion", "q650_rank_disagreement_footrule"),
      sanction(CrossJoin, "q651/q652's one-row marginal/total broadcasts over the bounded " +
        "contingency")("q651_gk_lambda_direction", "q652_gk_tau_direction"),
      sanction(CrossJoin, "one-row margins per contingency")("q653_cramers_v_battery"),
      sanction(CrossJoin, "one-row median broadcast over the 365-day series")(
        "q659_runs_test_daily_orders"),
      sanction(CrossJoin, "one-row probe-vector broadcast (the q25/q572 panel class)")(
        "q660_multimodal_feature_ann"),
      sanction(CrossJoin, "one-row breakpoint broadcast")("q662_sax_motif_census"),
      sanction(CrossJoin, "two one-row median broadcasts (the q64 threshold class)")(
        "q663_blomqvist_beta"),
      sanction(CrossJoin, "one-row margin-total broadcast over the 25 brand cells (the q640 class)")(
        "q664_holm_stepdown"),
      sanction(CrossJoin, "4-row prefix grid + one-row corpus-size broadcast")(
        "q667_heaps_vocab_growth"),
      sanction(CrossJoin, "q670/q671's 5-row lag/block grids over the calendar-sized daily table")(
        "q670_variogram_madogram", "q671_aggregated_variance_hurst"),
      sanction(CrossJoin, "one-row customer-count broadcast onto the value histograms")(
        "q672_empirical_copula_grid"),
      sanction(CrossJoin, "8-row top-word panel")("q673_stylometric_fingerprint"),
      sanction(CrossJoin, "3-row bits-budget grid")("q677_bloom_fpr_empirical"),
      sanction(CrossJoin, "one-row threshold/day-count broadcasts (the q64 class)")(
        "q680_extremal_index_clusters"),
      sanction(CrossJoin, "one-row corpus-total broadcast and dim×dim (sources × languages) " +
        "densifying cross")("q683_language_evenness"),
      sanction(CrossJoin, "inherits the ship-year backbone's one-row weight-threshold broadcast " +
        "(the q590/q601 class)")("q685_partition_conductance"),
      sanction(CrossJoin, "inherits the ship-year backbone's one-row weight-threshold broadcast, " +
        "and adds its 5-row sweep grid and one-row node count")("q687_conductance_sweep"),
      sanction(CrossJoin, "one-row all-pairs/truth-total broadcasts over the 3-scheme readout")(
        "q688_blocking_quality_audit"),
      sanction(CrossJoin, "8-row view/query panels, one-row base count, and the 28-row pair " +
        "enumeration (bounded lattice by construction)")("q689_view_selection_exact"),
      sanction(CrossJoin, "adaptive density bar is a one-row (n, 2m) broadcast per peeling round " +
        "(the q558 loop with q421's scalar-broadcast step)")("q691_densest_subgraph_peel"),
      sanction(CrossJoin, "the broadcast sides are one-row totals (N, the H statistic, the tie " +
        "sum)")("q693_kruskal_wallis"),
      sanction(CrossJoin, "the ≤ 55×55 ordered-pair self-join runs over the bounded (band, bps) " +
        "joint histogram: pairs of cells, not rows")("q694_jonckheere_terpstra"),
      sanction(CrossJoin, "the broadcast sides are one-row totals (N, the score mass)")(
        "q695_mood_scale_test"),
      sanction(CrossJoin, "q696/q697's one-row statistic broadcasts onto the 6-year / 3-year " +
        "rank-sum panels (the q664 class)")("q696_pages_l_trend", "q697_cochran_q"),
      sanction(CrossJoin, "one-row seed/source broadcasts onto the per-sweep readout")(
        "q701_two_sweep_diameter"),
      sanction(CrossJoin, "one-row theta/totals broadcasts onto the 6-term panel")(
        "q702_maxscore_pruning_audit"),
      sanction(CrossJoin, "one-row unitig census onto the degree histogram")(
        "q703_debruijn_branching"),
      sanction(CrossJoin, "one-row full-prefix NDV onto the 6-permutation panel")(
        "q704_sortkey_order_advisor"),
      sanction(CrossJoin, "12×12 banded cell join + one-row lockstep broadcast")(
        "q705_banded_dtw_revenue"),
      sanction(CrossJoin, "one-row universe broadcast")("q706_elias_fano_plan"),
      sanction(CrossJoin, "histogram-sized convolution crosses (≤ distinct-daily-count rows per " +
        "side) and one-row total/quantile broadcasts")("q707_leadtime_demand_quantiles"),
      sanction(CrossJoin, "9-row offset grid shift-joins")("q708_grid_density_census"),
      sanction(CrossJoin, "2-row class panel and one-row pos/neg moment cross")(
        "q710_delong_paired_auc"),
      sanction(CrossJoin, "10-row pool grid × one-row rate/argmin")("q712_dorfman_pooling_plan"),
      sanction(CrossJoin, "3-row width grid over the fingerprint projection")(
        "q713_fingerprint_truncation_audit"),
      sanction(CrossJoin, "one-row boundary-breaks broadcast onto the one-row in-block fold")(
        "q715_natural_runs_census"),
      sanction(CrossJoin, "covered sets cov1/cov2 are ONE row each — d1/d2 are limit(1) picks " +
        "joined back on the documents key doc_id — and each row holds the union of at most 3 " +
        "docs' bigram-digest sets")("q348_max_coverage_greedy"),
      sanction(CrossJoin, "the two driver collects cross the one-row query vector with the corpus, " +
        "and the 20-row candidate grid (a limit(20)) with itself: 380 pairs")(
        "q484_mmr_diversified_retrieval"),
      // ---- GlobalWindow
      sanction(GlobalWindow, "row_number ranks the ≤ 25-row per-nation trade totals to pick the 4 " +
        "lanes: dimension-bounded")("q738_dedicated_lane_assignment"),
      sanction(GlobalWindow, "q155 is q198's census under other column names: its sum() OVER () " +
        "spans the ≤9-row first-digit aggregate — digit-bounded")("q155_benford_audit"),
      sanction(GlobalWindow, "sum() OVER () folds the 6-row bit-plane table into the reconstructed " +
        "total — bit-width-bounded")("q757_bit_sliced_index_sum"),
      sanction(GlobalWindow, "the doubled-rank cumulative runs over the ≤ 50-row quantity value " +
        "histogram (the test pools all groups into one ranking)")(
        "q693_kruskal_wallis", "q695_mood_scale_test"),
      sanction(GlobalWindow, "the cum-UB split runs over the 6-term panel")(
        "q702_maxscore_pruning_audit"),
      sanction(GlobalWindow, "the rank runs over the 6-permutation panel")(
        "q704_sortkey_order_advisor"),
      sanction(GlobalWindow, "boundary stitch over the blocks-summary table (corpus / 8192 rows — " +
        "the q372 bucket-boundary pass)")("q715_natural_runs_census"),
      sanction(GlobalWindow, "|d| rank cumulative over the ≤300-row panel-difference histogram")(
        "q716_wilcoxon_signed_rank"),
      sanction(GlobalWindow, "lead windows over the ~2,500-row densified calendar and quantile " +
        "cumulative over the bounded demand support")("q707_leadtime_demand_quantiles"),
      sanction(GlobalWindow, ValueHistogram)(
        "q64_quality_threshold", "q82_decile_binning", "q479_dsir_selection",
        "q120_ks_two_sample", "q139_norm_outliers", "q146_robust_outliers",
        "q247_wasserstein_drift", "q336_median_of_means", "q342_mean_excess_tail",
        "q354_t_closeness", "q381_median_order_stat_ci", "q405_isotonic_return_curve",
        "q407_roc_curve", "q434_histogram_quantile_error", "q443_histogram_selectivity_qerror",
        "q448_cramer_von_mises", "q451_sharded_quantile_merge",
        "q460_nested_percentile_fallacy", "q470_dkw_percentile_bands", "q464_watermark_laggards",
        "q510_tail_hedging_policy", "q511_quorum_read_latency", "q519_fanout_tail_amplification",
        "q588_confounded_logging_audit", "q595_front_door_adjustment"),
      sanction(GlobalWindow, DimensionAggregate)(
        "q244_uplift_by_decile", "q106_pareto_frontier", "q116_rfm_segmentation",
        "q117_gini_concentration", "q134_conversion_latency", "q147_reference_calibration",
        "q168_revenue_hierarchy", "q175_recency_weights", "q198_benford_audit",
        "q207_abc_xyz_classes", "q209_simpson_audit", "q210_decile_mobility",
        "q213_seat_apportionment", "q216_survival_life_table", "q228_session_timeout_census",
        "q236_discount_elasticity", "q265_single_source_risk", "q312_consistent_hash_balance",
        "q314_keyspace_density", "q334_kaplan_meier", "q352_pinball_eval",
        "q372_rle_layout_plan", "q380_water_filling_quota", "q402_knapsack_source_budget",
        "q412_successive_halving", "q424_sax_motifs", "q442_index_advisor",
        "q447_copeland_rank_fusion", "q462_static_cache_sweep", "q467_bandit_replay_ope",
        "q497_bradley_terry_arena", "q70_mixture_sampling", "q90_revenue_share"),
      sanction(GlobalWindow, Vocabulary)(
        "q299_rare_level_collapse_plan", "q520_load_shed_priority_plan", "q122_vocab_coverage",
        "q222_good_turing_counts", "q301_zipf_slope", "q492_hnsw_level_plan",
        "q502_front_coding_plan"),
      sanction(GlobalWindow, "the rank runs over the 25-brand statistic grid")(
        "q417_bh_fdr_control"),
      sanction(GlobalWindow, LimitedInput)(
        "q456_online_agg_convergence", "q338_pq_codebook", "q341_pq_adc_recall",
        "q394_bpe_merge_step", "q428_rake_keyphrases", "q493_int8_outlier_channels",
        "q508_prf_query_expansion", "q174_hybrid_rrf", "q189_rbo_rank_agreement",
        "q217_diversified_topk", "q348_max_coverage_greedy", "q430_fagin_ta_depth",
        "q458_topk_merge_certificate", "q421_lead_lag_xcorr"),
      sanction(GlobalWindow, "no row bound: the row_number over orders is the learned-index build " +
        "itself, a corpus-sized sort; range-partitioned at scale")("q505_learned_index_epsilon"),
      sanction(GlobalWindow, "no row bound: the document ranking by length is a corpus-sized sort " +
        "(replaceable by q82's quantile binning at scale); the cumulative runs over the ten " +
        "deciles")("q387_gram_coverage_curve"),
      sanction(GlobalWindow, "the row_number and cumulative sums run over the value histogram " +
        "of least(31, ...) cells: at most 32 rows")("q410_v_optimal_histogram"),
      sanction(GlobalWindow, "the prefix sum runs over the Fenwick grid: the literal 256-row " +
        "range left-joined to one revenue row per day")("q472_fenwick_range_serving"),
      sanction(GlobalWindow, "the row_number and lag run over the part table, sorted once: " +
        "dimension-sized (the layout is the sort)")("q432_sstable_prefix_plan"),
      sanction(GlobalWindow, Calendar)(
        "q130_volume_anomaly", "q140_wow_growth", "q161_new_category_drift", "q176_cusum_drift",
        "q212_revenue_peaks", "q221_dau_mau_stickiness", "q246_kmv_rolling_distinct",
        "q294_catalog_freshness", "q303_seasonal_adjustment", "q307_revenue_drawdown",
        "q383_runs_test_daily_revenue", "q389_mase_forecast_eval", "q390_best_campaign_window",
        "q437_swag_sliding_max", "q463_view_staleness_pricing"),
      sanction(GlobalWindow, "no row bound: the document ranking by size is a corpus-sized sort " +
        "(replaceable by q82's quantile binning at scale)")("q403_shard_packing_bounds"),
      sanction(GlobalWindow, "cumulative CDF runs over the ≤ 1001-bin quantized score histogram")(
        "q528_best_of_n_quality_gain"),
      sanction(GlobalWindow, "two lag windows run over the calendar-sized hour series (one row per " +
        "observed hour)")("q529_autoscale_reactive_audit"),
      sanction(GlobalWindow, "demand-quantile cumulative runs over the per-day demand table")(
        "q552_newsvendor_stock_plan"),
      sanction(GlobalWindow, "ranking window runs over exactly 32 replicate-mean rows")(
        "q566_poisson_bootstrap_ci"),
      sanction(GlobalWindow, "IPF totals are global windows over the 25-cell raking table")(
        "q573_ipf_raking"),
      sanction(GlobalWindow, "moments run over 16 shard rows")("q576_control_variate_audit"),
      sanction(GlobalWindow, "cutoff over the calendar-bounded (cohort, age) triangle")(
        "q578_chain_ladder_ltv"),
      sanction(GlobalWindow, "cumulatives run over <=1024 coarse bins and the <=65536 cent values " +
        "of ONE bin")("q582_two_pass_exact_median"),
      sanction(GlobalWindow, "over the residual-value histogram")("q584_conformal_coverage_audit"),
      sanction(GlobalWindow, "backbone threshold over the co-occurrence weight histogram")(
        "q590_local_clustering_census"),
      sanction(GlobalWindow, "DRF capacities/denominators over 20 tenant rows")(
        "q591_drf_allocation_plan"),
      sanction(GlobalWindow, "reuses q590's weight-histogram threshold window and cuts on the " +
        "degree histogram")("q593_rich_club_coefficient"),
      sanction(GlobalWindow, "confusion cumulatives over the <= ~80 length buckets")(
        "q597_cost_threshold_chooser"),
      sanction(GlobalWindow, "reuses q590's co-occurrence weight-histogram threshold window")(
        "q601_ktruss_support_census"),
      sanction(GlobalWindow, "lag/lead run over the calendar-bounded day series (the q130 class)")(
        "q613_turning_point_test"),
      sanction(GlobalWindow, "at-risk cumulative runs over the ≤ ~120-row weekly exit histogram")(
        "q617_competing_risks_cif"),
      sanction(GlobalWindow, "pruning threshold runs over the quantized own-centroid distance " +
        "histogram (the q64 value-resolution class)")("q627_pruning_class_drift"),
      sanction(GlobalWindow, "LLR cumulative and day ranks run over the calendar-bounded day " +
        "series")("q630_sprt_purchase_share"),
      sanction(GlobalWindow, "backbone/degree cutoffs run over weight/degree histograms (the " +
        "q590/q593 class)")("q631_core_periphery_fit"),
      sanction(GlobalWindow, "ranks the 25-brand statistic grid (q417's exact shape)")(
        "q628_by_vs_bh_fdr"),
      sanction(GlobalWindow, "q636–q638: cumulative medians/quartiles over VALUE histograms of " +
        "day-pair statistics (Walsh averages, slopes, |diffs|) — pair counts are " +
        "calendar²-bounded and the histograms value-resolution (the q64/q82 class)")(
        "q636_hodges_lehmann_location", "q637_siegel_repeated_median",
        "q638_pairwise_difference_scale"),
      sanction(GlobalWindow, "sequence rank and running-min gate run over the 25-brand statistic " +
        "grid (the q417/q628 class)")("q640_fixed_sequence_gatekeeping"),
      sanction(GlobalWindow, "share-of-total runs over the ≤ ~35-row log₂ gap bucket census (the " +
        "q64/q82 value-histogram class)")("q646_reuse_distance_census"),
      sanction(GlobalWindow, "median rank, total count, and run-boundary lag all run over the ≤ " +
        "365-row daily series (the q99/q636 calendar class)")("q659_runs_test_daily_orders"),
      sanction(GlobalWindow, "breakpoint ranks and word leads run over the ≤ 73-segment PAA frame " +
        "(calendar class)")("q662_sax_motif_census"),
      sanction(GlobalWindow, "medians run over the ≤ ~6k-bin $100 price histogram and ≤ ~10-bin " +
        "count histogram (q64/q636)")("q663_blomqvist_beta"),
      sanction(GlobalWindow, "evidence ranking and stop-gate running min work on the 25-brand " +
        "statistic grid (the q417/q628/q640 class)")("q664_holm_stepdown"),
      sanction(GlobalWindow, "quintile cutoffs run over the two value-domain histograms (order " +
        "counts: tens of bins; spend: the granulated dollar domain), the q64/q663 class")(
        "q672_empirical_copula_grid"),
      sanction(GlobalWindow, "q679's three lag windows and q681's running prior-max run over the " +
        "calendar-sized daily series (the q130/q383 class)")(
        "q679_sign_transfer_contingency", "q681_record_breaking_census"),
      sanction(GlobalWindow, "threshold cumulative runs over the daily-revenue value histogram and " +
        "its run-detection lag/cumsum over the ≤ calendar exceedance days")(
        "q680_extremal_index_clusters"),
      sanction(GlobalWindow, "running margin + flip lag run over the calendar-sized daily series " +
        "(the q130/q383 class)")("q684_lead_change_census"),
      sanction(GlobalWindow, "the degree-histogram cumulative runs over a value-resolution " +
        "histogram")("q687_conductance_sweep"),
      // ---- BroadcastKeyedWindow
      sanction(BroadcastKeyedWindow, "these are fine because the window INPUT is already an " +
        "aggregate/panel far smaller than the corpus. windows over DIMENSION-sized keyed " +
        "aggregates (the corpus is collapsed by a groupBy before the window): q168 runs over the " +
        "25-row nation revenue grid, q205 over the supplier-per-nation aggregate, q217 over the " +
        "part-brand aggregate")(
        "q168_revenue_hierarchy", "q205_hhi_concentration", "q217_diversified_topk"),
      sanction(BroadcastKeyedWindow, "keyness rank runs over the (cluster, token) aggregate — a " +
        "vocabulary-per-cluster frame (the sanctioned q122 class)")("q378_cluster_keyword_labels"),
      sanction(BroadcastKeyedWindow, "as-of running min runs over the latency CCDF " +
        "(value-resolution histogram) unioned with the ≤ 2·|CCDF|·3 probe grid")(
        "q510_tail_hedging_policy"),
      sanction(BroadcastKeyedWindow, "trimmed-mean cutoffs run over the per-rate value histogram " +
        "(the q64 class)")("q585_estimator_breakdown_audit"),
      sanction(BroadcastKeyedWindow, "ranks the 190 pairwise ratios of a 20-vector panel per " +
        "dprime")("q567_jl_projection_distortion"),
      sanction(BroadcastKeyedWindow, "ranks ≤ 16 arm cells per grid row")(
        "q569_winners_curse_audit"),
      sanction(BroadcastKeyedWindow, "exact KNN-Shapley assigns a value to EVERY train point via a " +
        "rank-indexed recursion (suffix sum over the full distance ranking) — the per-test global " +
        "sort IS the algorithm's output size, bounded only by the 10-test panel. At 100 TB the " +
        "suffix sum would move to the q96 two-level distributed prefix form; the window form is " +
        "kept for the exact 10-probe audit.")("q583_knn_shapley_valuation"),
      sanction(BroadcastKeyedWindow, "q610/q612's running sum+min and q622's group-assignment " +
        "cumulative partition by a ≤4-row broadcast grid key, but their window INPUT is the " +
        "calendar-bounded day series / day histogram (grid × ~550 rows), never corpus rows")(
        "q610_deadline_backlog_audit", "q612_page_hinkley_drift", "q622_rowgroup_sizing_sweep"),
      sanction(BroadcastKeyedWindow, "kept-total window partitions by the 3-row budget grid key " +
        "over the ≤ 10-label retention cells — 30 rows total")("q627_pruning_class_drift"),
      sanction(BroadcastKeyedWindow, "placement cumulative partitions by the 2-row class panel " +
        "over value-resolution marginals (≤ |values| rows per class)")("q710_delong_paired_auc"),
      // ---- GeneratorKeyedWindow
      sanction(GeneratorKeyedWindow, "bigram/transition RANKING over per-(head, next) COUNT " +
        "aggregates: one row per distinct continuation, so a partition is at most " +
        "vocabulary-sized (the q122 class), never corpus-sized — the corpus collapsed in the " +
        "groupBy below the window")(
        "q79_bigram_lm", "q483_speculative_acceptance", "q549_specdec_draft_length_sweep"),
      sanction(GeneratorKeyedWindow, "the per-month rank partitions the dense brand × 12-month " +
        "grid by its exploded month: one row per brand (about 25) per partition")(
        "q642_kendall_w_concordance"),
      sanction(GeneratorKeyedWindow, "the block folds partition the exploded day sequence by " +
        "7-day block (d div 7): at most 7 rows per partition")("q437_swag_sliding_max"),
      sanction(GeneratorKeyedWindow, "docfreq window runs over the per-(shingle, source) " +
        "aggregate: ≤ |sources| rows per shingle partition")("q182_crossdoc_shingle_mass"),
      sanction(GeneratorKeyedWindow, "category-level shares/ranks over per-(feature, level) counts " +
        "— levels-per-feature frames (q254 via stack(), which plans as a Generate)")(
        "q254_onehot_coverage_plan"),
      sanction(GeneratorKeyedWindow, "bins (3-literal grid) window over the quantile-error summary " +
        "of a value-resolution histogram")("q434_histogram_quantile_error"),
      sanction(GeneratorKeyedWindow, "as-of min over the latency CCDF ∪ probe grid (the argument " +
        "of its BroadcastKeyedWindow entry)")("q510_tail_hedging_policy"),
      sanction(GeneratorKeyedWindow, "STITCH window: per-token over the per-(token, shard) summary " +
        "— ≤ corpus/shardWidth rows per partition by construction (the in-shard gap window " +
        "carries the mixed (token, shard) key and is not flagged); ShardedPostingSpec asserts " +
        "width-invariance")("q657_varint_posting_size"),
      sanction(GeneratorKeyedWindow, "ntile(64) zone build is a deliberate GLOBAL sort per " +
        "candidate sort key (3 literal keys): equal-ROW zones are a total order by definition. " +
        "Kept for the exact 3-key advisor audit; at 100 TB the zone build is a range-partitioned " +
        "sort writing zone stats (the q583 precedent: exact audit form sanctioned, scale path " +
        "documented)")("q445_sortkey_zonemap_advisor")
    ).flatten
    val byKey = entries.map { case (q, r, b) => (q, r) -> b }.toMap
    require(byKey.size == entries.size, "the sanction table lists a (query, rule) twice")
    byKey
  }
}

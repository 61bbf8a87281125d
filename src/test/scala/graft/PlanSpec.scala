package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.skew.SkewJoin._
import graft.skew.SkewJoinConf

/** Plan-shape assertions: the properties that keep these operators fast at
  * 100 TB — pushdown, pruning, broadcast, no pathological single-task stages.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter + projection push down to the parquet scan") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val q = li.select("l_orderkey", "l_quantity")
      .filter(col("l_quantity") > 40)
    val p = plan(q)
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40.0)]"),
      s"missing pushed filter in:\n$p")
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity:double>"),
      s"scan reads more columns than projected:\n$p")
  }

  test("CMS build scans only the key columns") {
    // the sketch aggregate must column-prune: lineitem has 11 columns, the
    // CMS input projects exactly one.
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val keyed = li.select(concat_ws("", col("l_orderkey").cast("string")).as("k"))
    val p = plan(keyed)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint>"),
      s"CMS key projection did not prune the scan:\n$p")
  }

  test("skewJoin inner plan: shuffles on key+salts, no cartesian, codegen present") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val o = spark.read.parquet(s"$sf/orders.parquet")
      .withColumnRenamed("o_orderkey", "l_orderkey")
    val q = li.skewJoin(o, Seq("l_orderkey"), "inner", SkewJoinConf())
    // execute this exact DataFrame (count() would plan a separate query) so
    // AQE finalizes and the executed plan shows real operators
    q.collect()
    val p = plan(q)
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian product:\n$p")
    assert(p.contains("__graft_salt_l"), s"salts missing from join keys:\n$p")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no hash/sort-merge join:\n$p")
    // codegen stages print as "WholeStageCodegen (n)" in formatted mode and
    // as "*(n) Op" markers in the tree string
    assert(p.contains("WholeStageCodegen") || p.contains("*("),
      s"no codegen spans:\n$p")
  }

  test("outer skewJoin scans each input once and plans no window") {
    // the outer decomposition is one salted outer join plus a row-local
    // keep filter: one FileScan per table, and no Window, which would
    // re-shuffle the whole (replicated) join output. Broadcast off pins the
    // at-scale shape (100-TB sides are never broadcast).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
      val p = spark.read.parquet(s"$sf/part.parquet")
        .withColumnRenamed("p_partkey", "l_partkey")
      val q = li.skewJoin(p, Seq("l_partkey"), "full_outer", SkewJoinConf())
      q.collect()
      // AQE toString prints "== Final Plan ==" and "== Initial Plan ==";
      // count scans only in the final executed section
      val planStr = plan(q).split("== Initial Plan ==")(0)
      def scansOf(table: String): Int =
        s"FileScan parquet[^\\n]*$table\\.parquet".r.findAllIn(planStr).length
      assert(scansOf("lineitem") <= 1, s"lineitem scanned more than once:\n$planStr")
      assert(scansOf("part") <= 1, s"part scanned more than once:\n$planStr")
      val windows = new AdaptiveSparkPlanHelper {}
        .collect(q.queryExecution.executedPlan) { case w: WindowExec => w }
      assert(windows.isEmpty, s"final plan has a Window:\n$planStr")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed tables join without a shuffle exchange") {
    // both sides written bucketed by the join key with equal bucket counts:
    // the join must plan with NO Exchange under it (broadcast disabled so
    // the 100-TB shape — sort-merge on co-located buckets — is what's pinned)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      val li = spark.read.parquet(s"$sf/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
      val o = spark.read.parquet(s"$sf/orders.parquet")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      val lb = graft.sources.BucketedTables.writeBucketed(
        li, "graft_test_b_lineitem", Seq("l_orderkey"), 4)
      val ob = graft.sources.BucketedTables.writeBucketed(
        o, "graft_test_b_orders", Seq("l_orderkey"), 4)
      val q = lb.join(ob, Seq("l_orderkey"))
      q.collect()
      val planStr = plan(q).split("== Initial Plan ==")(0)
      assert(!planStr.contains("Exchange"),
        s"bucketed join still shuffles:\n$planStr")
      assert(planStr.contains("SortMergeJoin"), s"expected SMJ:\n$planStr")
      // correctness vs the plain (shuffled) join
      import graft.testkit.DatasetComparisons._
      q.ensureDatasetEquals(li.join(o, Seq("l_orderkey")))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("range join plans as an equi-join on bins, never a nested loop") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // broadcast off: at 100 TB neither side fits; the bin equi-join must
      // carry the plan on its own
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      val ev = graft.sources.EventTime.withTsNs(
        spark.read.parquet(s"$sf/events.parquet"))
      val pts = ev.select(col("event_id").as("c_id"), col("ts_ns").as("c_ts"))
      val ivl = ev.select(col("event_id").as("p_id"), col("ts_ns").as("p_lo"),
        (col("ts_ns") + 3600000000000L).as("p_hi"))
      val q = graft.operators.RangeJoin.rangeJoin(
        pts, "c_ts", ivl, "p_lo", "p_hi", binWidth = 3600000000000L)
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"range join degenerated to an all-pairs plan:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a shuffled equi-join on bins:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("partitioned layout prunes non-matching partitions at the scan") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "n_chars", "lang")
    val part = graft.sources.Formats.writePartitioned(docs,
      s"${System.getProperty("java.io.tmpdir")}/graft_test_part", Seq("lang"))
    val q = part.filter(col("lang") === "fr").select("doc_id")
    val p = plan(q)
    assert(p.contains("PartitionFilters") && p.contains("lang"),
      s"no partition filter at the scan:\n$p")
    // the data filter must NOT degrade to a post-scan filter on lang
    assert(p.contains("isnotnull(lang"), s"partition predicate missing:\n$p")
    import graft.testkit.DatasetComparisons._
    q.ensureDatasetEquals(docs.filter(col("lang") === "fr").select("doc_id"))
  }

  test("broadcast join is chosen for a small dimension") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val nation = spark.read.parquet(s"$sf/nation.parquet")
    val cust = spark.read.parquet(s"$sf/customer.parquet")
    val q = cust.join(nation, cust("c_nationkey") === nation("n_nationkey"))
    assert(plan(q).contains("BroadcastHashJoin"), s"small dim not broadcast:\n${plan(q)}")
  }

  test("global top-k plans as TakeOrderedAndProject, never a full sort") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val q = ev.orderBy(col("value").desc, col("event_id")).limit(100)
    val p = plan(q)
    assert(p.contains("TakeOrderedAndProject"), s"no bounded top-k in:\n$p")
    assert(!p.contains("Exchange rangepartitioning"), s"global sort in:\n$p")
  }

  test("brute-force ANN broadcasts the query side") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = graft.llm.Similarity.bruteForceTopK(
      emb.filter(col("vec_id") < 5), "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 3)
    val p = plan(q)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side not broadcast:\n$p")
  }

  test("incremental CC splits the assignment with BROADCAST probes") {
    import spark.implicits._
    val assign = (1L to 200L).map(n => (n, n % 7)).toDF("node", "component")
    val affected = Seq(3L, 5L).toDF("component")
    // the touched side is consumed EAGERLY inside incrementalComponents
    // (its CC loop), so its join never appears in the returned frame's
    // plan — pin both halves of the split directly instead
    val (touched, untouched) =
      graft.operators.ConnectedComponents.splitByAffected(assign, affected)
    for ((q, name) <- Seq((touched, "semi"), (untouched, "anti"))) {
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$name split not broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"assignment shuffled for $name:\n$p")
    }
  }

  test("boilerplate strip anti-joins against a BROADCAST fingerprint set") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = graft.llm.Dedup.stripBoilerplateBlocks(docs, "doc_id", "text",
      blockTokens = 5, maxDocFraction = 0.1)
    val p = plan(q)
    // the boilerplate set is bounded by blocksPerDoc/maxDocFraction keys
    // independent of corpus size — the anti-join must probe a broadcast,
    // never shuffle the block table by fingerprint
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"boilerplate anti-join not broadcast:\n$p")
  }

  test("bpe pair counts: top-k is bounded, pairs explode per DISTINCT word") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = graft.llm.Vocab.bpePairCounts(docs, "text", k = 20)
    val p = plan(q)
    assert(p.contains("TakeOrderedAndProject"), s"no bounded top-k in:\n$p")
    // the word aggregation must sit BELOW the pair generator: a Generate
    // above the corpus scan with no intervening aggregate would explode
    // pairs once per word INSTANCE instead of once per distinct word
    val gen = p.indexOf("Generate")
    val aggBelow = p.indexOf("HashAggregate", gen)
    assert(gen >= 0 && aggBelow > gen,
      s"pair explosion not over the distinct-word table:\n$p")
  }

  test("semdedup pairwise stage is an equi-join on the cluster id, never all-pairs") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // broadcast off: at 100 TB neither side of the within-cluster join
      // fits; the cluster-id equi-join must carry the plan on its own (and
      // is then exactly what AQE's skew-join split mitigates per hot cell)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      val q = graft.llm.SemDedup.semDedupFlags(emb, "vec_id", "embedding",
        nClusters = 8, threshold = 0.45)
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"semdedup degenerated to an all-pairs plan:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a shuffled equi-join on cluster:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("multi-probe LSH: candidates from a bucket equi-join, probes explode ids only") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = graft.llm.Similarity.multiProbeLshTopK(
      emb.filter(col("vec_id") < 10), "vec_id", "embedding",
      emb, "vec_id", "embedding", k = 3)
    val p = plan(q)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"multi-probe LSH degenerated to an all-pairs plan:\n$p")
    // the probe explode must carry (query_id, bucket) only — the vector
    // riding through the 13-way expansion would multiply shuffle payload
    val gen = p.substring(p.indexOf("Generate explode"))
      .linesIterator.next()
    assert(!gen.contains("qv") && !gen.contains("embedding"),
      s"probe explode carries the vector payload:\n$gen")
  }

  test("semantic decontamination broadcasts the eval side; train never shuffles") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = graft.llm.Decontaminate.dropSemanticContaminated(
      emb.filter(col("label") =!= 0), "vec_id", "embedding",
      emb.filter(col("label") === 0), "embedding", threshold = 0.4)
    val p = plan(q)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"eval side not broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"training corpus shuffled for a broadcast-sized eval set:\n$p")
  }

  test("epoch resampling is a pure narrow map: no exchange anywhere") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = graft.llm.Sampling.resampleByWeight(docs, "doc_id", "source",
      Map("src0" -> 2.5, "src1" -> 0.25))
    val p = plan(q)
    assert(!p.contains("Exchange"), s"resampling introduced a shuffle:\n$p")
    assert(p.contains("Generate"), s"epoch explode missing:\n$p")
  }

  test("sign projection is a pure narrow map: no exchange anywhere") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = graft.llm.Quantize.signProject(emb, "vec_id", "embedding")
    val p = plan(q)
    assert(!p.contains("Exchange"), s"sign projection introduced a shuffle:\n$p")
  }

  test("interval overlap join stays an equi-join on bins with broadcast off") {
    import spark.implicits._
    val l = Seq.tabulate(50)(i => (i.toLong, i * 10L, i * 10L + 25L))
      .toDF("l_id", "ls", "le")
    val r = Seq.tabulate(50)(i => (i.toLong, i * 7L, i * 7L + 15L))
      .toDF("r_id", "rs", "re")
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", -1)
      val q = graft.operators.RangeJoin.intervalOverlapJoin(
        l, "ls", "le", r, "rs", "re", binWidth = 16L)
      val p = plan(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"interval overlap join degenerated to all-pairs:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"expected a shuffled equi-join on the bin:\n$p")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("mutual kNN graph: the transpose match joins id/rank triples, not vectors") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = graft.llm.Similarity.mutualKnnGraph(
      emb, "vec_id", "embedding", k = 3,
      mode = graft.llm.Similarity.KnnMode.Exact)
    val p = plan(q)
    // the mutual self-join must shuffle only (id_a, id_b, rank) triples —
    // a vector column riding through it would multiply shuffle payload
    val joins = p.linesIterator.filter(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin") ||
        l.contains("BroadcastHashJoin")).toSeq
    assert(joins.nonEmpty, s"no equi-join in mutual kNN plan:\n$p")
    assert(!joins.exists(l => l.contains("qv") || l.contains("cv") ||
      l.contains("embedding")),
      s"vectors ride through the mutual join:\n${joins.mkString("\n")}")
  }

  test("incremental dedup clustering: one shingle pass feeds both legs") {
    // the dedup_groups_incremental motif: LSH pair generation is the
    // dominant cost, so the history and fresh legs must both scan the
    // checkpointed pair frame — neither may re-run the shingle explode
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val allPairs = graft.llm.Dedup.minHashDedupPairs(docs, "doc_id", "text",
        numHashes = 32, bands = 16, threshold = 0.5)
      .select("id_a", "id_b")
      .localCheckpoint()
    val histPairs = allPairs.filter(col("id_a") % 5 =!= 0 && col("id_b") % 5 =!= 0)
    val newPairs = allPairs.filter(col("id_a") % 5 === 0 || col("id_b") % 5 === 0)
    Seq("hist" -> histPairs, "new" -> newPairs).foreach { case (leg, df) =>
      val p = plan(df)
      assert(p.contains("ExistingRDD") || p.contains("Scan ExistingRDD"),
        s"$leg leg does not scan the checkpointed pair frame:\n$p")
      assert(!p.contains("Generate"),
        s"$leg leg re-runs the shingle explode instead of reusing the checkpoint:\n$p")
    }
  }

  test("exact-substring census: min-per-gram partial aggregate, no pairwise stage") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = graft.llm.Dedup.exactSubstringDupStats(docs, "doc_id", "text", 8)
    val p = plan(q)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pairwise/cartesian stage in the substring census:\n$p")
    // gram ownership must map-side combine: partial HashAggregate below the
    // gram exchange, so a boilerplate gram ships one row per task, not per
    // occurrence
    val exIdx = p.indexOf("Exchange hashpartitioning(__graft_gram")
    assert(exIdx > 0, s"no gram exchange in census plan:\n$p")
    assert(p.substring(exIdx).contains("HashAggregate"),
      s"gram ownership does not pre-aggregate map-side:\n$p")
  }

  test("KMV sketch: one exchange, k-longs partial aggregate map-side, pruned scan") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val q = graft.sketch.KmvOps.kmvDistinct(ev, Seq("event_type"), "user_id")
    val p = plan(q)
    // the TypedImperativeAggregate must plan partial+final: the exchange
    // carries ≤ k longs per (group, partition), never the distinct hashes
    val exIdx = p.indexOf("Exchange hashpartitioning")
    assert(exIdx > 0, s"no hash exchange in KMV plan:\n$p")
    assert(p.substring(exIdx).contains("partial_kmv_kmins"),
      s"no map-side partial KMV aggregate below the exchange:\n$p")
    assert("Exchange".r.findAllIn(p).size == 1,
      s"KMV sketch must be a single-exchange aggregate:\n$p")
    assert(p.contains("ReadSchema: struct<user_id:bigint,event_type:string>"),
      s"KMV scan did not prune to (group, value) columns:\n$p")
  }

  test("join-size estimate never joins the raw tables: exchanges carry sketch cells") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val ord = spark.read.parquet(s"$sf/orders.parquet")
    val q = graft.sketch.JoinSizeEstimate.estimate(ev, "user_id", ord, "o_custkey")
    val p = plan(q)
    // each side: posexplode → partial HashAggregate BEFORE its exchange, so
    // the shuffle is depth×width cells per mapper regardless of input size
    val firstEx = p.indexOf("Exchange hashpartitioning")
    assert(firstEx > 0, s"no exchange in estimate plan:\n$p")
    assert(p.substring(firstEx).contains("HashAggregate"),
      s"no map-side partial aggregate under the sketch exchange:\n$p")
    // the only join keys are (depth_i, bucket) — the raw key columns never
    // reach a join
    assert(!p.contains("CartesianProduct"), s"cartesian in estimate plan:\n$p")
    val joinLines = p.linesIterator.filter(l =>
      l.contains("Join") && !l.contains("BroadcastExchange")).mkString("\n")
    assert(!joinLines.contains("user_id#") || joinLines.contains("depth_i"),
      s"join on raw keys instead of sketch cells:\n$joinLines")
  }

  test("label spread broadcasts the seed side; corpus scan stays unshuffled") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val q = graft.llm.Similarity.labelSpread(
      emb.filter(col("vec_id") % 4 =!= 0), "vec_id", "embedding",
      emb.filter(col("vec_id") % 4 === 0), "vec_id", "embedding", "label", k = 5)
    val p = plan(q)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"seed side not broadcast:\n$p")
    // the first exchange above the corpus scan must be the per-vector
    // top-k/vote partitioning, not a pre-join shuffle of vectors
    val joinIdx = p.indexOf("BroadcastNestedLoopJoin")
    val exIdx = p.indexOf("Exchange hashpartitioning")
    assert(joinIdx > 0, s"no broadcast join in label-spread plan:\n$p")
    assert(exIdx < joinIdx, // exchanges print ABOVE the join they feed from
      s"corpus shuffled before meeting the broadcast seeds:\n$p")
  }

  test("triangle count: equi-joins only, no cartesian wedge generation") {
    import spark.implicits._
    val edges = (1 to 200).map(i => ((i % 37).toLong, (i % 53).toLong))
    val q = graft.operators.Triangles.triangleCount(edges.toDF("a", "b"), "a", "b")
    val p = plan(q)
    assert(!p.contains("CartesianProduct"),
      s"cartesian product in triangle plan:\n$p")
    // the ONLY nested-loop join allowed is the deliberate 1×1 cross of the
    // two singleton aggregates at the very top
    val bnlj = "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(bnlj <= 1,
      s"nested-loop join beyond the singleton top-level cross:\n$p")
  }

  test("exact Jaccard join: candidates from a prefix equi-join, never all-pairs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = graft.llm.Dedup.exactJaccardJoin(
      docs, "doc_id", "text", 1, 2, ngram = 3)
    val p = plan(q)
    assert(!p.contains("CartesianProduct"), s"cartesian in AllPairs plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in AllPairs plan:\n$p")
    // the candidate join must key on the exploded prefix token
    assert(p.contains("tok"), s"no prefix-token join key visible:\n$p")
  }

  test("containment join: probe-prefix × postings equi-join, never all-pairs") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val q = graft.llm.Dedup.exactContainmentJoin(
      docs, "doc_id", "text", 2, 3, ngram = 3)
    val p = plan(q)
    assert(!p.contains("CartesianProduct"), s"cartesian in containment plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in containment plan:\n$p")
    assert(p.contains("tok"), s"no token join key visible:\n$p")
  }

  test("market-basket top-k plans as TakeOrderedAndProject, no global sort") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val q = graft.operators.MarketBasket.frequentPairs(
      li, "l_orderkey", "l_partkey", 25)
    val p = plan(q)
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k did not plan as TakeOrderedAndProject:\n$p")
  }

  test("canary scan prunes the documents read to (doc_id, text)") {
    val p = plan(SparkEntry.queries("canary_scan")(spark, sf))
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      s"canary scan reads more than it needs:\n$p")
  }

  test("trend and OHLC prune the events scan to the used columns") {
    val pt = plan(SparkEntry.queries("events_trend")(spark, sf))
    assert(pt.contains("ReadSchema: struct<ts:timestamp_ntz,event_type:string,value:double>")
      || pt.contains("ReadSchema: struct<ts:bigint,event_type:string,value:double>")
      || pt.contains("event_type") && !pt.contains("props"),
      s"events_trend reads unused columns (props/user_id):\n$pt")
    assert(!pt.contains("props"), s"events_trend reads props:\n$pt")
    val po = plan(SparkEntry.queries("events_ohlc")(spark, sf))
    assert(!po.contains("props") && !po.contains("user_id"),
      s"events_ohlc reads unused columns:\n$po")
  }

  test("KS audit: one materialized corpus pass, counts shape prunes the scan") {
    // the (g, v) counts frame is localCheckpointed at construction, so the
    // query plan itself must contain NO documents FileScan at all — the
    // corpus pass happened exactly once, at the checkpoint
    val q = SparkEntry.queries("length_ks")(spark, sf)
    val p = plan(q)
    val scans = "FileScan parquet[^\\n]*documents\\.parquet".r
      .findAllIn(p).length
    assert(scans == 0,
      s"documents FileScan leaked past the counts checkpoint ($scans):\n$p")
    // and the counts shape itself (what the checkpoint materializes)
    // column-prunes the scan to exactly (source, n_chars)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val counts = docs
      .filter(col("source").isNotNull && col("n_chars").isNotNull)
      .select(col("source"), col("n_chars").cast("long"))
      .groupBy("source", "n_chars").count()
    val cp = plan(counts)
    assert(cp.contains("ReadSchema: struct<source:string,n_chars:bigint>"),
      s"counts pass reads more than (source, n_chars):\n$cp")
  }

  test("transition counts scan the events table exactly once (ReusedExchange)") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
    val q = graft.operators.Transitions.transitionCounts(
      ev, "user_id", "event_type", "ts", "event_id")
    // execute so AQE finalizes and exchange reuse is visible
    q.collect()
    val planStr = plan(q).split("== Initial Plan ==")(0)
    val scans = "FileScan parquet[^\\n]*events\\.parquet".r
      .findAllIn(planStr).length
    assert(scans <= 1,
      s"events scanned $scans times (n_from must reuse the count subtree):\n$planStr")
  }
}

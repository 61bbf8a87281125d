package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.skew.SkewJoin._
import graft.skew.{CrossSkew, LeftSkew, RightSkew, SkewJoinConf}
import graft.testkit.DatasetComparisons._

object SparkTestSession {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .withExtensions(new graft.functions.GraftExtensions)
    .getOrCreate()
}

class SkewJoinSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def li = spark.read.parquet(s"$sf/lineitem.parquet")
  private def orders = spark.read.parquet(s"$sf/orders.parquet")
  private def customer = spark.read.parquet(s"$sf/customer.parquet")

  // Aggressive replication so the machinery engages at tiny scale.
  private val conf = SkewJoinConf(replicationFactor = 0.05)

  private val joinTypes =
    Seq("inner", "left_outer", "right_outer", "full_outer", "left_semi", "left_anti")

  test("skewJoin ≡ plain join for every joinType (lineitem ⋈ orders)") {
    val o = orders.withColumnRenamed("o_orderkey", "l_orderkey")
    joinTypes.foreach { jt =>
      val got = li.skewJoin(o, Seq("l_orderkey"), jt, conf)
      val want = li.join(o, Seq("l_orderkey"), jt)
      withClue(s"joinType=$jt: ") { got.ensureDatasetEquals(want) }
    }
  }

  test("skewJoin ≡ plain join when unmatched rows exist on both sides") {
    // customer ⋈ orders on custkey: some customers have no orders; also
    // filter orders so some orders lose their customer → both anti legs used.
    val o = orders.withColumnRenamed("o_custkey", "c_custkey")
    val c = customer.filter(col("c_custkey") % 3 =!= 0)
    Seq("left_outer", "right_outer", "full_outer").foreach { jt =>
      val got = c.skewJoin(o, Seq("c_custkey"), jt, conf)
      val want = c.join(o, Seq("c_custkey"), jt)
      withClue(s"joinType=$jt: ") { got.ensureDatasetEquals(want) }
    }
  }

  test("skewJoin ≡ plain join on multi-column keys (C1 regression)") {
    import spark.implicits._
    // Keys crafted so string-concat would collide: ("ab","c") vs ("a","bc").
    val a = Seq(("ab", "c", 1), ("a", "bc", 2), ("x", "y", 3))
      .toDF("k1", "k2", "va")
    val b = Seq(("ab", "c", 10), ("a", "bc", 20), ("z", "w", 30))
      .toDF("k1", "k2", "vb")
    val got = a.skewJoin(b, Seq("k1", "k2"), "inner", conf)
    val want = a.join(b, Seq("k1", "k2"), "inner")
    got.ensureDatasetEquals(want)
    assert(got.count() == 2) // concat-collision would yield 4
  }

  test("skewJoin handles null join keys like plain join") {
    import spark.implicits._
    val a = Seq[(java.lang.Long, String)]((1L, "a"), (null, "n1"), (2L, "b"))
      .toDF("k", "va")
    val b = Seq[(java.lang.Long, String)]((1L, "x"), (null, "n2"), (3L, "y"))
      .toDF("k", "vb")
    Seq("inner", "left_outer", "full_outer", "left_semi", "left_anti").foreach { jt =>
      withClue(s"joinType=$jt: ") {
        a.skewJoin(b, Seq("k"), jt, conf).ensureDatasetEquals(a.join(b, Seq("k"), jt))
      }
    }
  }

  test("semi/anti run the salted decomposition (plan pin) and stay exact under skew") {
    import spark.implicits._
    val hot = ((1 to 20000).map(i => (1L, s"h$i")) ++ (1 to 500).map(i => (i.toLong + 1, s"u$i")))
      .toDF("k", "lv").repartition(8)
    val rhs = ((1 to 50).map(i => (1L, s"r$i")) ++ (1 to 250).map(i => (i.toLong * 2, s"w$i")))
      .toDF("k", "rv")
    val cfg = SkewJoinConf(replicationFactor = 0.005)
    Seq("left_semi", "left_anti").foreach { jt =>
      val salted = hot.skewJoin(rhs, Seq("k"), jt, cfg)
      withClue(s"joinType=$jt: ") {
        // the salted path joins on (k, fragment id); the plain fallback has
        // no salt column anywhere in the plan
        assert(salted.queryExecution.analyzed.toString.contains(SaltL),
          "expected the salted semi/anti decomposition in the plan")
        salted.ensureDatasetEquals(hot.join(rhs, Seq("k"), jt))
        // RightSkew declares no left skew → nothing to fragment → plain join
        val plain = hot.skewJoin(rhs, Seq("k"), jt,
          cfg.copy(skewType = RightSkew))
        assert(!plain.queryExecution.analyzed.toString.contains(SaltL))
        plain.ensureDatasetEquals(hot.join(rhs, Seq("k"), jt))
      }
    }
  }

  test("skewJoin ≡ plain join under extreme single-key skew, all SkewTypes") {
    import spark.implicits._
    val hot = (1 to 20000).map(i => (1L, s"h$i")) ++ (1 to 500).map(i => (i.toLong + 1, s"u$i"))
    val lhs = hot.toDF("k", "lv").repartition(8)
    val rhs = ((1 to 50).map(i => (1L, s"r$i")) ++ (1 to 500).map(i => (i.toLong + 1, s"w$i")))
      .toDF("k", "rv")
    Seq(CrossSkew, LeftSkew, RightSkew).foreach { st =>
      val cfg = SkewJoinConf(replicationFactor = 0.005, skewType = st)
      withClue(s"skewType=$st: ") {
        lhs.skewJoin(rhs, Seq("k"), "inner", cfg)
          .ensureDatasetEquals(lhs.join(rhs, Seq("k"), "inner"))
      }
    }
  }

  /** Asserts fragmentation spreads a 95%-hot key across reducers: the
    * output's partition skew is ≥3× below the plain join's. */
  private def assertSpreadsHotKey(joinType: String): Unit = {
    import spark.implicits._
    import graft.skew.PartitionStats._
    // one key carrying 95% of the rows
    val hot = ((1 to 40000).map(_ => (1L, "h")) ++ (1 to 2000).map(i => (i.toLong + 1, "u")))
      .toDF("k", "lv").repartition(8)
    val rhs = ((1 to 4).map(i => (1L, s"r$i")) ++ (1 to 2000).map(i => (i.toLong + 1, "w")))
      .toDF("k", "rv")
    val cfg = SkewJoinConf(CMSeps = 1e-4, replicationFactor = 0.001)
    val prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // force a shuffle join: with a broadcastable build side there is no
    // reducer skew to begin with (that's the cheap fix when it applies)
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val salted = hot.skewJoin(rhs, Seq("k"), joinType, cfg)
      val plain = hot.join(rhs, Seq("k"), joinType)
      assert(salted.count() == plain.count())
      val saltedRatio = salted.partitionSkewRatio
      val plainRatio = plain.partitionSkewRatio
      assert(saltedRatio * 3 < plainRatio,
        s"expected ≥3x skew improvement: salted=$saltedRatio plain=$plainRatio")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prev)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("fragmentation spreads a hot key across reducers (skew-effect regression)") {
    assertSpreadsHotKey("inner")
  }

  test("full outer output keeps the salted join's spread (skew-effect regression)") {
    // no re-shuffle after the join: the outer result is partitioned like
    // the salted join itself
    assertSpreadsHotKey("full_outer")
  }

  // Hot keys with fewer rows than fragments: replicationFactor 10 lifts
  // every present key to the cap of 8 fragments on each side (its debiased
  // estimate is ≥ 1), but each side holds only 2-5 rows per key, so most
  // salt cells of a matched key
  // are empty on one side and its replicas there come out padded. Orphan
  // keys on each side and null keys must still come out padded once.
  private val sparseConf = SkewJoinConf(CMSeps = 1e-3, replicationFactor = 10,
    maxReplication = Some(8))

  private def sparseSides = {
    import spark.implicits._
    def side(name: String, orphans: Range, salt: Int) = {
      val matched = for {
        k <- 1 to 40
        i <- 1 to 2 + (k * salt) % 4
      } yield (Option(k.toLong), Option(k * 100 + i).filter(_ % 7 != 0))
      val only = for { k <- orphans; i <- 1 to 3 } yield (Option(k.toLong), Option(i))
      val nulls = (1 to 3).map(i => (Option.empty[Long], Option(-i)))
      spark.createDataset(matched ++ only ++ nulls).toDF("k", name).repartition(4)
    }
    (side("lv", 100 to 109, 1), side("rv", 200 to 209, 3))
  }

  test("outer skewJoin ≡ plain join when hot keys leave salt cells empty") {
    val (l, r) = sparseSides
    for {
      st <- Seq(CrossSkew, LeftSkew, RightSkew)
      jt <- Seq("left_outer", "right_outer", "full_outer")
    } withClue(s"skewType=$st joinType=$jt: ") {
      l.skewJoin(r, Seq("k"), jt, sparseConf.copy(skewType = st))
        .ensureDatasetEquals(l.join(r, Seq("k"), jt))
    }
  }

  test("user filters above an outer skewJoin ≡ the same filters over the plain join") {
    // the keep rule is a plain Filter, so the optimizer may push a user
    // filter past it into an input (or turn the outer join inner)
    val (l, r) = sparseSides
    val filters = Seq(
      "left payload" -> (col("lv") % 2 === 0),
      "right payload" -> (col("rv") % 3 =!= 0),
      "payload is null" -> col("rv").isNull,
      "key" -> (col("k") > 20))
    for {
      (name, f) <- filters
      jt <- Seq("left_outer", "right_outer", "full_outer")
    } withClue(s"filter=$name joinType=$jt: ") {
      l.skewJoin(r, Seq("k"), jt, sparseConf).filter(f)
        .ensureDatasetEquals(l.join(r, Seq("k"), jt).filter(f))
    }
  }

  test("SkewJoinConf rejects out-of-range settings") {
    val bad = Seq(
      () => SkewJoinConf(CMSeps = 0), () => SkewJoinConf(CMSeps = 1),
      () => SkewJoinConf(CMSdelta = 0), () => SkewJoinConf(CMSdelta = 1.5),
      () => SkewJoinConf(replicationFactor = 0), () => SkewJoinConf(replicationFactor = -1),
      () => SkewJoinConf(maxReplication = Some(0)))
    bad.foreach(mk => intercept[IllegalArgumentException](mk()))
    SkewJoinConf(maxReplication = Some(1)) // the smallest valid cap
  }

  test("skewJoin under AQE: stays correct, pre-empts OptimizeSkewedJoin; plain join is the positive control") {
    import spark.implicits._
    // one key carrying 95% of the rows — same shape as the effect test,
    // but with AQE ON (the Spark 4 default the operator actually meets).
    // Payloads are pseudo-random hex: AQE's skew detection reads COMPRESSED
    // map-output sizes, and 40k identical rows lz4 down to nothing
    def pay(i: Int): String = (0 until 8).map(j =>
      f"${scala.util.hashing.MurmurHash3.productHash((i, j))}%08x").mkString
    val hot = ((1 to 40000).map(i => (1L, pay(i))) ++
      (1 to 2000).map(i => (i.toLong + 1, pay(-i))))
      .toDF("k", "lv").repartition(8)
    val rhs = ((1 to 4).map(i => (1L, s"r$i")) ++ (1 to 2000).map(i => (i.toLong + 1, "w")))
      .toDF("k", "rv")
    // 0.005 → ~200-way fragmentation of the 40k-row hot key (maxReplication
    // must be lifted: it defaults to shuffle.partitions=8, and 8 salts into
    // 8 partitions leaves 2-salt bins over threshold by balls-into-bins
    // luck; 200 salts spread ~25 per partition, uniform to ±20%)
    val cfg = SkewJoinConf(CMSeps = 1e-4, replicationFactor = 0.005,
      maxReplication = Some(200))
    val saved = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> spark.conf.getOption(k)).toMap
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // thresholds sized between the salted partitions (hot bytes ÷ the 40-way
    // replication spread, ~160 KB compressed) and the unsalted hot partition
    // (~1.5 MB): AQE must fire on the plain join and find nothing left to
    // split after key-level salting
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "512kb")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256kb")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      // positive control: AQE's partition-level mitigation DOES engage on
      // the plain shuffle join of the same data
      // execute each frame's OWN query execution (count() would plan a
      // separate query and leave this one un-finalized under AQE)
      def run(df: org.apache.spark.sql.DataFrame): Unit =
        df.queryExecution.toRdd.foreachPartition(_ => ())
      val plain = hot.join(rhs, Seq("k"), "inner")
      run(plain)
      assert(plain.queryExecution.executedPlan.toString.contains("skew=true"),
        "control failed: AQE did not mark the plain join skewed — " +
          "thresholds no longer bite this data shape")
      // the salted join stays correct under AQE...
      val salted = hot.skewJoin(rhs, Seq("k"), "inner", cfg)
      salted.ensureDatasetEquals(hot.join(rhs, Seq("k"), "inner"))
      // ...and leaves AQE nothing to split: key-level fragmentation already
      // spread the hot key, so no post-shuffle partition crosses the same
      // thresholds that fired on the plain join
      val salted2 = hot.skewJoin(rhs, Seq("k"), "inner", cfg)
      run(salted2)
      assert(!salted2.queryExecution.executedPlan.toString.contains("skew=true"),
        "salted plan still triggered OptimizeSkewedJoin — salting left a " +
          "partition-level hotspot AQE had to repair")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("skewJoin handles an empty side like plain join for every joinType") {
    import spark.implicits._
    val a = Seq((1L, "x"), (2L, "y")).toDF("k", "va")
    val empty = Seq.empty[(Long, String)].toDF("k", "vb")
    joinTypes.foreach { jt =>
      withClue(s"empty right, joinType=$jt: ") {
        a.skewJoin(empty, Seq("k"), jt, conf)
          .ensureDatasetEquals(a.join(empty, Seq("k"), jt))
      }
      withClue(s"empty left, joinType=$jt: ") {
        empty.skewJoin(a.toDF("k", "vb"), Seq("k"), jt, conf)
          .ensureDatasetEquals(empty.join(a.toDF("k", "vb"), Seq("k"), jt))
      }
    }
  }

  test("skewJoin rejects unsupported join types") {
    val o = orders.withColumnRenamed("o_orderkey", "l_orderkey")
    intercept[IllegalArgumentException] {
      li.skewJoin(o, Seq("l_orderkey"), "cross", conf)
    }
  }

  test("output schema matches plain join column order and names") {
    val o = orders.withColumnRenamed("o_orderkey", "l_orderkey")
    val got = li.skewJoin(o, Seq("l_orderkey"), "inner", conf)
    val want = li.join(o, Seq("l_orderkey"), "inner")
    assert(got.columns.toSeq == want.columns.toSeq)
  }
}

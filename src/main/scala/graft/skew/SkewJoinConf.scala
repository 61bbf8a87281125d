package graft.skew

/** Configuration for [[graft.skew.SkewJoin]].
  *
  * Field names and defaults mirror the reference
  * (`src/main/scala/org/anish/spark/skew/SkewJoinConf.scala:6-8`):
  *
  * @param CMSeps            Count-Min-Sketch relative error (overcount ≤ eps·N), in (0, 1).
  * @param CMSdelta          CMS failure probability, in (0, 1); Spark's builder takes
  *                          `confidence = 1 - delta`.
  * @param CMSseed           CMS hash seed.
  * @param replicationFactor replication = max(min((freq · factor).toInt, numPartitions), 1);
  *                          with the 1e-3 default, keys with estimated
  *                          frequency < 2000 are untouched. Must be positive.
  * @param skewType          which side(s) are fragmented.
  * @param maxReplication    optional hard cap on per-key fan-out, at least 1;
  *                          defaults to `spark.sql.shuffle.partitions` at call time
  *                          (the reference used `defaultPartitioner(...).numPartitions`,
  *                          `dfimplicits.scala:68`).
  */
case class SkewJoinConf(
    CMSeps: Double = 0.005,
    CMSdelta: Double = 1e-8,
    CMSseed: Int = 1,
    replicationFactor: Double = 1e-3,
    skewType: SkewType = CrossSkew,
    maxReplication: Option[Int] = None) {
  require(CMSeps > 0 && CMSeps < 1, s"CMSeps must be in (0, 1), got $CMSeps")
  require(CMSdelta > 0 && CMSdelta < 1, s"CMSdelta must be in (0, 1), got $CMSdelta")
  require(replicationFactor > 0, s"replicationFactor must be positive, got $replicationFactor")
  require(maxReplication.forall(_ >= 1),
    s"maxReplication must be at least 1, got ${maxReplication.get}")
}

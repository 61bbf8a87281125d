package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.Dedup
import graft.operators.ConnectedComponents
import graft.sketch.CmsOps
import graft.skew.SkewJoin._

/** A workload's fixed pass and its layer probes. `pass` and `probes` return
  * whether every result equalled its oracle. */
sealed trait Workload {
  def pass(rec: Recorder): Boolean
  /** Traced calls into layers the pass does not isolate on its own. */
  def probes(rec: Recorder): Boolean
}

object Workload {
  def apply(name: String, in: Gen.Inputs): Workload = name match {
    case "skew_hot" | "skew_inert" => new SkewPass(in.tables("left"), in.tables("right"))
    case "dedup_lsh" => new LshPass(in.tables("docs"), in.planted)
  }
}

/** `skewJoin` inner, full_outer and left_anti under the default
  * `SkewJoinConf()`, each consumed by an integer aggregate over both
  * payloads, checked against the plain join computed once at set-up. */
final class SkewPass(left: DataFrame, right: DataFrame) extends Workload {
  private val Ops = Seq("inner", "full_outer", "left_anti")

  private def consume(df: DataFrame, op: String): Seq[Long] = {
    val aggs =
      if (op == "left_anti") Seq(count(lit(1)), count(col("pl")), coalesce(sum(col("pl")), lit(0L)))
      else Seq(count(lit(1)), count(col("pl")), count(col("pr")),
        coalesce(sum(col("pl")), lit(0L)), coalesce(sum(col("pr")), lit(0L)))
    df.agg(aggs.head, aggs.tail: _*).head().toSeq.map(_.asInstanceOf[Long])
  }

  private def plain(op: String): Seq[Long] = consume(left.join(right, Seq("key"), op), op)

  private val oracle: Map[String, Seq[Long]] = Ops.map(op => op -> plain(op)).toMap

  def pass(rec: Recorder): Boolean = Ops.map { op =>
    val joined = rec.span("skew.call", "op" -> op)(left.skewJoin(right, Seq("key"), op))
    rec.span("skew.action", "op" -> op)(consume(joined, op)) == oracle(op)
  }.forall(identity)

  def probes(rec: Recorder): Boolean = {
    val plainOk = rec.root("probe.plain", traced = true) {
      Ops.map(op => rec.span("join.plain", "op" -> op)(plain(op)) == oracle(op)).forall(identity)
    }.value
    // the single-column form of SkewJoin's canonical CMS key
    def key(df: DataFrame) = concat_ws("\u001f", df.col("key").cast("string"))
    rec.root("probe.cms", traced = true) {
      rec.span("sketch.cms") {
        CmsOps.cmsOf(left, key(left))
        CmsOps.cmsOf(right, key(right))
      }
    }
    plainOk
  }
}

/** MinHash near-dup pairs (32 hashes, 16 bands, threshold 0.5) then
  * connected components, checked against the planted clusters. The pairs
  * are materialized once so each layer is timed on its own. */
final class LshPass(docs: DataFrame, planted: Map[Long, Long]) extends Workload {
  def pass(rec: Recorder): Boolean = {
    val pairs = rec.span("lsh.pairs") {
      val p = Dedup.minHashDedupPairs(docs, "id", "text",
        numHashes = 32, bands = 16, threshold = 0.5).persist()
      rec.note("pairs", p.count())
      p
    }
    try {
      val components = rec.span("cc") {
        ConnectedComponents.connectedComponents(pairs.select("id_a", "id_b")).collect()
      }
      components.map(r => r.getLong(0) -> r.getLong(1)).toMap == planted
    } finally pairs.unpersist(blocking = true)
  }

  def probes(rec: Recorder): Boolean = true
}

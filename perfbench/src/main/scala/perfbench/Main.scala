package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, in one process:
  *
  *  1. set-up: session start, input generation, the oracle; then
  *     `WarmUps` untimed passes;
  *  2. passes for `--seconds` seconds, every result checked. Untraced, only
  *     untraced passes run. Traced, each round runs an untraced and a traced
  *     pass, then the workload's traced layer probes, so the tracing
  *     overhead is measured within the run;
  *  3. the record (set-up time, passes, spans and events) is written as
  *     JSON to `--out`, for `run.py` to turn into metrics.
  */
object Main {
  /** Untimed passes before the timed ones. C1 code (run.py) settles within two. */
  val WarmUps = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val work = opt("work")

    def session(): SparkSession = {
      val b = SparkSession.builder().master(s"local[$cores]").appName(s"perfbench-$workload")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        // Spark's size thresholds, scaled down with the data so that the
        // plans keep the partition layout they would have at scale: 4 shuffle
        // partitions per core (the 200 default makes every map task open 200
        // shuffle files, a fixed cost that would hide every layer; it is also
        // skewJoin's default fan-out cap), and a 64 KB floor under AQE's
        // partition coalescing (the 1 MB default would merge a join of a few
        // MB into one or two tasks, hiding any straggler).
        .config("spark.sql.shuffle.partitions", (4 * cores).toString)
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // At this scale both join sides would fit under the broadcast
      // threshold; the skew workloads model the shuffle join the paper is
      // about, so broadcast joins are off for them.
      if (workload.startsWith("skew_")) b.config("spark.sql.autoBroadcastJoinThreshold", "-1")
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }

    val t0 = System.nanoTime()
    val spark = session()
    val rec = new Recorder(spark)
    val inputs = Gen.write(spark, workload, seed, s"$work/data", cores)
    val wl = Workload(workload, inputs)
    val setupS = (System.nanoTime() - t0) / 1e9

    val w0 = System.nanoTime()
    val warmUps = (1 to WarmUps).map { _ =>
      val t = rec.root("warm-up", traced = false)(wl.pass(rec))
      require(t.value, s"$workload: a warm-up pass returned a wrong result")
      t.wallS
    }
    val warmUpS = (System.nanoTime() - w0) / 1e9

    val passes = ArrayBuffer.empty[Map[String, Any]]
    val probes = ArrayBuffer.empty[Boolean]
    def checked[T](what: String)(body: => T): Option[T] =
      try Some(body)
      catch { case NonFatal(e) => System.err.println(s"$workload: $what failed: $e"); None }

    // A traced run alternates which of its two passes goes first in a round,
    // so neither side of the tracing overhead always follows the probes.
    val m0 = System.nanoTime()
    var round = 0
    while (passes.isEmpty || (System.nanoTime() - m0) / 1e9 < seconds) {
      val order =
        if (!traced) Seq(false) else if (round % 2 == 0) Seq(false, true) else Seq(true, false)
      for (tr <- order) {
        passes += (checked("pass")(rec.root("pass", tr)(wl.pass(rec))) match {
          case Some(t) => Map("traced" -> tr, "ok" -> t.value, "wall_s" -> t.wallS,
            "cpu_s" -> t.cpuS, "shuffle_write_bytes" -> t.shuffleWritten)
          case None => Map("traced" -> tr, "ok" -> false)
        })
      }
      if (traced) probes += checked("probe")(wl.probes(rec)).getOrElse(false)
      round += 1
    }

    val record = Map("workload" -> workload, "seed" -> seed, "cores" -> cores,
      "traced" -> traced, "inputs" -> inputs.info, "setup_s" -> setupS,
      "warm_up_s" -> warmUpS, "warm_ups" -> warmUps,
      "passes" -> passes, "probes" -> probes, "trace" -> rec.records)
    val w = new java.io.PrintWriter(opt("out"), "UTF-8")
    try w.write(new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(record))
    finally w.close()
    spark.stop()
  }
}

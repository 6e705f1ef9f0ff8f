package graftbench

import scala.collection.mutable.ArrayBuffer

import graft.Tables
import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: sets up the session, runs one workload's
  * closed loop and writes the raw measurements as one JSON object.
  *
  * Usage: graftbench.Main --workload <tagging|curation|session>
  *   --data <generated inputs> --scratch <dir> --report <file> --seed <n>
  *   --seconds <s> --trace <0|1> --cores <k>
  *
  * Untraced (--trace 0): set-up (session start plus one untimed warm-up
  * operation), then operations until `seconds` elapse, or the workload's
  * planned number of operations for `seconds`. The report carries the
  * wall-clock time (epoch milliseconds) at which the first timed operation
  * starts, so that the caller can time set-up from the JVM's launch.
  *
  * Traced (--trace 1): the same set-up, then phase A runs operations
  * untraced for 30% of `seconds`; the session is reset and phase B replays
  * exactly those operations with listeners and span attribution on. Then
  * come the per-stage breakdown and the native-expression timings, and
  * phase C replays the operations once more, untraced. Layer metrics are
  * per operation of phase B; trace.overhead_frac compares phase B's total
  * latency with phase C's.
  */
object Main {

  def session(cores: Int, scratch: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$scratch/spark-local")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$scratch/hadoop")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Tables.configure(spark)
  }

  /** A progress line in the JVM's log. */
  private def progress(what: String): Unit =
    println(f"graftbench: ${System.currentTimeMillis() / 1000.0}%.1f $what")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val name = a("workload")
    val data = a("data")
    val scratch = a("scratch")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val seed = a("seed").toLong
    val cores = a("cores").toInt

    // set-up: the session and one untimed warm-up operation
    val spark = session(cores, scratch)
    val tr = new Tracer(spark)
    val wl = Workload(name, spark, data, scratch, tr, seed)
    val warmupFailure = wl.run(wl.warmupKey).failure
    wl.reset()

    val latencies = ArrayBuffer.empty[Double]
    val keys = ArrayBuffer.empty[String]
    val failures = ArrayBuffer.empty[String]
    val storedMb = ArrayBuffer.empty[Double]
    val pending = ArrayBuffer.empty[Int]
    var nextOp = 0

    /** Operation k of the workload's sequence under a fresh op id. */
    def one(k: Int): Unit = {
      val id = nextOp
      nextOp += 1
      val r = tr.op(id, wl.key(k)) { wl.run(k) }
      latencies += r.latency
      keys += wl.key(k)
      storedMb += r.storedMb
      pending += r.pending
      r.failure.foreach(f => failures += s"op $id (${wl.key(k)}): $f")
    }

    progress("timed loop")
    val loopStartEpochMs = System.currentTimeMillis()
    val loopStart = System.nanoTime()
    val budget = if (traced) 0.3 * seconds else seconds
    wl.plannedOps(budget) match {
      case Some(n) => (0 until n).foreach(one)
      case None =>
        var k = 0
        while (k < 2 || (System.nanoTime() - loopStart) / 1e9 < budget) { one(k); k += 1 }
    }
    val phaseA = latencies.length
    val loopS = (System.nanoTime() - loopStart) / 1e9

    val report = scala.collection.mutable.LinkedHashMap[String, Any](
      "workload" -> name, "seed" -> seed, "cores" -> cores, "docs" -> wl.nDocs,
      "loop_start_epoch_ms" -> loopStartEpochMs, "warmup_failure" -> warmupFailure,
      "latencies" -> latencies.take(phaseA), "keys" -> keys.take(phaseA),
      "stored_mb" -> storedMb.take(phaseA), "loop_s" -> loopS)

    if (traced) {
      // phase B: phase A's operations again, traced; phase C: the same
      // operations untraced, the baseline for the tracing overhead
      def replay(): Range = {
        wl.reset()
        val first = nextOp
        (0 until phaseA).foreach(one)
        first until nextOp
      }
      tr.listen()
      progress("phase B")
      val bOps = replay().toSet
      progress("breakdown")
      tr.op(nextOp, "breakdown") { wl.breakdown() }
      nextOp += 1
      progress("functions")
      val fns = tr.op(nextOp, "functions") { FunctionsBench.run(spark, data, tr) }
      nextOp += 1
      tr.unlisten()
      progress("phase C")
      replay()
      val b = latencies.slice(phaseA, 2 * phaseA).toSeq
      val c = latencies.slice(2 * phaseA, 3 * phaseA).toSeq
      val bKeys = keys.slice(phaseA, 2 * phaseA).toSeq
      report("layers") = Layers(tr, bOps, c, b, bKeys,
        storedMb.slice(phaseA, 2 * phaseA).toSeq, pending.slice(phaseA, 2 * phaseA).toSeq,
        cores) ++ fns
      report("stage_layers") = Layers.stages(tr, wl)
      report("by_key") = Layers.byKey(tr, bOps, bKeys)
      tr.writeSpans(a("spans"))
      report("spans") = a("spans")
    }

    report("attempted") = latencies.length
    report("op_failures") = failures
    report("check_failures") = wl.finalChecks()
    report ++= wl.reportFields
    spark.stop()
    val w = new java.io.PrintWriter(a("report"), "UTF-8")
    try w.println(Json.obj(report.toSeq)) finally w.close()
  }
}

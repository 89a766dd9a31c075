package graft.perfbench

import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import Workload.{sumSpans, timed}

/** One benchmark run in one JVM: set up (several times, for a steady
  * `setup_s`), then a closed loop of one client for the measured window.
  * Prints one `PERFBENCH {...}` line of raw measurements; `run.py` turns it
  * into the benchmark's metrics.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1 --dir RUN_DIR
  *             --cores C [--spans FILE] [--gen-only 1]
  */
object Main {
  val SetupReps = 3

  def session(cores: Int, dir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // as Bench: Spark 4's default "formatted" explain string is computed for
      // every execution event and costs seconds on large composed plans
      .config("spark.sql.ui.explainMode", "simple")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/local")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  final case class Window(samples: Vector[Double], units: Long, attempted: Int, failed: Int, ns: Long) {
    def +(r: OpResult, ns: Long): Window =
      Window(samples ++ r.samplesMs, units + r.units, attempted + r.attempted, failed + r.failed, this.ns + ns)
  }

  /** Run operations, taking the tracers in turn, until the last tracer's
    * operations have taken `seconds` of timed wall time; one window per
    * tracer. Alternating untraced and traced operations keeps warm-up drift
    * out of the tracing overhead. An operation that throws counts as
    * attempted and failed. */
  def measure(w: Workload, spark: SparkSession, seconds: Double, tracers: Seq[Tracer]): Seq[Window] = {
    val acc = Array.fill(tracers.length)(Window(Vector.empty, 0L, 0, 0, 0L))
    var i = 0
    while (acc.last.ns < seconds * 1e9) {
      val k = i % tracers.length
      val (r, ns) = timed {
        try w.op(spark, tracers(k)) catch { case NonFatal(e) =>
          System.err.println(s"[perfbench] operation failed: $e")
          OpResult(Nil, 0L, 1, 1, 0L)
        }
      }
      acc(k) = acc(k) + (r, if (r.timedNs > 0) r.timedNs else ns)
      i += 1
    }
    acc.toSeq
  }

  /** Engine-wide per-layer metrics of the traced operations, per operation.
    * The ingest boundary materializations ("pdf", "pipeline") only exist to
    * split self times, so they are left out of the engine totals. */
  def engineLayers(t: Tracer, ops: Set[Int], cores: Int): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    val boundary = Set("pdf", "pipeline")
    val all = t.counters(l => l != "untraced" && !boundary(l))
    val wallMs = sumSpans(t, ops, _ == "op") - sumSpans(t, ops, boundary)
    Map(
      "construct.ms" -> sumSpans(t, ops, _.endsWith(".construct")) / n,
      "construct.jobs" -> t.counters(_.endsWith(".construct")).jobs / n,
      "plan.ms" -> all.planMs / n,
      "exec.jobs" -> all.jobs / n,
      "exec.tasks" -> all.tasks / n,
      "exec.run_s" -> all.runMs / 1e3 / n,
      "exec.cpu_s" -> all.cpuNs / 1e9 / n,
      "exec.gc_s" -> all.gcMs / 1e3 / n,
      "exec.slot_util" -> all.runMs / math.max(1.0, wallMs * cores),
      "exec.input_mb" -> all.inputBytes / 1e6 / n,
      "exec.shuffle_write_mb" -> all.shuffleWriteBytes / 1e6 / n,
      "exec.spill_mb" -> all.spillBytes / 1e6 / n,
      "exec.files_read" -> all.filesRead / n)
  }

  /** Heap in use once garbage is gone: collections are repeated because
    * Spark's cleaner releases shuffle and broadcast state only after a
    * collection has cleared the weak references that hold it. */
  def retainedHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1e6
  }

  /** Exits with the run's status even if Spark leaves non-daemon threads. */
  def main(args: Array[String]): Unit = {
    val ok = try { run(args); true } catch { case NonFatal(e) =>
      e.printStackTrace()
      false
    }
    sys.exit(if (ok) 0 else 1)
  }

  def run(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val dir = opts("dir")
    val w = Workload(opts("workload"), opts("seed").toLong, dir)
    if (opts.get("gen-only").contains("1")) {
      println(s"""PERFBENCH {"input_digest":"${w.inputDigest}"}""")
      return
    }
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val cores = opts("cores").toInt

    var spark: SparkSession = null
    try {
      val setupS = (1 to (if (trace) 1 else SetupReps)).map { _ =>
        if (spark != null) spark.stop()
        val (s, ns) = timed {
          val s = session(cores, dir)
          w.setup(s, new Tracer(s, enabled = false))
          s
        }
        spark = s
        ns / 1e9
      }
      val plainTracer = new Tracer(spark, enabled = false)
      val tracer = if (trace) Some(new Tracer(spark, enabled = true)) else None
      val windows = measure(w, spark, seconds, plainTracer +: tracer.toSeq)
      val plain = windows.head
      val fields = Seq(
        "input_digest" -> Json.str(w.inputDigest),
        "setup_s" -> setupS.map(Json.num).mkString("[", ",", "]"),
        "samples_ms" -> plain.samples.map(Json.num).mkString("[", ",", "]"),
        "units" -> plain.units.toString,
        "window_s" -> Json.num(plain.ns / 1e9),
        "attempted" -> windows.map(_.attempted).sum.toString,
        "failed" -> windows.map(_.failed).sum.toString,
        "output_digest" -> Json.str(w.outputDigest))
      val more = tracer match {
        case None => Seq("retained_heap_mb" -> Json.num(retainedHeapMb()))
        case Some(t) =>
          val ops = (1 to t.op).toSet
          val layers = engineLayers(t, ops, cores) ++ w.layers(t, ops)
          opts.get("spans").foreach(p => java.nio.file.Files.write(java.nio.file.Paths.get(p),
            t.spansJson.mkString("", "\n", "\n").getBytes("UTF-8")))
          Seq("traced_samples_ms" -> windows(1).samples.map(Json.num).mkString("[", ",", "]"),
            "layers" -> layers.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
              .mkString("{", ",", "}"))
      }
      println("PERFBENCH " + (fields ++ more).map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}"))
    } finally if (spark != null) spark.stop()
  }
}

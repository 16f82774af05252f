package graft.bench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import graft.core.{April, Predicates, Topology}

/**
 * Closed-loop benchmark of the graft engine: one client issues one operation
 * at a time against committed snapshots for `--seconds`, checks every result
 * against a brute-force oracle, and prints the end-to-end metrics (or, with
 * `--trace 1`, the per-layer ones) and a final JSON line.
 *
 *   GeoBench --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *            --work-dir <dir> [--spans <file>]
 *
 * The process exits 1 when any operation failed or its check did not hold.
 */
object GeoBench {
  /** Set-up runs this many times; setup_s is the median. */
  val SetupReps = 3
  /** Untimed operations before the measured loop: enough that the measured
    * ones sit past most of the JIT's speed-up, whose slope otherwise makes a
    * run's median depend on how many operations fit in it. */
  val WarmupOps = 8
  /** Executor threads. Two leave the driver thread, the JIT compiler and the
    * garbage collector free cores on a 4-vCPU host; with as many task threads
    * as cores, a stage waits on whichever thread the host deschedules, and the
    * run-to-run spread grew past the metrics' bounds. */
  val Cores: Int = math.min(2, Runtime.getRuntime.availableProcessors)

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        workDir: String, spans: Option[String])

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    require(args.length % 2 == 0, "arguments come in --name value pairs")
    val trace = need("trace")
    require(trace == "0" || trace == "1", "--trace is 0 or 1")
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, trace == "1",
      need("work-dir"), m.get("spans"))
  }

  def main(args: Array[String]): Unit = {
    val a = parse(args)
    val work = Paths.get(a.workDir).toAbsolutePath
    Files.createDirectories(work)
    val spark = SparkSession.builder().appName("geobench").master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Workload.Parts.toString)
      .config("spark.default.parallelism", Workload.Parts.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val code = try run(spark, a, work) finally spark.stop()
    sys.exit(code)
  }

  private final case class OpRec(id: String, write: Boolean, traced: Boolean,
                                 wall: Double, startMs: Long, endMs: Long,
                                 checked: Checked,
                                 exchanges: Int, methodBytes: Int)

  private def run(spark: SparkSession, a: Args, work: java.nio.file.Path): Int = {
    val sc = spark.sparkContext
    val wl = Workload.make(a.workload, spark, a.seed)
    val listener = new RunListener
    sc.addSparkListener(listener)
    val tracer = new Tracer
    def inOp[T](op: String)(body: => T): T = {
      sc.setLocalProperty(RunListener.OpKey, op)
      tracer.op = op
      try body finally sc.setLocalProperty(RunListener.OpKey, null)
    }
    val errors = mutable.ArrayBuffer.empty[String]
    val phases = mutable.ArrayBuffer("jvm_start" -> uptime)

    // set-up: generate and commit the seeded inputs, several times
    val setupTimes = (0 until SetupReps).map { k =>
      inOp(s"setup-$k") {
        val t0 = System.nanoTime()
        wl.setup(work.resolve(s"setup-$k").toString)
        (System.nanoTime() - t0) / 1e9
      }
    }
    phases += "setup" -> uptime
    wl.prepare(work.resolve(s"setup-${SetupReps - 1}").toString)
    phases += "oracle" -> uptime

    def operation(write: Boolean): Try[Done] =
      Try(tracer.span(if (write) "op.write" else "op.read") {
        if (write) wl.write(tracer) else wl.read(tracer)
      })

    // warm-up: the first operations of the schedule, checked but not timed;
    // the JIT keeps speeding operations up for several of them
    (0 until WarmupOps).foreach { i =>
      inOp(s"warmup-$i") {
        operation(wl.isWrite(i)).flatMap(d => Try(d.check())) match {
          case Success(c) => errors ++= c.errors
          case Failure(e) => errors += s"warm-up: $e"
        }
      }
    }

    phases += "warm_up" -> uptime
    val recs = mutable.ArrayBuffer.empty[OpRec]
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var i = WarmupOps
    // the metrics need a write, and the traced run a traced and a plain read
    def enough = recs.exists(_.write) && (!a.trace ||
      Seq(true, false).forall(t => recs.exists(r => !r.write && r.traced == t)))
    while (System.nanoTime() < deadline || !enough) {
      val write = wl.isWrite(i)
      // tracing is on for every other read-write pair
      val traced = a.trace && (i / 2) % 2 == 0
      val id = f"op-$i%05d"
      recs += inOp(id) {
        tracer.enabled = traced
        val ms0 = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val done = operation(write)
        val wall = (System.nanoTime() - t0) / 1e9
        val ms1 = System.currentTimeMillis()
        tracer.enabled = false
        val checked = done.flatMap(d => Try(d.check())) match {
          case Success(c) => c
          case Failure(e) => Checked(Seq(s"$id: $e"))
        }
        val plans = if (traced) done.map(_.plans).getOrElse(Nil)
          .map(_.queryExecution.executedPlan) else Nil
        OpRec(id, write, traced, wall, ms0, ms1, checked,
          plans.map(PlanStats.exchanges).sum,
          plans.map(PlanStats.maxMethodBytes).foldLeft(0)(math.max))
      }
      i += 1
    }
    recs.foreach(r => errors ++= r.checked.errors)
    phases += "loop" -> uptime

    val failed = recs.count(_.checked.errors.nonEmpty)
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) endToEnd(wl, setupTimes, recs.toSeq, listener, sc)
      else {
        val probeRuns = mutable.ArrayBuffer.empty[Map[String, Double]]
        for (round <- 0 until 3; p <- wl.probes) inOp(s"probe-${p.name}-$round") {
          tracer.enabled = true
          Try(tracer.span(s"probe.${p.name}")(p.run(tracer))) match {
            case Success(m) => probeRuns += m
            case Failure(e) => errors += s"probe ${p.name}: $e"
          }
          tracer.enabled = false
        }
        a.spans.foreach(p => tracer.writeJsonl(Paths.get(p)))
        perLayer(recs.toSeq, probeRuns.toSeq, wl, tracer, listener, sc)
      }

    phases += "report" -> uptime
    println(phases.zip(0.0 +: phases.map(_._2)).map { case ((n, t), t0) => f"$n ${t - t0}%.1f" }
      .mkString("phase seconds: ", ", ", ""))
    errors.take(20).foreach(e => println(s"error: $e"))
    println(f"ops: ${recs.size} attempted, $failed failed (failed_frac ${failed.toDouble / recs.size}%.4f)")
    metrics.foreach { case (n, v, u) => println(s"metric ${a.workload} $n = $v $u") }
    val json = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${jsonNum(v)}, "unit": "$u"}""" }.mkString(", ")
    val correct = errors.isEmpty
    println(s"""{"correct": $correct, "attempted": ${recs.size}, "failed": $failed, "metrics": {$json}}""")
    if (correct && failed == 0) 0 else 1
  }

  private def uptime: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  private def jsonNum(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def endToEnd(wl: Workload, setupTimes: Seq[Double], recs: Seq[OpRec], listener: RunListener,
                       sc: org.apache.spark.SparkContext): Seq[(String, Double, String)] = {
    val reads = recs.filterNot(_.write).map(_.wall)
    val writes = recs.filter(_.write)
    val (tailPct, tailValue) = Stats.tail(reads)
    println(s"read_s_tail is p$tailPct of ${reads.size} reads; write_s_p50 is over ${writes.size} writes")
    println(recs.map(r => f"${if (r.write) "w" else "r"}${r.wall}%.3f").mkString("op seconds: ", " ", ""))
    val peak = recs.map(r => listener.get(r.id, sc).peakMem).max
    val readP50 = Stats.median(reads)
    val writeP50 = Stats.median(writes.map(_.wall))
    Seq(
      ("setup_s", Stats.median(setupTimes), "s"),
      ("read_s_p50", readP50, "s"),
      ("read_s_tail", tailValue, "s"),
      ("write_s_p50", writeP50, "s"),
      // the fixed interleave's throughput from the medians, so it does not
      // depend on how many reads and writes happened to fit in the run
      ("rows_per_s", (wl.readRows + wl.writeRows).toDouble / (readP50 + writeP50), "rows/s"),
      ("peak_task_mem_mb", peak / 1048576.0, "MB"),
      ("stored_bytes_per_input_byte",
        writes.map(_.checked.bytesWritten).sum.toDouble / writes.map(_.checked.inputBytes).sum,
        "ratio"))
  }

  private def perLayer(recs: Seq[OpRec], probeRuns: Seq[Map[String, Double]],
                       wl: Workload, tracer: Tracer, listener: RunListener,
                       sc: org.apache.spark.SparkContext): Seq[(String, Double, String)] = {
    def probe(k: String) = Stats.median(probeRuns.flatMap(_.get(k)))
    val tracedReads = recs.filter(r => r.traced && !r.write)
    val plainReads = recs.filter(r => !r.traced && !r.write)
    def spanSum(op: String, name: String) =
      tracer.spans.filter(s => s.op == op && s.name == name).map(_.seconds).sum
    // every traced operation: span self times plus the part no module span
    // covers (the op span's own self time) add up to the measured wall time
    val accounting = recs.filter(_.traced).map { r =>
      val self = tracer.selfTimes(r.id)
      val uncovered = self.collect { case (s, t) if s.parent == -1 => t }.sum
      (uncovered, r.wall - self.map(_._2).sum)
    }
    val rt = recs.map(r => r -> listener.get(r.id, sc))
    def perOp(f: OpRuntime => Double) = Stats.median(rt.map { case (_, o) => f(o) })
    val candidates = probe("engine.candidates")
    val results = probe("engine.results")

    val ks = wl.kernelSample
    val g = Workload.Grid
    def approx(x: graft.core.Geom) = April.rasterize(x, g.xMin, g.yMin, g.xExtent, g.yExtent, wl.order)
    val approxPairs = ks.pairs.map { case (a, b) => (approx(a), approx(b)) }
    val verdicts = approxPairs.map { case (a, b) => April.verdict(Predicates.INTERSECTS, a, b) }
    val codegen = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot

    Seq(
      ("web.geotag_s", probe("web.geotag_s"), "s"),
      ("engine.plan_s", Stats.median(tracedReads.map(r => spanSum(r.id, "engine.plan"))), "s"),
      ("engine.tile_explode_s", probe("engine.tile_explode_s"), "s"),
      ("engine.tile_rows_per_row", probe("engine.tile_rows_per_row"), "ratio"),
      ("engine.candidates", candidates, "count"),
      ("engine.mbr_dedup_survivors", probe("engine.mbr_dedup_survivors"), "count"),
      ("engine.results", results, "count"),
      ("engine.candidates_per_result", candidates / math.max(results, 1.0), "ratio"),
      ("engine.exchanges", Stats.median(tracedReads.map(_.exchanges.toDouble)), "count"),
      ("engine.join_exact_s", probe("engine.join_exact_s"), "s"),
      ("engine.join_april_s", probe("engine.join_april_s"), "s"),
      ("engine.april_index_s", probe("engine.april_index_s"), "s"),
      ("functions.max_method_bytes", tracedReads.map(_.methodBytes).max.toDouble, "bytes"),
      ("functions.codegen_s", codegen.getMean * CodegenMetrics.METRIC_COMPILATION_TIME.getCount / 1000.0, "s"),
      ("core.rasterize_us",
        Micro.nsPerCall(ks.rasterize)(x => approx(x).all.length.toLong) / 1000.0, "us"),
      ("core.verdict_ns", Micro.nsPerCall(approxPairs) { case (a, b) =>
        April.verdict(Predicates.INTERSECTS, a, b).toLong }, "ns"),
      ("core.relate_us", Micro.nsPerCall(ks.pairs) { case (a, b) =>
        Topology.relate(a, b).toLong } / 1000.0, "us"),
      ("core.april_inconclusive_frac",
        verdicts.count(_ == April.INCONCLUSIVE).toDouble / verdicts.size, "ratio"),
      ("core.april_verdict_pairs", verdicts.size.toDouble, "count"),
      ("core.locate_ns", Micro.nsPerCall(ks.points) { case (x, y, p) =>
        Topology.locate(x, y, p).toLong }, "ns"),
      ("store.index_build_s", probe("store.index_build_s"), "s"),
      ("store.load_s", probe("store.load_s"), "s"),
      ("store.bytes_written", probe("store.bytes_written"), "bytes"),
      ("store.files_written", probe("store.files_written"), "count"),
      ("runtime.jobs", perOp(_.jobs), "count"),
      ("runtime.stages", perOp(_.stages), "count"),
      ("runtime.tasks", perOp(_.tasks), "count"),
      ("runtime.executor_run_s", perOp(_.runMs / 1000.0), "s"),
      ("runtime.executor_cpu_s", perOp(_.cpuNs / 1e9), "s"),
      ("runtime.gc_s", rt.map(_._2.gcMs).sum / 1000.0 / rt.size, "s"),
      ("runtime.scheduler_delay_s", perOp(_.schedMs / 1000.0), "s"),
      ("runtime.shuffle_write_bytes", perOp(_.shuffleWrite.toDouble), "bytes"),
      ("runtime.spill_bytes", perOp(_.spill.toDouble), "bytes"),
      ("runtime.driver_s", Stats.median(rt.map { case (r, o) =>
        o.uncoveredMs(r.startMs, r.endMs) / 1000.0 }), "s"),
      ("runtime.task_failures", rt.map(_._2.failures).sum.toDouble, "count"),
      ("trace.overhead_frac", Stats.median(tracedReads.map(_.wall)) /
        Stats.median(plainReads.map(_.wall)) - 1.0, "ratio"),
      ("trace.uncovered_s", Stats.median(accounting.map(_._1)), "s"),
      ("trace.unaccounted_s", accounting.map(_._2).max, "s"))
  }
}

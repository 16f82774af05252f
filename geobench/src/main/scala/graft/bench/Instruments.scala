package graft.bench

import scala.collection.mutable
import org.apache.spark.{Success, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, PredicateHelper}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{CoGroup, Join, LogicalPlan, Project, SerializeFromObject}
import org.apache.spark.sql.execution.{SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.functions._

/** In-memory spans around the benchmark's calls into each module. One client
  * thread issues every call, so a stack gives each span its parent. Spans are
  * kept in memory and written out when the run ends. */
final case class Span(id: Int, parent: Int, op: String, name: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

final class Tracer {
  var enabled = false
  var op = ""
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.length
      val parent = stack.headOption.getOrElse(-1)
      spans += null
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        stack = stack.tail
        spans(id) = Span(id, parent, op, name, t0, System.nanoTime())
      }
    }

  /** Self time per span of one operation: duration minus the time its child
    * spans cover (children are sequential, so their durations add). */
  def selfTimes(opId: String): Seq[(Span, Double)] = {
    val mine = spans.filter(_.op == opId)
    val childSum = mine.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.seconds).sum }
    mine.map(s => s -> (s.seconds - childSum.getOrElse(s.id, 0.0))).toSeq
  }

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"op":"${s.op}","name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}

/** Task and stage counters of one operation, as the listener saw them. */
final class OpRuntime {
  var jobs, stages, tasks, failures = 0
  var runMs, gcMs, schedMs, peakMem, shuffleWrite, spill = 0L
  var cpuNs = 0L
  val stageSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Milliseconds of [fromMs, toMs] during which no stage of the operation ran. */
  def uncoveredMs(fromMs: Long, toMs: Long): Long = {
    var covered = 0L; var end = fromMs
    stageSpans.map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (b > end) { covered += b - math.max(a, end); end = b }
      }
    (toMs - fromMs) - covered
  }
}

/** Attributes Spark's job, stage and task events to the operation that was
  * running (a local property set by the loop). */
final class RunListener extends SparkListener {
  private val byOp = mutable.HashMap.empty[String, OpRuntime]
  private val stageOp = mutable.HashMap.empty[Int, String]
  private def rt(op: String) = byOp.getOrElseUpdate(op, new OpRuntime)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(RunListener.OpKey))).foreach { op =>
      rt(op).jobs += 1
      e.stageIds.foreach(stageOp(_) = op)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach { op =>
      val r = rt(op)
      r.stages += 1
      for (a <- e.stageInfo.submissionTime; b <- e.stageInfo.completionTime)
        r.stageSpans += ((a, b))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val r = rt(op)
      r.tasks += 1
      if (e.reason != Success) r.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        val info = e.taskInfo
        val gettingResult =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.gcMs += m.jvmGCTime
        r.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
        r.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        r.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        r.peakMem = math.max(r.peakMem, m.peakExecutionMemory)
      }
    }
  }

  def get(op: String, sc: SparkContext): OpRuntime = {
    org.apache.spark.GeoBenchBus.drain(sc)
    synchronized(byOp.getOrElse(op, new OpRuntime))
  }
}

object RunListener {
  val OpKey = "geobench.op"
}

/** Counts read from a query's executed plan (SQLMetrics) and from its
  * optimized logical plan. */
object PlanStats extends PredicateHelper {
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: nodes(a.executedPlan)
    case q: QueryStageExec => q +: nodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  def exchanges(p: SparkPlan): Int = nodes(p).count(_.isInstanceOf[Exchange])

  /** Largest generated-method bytecode over the plan's whole-stage-codegen
    * subtrees (the JVM does not JIT methods above 8000 bytes). The compile
    * hits Spark's code cache when the query already ran. */
  def maxMethodBytes(p: SparkPlan): Int = nodes(p).collect {
    case w: WholeStageCodegenExec =>
      CodeGenerator.compile(w.doCodeGen()._2)._2.maxMethodCodeSize
  }.foldLeft(0)(math.max)

  /** The filter funnel of a join query, from its optimized plan: for every
    * tile-keyed join (and every per-tile cogroup, the hot-tile sweep),
    * `candidates` is Σ over tile keys of |R rows| × |S rows| — the pairs the
    * tile layer hands on — and `survivors` the rows that leave it after the
    * MBR-overlap and reference-point dedup filters. Runs extra jobs. */
  def funnel(spark: SparkSession, df: DataFrame): (Long, Long) = {
    def frame(p: LogicalPlan) = GraftColumnBridge.ofRows(spark, p)
    def pairs(l: LogicalPlan, la: Attribute, r: LogicalPlan, ra: Attribute): Long = {
      def side(p: LogicalPlan, a: Attribute, c: String) =
        frame(Project(Seq(a), p)).toDF("k").groupBy("k").agg(count(lit(1)).as(c))
      val row = side(l, la, "cl").join(side(r, ra, "cr"), "k")
        .agg(sum(col("cl") * col("cr"))).head()
      if (row.isNullAt(0)) 0L else row.getLong(0)
    }
    df.queryExecution.optimizedPlan.collect {
      case j @ Join(l, r, Inner, Some(cond), _) =>
        splitConjunctivePredicates(cond).collectFirst {
          case EqualTo(a: Attribute, b: Attribute) if a.name == "tile" && b.name == "tile" =>
            val (la, ra) = if (l.outputSet.contains(a)) (a, b) else (b, a)
            (pairs(l, la, r, ra), frame(j).count())
        }.getOrElse((0L, 0L))
      case s @ SerializeFromObject(_, c: CoGroup)
          if c.leftGroup.size == 1 && c.rightGroup.size == 1 =>
        (pairs(c.left, c.leftGroup.head, c.right, c.rightGroup.head), frame(s).count())
    }.foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
  }
}

/** Driver-side timing of single kernel calls. */
object Micro {
  @volatile private var sink = 0L

  /** Nanoseconds per call of `f` over `items`: the median of five rounds,
    * each repeating the whole list until it has run for at least 40 ms. */
  def nsPerCall[A](items: IndexedSeq[A])(f: A => Long): Double = {
    require(items.nonEmpty, "no items to time")
    val rounds = (0 until 5).map { _ =>
      var calls = 0L; var acc = 0L
      val t0 = System.nanoTime()
      var t = t0
      while (t - t0 < 40000000L) {
        var i = 0
        while (i < items.length) { acc += f(items(i)); i += 1 }
        calls += items.length
        t = System.nanoTime()
      }
      sink += acc
      (t - t0).toDouble / calls
    }
    Stats.median(rounds)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest whole percentile, from the median up, that still has at
    * least ten samples above it, and its value. Below twenty samples no
    * percentile above the median qualifies, so the median is returned. */
  def tail(xs: Seq[Double]): (Int, Double) = {
    val n = xs.length
    val p = math.max(50, if (n > 10) (100 * (n - 10)) / n else 50)
    p -> (if (p == 50) median(xs) else xs.sorted.apply(math.ceil(p / 100.0 * n).toInt - 1))
  }

  def dirBytes(dir: java.nio.file.Path): (Long, Int) = {
    val files = java.nio.file.Files.walk(dir)
    try {
      val fs = files.filter(p => java.nio.file.Files.isRegularFile(p)).toArray
        .map(_.asInstanceOf[java.nio.file.Path])
      (fs.map(java.nio.file.Files.size).sum, fs.length)
    } finally files.close()
  }

  def deleteTree(dir: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(dir)) {
      val files = java.nio.file.Files.walk(dir)
      try files.sorted(java.util.Comparator.reverseOrder())
        .forEach(p => java.nio.file.Files.delete(p))
      finally files.close()
    }
}

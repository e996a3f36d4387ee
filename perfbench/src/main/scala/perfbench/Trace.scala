package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in spans around the benchmark's calls into the engine.
  *
  * A span wraps one public call. A call that returns a DataFrame is a
  * `build` span (its eager probe jobs count as build time); a call that
  * performs an action is a `wall` span. While a span is open its id is
  * the thread's Spark job group, so the listener below can charge every
  * job, stage and task to the innermost span that caused it. Spans stay
  * in memory and are summarized per unit at the end of the unit.
  *
  * When tracing is off `apply` only runs the body: untraced runs carry
  * no listener and set no job group.
  */
final class Tracer(spark: SparkSession, cores: Int) {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0L
  private val listener = new Listener
  @volatile private var on = false

  def enabled: Boolean = on

  /** Begin a traced unit: clear what earlier units and checks left. */
  def start(): Unit = {
    org.apache.spark.sql.graft.Shims.drainListenerBus(sc)
    listener.reset()
    spans.clear()
    if (!on) {
      sc.addSparkListener(listener)
      spark.listenerManager.register(listener)
      on = true
    }
  }

  def stop(): Unit = if (on) {
    on = false
    org.apache.spark.sql.graft.Shims.drainListenerBus(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(listener)
  }

  def build[T](name: String)(body: => T): T = apply(name, "build_s")(body)
  def wall[T](name: String)(body: => T): T = apply(name, "wall_s")(body)

  def apply[T](name: String, timeKey: String)(body: => T): T =
    if (!on) body
    else {
      nextId += 1
      val s = Span(nextId, name, timeKey, stack.headOption.map(_.id).getOrElse(0L),
        System.nanoTime(), System.currentTimeMillis())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(GroupKey, s"$GroupPrefix${s.id}")
      listener.current = s.id
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        stack = stack.tail
        val parent = stack.headOption
        sc.setLocalProperty(GroupKey, parent.map(p => s"$GroupPrefix${p.id}").orNull)
        listener.current = parent.map(_.id).getOrElse(0L)
      }
    }

  /** Attach an outside-in measurement (bytes written, files) to the
    * most recent closed span of that name. */
  def attr(name: String, key: String, value: Double): Unit =
    if (on) spans.reverseIterator.find(_.name == name)
      .foreach(s => s.attrs(key) = s.attrs.getOrElse(key, 0.0) + value)

  /** Per-unit stats: one map per span name, summed over the unit's calls
    * of that name and including child spans; plus whole-unit totals. */
  def summarize(unitWallS: Double): Map[String, Double] = {
    org.apache.spark.sql.graft.Shims.drainListenerBus(sc)
    listener.synchronized(summarizeDrained(unitWallS))
  }

  private def summarizeDrained(unitWallS: Double): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val byId = spans.map(s => s.id -> s).toMap
    def within(s: Span, id: Long): Boolean =
      id == s.id || byId.get(id).exists(x => x.parent != 0L && within(s, x.parent))
    val childWall = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.wallS).sum }
    for ((name, group) <- spans.groupBy(_.name)) {
      def add(k: String, v: Double): Unit = out(s"$name.$k") = out.getOrElse(s"$name.$k", 0.0) + v
      for (s <- group) {
        add(s.timeKey, s.wallS)
        add("self_s", math.max(0.0, s.wallS - childWall.getOrElse(s.id, 0.0)))
        add("calls", 1)
        val jobs = listener.jobs.filter { case (_, j) => within(s, j.span) }
        val stages = jobs.values.flatMap(_.stages).toSet
        val tasks = stages.toSeq.flatMap(listener.tasksOf)
        add("jobs", jobs.size)
        add("tasks", tasks.size)
        add("task_s", tasks.map(_.runS).sum)
        add("gc_s", tasks.map(_.gcS).sum)
        add("shuffle_mb", tasks.map(_.shuffleBytes).sum / Mb)
        add("spill_mb", tasks.map(_.spillBytes).sum / Mb)
        val skew = stages.toSeq.map(st => skewOf(listener.tasksOf(st)))
        out(s"$name.skew") = math.max(out.getOrElse(s"$name.skew", 1.0), (1.0 +: skew).max)
        if (name.startsWith("loader.")) for ((phase, ms) <- listener.commandPhases(s)) add(phase, ms / 1000.0)
        for ((k, v) <- s.attrs) add(k, v)
      }
      val tk = group.head.timeKey
      val busy = out.getOrElse(s"$name.$tk", 0.0)
      out(s"$name.core_util") =
        if (busy > 0) out.getOrElse(s"$name.task_s", 0.0) / (busy * cores) else 0.0
    }
    val tops = spans.filter(_.parent == 0L)
    out("trace.coverage") = if (unitWallS > 0) tops.map(_.wallS).sum / unitWallS else 0.0
    val allTasks = listener.stageTasks.values.flatten
    out("spark.jobs") = listener.jobs.size
    out("spark.tasks") = allTasks.size
    out("spark.gc_s") = allTasks.map(_.gcS).sum
    out("spark.failed_queries") = listener.failedQueries
    spans.clear()
    listener.reset()
    out.toMap
  }
}

object Tracer {
  val GroupKey = "spark.jobGroup.id"
  val GroupPrefix = "perfbench-span-"
  private val Mb = 1024.0 * 1024.0

  final case class Span(id: Long, name: String, timeKey: String, parent: Long,
      startNs: Long, startMs: Long) {
    var endNs: Long = startNs
    var endMs: Long = startMs
    val attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty
    def wallS: Double = (endNs - startNs) / 1e9
  }

  final case class Job(span: Long, stages: Seq[Int])
  final case class Task(runS: Double, gcS: Double, shuffleBytes: Double, spillBytes: Double)
  final case class Command(startMs: Long, endMs: Long, node: String)

  /** Worst stage skew: max over median task run time. */
  def skewOf(tasks: Seq[Task]): Double =
    if (tasks.size < 2) 1.0
    else {
      val t = tasks.map(_.runS).sorted
      val med = t(t.size / 2)
      if (med > 0) t.last / med else 1.0
    }

  /** Loader sub-phases, recognized by the SQL command each statement
    * runs: the reconcile write, the rename-swap statements, and the
    * statistics refresh. */
  def phaseOf(node: String): Option[String] =
    if (node.contains("AnalyzeTable")) Some("analyze_s")
    else if (node.contains("AlterTableRename") || node.contains("DropTable")) Some("swap_s")
    else if (node.contains("CreateDataSourceTableAsSelect") || node.contains("InsertInto") ||
        node.contains("SaveIntoDataSource")) Some("reconcile_s")
    else None

  /** Charges jobs to spans through the job group each span sets, and
    * SQL commands to spans through their execution time window. */
  final class Listener extends SparkListener with QueryExecutionListener {
    @volatile var current: Long = 0L
    val jobs = mutable.Map.empty[Int, Job]
    val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Task]]
    private val execStart = mutable.Map.empty[Long, (Long, String)]
    private val commands = mutable.ArrayBuffer.empty[Command]
    var failedQueries = 0

    def tasksOf(stage: Int): Seq[Task] = stageTasks.get(stage).map(_.toSeq).getOrElse(Nil)

    def reset(): Unit = synchronized {
      jobs.clear(); stageTasks.clear(); execStart.clear(); commands.clear(); failedQueries = 0
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey)))
      val span = g.filter(_.startsWith(GroupPrefix)).map(_.stripPrefix(GroupPrefix).toLong)
        .getOrElse(current)
      jobs(e.jobId) = Job(span, e.stageIds)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += Task(
        m.executorRunTime / 1000.0, m.jvmGCTime / 1000.0,
        (m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten).toDouble,
        m.diskBytesSpilled.toDouble)
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          execStart(s.executionId) = (s.time, Option(s.sparkPlanInfo).map(_.nodeName).getOrElse(""))
        case s: SparkListenerSQLExecutionEnd =>
          execStart.remove(s.executionId).foreach { case (t0, node) =>
            commands += Command(t0, s.time, node)
          }
        case _ =>
      }
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = ()

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      synchronized { failedQueries += 1 }

    def commandPhases(s: Span): Map[String, Double] = synchronized {
      commands.filter(c => c.startMs >= s.startMs && c.endMs <= s.endMs)
        .flatMap(c => phaseOf(c.node).map(_ -> (c.endMs - c.startMs).toDouble))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    }
  }
}

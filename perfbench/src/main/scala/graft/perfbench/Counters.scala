package graft.perfbench

import java.lang.management.ManagementFactory
import org.apache.spark.PerfbenchShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.execution.{CommandResultExec, FilterExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Engine counters read from outside the program: Spark's scheduler
  * listener (jobs, stages, tasks, executor time, shuffle and I/O bytes),
  * the SQL QueryExecutionListener (planning phases and the executed
  * plans), Hadoop FileSystem statistics and the JVM's GC beans. All are
  * cumulative; a phase's share is the difference of two [[snapshot]]s.
  */
final class Counters(spark: SparkSession) {
  private val totals = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private def add(k: String, v: Double): Unit = totals.synchronized(totals(k) += v)

  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      add("stages", 1)
      add("tasks", i.numTasks)
      val m = i.taskMetrics
      if (m != null) {
        add("executor_run_ms", m.executorRunTime)
        add("executor_cpu_ms", m.executorCpuTime / 1e6)
        add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add("input_bytes", m.inputMetrics.bytesRead)
        add("input_records", m.inputMetrics.recordsRead)
        add("output_bytes", m.outputMetrics.bytesWritten)
        add("output_records", m.outputMetrics.recordsWritten)
      }
    }
  }

  private val queries = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val planning = qe.tracker.phases.values.map(_.durationMs).sum
      add("queries", 1)
      add("query_ms", durationNs / 1e6)
      add("planning_ms", planning.toDouble)
      val nodes = Counters.nodes(qe.executedPlan)
      nodes.foreach {
        case j: BaseJoinExec if j.joinType == LeftAnti =>
          add("antijoins", 1)
          if (j.isInstanceOf[BroadcastHashJoinExec] || j.isInstanceOf[BroadcastNestedLoopJoinExec])
            add("antijoins_broadcast", 1)
        // near-dup verification: the Jaccard predicate sits in a filter or,
        // pushed down, in the join condition; its input is the candidate set
        case f: FilterExec if Counters.isJaccard(f.condition) =>
          Counters.firstJoin(f.child).foreach { j =>
            add("jaccard_candidates", Counters.metric(j, "numOutputRows"))
            add("jaccard_verified", Counters.metric(f, "numOutputRows"))
          }
        case j: BaseJoinExec if j.condition.exists(Counters.isJaccard) =>
          j.children.flatMap(Counters.firstJoin).headOption.foreach { in =>
            add("jaccard_candidates", Counters.metric(in, "numOutputRows"))
            add("jaccard_verified", Counters.metric(j, "numOutputRows"))
          }
        case p if p.nodeName.contains("Scan") && p.metrics.contains("numFiles") =>
          add("scan_files", Counters.metric(p, "numFiles"))
        case _ =>
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      add("query_failures", 1)
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(scheduler)
    spark.listenerManager.register(queries)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(scheduler)
    spark.listenerManager.unregister(queries)
  }

  def drain(): Unit = PerfbenchShim.drainListenerBus(spark.sparkContext)

  /** Every cumulative counter, after the listener bus has drained. */
  def snapshot(): Map[String, Double] = {
    drain()
    val engine = totals.synchronized(totals.toMap)
    engine ++ Counters.fsAndJvm() ++ CountingFileSystem.snapshot()
  }
}

object Counters {
  def diff(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    (a.keySet ++ b.keySet).map(k => k -> (b.getOrElse(k, 0.0) - a.getOrElse(k, 0.0))).toMap
      .withDefaultValue(0.0)

  /** Hadoop FileSystem statistics (all schemes) and the JVM's GC totals. */
  def fsAndJvm(): Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    val fs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.iterator().asScala.foreach { st =>
      st.getLongStatistics.asScala.foreach { l =>
        fs(s"fs.${l.getName}") += l.getValue.toDouble
      }
    }
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    fs.toMap ++ Map(
      "gc_count" -> gcs.map(_.getCollectionCount.max(0L)).sum.toDouble,
      "gc_ms" -> gcs.map(_.getCollectionTime.max(0L)).sum.toDouble)
  }

  /** Heap left by explicit full collections, in MB: each heap pool's
    * usage as the last collection left it, so allocations made by other
    * threads after it (triggers, heartbeats) do not count. Collections
    * repeat, 100 ms apart, until the figure settles: Spark's ContextCleaner removes the
    * blocks and shuffle files of collected broadcasts and RDDs only
    * after a collection has found them unreachable.
    */
  def liveHeapMb(): Double = {
    import scala.jdk.CollectionConverters._
    def collect(): Double = {
      System.gc()
      ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(p => p.getType == java.lang.management.MemoryType.HEAP && p.getCollectionUsage != null)
        .map(_.getCollectionUsage.getUsed).sum / (1024.0 * 1024.0)
    }
    var (prev, cur, n) = (Double.MaxValue, collect(), 1)
    while (math.abs(prev - cur) > 0.25 && n < 10) {
      Thread.sleep(100)
      prev = cur; cur = collect(); n += 1
    }
    cur
  }

  /** Every node of an executed plan, looking through adaptive query
    * stages, reused exchanges and command wrappers.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case q: QueryStageExec => nodes(q.plan)
    case r: ReusedExchangeExec => nodes(r.child)
    case c: CommandResultExec => nodes(c.commandPhysicalPlan)
    case _ => p.children.flatMap(nodes)
  })

  def isJaccard(e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean =
    e.sql.toLowerCase.contains("jaccard")

  def firstJoin(p: SparkPlan): Option[BaseJoinExec] =
    nodes(p).collectFirst { case j: BaseJoinExec => j }

  def metric(p: SparkPlan, name: String): Double =
    p.metrics.get(name).map(_.value.toDouble).getOrElse(0.0)
}

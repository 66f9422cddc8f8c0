package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}

/** The inventory workload: a fixed list of queries run through `graft.App
  * query`, each writing its result as parquet for the DuckDB oracle.
  */
object Inventory {

  /** One query execution: build (the query function), plan (Spark's own
    * analysis + optimisation + planning phases) and execution, in seconds.
    */
  final case class Exec(name: String, pass: Int, totalS: Double, buildS: Double, planS: Double,
      execS: Double, eagerJobs: Long, exchanges: Int, shuffleBytes: Long, spillBytes: Long,
      broadcastBytes: Long)

  private def quietly[A](f: => A): A =
    Console.withOut(new java.io.PrintStream(java.io.OutputStream.nullOutputStream()))(f)

  /** `graft.App query --name list`: App builds its session and lists the
    * inventory. That is the inventory's set-up.
    */
  def setUp(): SparkSession = {
    quietly(graft.App.main(Array("query", "--name", "list")))
    val s = SparkSession.active
    graft.sources.Tables.configure(s)
    s
  }

  /** One execution the way `App query --out` runs it. */
  def runApp(name: String, dataDir: String, out: String): Unit =
    quietly(graft.App.main(Array("query", "--name", name, "--sf-dir", dataDir, "--out", out)))

  /** The same execution split into its parts, for the traced run. */
  def runSplit(spark: SparkSession, name: String, dataDir: String, out: String, pass: Int,
      tr: Tracer): Exec = {
    val listener = new PlanCapture
    spark.listenerManager.register(listener)
    try {
      val jobs0 = TaskStats.synchronized(TaskStats.jobs)
      val t0 = System.nanoTime()
      val df = tr("queries.build") { graft.SparkEntry.queries(name)(spark, dataDir) }
      val t1 = System.nanoTime()
      val jobs1 = TaskStats.synchronized(TaskStats.jobs)
      tr("queries.write") { df.write.mode("overwrite").parquet(out) }
      val t2 = System.nanoTime()
      val qe = listener.await()
      val phases = qe.tracker.phases
      val planS = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum / 1e3
      val nodes = planNodes(qe.executedPlan)
      def metric(p: SparkPlan, k: String): Long = p.metrics.get(k).map(_.value).getOrElse(0L)
      val shuffles = nodes.collect { case e: ShuffleExchangeExec => e }
      val broadcasts = nodes.collect { case e: BroadcastExchangeExec => e }
      Exec(name, pass, (t2 - t0) / 1e9, (t1 - t0) / 1e9, planS, math.max(0.0, (t2 - t1) / 1e9 - planS),
        jobs1 - jobs0, shuffles.size + broadcasts.size, shuffles.map(metric(_, "dataSize")).sum,
        nodes.map(metric(_, "spillSize")).sum, broadcasts.map(metric(_, "dataSize")).sum)
    } finally spark.listenerManager.unregister(listener)
  }

  /** Every node of an executed plan, through adaptive wrappers and stages. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val out = ArrayBuffer.empty[SparkPlan]
    def walk(n: SparkPlan): Unit = n match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case other =>
        out += other
        other.children.foreach(walk)
        other.subqueries.foreach(walk)
    }
    walk(p)
    out.toSeq
  }

  /** Holds the QueryExecution of the last successful action. */
  private final class PlanCapture extends org.apache.spark.sql.util.QueryExecutionListener {
    @volatile private var qe: org.apache.spark.sql.execution.QueryExecution = _
    override def onSuccess(f: String, q: org.apache.spark.sql.execution.QueryExecution, d: Long): Unit = qe = q
    override def onFailure(f: String, q: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    def await(): org.apache.spark.sql.execution.QueryExecution = {
      val deadline = System.nanoTime() + 10e9.toLong
      while (qe == null && System.nanoTime() < deadline) Thread.sleep(1)
      if (qe == null) throw new IllegalStateException("no query execution reported")
      qe
    }
  }
}

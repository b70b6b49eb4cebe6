package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters read through Spark's public listener interfaces.
  * The harness tags the calls it makes with job tags of the form
  * `pb.<phase>.<unit>` (unit = batch position or query name); every SQL
  * execution, job and task is attributed to the tag active when it ran.
  * Events arrive on Spark's listener bus, so totals are read only after
  * [[settle]]. Listeners are registered only between [[start]] and
  * [[stop]]; a late event from before the last start (Catalyst phases,
  * trigger progress carry no tag) is told apart by its time. */
final class Tracer(spark: SparkSession) {
  final class Bucket {
    var actions = 0
    var actionMs = 0L
    var jobs = 0
    var tasks = 0
    var taskMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
  }
  val buckets = mutable.HashMap.empty[String, Bucket]
  private val execStart = mutable.HashMap.empty[Long, (String, Long)]
  private val stageTag = mutable.HashMap.empty[Int, String]
  var analysisMs = 0.0
  var optimizationMs = 0.0
  var planningMs = 0.0
  var qeCount = 0
  val progress = new mutable.ArrayBuffer[Map[String, Long]]
  @volatile private var sinceMs = Long.MaxValue

  private def bucket(tag: String) = buckets.getOrElseUpdate(tag, new Bucket)
  private def ours(tags: Iterable[String]): Option[String] = tags.find(_.startsWith("pb."))

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(",").toSeq).getOrElse(Nil)
      ours(tags).foreach { t =>
        bucket(t).jobs += 1
        e.stageIds.foreach(s => stageTag(s) = t)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      for (t <- stageTag.get(e.stageId); m <- Option(e.taskMetrics)) {
        val b = bucket(t)
        b.tasks += 1
        b.taskMs += m.executorRunTime
        b.cpuNs += m.executorCpuTime
        b.gcMs += m.jvmGCTime
        b.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = Tracer.this.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          ours(s.jobTags).foreach(t => execStart(s.executionId) = (t, s.time))
        case x: SparkListenerSQLExecutionEnd =>
          execStart.remove(x.executionId).foreach { case (t, t0) =>
            val b = bucket(t)
            b.actions += 1
            b.actionMs += x.time - t0
          }
        case _ =>
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def note(qe: QueryExecution): Unit = Tracer.this.synchronized {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
      if (ph.values.map(_.endTimeMs).maxOption.exists(_ >= sinceMs)) {
        analysisMs += ms("analysis")
        optimizationMs += ms("optimization")
        planningMs += ms("planning")
        qeCount += 1
      }
    }
    override def onSuccess(fn: String, qe: QueryExecution, ns: Long): Unit = note(qe)
    override def onFailure(fn: String, qe: QueryExecution, e: Exception): Unit = note(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        val p = e.progress
        if (p.numInputRows > 0 && java.time.Instant.parse(p.timestamp).toEpochMilli >= sinceMs) {
          val d = p.durationMs
          def get(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
          progress += Map(
            "rows" -> p.numInputRows,
            "getBatch" -> get("getBatch"),
            "latestOffset" -> get("latestOffset"),
            "addBatch" -> get("addBatch"),
            "walCommit" -> get("walCommit"),
            "triggerExecution" -> get("triggerExecution"))
        }
      }
  }

  def start(): Unit = {
    sinceMs = System.currentTimeMillis()
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def stop(): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Let queued listener events drain: wait until the totals stop moving. */
  def settle(): Unit = {
    def snap = synchronized((buckets.values.map(b => b.tasks + b.actions).sum, qeCount, progress.size))
    var last = snap
    var stable = 0
    while (stable < 3) {
      Thread.sleep(100)
      val now = snap
      if (now == last) stable += 1 else { stable = 0; last = now }
    }
  }

  /** Run `body` with the calling thread's Spark jobs tagged `tag`. */
  def tagged[A](tag: String)(body: => A): A = {
    val sc = spark.sparkContext
    sc.addJobTag(tag)
    try body finally sc.removeJobTag(tag)
  }

  def sum(prefix: String): Bucket = synchronized {
    val out = new Bucket
    buckets.foreach { case (t, b) =>
      if (t.startsWith(prefix)) {
        out.actions += b.actions; out.actionMs += b.actionMs; out.jobs += b.jobs
        out.tasks += b.tasks; out.taskMs += b.taskMs; out.cpuNs += b.cpuNs
        out.gcMs += b.gcMs; out.shuffleBytes += b.shuffleBytes
      }
    }
    out
  }
}

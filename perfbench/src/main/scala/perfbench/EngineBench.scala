package perfbench

import java.nio.file.Path

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.bql.{Compiler, Parser}
import graft.sources.Ingest
import graft.streaming.{MultiQueryEngine, SocketTransport, SocketTransportServer, TransportBridge}

/** One engine workload: a long-lived query set, a per-batch churn of
  * short-lived queries, and the sizes of the drain and paced parts. */
final case class EngineWorkload(
    name: String,
    users: Int,
    zipf: Boolean,
    warmRows: Int,
    /** Set-up admits the long-lived set in this many groups, one per warm
      * batch, so windows start out of phase. */
    admitGroups: Int,
    drainRows: Int,
    /** Expected seconds per drain batch, used only to size the backlog. */
    nominalBatchS: Double,
    triggerMs: Long,
    /** Rows per paced batch (one batch per trigger). */
    pacedRows: Int,
    longLived: Seq[Spec],
    churn: (Int, java.util.SplittableRandom) => Seq[Spec])

object EngineWorkload {
  /** 96 queries cycling six shapes, literals varied per query. Windows
    * are RECORD windows of 1, 1.5 or 2 drain batches' worth of the query's
    * own matches (2 to 4 paced triggers), less a quarter batch so that
    * neither drain batches nor the half-size paced batches end a window on
    * its threshold (a close there would be a coin flip): unlike TIME
    * windows, which batch closes them does not depend on clock jitter, so
    * every run of a seed does the same work per batch. */
  private def mix(drainRows: Int): Seq[Spec] = {
    import Spec._
    (0 until 96).map { i =>
      val x = (i * 37) % 800
      val m = i % 50
      val above: Pred = (b, r) => b.value(r) > x
      val mod50: Pred = (b, r) => b.userId(r) % 50 == m
      val mod25: Pred = (b, r) => b.userId(r) % 25 == i % 25
      val share = i % 6 match {
        case 0 | 3 | 4 => (999 - x) / 1000.0
        case 1 | 5 => 1 / 50.0
        case 2 => 1 / 25.0
      }
      val batchesPerWindow = 1 + (i / 6) % 3 * 0.5
      val w = s" WINDOWING TUMBLING(${math.round((batchesPerWindow - 0.25) * share * drainRows)}, RECORD)"
      i % 6 match {
        case 0 => DistinctUsers(s"m$i", s"value > $x", above, w)
        case 1 => Median(s"m$i", s"user_id % 50 == $m", mod50, w)
        case 2 => Pmf(s"m$i", s"user_id % 25 == ${i % 25}", mod25, w)
        case 3 => CountSum(s"m$i", s"value > $x", above, w)
        case 4 => GroupTypes(s"m$i", s"value > $x", above, w)
        case 5 => Top3Types(s"m$i", s"user_id % 50 == $m", mod50, w)
      }
    }
  }

  /** Tenants `user_id == <id>` for the 160 hottest ids, in three shapes,
    * on RECORD windows of 2.5, 3.5, 4.5 or 5.5 batches' worth of the
    * tenant's expected records (Zipf share of a `rows`-row batch), so
    * closes spread out over batches. With TIME windows the number of
    * closes in the drain grew with its wall time (74% more in the slowest
    * of ten runs than in the fastest), so a slow host also meant more work;
    * RECORD windows close on the same batches every run of a seed. */
  private def tenants(rows: Int, users: Int): Seq[Spec] = {
    import Spec._
    val harmonic = (1 to users).map(1.0 / _).sum
    (0 until 160).map { i =>
      val perBatch = rows / ((i + 1) * harmonic)
      val w = s" WINDOWING TUMBLING(${math.max(1L, math.round((2.5 + i % 4) * perBatch))}, RECORD)"
      val user: Pred = (b, r) => b.userId(r) == i
      i % 3 match {
        case 0 => CountSum(s"t$i", s"user_id == $i", user, w)
        case 1 => TenantDistinctTypes(s"t$i", i.toLong, w)
        case 2 => Median(s"t$i", s"user_id == $i", user, w)
      }
    }
  }

  private def lookups(k: Int, n: Int, rnd: java.util.SplittableRandom): Seq[Spec] =
    (0 until n).map { j =>
      Spec.Lookup(s"l${k}_$j", rnd.nextInt(Records.EventTypes.size), rnd.nextInt(700),
        5 + rnd.nextInt(16))
    }

  /** Per batch: six RAW lookups and three DURATION-bounded aggregates. */
  private def tenantChurn(triggerMs: Long)(k: Int, rnd: java.util.SplittableRandom): Seq[Spec] = {
    import Spec._
    val aggs = (0 until 3).map { j =>
      val t = rnd.nextInt(Records.EventTypes.size)
      val u = 50 + rnd.nextInt(450)
      val pred: Pred = (b, r) => b.etype(r) == t && b.userId(r) < u
      CountSum(s"d${k}_$j", s"event_type == '${Records.EventTypes(t)}' AND user_id < $u", pred,
        s" DURATION ${triggerMs * (1 + rnd.nextInt(2))}")
    }
    lookups(k, 6, rnd) ++ aggs
  }

  val all: Map[String, EngineWorkload] = Map(
    "steady_mix" -> EngineWorkload("steady_mix", users = 100000, zipf = false,
      warmRows = 2000, admitGroups = 1, drainRows = 20000, nominalBatchS = 2.2,
      triggerMs = 3000, pacedRows = 10000, longLived = mix(20000),
      churn = (k, r) => lookups(k, 3, r)),
    "tenant_churn" -> EngineWorkload("tenant_churn", users = 5000, zipf = true,
      warmRows = 2000, admitGroups = 4, drainRows = 5000, nominalBatchS = 1.5,
      triggerMs = 3000, pacedRows = 5000, longLived = tenants(rows = 5000, users = 5000),
      churn = (k, r) => tenantChurn(3000)(k, r)))
}

/** Drives one engine workload the way a deployment runs it: a seeded
  * open-loop generator writes one JSON-lines file per trigger, a `text`
  * file stream (maxFilesPerTrigger=1) feeds `Ingest.convertJson`, the
  * engine is attached with `TransportBridge.pump` as its per-batch hook,
  * results leave through a socket transport, and one client connection
  * submits queries and polls CLIPs. */
final class EngineBench(spark: SparkSession, w: EngineWorkload, seed: Long, seconds: Int,
    runDir: Path, report: Report) {

  private val spool = new Spool(runDir)
  private val gen = new Generator(seed, w.users, w.zipf)
  private val queryRnd = new java.util.SplittableRandom(seed * 31 + 7)
  private val server = new SocketTransportServer()
  private val schema = StructType.fromDDL(Records.Schema)
  private val specs = mutable.HashMap.empty[String, Spec]
  private var channelSeq = 0
  private var churnSeq = 0
  /** The next batch's churn; numbered across parts so ids never repeat. */
  private def nextChurn(): Seq[Spec] = { churnSeq += 1; w.churn(churnSeq, queryRnd) }
  private val Delta = 150L

  private def stream(dir: Path): DataFrame =
    Ingest.convertJson(
      spark.readStream.format("text").option("maxFilesPerTrigger", "1").load(dir.toString)
        .withColumnRenamed("value", "payload"),
      "payload", schema)

  /** One engine with its bridge, log and client, wired to fresh channels.
    * Setting `tracer` switches later parts to the traced driver. */
  final class Rig {
    channelSeq += 1
    val clips = s"clips-$channelSeq"
    val feedback = s"feedback-$channelSeq"
    val engine = new MultiQueryEngine(spark)
    val log = new EngineLog
    val transport = new LoggingTransport(
      new SocketTransport("127.0.0.1", server.port), log, feedback)
    val bridge = new TransportBridge(engine, transport, clips, feedback)
    engine.addSink(log.sink)
    val client = new Client("127.0.0.1", server.port, feedback, clips)
    var tracer: Option[Tracer] = None
    val batchStart = new mutable.ArrayBuffer[Double]
    // traced runs only, by batch position
    val pumpMs, processMs, tickMs, live = mutable.HashMap.empty[Int, Double]
    val backlog = mutable.HashMap.empty[Int, Int]

    def submit(s: Spec): Unit = { specs(s.id) = s; client.submit(s.id, s.bql) }

    /** Run one spool directory through the engine until every file in it
      * is processed. `inline(k)` lists the queries sent just before batch
      * k's pump; `files` is the directory's batch list, which `whileRunning`
      * may still be growing. */
    def run(dir: Path, files: mutable.ArrayBuffer[Int], triggerMs: Long,
        inline: Int => Seq[Spec])(whileRunning: => Unit): Unit = {
      var k = 0
      def bookkeeping(): Unit = {
        val g = files.synchronized(files(k))
        log.synchronized { log.seen += g; log.position = log.seen.size - 1 }
        batchStart += Clock.nowMs
        backlog(log.position) = files.synchronized(files.size) - k - 1
        if (tracer.isDefined) live(log.position) = engine.activeQueryIds.size
        inline(k).foreach(submit)
        k += 1
      }
      def timed[A](into: mutable.HashMap[Int, Double], tag: String)(body: => A): A = {
        val p = log.position
        val t0 = System.nanoTime()
        val out = tracer.get.tagged(s"pb.$tag.$p")(body)
        into(p) = (System.nanoTime() - t0) / 1e6
        out
      }
      val q: StreamingQuery = tracer match {
        case None =>
          engine.attach(stream(dir), triggerMs, onBatch = () => { bookkeeping(); bridge.pump() })
        case Some(_) =>
          // attach's three calls, made one at a time so each is timed
          stream(dir).writeStream
            .trigger(Trigger.ProcessingTime(triggerMs))
            .foreachBatch { (df: DataFrame, _: Long) =>
              bookkeeping()
              timed(pumpMs, "pump")(bridge.pump())
              timed(processMs, "process")(engine.processBatch(df))
              timed(tickMs, "tick")(engine.tick())
            }
            .start()
      }
      try {
        whileRunning
        q.processAllAvailable()
      } finally q.stop()
      batchStart += Clock.nowMs // end of the last batch
    }

    /** Set-up: the long-lived set, admitted over `admitGroups` warm batches. */
    def setUp(): Unit = {
      val dir = spool.newDir()
      val files = new mutable.ArrayBuffer[Int]
      (0 until w.admitGroups).foreach { _ =>
        val b = gen.batch(spool.nextIndex, w.warmRows, Clock.nowMs - 1000, Clock.nowMs)
        spool.write(dir, b); files += b.index
      }
      // i / 4: tenant window lengths cycle with i % 4, so each length is
      // spread over every admission group
      val groups = w.longLived.zipWithIndex
        .groupBy(_._2 / 4 % w.admitGroups).toSeq.sortBy(_._1).map(_._2.map(_._1))
      run(dir, files, 0L, groups)(())
    }
  }

  /** Driver heap in use after a full collection. */
  private def heapMb(): Double = {
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    m.getUsed / 1048576.0
  }

  /** Batch positions and start times of one part (plus its end time). */
  final case class Part(positions: Seq[Int], starts: Seq[Double])

  /** Drain part: a pre-written backlog, drained back to back. */
  private def drain(rig: Rig, partSeconds: Double): Part = {
    val dir = spool.newDir()
    val files = new mutable.ArrayBuffer[Int]
    val n = math.max(4, math.round(partSeconds / w.nominalBatchS).toInt)
    (0 until n).foreach { _ =>
      val t = Clock.nowMs
      val b = gen.batch(spool.nextIndex, w.drainRows, t - 1000, t)
      spool.write(dir, b); files += b.index
    }
    val first = rig.log.seen.size
    rig.batchStart.clear()
    rig.run(dir, files, 0L, _ => nextChurn())(())
    Part(first until rig.log.seen.size, rig.batchStart.toVector)
  }

  /** records/s over a drain part: rows over wall time from the end of the
    * first batch (which pays the stream's start) to the end of the last.
    * Window closes make batches unequal, so this is a total, not a median
    * of batches. */
  private def recordsPerS(d: Part): (Double, Int) = {
    val s = d.starts
    val batches = s.size - 2
    (w.drainRows * batches / ((s.last - s(1)) / 1000), batches)
  }

  /** Paced part: one file per trigger at a fixed rate, written `Delta` ms
    * before its trigger fires, the batch's churn queries right after it.
    * The first batch pays the stream's start and overruns its trigger, so
    * it is followed by one empty trigger slot; it and the batch after the
    * slot, which still runs slower than the rest, are not measured. */
  final case class Paced(part: Part, late: Seq[Double], measured: Set[Int], lookupIds: Set[String])

  private def paced(rig: Rig, partSeconds: Double): Paced = {
    val dir = spool.newDir()
    val files = new mutable.ArrayBuffer[Int]
    val t = w.triggerMs
    val measured = math.max(2, (partSeconds * 1000 / t).toInt)
    val late = new mutable.ArrayBuffer[Double]
    val lookupIds = mutable.Set.empty[String]
    val first = rig.log.seen.size
    rig.batchStart.clear()
    rig.run(dir, files, t, _ => Nil) {
      val slot0 = math.ceil((Clock.nowMs + 500) / t).toLong
      (0 until measured + 3).filter(_ != 1).foreach { k =>
        val due = (slot0 + k) * t - Delta
        val b = gen.batch(spool.nextIndex, w.pacedRows, due - t, due)
        val churn = nextChurn()
        val wait = due - Clock.nowMs
        if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1) * 1e6).toInt)
        spool.write(dir, b)
        files.synchronized(files += b.index)
        late += Clock.nowMs - due
        churn.foreach { s => if (k > 2) lookupIds += s.id; rig.submit(s) }
      }
    }
    val positions = first until rig.log.seen.size
    Paced(Part(positions, rig.batchStart.toVector), late.toVector, positions.drop(2).toSet,
      lookupIds.toSet)
  }

  private val mapper = new ObjectMapper()
  private def records(json: String): Seq[Map[String, Any]] =
    mapper.readValue(json, classOf[java.util.Map[String, Object]]).get("records") match {
      case l: java.util.List[_] =>
        l.asScala.toSeq.map(_.asInstanceOf[java.util.Map[String, Any]].asScala.toMap)
      case _ => Nil
    }

  /** Kill what is still live (applied by one last pump), stop the client,
    * then check every message it received against the reference and every
    * lookup for its COMPLETE. Returns the batch position of each message. */
  private def finish(rig: Rig): Map[Received, Int] = {
    val killed = rig.engine.activeQueryIds.toSet
    killed.foreach(rig.client.kill)
    Thread.sleep(50)
    rig.bridge.pump()
    rig.client.drainAndStop()
    val t0 = System.nanoTime()
    val got = rig.client.all
    val positionOf = mutable.HashMap.empty[Received, Int]
    got.groupBy(_.queryId).foreach { case (id, msgs) =>
      val emitted = rig.log.emitted.getOrElse(id, mutable.ArrayBuffer.empty)
      var prev = rig.log.admitted.getOrElse(id, 0) - 1
      msgs.zipWithIndex.foreach { case (m, i) =>
        if (i >= emitted.size || emitted(i)._1 != m.kind) {
          report.attempt(ok = false, s"$id: message $i (${m.kind}) was never emitted")
        } else {
          val pos = emitted(i)._2
          positionOf(m) = pos
          m.kind match {
            case "Fail" => report.attempt(ok = false, s"$id: FAIL ${m.json.take(200)}")
            case "Kill" => report.attempt(killed(id), s"$id: unexpected KILL")
            case kind =>
              val rows = new Rows((prev + 1 to pos).map(p => spool(rig.log.seen(p))))
              val err =
                try specs.get(id).map(_.check(kind, records(m.json), rows))
                  .getOrElse(Some("unknown query"))
                catch { case e: Exception => Some(s"check threw $e") }
              report.attempt(err.isEmpty,
                s"$id: ${err.getOrElse("")} ($kind $i over batches ${prev + 1}..$pos: ${m.json.take(300)})")
              prev = pos
          }
        }
      }
    }
    // every admitted query is an operation; a lookup also needs its COMPLETE
    rig.log.admitted.keys.foreach { id =>
      val kinds = rig.log.emitted.get(id).map(_.map(_._1)).getOrElse(Nil)
      val needsComplete = specs.get(id).exists(_.mustComplete)
      report.attempt(!needsComplete || kinds.contains("Complete"), s"$id: lookup never completed")
    }
    killed.foreach { id =>
      report.attempt(got.exists(m => m.queryId == id && m.kind == "Kill"), s"$id: KILL not received")
    }
    println(f"phase verify ${(System.nanoTime() - t0) / 1e9}%.3f")
    positionOf.toMap
  }

  private def clipLatencies(rig: Rig, p: Paced, positions: Map[Received, Int]): Seq[Double] =
    rig.client.all.flatMap { r =>
      positions.get(r).filter(pos => p.measured(pos) && (r.kind == "Window" || r.kind == "Complete"))
        .map(pos => r.atMs - spool(rig.log.seen(pos)).newestCreatedMs)
    }

  private def lookupLatencies(rig: Rig, p: Paced): Seq[Double] =
    rig.client.all.filter(r => r.kind == "Complete" && p.lookupIds(r.queryId) &&
      specs.get(r.queryId).exists(_.mustComplete))
      .map(r => r.atMs - rig.client.sentAt.get(r.queryId))

  /** One line per timed batch: start offset, duration, CLIPs and their
    * latency range (diagnostics, in the run directory's jvm.out). */
  private def batchLines(rig: Rig, parts: Seq[(String, Part)], positions: Map[Received, Int]): Unit = {
    val lat = rig.client.all.flatMap(r => positions.get(r).filter(_ => r.kind == "Window" ||
      r.kind == "Complete").map(p => p -> (r.atMs - spool(rig.log.seen(p)).newestCreatedMs)))
      .groupBy(_._1)
    parts.foreach { case (name, part) =>
      part.positions.zipWithIndex.foreach { case (p, i) =>
        val ls = lat.getOrElse(p, Nil).map(_._2)
        println(f"batch $name $p start=${part.starts(i) - part.starts.head}%.0f " +
          f"dur=${part.starts(i + 1) - part.starts(i)}%.0f rows=${spool(rig.log.seen(p)).size} " +
          f"clips=${ls.size} lat=${ls.minOption.getOrElse(0.0)}%.0f..${ls.maxOption.getOrElse(0.0)}%.0f")
      }
    }
  }

  private def phase[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val out = body
    println(f"phase $name ${(System.nanoTime() - t0) / 1e9}%.3f")
    out
  }

  /** A set-up: a fresh engine admitting the long-lived set at a warm batch. */
  private def setUp(): (Rig, Double) = {
    val t0 = System.nanoTime()
    val rig = new Rig
    rig.setUp()
    val s = (System.nanoTime() - t0) / 1e9
    println(f"phase setup $s%.3f")
    (rig, s)
  }

  def run(sessionS: Double, trace: Boolean): Unit = if (trace) traced() else {
    // set-up three times on fresh engines; the last one is measured
    val setups = (1 to 3).map { _ => setUp() }
    setups.init.foreach(_._1.client.drainAndStop(0))
    val rig = setups.last._1
    // about 60% of the run drains a backlog, 40% is paced; only the drain
    // feeds a gated metric
    val d = phase("drain")(drain(rig, seconds * 0.6))
    val heap1 = heapMb()
    val p = phase("paced")(paced(rig, seconds * 0.4))
    val heap2 = heapMb()
    val positions = finish(rig)
    batchLines(rig, Seq("drain" -> d, "paced" -> p.part), positions)

    val (rps, nb) = recordsPerS(d)
    val clip = clipLatencies(rig, p, positions)
    val look = lookupLatencies(rig, p)
    val setupS = sessionS + Stats.median(setups.map(_._2))
    val heap = math.max(heap1, heap2)
    report.endToEnd("records_per_s", rps, "1/s", nb)
    report.endToEnd("clip_latency_p50_ms", Stats.quantile(clip, 0.5), "ms", clip.size)
    report.endToEnd("clip_latency_p90_ms", Stats.quantile(clip, 0.9), "ms", clip.size)
    report.endToEnd("lookup_latency_p50_ms", Stats.quantile(look, 0.5), "ms", look.size)
    report.endToEnd("setup_s", setupS, "s", setups.size)
    report.endToEnd("driver_heap_mb", heap, "MB", 2)
    val M = report.workloadMetric _
    M("clip_latency_p99_ms", Stats.quantile(clip, 0.99), "ms", clip.size)
    M("lookup_latency_p90_ms", Stats.quantile(look, 0.9), "ms", look.size)
    M("setup_first_s", sessionS + setups.head._2, "s", 1)
    M("paced_backlog_files_max", p.part.positions.map(rig.backlog.getOrElse(_, 0)).max.toDouble,
      "count", p.part.positions.size)
    M("generator_late_ms_max", p.late.max, "ms", p.late.size)
  }

  /** The traced run, at half the parts' length: the same three set-ups,
    * then a traced paced part, an untraced drain, a traced drain and an
    * untraced drain again; the overhead compares the traced drain with the
    * mean of the untraced ones, which straddle it. The listeners are
    * registered only for the traced parts. */
  private def traced(): Unit = {
    val setups = (1 to 3).map { _ => setUp() }
    setups.init.foreach(_._1.client.drainAndStop(0))
    val rig = setups.last._1
    val tracer = new Tracer(spark)
    def tracing[A](on: Boolean)(body: => A): A = {
      rig.tracer = if (on) Some(tracer) else None
      rig.transport.timed = on
      if (!on) body
      else {
        tracer.start()
        try body finally { tracer.settle(); tracer.stop() }
      }
    }
    val t0 = System.nanoTime()
    val p = tracing(on = true)(phase("paced")(paced(rig, seconds * 0.3)))
    var wallS = (System.nanoTime() - t0) / 1e9
    val untraced1 = tracing(on = false)(phase("drain_untraced")(drain(rig, seconds * 0.2)))
    val t1 = System.nanoTime()
    val d = tracing(on = true)(phase("drain")(drain(rig, seconds * 0.2)))
    wallS += (System.nanoTime() - t1) / 1e9
    val untraced2 = tracing(on = false)(phase("drain_untraced")(drain(rig, seconds * 0.2)))
    val positions = finish(rig)
    batchLines(rig, Seq("drain" -> d, "paced" -> p.part), positions)

    val rpsU = (recordsPerS(untraced1)._1 + recordsPerS(untraced2)._1) / 2
    val (rps, _) = recordsPerS(d)
    val timed = (d.positions ++ p.part.positions).toVector
    val nb = timed.size
    def perBatch(tag: String)(f: tracer.Bucket => Double): Seq[Double] =
      timed.map(p => tracer.buckets.get(s"pb.$tag.$p").map(f).getOrElse(0.0))
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    val L = report.layer _
    report.workloadMetric("records_per_s", rps, "1/s", nb)
    report.workloadMetric("records_per_s_untraced", rpsU, "1/s",
      untraced1.positions.size + untraced2.positions.size)
    L("trace.overhead_pct", (rpsU - rps) / rpsU * 100, "%", nb)
    L("spark.actions_per_batch", mean(perBatch("process")(_.actions)), "count", nb)
    L("spark.jobs_per_batch", mean(perBatch("process")(_.jobs)), "count", nb)
    L("spark.tasks_per_batch", mean(perBatch("process")(_.tasks)), "count", nb)
    L("spark.action_ms", Stats.median(perBatch("process")(_.actionMs.toDouble)), "ms", nb)
    L("catalyst.analysis_ms", tracer.analysisMs / nb, "ms", tracer.qeCount)
    L("catalyst.optimization_ms", tracer.optimizationMs / nb, "ms", tracer.qeCount)
    L("catalyst.planning_ms", tracer.planningMs / nb, "ms", tracer.qeCount)
    val all = tracer.sum("pb.")
    L("executor.task_ms", all.taskMs.toDouble / nb, "ms", all.tasks)
    L("executor.cpu_ms", all.cpuNs / 1e6 / nb, "ms", all.tasks)
    L("executor.gc_ms", all.gcMs.toDouble / nb, "ms", all.tasks)
    L("executor.busy_share", all.taskMs / (wallS * 1000 * spark.sparkContext.defaultParallelism),
      "ratio", all.tasks)
    L("shuffle.write_bytes", all.shuffleBytes.toDouble / nb, "bytes", all.tasks)
    val tick = timed.map(rig.tickMs(_))
    L("engine.tick_ms_p50", Stats.quantile(tick, 0.5), "ms", nb)
    L("engine.tick_ms_p99", Stats.quantile(tick, 0.99), "ms", nb)
    L("spark.tick_actions_per_batch", mean(perBatch("tick")(_.actions)), "count", nb)
    L("engine.clips_per_batch", mean(timed.map(rig.log.clipsPerBatch.getOrElse(_, 0).toDouble)),
      "count", nb)
    val sendUs = rig.transport.sendNs.map(_ / 1e3)
    L("transport.send_us_p50", Stats.quantile(sendUs, 0.5), "us", sendUs.size)
    L("transport.send_us_p99", Stats.quantile(sendUs, 0.99), "us", sendUs.size)
    L("transport.bytes_per_batch",
      mean(timed.map(rig.transport.bytesPerBatch.getOrElse(_, 0L).toDouble)), "bytes", nb)
    val proc = timed.map(rig.processMs(_))
    L("engine.process_batch_ms_p50", Stats.quantile(proc, 0.5), "ms", nb)
    L("engine.process_batch_ms_p99", Stats.quantile(proc, 0.99), "ms", nb)
    val driver = timed.map(p => rig.processMs(p) -
      tracer.buckets.get(s"pb.process.$p").map(_.actionMs.toDouble).getOrElse(0.0))
    L("engine.driver_ms", Stats.median(driver), "ms", nb)
    L("engine.live_queries", Stats.median(timed.map(rig.live(_))), "count", nb)
    L("transport.pump_ms", Stats.median(timed.map(rig.pumpMs(_))), "ms", nb)
    L("bql.submits_per_batch", mean(timed.map(rig.log.submitsPerBatch.getOrElse(_, 0).toDouble)),
      "count", nb)
    L("bql.parse_us", parseUs(), "us", specs.size)
    val prog = tracer.progress.toVector
    def pm(f: Map[String, Long] => Double) = Stats.median(prog.map(f))
    L("sources.get_batch_ms", pm(_("getBatch").toDouble), "ms", prog.size)
    L("sources.latest_offset_ms", pm(_("latestOffset").toDouble), "ms", prog.size)
    L("stream.overhead_ms", pm(p => (p("triggerExecution") - p("addBatch")).toDouble), "ms", prog.size)
    L("stream.wal_commit_ms", pm(_("walCommit").toDouble), "ms", prog.size)
    L("sources.rows_per_batch", pm(_("rows").toDouble), "count", prog.size)
    L("sources.backlog_files", p.part.positions.map(rig.backlog.getOrElse(_, 0)).max.toDouble,
      "count", p.part.positions.size)
    L("sources.generator_late_ms", Stats.quantile(p.late, 0.99), "ms", p.late.size)
  }

  /** Parser.parse plus Compiler.column over the workload's BQL, median of
    * five passes, per query. */
  private def parseUs(): Double = {
    val texts = specs.values.map(_.bql).toVector
    val passes = (1 to 5).map { _ =>
      val t0 = System.nanoTime()
      texts.foreach(t => Parser.parse(t).where.foreach(Compiler.column))
      (System.nanoTime() - t0) / 1e3 / texts.size
    }
    Stats.median(passes)
  }

  /** Set-up and the drain part only: the single-thread baseline. */
  def drainOnly(): Unit = {
    val (rig, _) = setUp()
    val d = drain(rig, seconds * 0.2)
    rig.client.drainAndStop(0)
    val (rps, nb) = recordsPerS(d)
    report.workloadMetric("records_per_s", rps, "1/s", nb)
  }

  def close(): Unit = server.close()
}

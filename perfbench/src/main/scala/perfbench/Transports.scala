package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.streaming.{ResultMessage, ResultSink, SocketTransport, Transport}

/** Engine-side bookkeeping shared by the stream thread's hooks: which
  * batch (position in the engine's own batch sequence) is running, when
  * each query was admitted and which batch each message was emitted in. */
final class EngineLog {
  /** Global spool indices of the batches this engine processed, in order. */
  val seen = new mutable.ArrayBuffer[Int]
  @volatile var position: Int = -1
  val admitted = mutable.HashMap.empty[String, Int]
  val emitted = mutable.HashMap.empty[String, mutable.ArrayBuffer[(String, Int)]]
  val submitsPerBatch = mutable.HashMap.empty[Int, Int]
  val clipsPerBatch = mutable.HashMap.empty[Int, Int]

  def sink: ResultSink = new ResultSink {
    override def publish(m: ResultMessage): Unit = EngineLog.this.synchronized {
      emitted.getOrElseUpdate(m.queryId, new mutable.ArrayBuffer) += (m.kind.toString -> position)
      clipsPerBatch(position) = clipsPerBatch.getOrElse(position, 0) + 1
    }
  }

  def noteFeedback(payload: String): Unit = synchronized {
    val parts = payload.split('\t')
    if (parts.length >= 2 && parts(0) == "submit") {
      admitted(parts(1)) = position
      submitsPerBatch(position) = submitsPerBatch.getOrElse(position, 0) + 1
    }
  }
}

/** The transport handed to the engine's bridge: a pass-through that notes
  * admitted feedback in an [[EngineLog]], and in a traced run also times
  * every send and counts its bytes. */
final class LoggingTransport(inner: Transport, log: EngineLog, feedback: String)
    extends Transport {
  @volatile var timed = false
  val sendNs = new mutable.ArrayBuffer[Long]
  val bytesPerBatch = mutable.HashMap.empty[Int, Long]

  override def send(channel: String, key: String, payload: String): Unit =
    if (!timed) inner.send(channel, key, payload)
    else {
      val t0 = System.nanoTime()
      inner.send(channel, key, payload)
      val dt = System.nanoTime() - t0
      synchronized {
        sendNs += dt
        val p = log.position
        bytesPerBatch(p) = bytesPerBatch.getOrElse(p, 0L) + key.length + payload.length
      }
    }

  override def poll(channel: String): Seq[(String, String)] = {
    val msgs = inner.poll(channel)
    if (channel == feedback) msgs.foreach { case (_, p) => log.noteFeedback(p) }
    msgs
  }
}

/** One message as the client received it. */
final case class Received(queryId: String, kind: String, json: String, atMs: Double)

/** The benchmark's single client connection: sends `submit`/`kill` on the
  * feedback channel and polls the CLIP channel from its own thread. */
final class Client(host: String, port: Int, feedback: String, clips: String) {
  private val conn = new SocketTransport(host, port)
  val received = new ConcurrentLinkedQueue[Received]
  val sentAt = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]
  @volatile private var running = true

  def submit(id: String, bql: String): Unit = {
    sentAt.put(id, Clock.nowMs)
    conn.send(feedback, id, s"submit\t$id\t$bql")
  }

  def kill(id: String): Unit = conn.send(feedback, id, s"kill\t$id")

  private def pollOnce(): Int = {
    val msgs = conn.poll(clips)
    val at = Clock.nowMs
    msgs.foreach { case (id, payload) =>
      val tab = payload.indexOf('\t')
      received.add(Received(id, payload.substring(0, tab), payload.substring(tab + 1), at))
    }
    msgs.size
  }

  private val poller = new Thread(() => {
    while (running) if (pollOnce() == 0) Thread.sleep(2)
  }, "perfbench-client")
  poller.setDaemon(true)
  poller.start()

  /** Stop polling after the channel has stayed empty for `quietMs`. */
  def drainAndStop(quietMs: Long = 300): Unit = {
    running = false
    poller.join()
    var quietSince = System.nanoTime()
    while ((System.nanoTime() - quietSince) / 1e6 < quietMs) {
      if (pollOnce() > 0) quietSince = System.nanoTime() else Thread.sleep(5)
    }
    conn.close()
  }

  def all: Seq[Received] = received.asScala.toVector
}

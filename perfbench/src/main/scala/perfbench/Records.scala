package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer

/** Wall clock shared by the generator, the harness and the client: epoch
  * milliseconds with sub-millisecond resolution, anchored once to
  * `currentTimeMillis` and advanced by `nanoTime` so that intervals never
  * jump. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One spool file = one micro-batch, held columnar so reference results can
  * be recomputed over exactly the rows the engine saw. */
final class Batch(
    val index: Int,
    val eventId: Array[Long],
    val createdMs: Array[Long],
    val userId: Array[Long],
    val etype: Array[Int],
    val value: Array[Double]) {
  def size: Int = eventId.length
  def newestCreatedMs: Long = if (createdMs.isEmpty) 0L else createdMs.max

  def jsonLines: Array[Byte] = {
    val sb = new java.lang.StringBuilder(size * 96)
    var i = 0
    while (i < size) {
      sb.append("{\"event_id\":").append(eventId(i))
        .append(",\"created_ms\":").append(createdMs(i))
        .append(",\"user_id\":").append(userId(i))
        .append(",\"event_type\":\"").append(Records.EventTypes(etype(i)))
        .append("\",\"value\":").append(value(i).toLong)
        .append("}\n")
      i += 1
    }
    sb.toString.getBytes(StandardCharsets.UTF_8)
  }
}

object Records {
  val EventTypes: IndexedSeq[String] =
    IndexedSeq("view", "click", "search", "purchase", "signup", "login", "logout", "error")
  val Schema = "event_id BIGINT, created_ms BIGINT, user_id BIGINT, event_type STRING, value DOUBLE"
}

/** Seeded, single-thread record source. User ids are uniform over
  * `users` ids, or Zipf(1.0)-distributed over them when `zipf` is set
  * (rank r has weight 1/(r+1), so id 0 is the hottest). Values are
  * integers in [0, 1000) carried as doubles, so SUMs are exact in any
  * order. */
final class Generator(seed: Long, users: Int, zipf: Boolean) {
  private val rnd = new java.util.SplittableRandom(seed)
  private var nextId = 0L
  private val cdf: Array[Double] =
    if (!zipf) Array.empty
    else {
      val w = Array.tabulate(users)(r => 1.0 / (r + 1))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }

  private def user(): Long =
    if (!zipf) rnd.nextInt(users).toLong
    else {
      val u = rnd.nextDouble()
      var i = java.util.Arrays.binarySearch(cdf, u)
      if (i < 0) i = -i - 1
      math.min(i, users - 1).toLong
    }

  /** `n` records whose creation times are spread evenly over
    * [fromMs, toMs). */
  def batch(index: Int, n: Int, fromMs: Double, toMs: Double): Batch = {
    val ids = new Array[Long](n)
    val created = new Array[Long](n)
    val us = new Array[Long](n)
    val ts = new Array[Int](n)
    val vs = new Array[Double](n)
    var i = 0
    while (i < n) {
      ids(i) = nextId; nextId += 1
      created(i) = (fromMs + (toMs - fromMs) * i / n).toLong
      us(i) = user()
      ts(i) = rnd.nextInt(Records.EventTypes.size)
      vs(i) = rnd.nextInt(1000).toDouble
      i += 1
    }
    new Batch(index, ids, created, us, ts, vs)
  }
}

/** The file spool a `text` file stream reads: every batch is written to a
  * hidden temp name and renamed in, with strictly increasing modification
  * times so `maxFilesPerTrigger=1` takes them in order. Keeps every batch
  * it ever wrote, indexed globally, for the reference computations. */
final class Spool(root: Path) {
  val batches = new ArrayBuffer[Batch]
  private var dirs = 0
  private var mtime = System.currentTimeMillis() - 3600L * 1000

  /** A fresh, empty directory for one streaming query's input. */
  def newDir(): Path = synchronized {
    dirs += 1
    val d = root.resolve(f"spool-$dirs%02d")
    Files.createDirectories(d)
    d
  }

  /** Register `b` (index must be the next global index) and write it. */
  def write(dir: Path, b: Batch): Unit = {
    val bytes = b.jsonLines
    synchronized {
      require(b.index == batches.size, s"batch ${b.index} out of order")
      batches += b
      mtime += 10
    }
    val name = f"batch-${b.index}%06d.json"
    val tmp = dir.resolve("." + name + ".tmp")
    Files.write(tmp, bytes)
    tmp.toFile.setLastModified(mtime)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
  }

  def nextIndex: Int = synchronized(batches.size)
  def apply(i: Int): Batch = synchronized(batches(i))
}

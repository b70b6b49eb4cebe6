package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark process entry point; `perfbench/run.py` builds and launches it.
  *
  * Arguments: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --run-dir <dir> --out <file> --launch-ms <epoch ms> --cpus <n>
  * [--fixtures <dir>]` (fixtures: the catalog workload, and traced runs,
  * which add part of the catalog's per-layer slice). Every file it writes stays under `--run-dir`. */
object Main {
  def session(cpus: Int, runDir: String): SparkSession = {
    val s = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", s"$runDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$runDir/checkpoints")
      // catalog queries keep their index stores here instead of /tmp
      .config("spark.graft.index.dir", s"$runDir/index"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val trace = opts("trace") == "1"
    val runDir = opts("run-dir")
    val cpus = opts.getOrElse("cpus", "4").toInt
    val launchMs = opts("launch-ms").toDouble
    val report = new Report(workload)

    var spark = session(cpus, runDir)
    val sessionS = (System.currentTimeMillis() - launchMs) / 1000
    println(f"phase session $sessionS%.3f")
    workload match {
      case w if EngineWorkload.all.contains(w) =>
        val bench = new EngineBench(spark, EngineWorkload.all(w), seed, seconds,
          Paths.get(runDir), report)
        try bench.run(sessionS, trace) finally bench.close()
        // each engine workload's traced run carries part of the catalog's
        // per-layer slice
        if (trace)
          new CatalogBench(spark, opts("fixtures"), seed, seconds, Paths.get(runDir), report)
            .tracedPass(CatalogBench.TracedOn(w))
        if (trace && w == "steady_mix") {
          // single-thread baseline: the same drain on local[1]; reported only
          spark.stop()
          spark = session(1, runDir)
          val base = new Report(w)
          val b1 = new EngineBench(spark, EngineWorkload.all(w), seed, seconds,
            Paths.get(runDir, "local1"), base)
          try b1.drainOnly() finally b1.close()
          report.layer("engine.local1_records_per_s", base.detail("records_per_s").value,
            "1/s", base.detail("records_per_s").n)
        }
      case "catalog" =>
        new CatalogBench(spark, opts("fixtures"), seed, seconds, Paths.get(runDir), report)
          .run(sessionS)
      case other =>
        throw new IllegalArgumentException(s"unknown workload $other")
    }
    Files.write(Paths.get(opts("out")), report.json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}

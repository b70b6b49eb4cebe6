package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The catalog workload: passes over a fixed subset of `SparkEntry.queries`
  * through the noop sink, on fixtures generated from the seed. */
object CatalogBench {
  /** Every family with at least one query, plus the targets named in the
    * ROADMAP. A full pass of all 254 queries does not fit one run. */
  val Targets: Seq[String] = Seq("op_label_prop", "op_pagerank", "ann_pq_topk", "ss_join_outer",
    "ss_join_stream", "ss_triangles_maintain", "fg_cooccur_subtract")
  val Subset: Seq[String] = Targets ++ Seq(
    "ss_quantile", "ss_topk",
    "op_sessionize", "op_pivot",
    "tx_tokens", "tx_ngram_freq",
    "dd_exact", "dd_minhash_lsh",
    "fg_fp_subtract",
    "mm_frame_count", "mm_features",
    "ann_brute_topk", "ann_lsh_topk",
    "emb_centroids", "emb_knn_classify",
    "bql_group_agg", "bql_count_distinct", "bql_topk",
    "b5_group_agg", "b6_theta_distinct", "b7_kll_quantile", "j_broadcast_inner",
    "fn_datetime", "samp_hash_sample", "srch_bm25", "wf_analytic")
  val Families: Seq[String] = Seq("ss", "op", "tx", "dd", "fg", "mm", "ann", "emb", "bql", "other")
  /** A warm-up and a traced pass of the whole subset do not fit one traced
    * run next to its engine part, so each engine workload's traced run
    * takes these families (about half the subset's time each). */
  val TracedOn: Map[String, Set[String]] = Map(
    "steady_mix" -> Set("op", "ann", "tx", "dd", "emb"),
    "tenant_churn" -> Set("ss", "fg", "mm", "bql", "other"))
  def family(name: String): String = {
    val p = name.takeWhile(_ != '_')
    if (Families.contains(p)) p else "other"
  }
}

final class CatalogBench(spark: SparkSession, fixtures: String, seed: Long, seconds: Int,
    runDir: Path, report: Report) {
  import CatalogBench._

  private def exec(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** The subset in a seed-determined order (the seed only orders queries
    * here; it also seeded the fixtures). */
  private var names: Seq[String] = {
    val rnd = new scala.util.Random(seed)
    rnd.shuffle(Subset.filter(SparkEntry.queries.contains))
  }

  /** One pass; per query the wall seconds, or the exception. */
  private def pass(tracer: Option[Tracer], passNo: Int): Map[String, Either[String, Double]] =
    names.map { n =>
      val t0 = System.nanoTime()
      val r =
        try {
          val body = () => exec(SparkEntry.queries(n)(spark, fixtures))
          tracer.fold(body())(t => t.tagged(s"pb.q.$n.$passNo")(body()))
          Right((System.nanoTime() - t0) / 1e9)
        } catch { case e: Exception => Left(s"$n: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)) }
      n -> r
    }.toMap

  /** Timed passes until `budgetS` has been spent (at least `minPasses`);
    * returns the per-query median seconds and the pass count. A query that
    * throws is a failed operation and is left out of the times. */
  private def timedPasses(tracer: Option[Tracer], budgetS: Double,
      minPasses: Int): (Map[String, Double], Int) = {
    val t0 = System.nanoTime()
    val runs = new mutable.ArrayBuffer[Map[String, Either[String, Double]]]
    while (runs.size < minPasses || (System.nanoTime() - t0) / 1e9 < budgetS)
      runs += pass(tracer, runs.size)
    val failedNames = mutable.Set.empty[String]
    runs.foreach(_.foreach {
      case (n, Left(err)) => report.attempt(ok = false, err); failedNames += n
      case _ => report.attempt(ok = true, "")
    })
    val medians = names.filterNot(failedNames)
      .map(n => n -> Stats.median(runs.map(_(n).toOption.get))).toMap
    (medians, runs.size)
  }

  /** The untimed warm-up pass (JIT, codegen, parquet footers). Queries with
    * an oracle are written to parquet instead of the noop sink, for the
    * runner's DuckDB check against `SparkEntry.oracleSql`. */
  private def warmPass(): Double = {
    val t0 = System.nanoTime()
    val out = runDir.resolve("oracle")
    Files.createDirectories(out)
    val dumped = names.filter { n =>
      try {
        val df = SparkEntry.queries(n)(spark, fixtures)
        if (SparkEntry.oracleSql.contains(n)) {
          df.coalesce(1).write.mode("overwrite").parquet(out.resolve(n).toString)
          true
        } else { exec(df); false }
      } catch {
        case e: Exception =>
          report.attempt(ok = false, s"$n: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
          false
      }
    }
    val sql = dumped.map(n => graft.streaming.Clip.render(n) + ":" +
      graft.streaming.Clip.render(SparkEntry.oracleSql(n))).mkString("{", ",", "}")
    Files.write(out.resolve("oracle_sql.json"), sql.getBytes(StandardCharsets.UTF_8))
    (System.nanoTime() - t0) / 1e9
  }

  /** The standalone catalog workload: set-up, warm-up, timed passes. */
  def run(sessionS: Double): Unit = {
    // set-up: reading every fixture's footer and schema, three times (some
    // catalog queries do work while their plan is built, so plan building
    // belongs to the timed passes)
    val setups = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      graft.sources.Tables.all.foreach(t => graft.sources.Tables.load(spark, fixtures, t).schema)
      (System.nanoTime() - t0) / 1e9
    }
    val warmS = warmPass()
    val setupS = sessionS + Stats.median(setups)
    val (med, passes) = timedPasses(None, seconds, minPasses = 2)
    System.gc()
    val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    report.endToEnd("catalog_s", med.values.sum, "s", passes)
    report.endToEnd("catalog_geomean_s", Stats.geomean(med.values), "s", med.size)
    report.endToEnd("setup_s", setupS, "s", setups.size)
    report.endToEnd("driver_heap_mb", heap, "MB", 1)
    report.workloadMetric("setup_first_s", sessionS + setups.head + warmS, "s", 1)
    Targets.filter(med.contains).foreach(t => report.workloadMetric(s"${t}_s", med(t), "s", passes))
  }

  /** The catalog's per-layer slice of a traced run, over the queries of
    * `families`: the warm-up pass (with the oracle dumps), then one traced
    * pass. */
  def tracedPass(families: Set[String]): Unit = {
    names = names.filter(n => families(family(n)))
    val warmS = warmPass()
    println(f"phase catalog_warm $warmS%.3f")
    val tracer = new Tracer(spark)
    tracer.start()
    val (med, _) = timedPasses(Some(tracer), 0, minPasses = 1)
    tracer.settle()
    tracer.stop()
    val L = report.layer _
    L("queries.catalog_s", med.values.sum, "s", med.size)
    L("queries.catalog_geomean_s", Stats.geomean(med.values), "s", med.size)
    Families.filter(families).foreach { f =>
      val qs = med.keys.filter(family(_) == f).toSeq
      val b = qs.map(q => tracer.sum(s"pb.q.$q."))
      L(s"queries.${f}_s", qs.map(med).sum, "s", qs.size)
      L(s"queries.${f}_jobs", b.map(_.jobs).sum.toDouble, "count", qs.size)
      L(s"queries.${f}_tasks", b.map(_.tasks).sum.toDouble, "count", qs.size)
    }
    Targets.filter(t => families(family(t)))
      .foreach(t => L(s"queries.${t}_s", med.getOrElse(t, 0.0), "s", 1))
  }
}

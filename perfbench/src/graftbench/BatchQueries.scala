package graftbench

import scala.collection.mutable.ArrayBuffer

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The batch query families, measured in the traced drain run: one pass
  * over a fixed list of registered queries (`SparkEntry.queries`) that
  * checks each result against `expected.json`, then two passes in seeded
  * orders under the engine listener. A query runs as the repo's own
  * bench runs it: construct the DataFrame, then `count()`.
  *
  * As a workload of its own (`batch_query_mix`) these queries read
  * 0.15-0.24 apart (quartile distance over median) between seeds on a
  * 4-vCPU VM, too wide for any bound the benchmark may set, so they give
  * per-layer numbers only.
  */
object BatchQueries {
  /** One query per kind of plan plus the batch form of the ingest path:
    * TPC-H aggregate (q1), shuffle-heavy joins (q21), driver collect
    * (mmr), persisted store written then read (ivf).
    */
  val Queries: Seq[String] = Seq(
    "q1_pricing_summary", "q21_sole_late_supplier", "sim_mmr_rerank",
    "sim_ivf_persisted", "entry_pipeline")

  /** Returns the `query.*` metrics, the failed checks, and the spans. */
  def traced(spark: SparkSession, cfg: RunConfig)
      : (Map[String, Double], Seq[String], Seq[(String, Long, Long, Long)]) = {
    val dir = cfg.batchDir
    val problems = ArrayBuffer.empty[String]
    val expected = Expected.batchQueries(cfg.expectedFile, cfg.scaleName)
    Queries.foreach { q =>
      scala.util.Try {
        val df = SparkEntry.queries(q)(spark, dir)
        Checksum.of(df, xxhash64(df.columns.map(c => df.col(s"`$c`")): _*))
      } match {
        case scala.util.Failure(e) => problems += s"$q failed: $e"
        case scala.util.Success((rows, sum)) =>
          if (cfg.printResults)
            println(s"""{"query":"$q","rows":$rows,"checksum":"$sum"}""")
          expected.get(q) match {
            case None => problems += s"$q: no recorded expectation"
            case Some((wantRows, wantSum)) =>
              if (rows != wantRows)
                problems += s"$q rows: got $rows, expected $wantRows"
              if (wantSum.exists(_ != sum))
                problems += s"$q checksum: got $sum, expected ${wantSum.get}"
          }
      }
    }

    val spans = new Spans
    val listener = new EngineListener
    listener.enabled = true
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(listener)
    val walls = ArrayBuffer.empty[(String, Double, Double)]
    for (pass <- 0 until 2) {
      new scala.util.Random(cfg.seed * 1000 + pass).shuffle(Queries).foreach { q =>
        spark.sparkContext.setLocalProperty(EngineListener.Label, q)
        val q0 = System.nanoTime()
        try {
          val df = SparkEntry.queries(q)(spark, dir)
          val qc = System.nanoTime()
          df.count()
          val q1 = System.nanoTime()
          walls += ((q, (q1 - q0) / 1e6, (qc - q0) / 1e6))
          spans.add(s"construct.$q", pass, q0, qc)
          spans.add(s"execute.$q", pass, qc, q1)
        } catch {
          case e: Exception => problems += s"$q failed: $e"
        }
        listener.drain(spark.sparkContext)
        listener.claim(q)
        spark.sparkContext.setLocalProperty(EngineListener.Label, null)
      }
    }
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(listener)

    val perQuery = listener.counters
    val metrics = Queries.flatMap { q =>
      val mine = walls.filter(_._1 == q).toSeq
      val runs = math.max(1, mine.size).toDouble
      val c = perQuery.getOrElse(q, Map.empty[String, Double])
        .withDefaultValue(0.0)
      def med(f: ((String, Double, Double)) => Double) =
        if (mine.isEmpty) 0.0 else Stats.median(mine.map(f))
      Seq(s"query.$q.wall_ms" -> med(_._2),
        s"query.$q.construct_ms" -> med(_._3),
        s"query.$q.exchanges" -> c("exchanges") / runs,
        s"query.$q.shuffle_bytes" -> c("shuffle_write_bytes") / runs,
        s"query.$q.spill_bytes" -> c("spill_bytes") / runs)
    }.toMap
    (metrics, problems.toSeq, spans.all)
  }
}

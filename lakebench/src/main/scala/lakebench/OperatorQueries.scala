package lakebench

import scala.collection.mutable

/** The 20 headline operator queries (graft.Queries) over seeded star-schema
  * tables, the `operators` layer's measurement. One cold pass is 20-40 s of
  * codegen and a warm pass about 10 s on 4 CPUs, more than an untraced run
  * can afford beside its own workload, so it runs in traced lake_read runs
  * only: a warm-up pass, then [[Passes]] timed pass with the listener on.
  * Every pass must reproduce the warm-up pass's order-independent result
  * hash for each query. */
object OperatorQueries {
  val Headline = Seq(
    "q01_pricing_agg", "q02_filter_project", "q04_checksum", "q06_lww_latest",
    "q07_merge_upsert", "q08_join_dim", "q09_join_fact", "q12_full_outer",
    "q14_argmax", "q15_rollup", "q21_window_time", "q22_dedup_exact",
    "q23_minhash_lsh", "q24_simhash", "q28_ann_brute", "q29_ann_lsh",
    "q30_text_quality", "q31_lang_id", "q32_fingerprint", "q35_transcript_lww")
  val Passes = 1

  def measure(r: Run): Unit = {
    val spark = r.spark
    val dir = r.dir("tables")
    r.listening(on = false)(OpsData.write(spark, dir, r.seed))

    // The hash is the query's consumer: it forces the whole result.
    def runQuery(name: String, span: String): Option[((Long, BigDecimal), Double)] =
      r.op(name) {
        r.tracer.timed(span, "operators")(Oracle.resultHash(graft.Queries.all(name)(spark, dir)))
      }
    val reference = r.listening(on = false) {
      Headline.flatMap(q => runQuery(q, s"operators.$q.warmup").map(x => q -> x._1))
    }.toMap
    r.check("operator queries warm-up pass", reference.size == Headline.size)
    r.note("operator queries warm")

    val ms = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    (1 to Passes).foreach { _ =>
      Headline.foreach { q =>
        runQuery(q, s"operators.$q").foreach { case (hash, t) =>
          ms.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += t
          r.check(s"operator query $q hash stable", reference.get(q).contains(hash),
            s"$hash vs ${reference.get(q)}")
        }
      }
    }
    r.listener.foreach(_.settle())
    val medians = Headline.flatMap(q => ms.get(q).map(v => q -> Stats.median(v.toSeq)))
    medians.foreach { case (q, m) => r.layer(s"operators.${q}_ms_p50") = (m, "ms") }
    r.detail("operators.query_total_s") = (medians.map(_._2).sum / 1000, "s")
    r.layer("operators.planning_ms_p50") =
      (Stats.percentile(Headline.flatMap(q => r.selfMs(s"operators.$q")), 0.5), "ms")
    val t = r.layerTotals("operators")
    r.layer("operators.task_cpu_s") = (t.cpuNs / 1e9 / Passes, "s")
    r.layer("operators.shuffle_write_bytes") = (t.shuffleWriteBytes.toDouble / Passes, "B")
    r.layer("operators.spill_bytes") = (t.spillBytes.toDouble / Passes, "B")
  }
}

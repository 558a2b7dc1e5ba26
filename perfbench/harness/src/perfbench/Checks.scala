package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Output checks of the ingest workload, made on the untimed check pass. */
object Checks {
  private def statuses(spark: SparkSession, w: Workloads.Ingest): Map[Long, String] =
    spark.read.parquet(w.cfg.get.resultsDir).select(col("id"), col("status"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  /** The decision record holds exactly one row per offered doc, in the
    * batch that offered it, and no planted copy of an earlier doc is kept. */
  def ingest(spark: SparkSession, workload: Workload): Map[String, Any] = {
    val w = workload.asInstanceOf[Workloads.Ingest]
    val rows = spark.read.parquet(w.cfg.get.resultsDir)
      .select(col("__batch").cast("int"), col("id")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSeq
    val status = statuses(spark, w)
    val plantedKept = w.plantedLog.count { case (_, _, _, id) => status.get(id).contains("kept") }
    val ok = rows.size == w.offeredLog.size && rows.toSet == w.offeredLog.toSet &&
      plantedKept == 0 && w.plantedLog.nonEmpty
    Map("offered" -> w.offeredLog.size, "rows" -> rows.size,
      "distinct_rows" -> rows.toSet.size, "planted" -> w.plantedLog.size,
      "planted_kept" -> plantedKept, "ok" -> ok)
  }

  /** Every probe is an exact copy of an earlier offered doc. The dedup
    * lookup must return the pair (probe, copied doc) whenever that doc was
    * kept, and some match for every probe (a doc that was not kept has a
    * kept near-twin in the index). The IVF lookup must return a neighbour
    * for every probe whose copied doc was kept (its vector is indexed; the
    * best neighbour may be another kept replica of the same vector). */
  def lookup(workload: Workload, op: Op, df: DataFrame): Map[String, Any] = {
    val w = workload.asInstanceOf[Workloads.Ingest]
    val status = statuses(df.sparkSession, w)
    val (a, b) = if (op.name == "lookup_dedup") ("id_new", "id_old") else ("id", "near_id")
    val pairs = df.select(col(a).cast("long"), col(b).cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val missed = w.lastProbe.count { case (sb, base, pid) =>
      val src = w.ownId(sb, base)
      if (op.name == "lookup_dedup")
        (status.get(src).contains("kept") && !pairs.contains((pid, src))) ||
          !pairs.exists(_._1 == pid)
      else status.get(src).contains("kept") && !pairs.exists(_._1 == pid)
    }
    Map("op" -> op.name, "probes" -> w.lastProbe.size, "pairs" -> pairs.size,
      "missed" -> missed, "ok" -> (missed == 0 && w.lastProbe.nonEmpty))
  }
}

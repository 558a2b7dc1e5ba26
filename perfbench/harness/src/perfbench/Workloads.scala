package perfbench

import java.nio.file.{Files, Path}

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipelines.IngestPipeline
import graft.similarity.Ivf

/** One operation of a workload: `build` calls into the engine and returns
  * the lazy result (any eager jobs the engine runs happen inside it);
  * `sink` materializes it; `after` is follow-up work timed with the
  * operation (the ingest maintenance cadence). `docs` is how many
  * documents the operation ingests (0 for queries and lookups). */
final case class Op(name: String, kind: String, build: Tracing => DataFrame,
                    sink: DataFrame => Unit, after: () => Unit = () => (),
                    docs: Long = 0L)

/** What an operation reports to the traced run: named stage seconds. */
trait Tracing {
  def stage(name: String, seconds: Double): Unit
  def enabled: Boolean
}

object Tracing {
  val off: Tracing = new Tracing {
    def stage(name: String, seconds: Double): Unit = ()
    def enabled = false
  }
}

/** A workload: a fixed list of operations, run one at a time. */
trait Workload {
  /** Operations of pass `pass`, in run order, over the tables in `dir`. */
  def pass(spark: SparkSession, dir: String, pass: Int): Seq[Op]
  /** Release what a pass created (index roots). */
  def endPass(): Unit = ()
  /** Names of every operation, for per-operation reporting. */
  def opNames: Seq[String]
}

object Workloads {
  val starEtl: Seq[String] = Seq(
    "q_date_dim", "q_title_case", "q_dedup", "q_join_recombine", "q_fillna",
    "q_pipeline_demographics", "q_tpch_q1", "q_tpch_q5", "q_upsert")

  val iterative: Seq[String] = Seq(
    "q_hits", "q_percentile", "q_entity_resolution")

  /** Every workload's operation names. */
  val opNames: Map[String, Seq[String]] = Map(
    "star_etl" -> starEtl, "iterative" -> iterative, "ingest" -> Ingest.opNames)

  def apply(name: String, seed: Long, work: Path): Workload = name match {
    case "star_etl" => new Queries(starEtl, seed)
    case "iterative" => new Queries(iterative, seed)
    case "ingest" => new Ingest(seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  /** Queries from `graft.SparkEntry.queries`, a seed-permuted order each
    * pass; each result is materialized through the `noop` sink. */
  final class Queries(names: Seq[String], seed: Long) extends Workload {
    def opNames: Seq[String] = names
    def pass(spark: SparkSession, dir: String, pass: Int): Seq[Op] =
      new Random(seed * 1000003L + pass).shuffle(names).map { n =>
        val fn = graft.SparkEntry.queries(n)
        Op(n, "query", _ => fn(spark, dir), noop)
      }
  }

  /** Micro-batches of `documents` through `IngestPipeline.processBatch`
    * into a fresh index root per pass, with the maintenance cadence after
    * each batch and a read-only index lookup between batches.
    *
    * Batches use the replica trick: batch b offers `batchDocs` seeded
    * corpus docs with every token suffixed `~b` and ids offset per batch,
    * so batches share no shingles; from batch 1 on it also offers
    * `planted` exact copies (fresh ids) of earlier batches' docs, which
    * the pipeline must not keep. A lookup probes `probeDocs` exact copies
    * of earlier batches' docs against the growing dedup index
    * (`IncrementalDedup.lookupPairs`) on even passes and the IVF index
    * (`IncrementalIvf.nearDupPairs`) on odd ones. A pass thus has an odd
    * number of operations, so the median operation is a batch, not the
    * midpoint of the gap between lookup and batch latencies. */
  final class Ingest(seed: Long, work: Path, val batches: Int = 2,
                     val batchDocs: Int = 150, val planted: Int = 10,
                     val probeDocs: Int = 20) extends Workload {
    def opNames: Seq[String] = Ingest.opNames
    private var root: Option[Path] = None
    /** (batch, source batch, base doc id, offered id) of every planted copy. */
    val plantedLog: collection.mutable.ArrayBuffer[(Int, Int, Long, Long)] =
      collection.mutable.ArrayBuffer()
    /** (batch, offered id) of every doc offered this pass. */
    val offeredLog: collection.mutable.ArrayBuffer[(Int, Long)] =
      collection.mutable.ArrayBuffer()
    var cfg: Option[IngestPipeline.Config] = None
    var idSpan = 0L
    var lastProbe: Seq[(Int, Long, Long)] = Nil  // (source batch, base id, probe id)
    private var corpus: Option[DataFrame] = None

    /** Offered id of base doc `base` in batch `b`'s own share. */
    def ownId(b: Int, base: Long): Long = base + (2L * b + 1) * idSpan

    override def endPass(): Unit = {
      root.foreach(deleteTree)
      root = None
      corpus.foreach(_.unpersist())
      corpus = None
    }

    def pass(spark: SparkSession, dir: String, pass: Int): Seq[Op] = {
      endPass()
      plantedLog.clear()
      offeredLog.clear()
      val rng = new Random(seed * 1000003L + pass)
      val docs = graft.Tables.documents(spark, dir).select(col("doc_id"), col("text"))
        .join(graft.Tables.embeddings(spark, dir).select(col("vec_id").as("doc_id"),
          transform(col("embedding"), x => x.cast("double")).as("embedding")), "doc_id")
        .cache()
      corpus = Some(docs)
      val ids = docs.select(col("doc_id")).collect().map(_.getLong(0)).sorted.toSeq
      val span = ids.max + 1
      idSpan = span
      val dir0 = Files.createDirectories(work.resolve(s"ingest-$pass"))
      root = Some(dir0)
      // two fixed centroids drawn from the corpus itself
      val cents = docs.filter(col("doc_id").isin(ids.take(2): _*)).orderBy("doc_id")
        .collect().zipWithIndex.map { case (r, i) =>
          Ivf.Centroid(i, r.getSeq[Double](2)) }.toSeq
      val c = IngestPipeline.Config(
        textCol = "text", idCol = "doc_id", embCol = "embedding",
        dedupIndex = s"$dir0/dedup", statsIndex = s"$dir0/stats",
        ivfIndex = s"$dir0/ivf", resultsDir = s"$dir0/results",
        appId = "perfbench", centroids = cents, threshold = 0.6,
        oovGate = 0.5, compactEvery = 2)
      cfg = Some(c)

      // offered copies of base docs: (source batch, base id, offered id)
      def replicas(rows: Seq[(Int, Long, Long)]): DataFrame = rows.groupBy(_._1).toSeq
        .sortBy(_._1).map { case (b, rs) =>
          val m = typedLit(rs.map(r => r._2 -> r._3).toMap)
          docs.filter(col("doc_id").isin(rs.map(_._2): _*))
            .withColumn("doc_id", element_at(m, col("doc_id")))
            .withColumn("text", array_join(transform(split(col("text"), " "),
              w => concat(w, lit(s"~$b"))), " "))
        }.reduce(_ unionByName _)

      val offered = collection.mutable.ArrayBuffer[Seq[(Int, Long, Long)]]()
      (0 until batches).flatMap { b =>
        val own = rng.shuffle(ids).take(batchDocs)
          .map(i => (b, i, ownId(b, i)))
        val copies =
          if (b == 0) Nil
          else rng.shuffle(offered.flatten.toSeq).take(planted)
            .zipWithIndex.map { case ((sb, base, _), k) =>
              (sb, base, (2L * b + 2) * span + k) }
        copies.foreach { case (sb, base, id) => plantedLog += ((b, sb, base, id)) }
        (own ++ copies).foreach(r => offeredLog += ((b, r._3)))
        offered += own
        val batchOp = Op("batch", "batch",
          t => {
            val df = replicas(own ++ copies)
            if (t.enabled) IngestPipeline.processBatch(spark, df, c, b.toLong,
              Some((n: String, s: Double) => t.stage(n, s)))
            else IngestPipeline.processBatch(spark, df, c, b.toLong)
          },
          rec => rec.write.mode("append").partitionBy("__batch").parquet(c.resultsDir),
          () => IngestPipeline.maintenance(spark, c, b.toLong),
          docs = (own ++ copies).size.toLong)
        val probe = rng.shuffle(offered.flatten.toSeq).take(probeDocs)
          .zipWithIndex.map { case ((sb, base, _), k) => (sb, base, 1000L * span + k) }
        val lookupOp =
          if (Math.floorMod(pass, 2) == 0) Op("lookup_dedup", "lookup", _ => {
              lastProbe = probe
              graft.dedup.IncrementalDedup.lookupPairs(spark, c.dedupIndex,
                replicas(probe), "text", "doc_id", threshold = c.threshold)
            }, noop)
          else Op("lookup_ivf", "lookup", _ => {
              lastProbe = probe
              graft.similarity.IncrementalIvf.nearDupPairs(spark, replicas(probe),
                "embedding", "doc_id", c.centroids, c.ivfIndex, threshold = 0.999)
            }, noop)
        if (b < batches - 1) Seq(batchOp, lookupOp) else Seq(batchOp)
      }
    }
  }

  object Ingest {
    val opNames: Seq[String] = Seq("batch", "lookup_dedup", "lookup_ivf")
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }
}

package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.operators.{Ivf, Lsh, Quantized, VectorSearch}

/** Non-member queries against a corpus read from parquet (not warmed),
  * rotating across exact search and the four ANN index families, while
  * the IVF index takes writes. Each step appends one batch to the IVF
  * index, then issues one query per family and a second IVF query in a
  * seeded order, plus a read-your-writes probe for the batch (so about
  * half the reads hit the index under ingest); every few steps it tombstones
  * ids, every few more it compacts. The run ends with a session
  * restart, after which every acknowledged append must still be in the
  * index and no tombstoned id may be.
  *
  * Exact, SQ8, IVF-PQ and LSH answer over the base corpus; appends and
  * tombstones apply to the IVF index only, as they do in the engine.
  */
final class AnnIngest(smoke: Boolean, copies: Int) extends Workload {
  val name = "ann_ingest"
  val tailPct = 0.7
  private val (baseVecs, nCopies, batch) = if (smoke) (500, 2, 20) else (2000, copies, 200)
  private val K = 10
  private val Cells = 16
  private val Nprobe = 4
  private val PqM = 8
  private val PqK = 16
  private val LshBits = 8
  private val RemoveEvery = 2
  private val RemovePerStep = 5
  private val CompactEvery = 4
  val Families: Seq[(String, String)] = Seq(
    "exact" -> "VectorSearch.topKVec", "ivf" -> "Ivf.ivfTopKVec", "sq8" -> "Quantized.sq8TopKVec",
    "ivfpq" -> "Quantized.ivfPqTopKVec", "lsh" -> "Lsh.lshTopKVec")

  private var data: String = _
  private var indexRoot: String = _
  private var oracle: VecOracle = _
  private var baseSize = 0
  private var centroids: Array[Array[Double]] = _
  private val appended = mutable.ArrayBuffer.empty[Long]
  private var tombstones = Set.empty[Long]
  private val recalls = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val epochs = mutable.ArrayBuffer.empty[Double]
  def rawBytes: Double = oracle.size.toDouble * Corpus.Dim * 4

  def prepare(ctx: Ctx, spark: () => SparkSession): Unit = {
    val base = Corpus.base(ctx, spark, 500, baseVecs)
    val scaled = Corpus.scaled(ctx, spark, base, nCopies, zipf = false, "embeddings")
    data = Corpus.copyTables(scaled, s"${ctx.runDir}/data", Seq("embeddings"))
  }

  def setup(ctx: Ctx, spark: SparkSession): Unit = {
    indexRoot = spark.conf.get("spark.graft.index.root")
    ctx.layer("Ivf.ensureIndex")(Ivf.ensureIndex(spark, data, Cells))
    ctx.layer("Quantized.ensureSq8Index")(Quantized.ensureSq8Index(spark, data))
    ctx.layer("Quantized.ensureIvfPqIndex")(Quantized.ensureIvfPqIndex(spark, data, Cells, PqM, PqK))
    ctx.layer("Lsh.ensureIndex")(Lsh.ensureIndex(spark, data, LshBits))
    ctx.layer("first_calls") {
      val q = Array.tabulate(Corpus.Dim)(i => if (i == 0) 1f else 0f)
      Families.foreach { case (f, _) => frame(spark, f, q, Nprobe).collect() }
    }
  }

  def load(ctx: Ctx, spark: SparkSession): Unit = {
    centroids = spark.read.parquet(s"${indexPath(spark)}/centroids").orderBy("cell").collect()
      .map(_.getSeq[Double](1).toArray)
    val (ids, vecs, labels) = Corpus.loadVectors(spark, data)
    oracle = new VecOracle(ids, vecs, labels)
    baseSize = oracle.size
  }

  private def indexPath(spark: SparkSession): String = Ivf.indexPath(spark, data, Cells)

  /** A corpus vector plus noise: near the corpus, never a member. */
  private def query(r: java.util.Random): Array[Float] =
    Corpus.perturbed(r, oracle.vec(r.nextInt(oracle.size)), 0.05)

  private def frame(spark: SparkSession, family: String, q: Array[Float], nprobe: Int): DataFrame =
    family match {
      case "exact" => VectorSearch.topKVec(spark, data, q, K)
      case "ivf" => Ivf.ivfTopKVec(spark, data, q, Cells, nprobe, K)
      case "sq8" => Quantized.sq8TopKVec(spark, data, q, K)
      case "ivfpq" => Quantized.ivfPqTopKVec(spark, data, q, Cells, nprobe, K, PqM, PqK)
      case "lsh" => Lsh.lshTopKVec(spark, data, q, LshBits, K)
    }

  /** Probe depth that covers the cell an append put `v` in: appends go
    * to the nearest centroid by distance, probes rank cells by cosine.
    */
  private def covering(v: Array[Float]): Int = {
    def d2(c: Array[Double]) = c.indices.map(i => (v(i) - c(i)) * (v(i) - c(i))).sum
    def cos(c: Array[Double]) =
      c.indices.map(i => v(i) * c(i)).sum / math.sqrt(c.map(x => x * x).sum)
    val home = centroids.indices.minBy(i => (d2(centroids(i)), i))
    val order = centroids.indices.sortBy(i => (-cos(centroids(i)), i))
    math.max(Nprobe, order.indexOf(home) + 1)
  }

  private def epochCount(spark: SparkSession): Int = {
    val p = new Path(s"${indexPath(spark)}/cells")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .count(_.getPath.getName.startsWith("epoch="))
  }

  /** One query. The IVF family answers over the live set (base plus
    * acknowledged appends minus tombstones), the others over the base
    * corpus. `mustFind` makes it a read-your-writes probe.
    */
  private def read(ctx: Ctx, spark: SparkSession, family: String, kind: String, q: Array[Float],
                   nprobe: Int, mustFind: Option[Long]): Unit = {
    val ivf = family == "ivf"
    val dead = if (ivf) tombstones else Set.empty[Long]
    val upTo = if (ivf) oracle.size else baseSize
    val exp = oracle.topK(q, K, upTo)(i => !dead.contains(oracle.id(i)))
    if (ivf && ctx.args.trace) epochs += epochCount(spark)
    ctx.query(kind, "read")(frame(spark, family, q, nprobe)).foreach { rows =>
      ctx.check(kind)(verdict(family, q, exp, dead, upTo, mustFind, rows))
    }
  }

  private def verdict(family: String, q: Array[Float], exp: Seq[(Long, Double)], dead: Set[Long],
                      upTo: Int, mustFind: Option[Long], rows: Array[Row]): Option[String] = {
    val scoreCol = family match {
      case "sq8" => "score_q"
      case "ivfpq" => "adc_dist"
      case _ => "score"
    }
    val got = rows.toSeq.map(x => (x.getAs[Long](if (family == "ivf") "n_id" else "vec_id"),
      x.getAs[Double](scoreCol)))
    if (mustFind.isEmpty)
      recalls.getOrElseUpdate(family, mutable.ArrayBuffer.empty) += Oracle.recall(got.map(_._1), exp.map(_._1))
    val known = (id: Long) => oracle.contains(id) && oracle.indexOf(id) < upTo
    family match {
      case "exact" => Oracle.sameRanking(got, exp, oracle.cosine(_, q))
      case _ =>
        Oracle.ranked(got, ascending = family == "ivfpq").orElse {
          if (got.length != K) Some(s"${got.length} rows, expected $K")
          else got.collectFirst {
            case (id, _) if dead.contains(id) => s"tombstoned id $id returned"
            case (id, _) if !known(id) => s"id $id is not in the searched set"
            case (id, s) if (family == "ivf" || family == "lsh") && !Oracle.near(s, oracle.cosine(id, q)) =>
              s"id $id scored $s but its cosine is ${oracle.cosine(id, q)}"
          }
        }.orElse(mustFind.collect {
          case id if !got.headOption.exists(_._1 == id) => s"acknowledged append $id not at rank 1"
        })
    }
  }

  def run(ctx: Ctx, spark: SparkSession, deadlineNs: Long): Long = {
    val r = ctx.rng(2)
    val shuffle = scala.util.Random.javaRandomToRandom(r)
    var prepNs = 0L
    var step = 0
    var nextId = oracle.maxId
    while (System.nanoTime() < deadlineNs) {
      ctx.setTracing(step % 2 == 0)
      val p0 = System.nanoTime()
      val rows = (0 until batch).map { _ => nextId += 1; (nextId, query(r), r.nextInt(10)) }
      val sent = if (ctx.args.fault == "drop-append" && step == 0) rows.init else rows
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
        sent.map { case (id, v, l) => Corpus.vecRow(id, v, l) }, 1), Corpus.VecSchema)
      val path = indexPath(spark)
      prepNs += System.nanoTime() - p0
      if (ctx.action("Ivf.appendToIndex", "append")(Ivf.appendToIndex(spark, path, df)))
        rows.foreach { case (id, v, l) => oracle.add(id, v, l); appended += id }
      shuffle.shuffle(Families :+ Families(1)).foreach { case (family, kind) =>
        read(ctx, spark, family, kind, query(r), Nprobe, None)
      }
      val live = appended.takeRight(batch).filterNot(tombstones.contains)
      if (live.nonEmpty) {
        val id = live(r.nextInt(live.length))
        val v = oracle.vecOf(id)
        read(ctx, spark, "ivf", "Ivf.ivfTopKVec", v, covering(v), Some(id))
      }
      if (step % RemoveEvery == RemoveEvery - 1) {
        val ids = Seq.fill(RemovePerStep)(oracle.id(r.nextInt(oracle.size))).distinct
          .filterNot(tombstones.contains)
        if (ctx.action("Ivf.removeFromIndex", "remove")(Ivf.removeFromIndex(spark, data, Cells, ids))) {
          tombstones ++= ids
          val v = oracle.vecOf(ids.head)
          read(ctx, spark, "ivf", "Ivf.ivfTopKVec", v, covering(v), None)
        }
      }
      if (step % CompactEvery == CompactEvery - 1)
        ctx.action("Ivf.compactIndex", "compact")(Ivf.compactIndex(spark, data, Cells))
      step += 1
    }
    prepNs
  }

  /** Restarts the session: acknowledged appends must survive it. */
  override def finish(ctx: Ctx): Unit = {
    ctx.setTracing(false)
    ctx.stopSession()
    val spark = ctx.startSession(indexRoot)
    val ids = Ivf.ensureIndex(spark, data, Cells)._1.select("vec_id").collect().map(_.getLong(0)).toSet
    val acked = appended.toSet -- tombstones
    ctx.attempted += 1
    ctx.check("restart") {
      val lost = acked -- ids
      val revived = tombstones.intersect(ids)
      if (lost.nonEmpty) Some(s"${lost.size} acknowledged appends missing after restart, e.g. ${lost.head}")
      else if (revived.nonEmpty) Some(s"tombstoned id ${revived.head} visible after restart")
      else if (ids.size != oracle.size - tombstones.size)
        Some(s"${ids.size} ids after restart, expected ${oracle.size - tombstones.size}")
      else None
    }
  }

  override def report(ctx: Ctx): Unit = {
    val ms = (k: String) => ctx.samples.filter(_.kind == k).map(_.ms).toSeq
    ctx.gauge("recall_at_10", Stats.mean(Families.map(_._1).filter(_ != "exact")
      .flatMap(f => recalls.getOrElse(f, Nil))), "ratio")
    ctx.gauge("append_p50_ms", Stats.median(ms("Ivf.appendToIndex")), "ms")
    ctx.gauge("append_tail_ms", Stats.pct(ms("Ivf.appendToIndex"), tailPct), "ms")
    ctx.gauge("Ivf.removeFromIndex_ms", Stats.median(ms("Ivf.removeFromIndex")), "ms")
    ctx.gauge("Ivf.compactIndex_ms", Stats.median(ms("Ivf.compactIndex")), "ms")
    ctx.gauge("appended_vectors", appended.length.toDouble, "count")
    if (ctx.args.trace) ctx.gauge("IndexStore.epochs_at_read", Stats.mean(epochs.toSeq), "count")
    val dirs = Option(new java.io.File(indexRoot).listFiles()).getOrElse(Array.empty[java.io.File])
    def bytes(prefixes: String*): Long = dirs.filter(d => prefixes.exists(d.getName.startsWith))
      .map(d => Corpus.bytesUnder(d.getPath)).sum
    val famBytes = Map(
      "exact" -> Corpus.bytesUnder(s"$data/embeddings.parquet"),
      "ivf" -> bytes("ivf_v"), "sq8" -> bytes("sq8_"), "ivfpq" -> bytes("ivfpq_", "pq_"),
      "lsh" -> bytes("lsh_"))
    Families.foreach { case (f, _) =>
      ctx.gauge(s"$f.recall_at_10", Stats.mean(recalls.getOrElse(f, Nil).toSeq), "ratio")
      ctx.gauge(s"$f.bytes_ratio", famBytes(f) / (baseSize.toDouble * Corpus.Dim * 4), "ratio")
    }
  }
}

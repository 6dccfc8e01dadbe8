package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.Tables
import graft.functions.{CorpusLexicalEncoder, QueryEncoder}
import graft.operators.{TextRetrieval, VectorSearch}

/** The app's interactive tabs on a warmed, cache-resident corpus:
  * free-text, item-to-item, filtered, hybrid, BM25 and compare. Each
  * round issues the fixed mix below in a seeded order.
  */
final class SearchWarm(smoke: Boolean) extends Workload {
  import SearchWarm.Op

  val name = "search_warm"
  val tailPct = 0.75
  private val (nDocs, nVecs) = if (smoke) (500, 500) else (5000, 2000)
  private val K = 10
  // hybrid free-text is the app's main search path; its three slots
  // also put the tail percentile inside one operation type's latencies
  // instead of on the boundary between two
  val Mix: Seq[String] = Seq(
    "VectorSearch.topKText", "VectorSearch.topKText", "VectorSearch.topK",
    "VectorSearch.filteredTopK", "VectorSearch.filteredTopK",
    "TextRetrieval.hybridTopKFree", "TextRetrieval.hybridTopKFree", "TextRetrieval.hybridTopKFree",
    "TextRetrieval.bm25TopK", "VectorSearch.simMatrix")

  private var data: String = _
  private var oracle: VecOracle = _
  private var terms: IndexedSeq[String] = _
  private var rawBytes0 = 0.0
  private val recalls = mutable.ArrayBuffer.empty[Double]
  private val encodeMs = mutable.ArrayBuffer.empty[Double]
  def rawBytes: Double = rawBytes0

  def prepare(ctx: Ctx, spark: () => SparkSession): Unit = {
    val base = Corpus.base(ctx, spark, nDocs, nVecs)
    data = Corpus.copyTables(base, s"${ctx.runDir}/data", Seq("documents", "embeddings"))
  }

  def load(ctx: Ctx, spark: SparkSession): Unit = {
    val (ids, vecs, labels) = Corpus.loadVectors(spark, data)
    oracle = new VecOracle(ids, vecs, labels)
    val docs = Corpus.loadDocs(spark, data)
    // query terms are corpus tokens the model's tokenizer keeps, so no
    // query is all out-of-vocabulary
    terms = docs.iterator.flatMap(d => TextRetrieval.sklearnTokenize(d._2)).toSet.toIndexedSeq.sorted
    rawBytes0 = ids.length.toDouble * Corpus.Dim * 4 + docs.map(_._2.getBytes("UTF-8").length.toLong).sum
  }

  def setup(ctx: Ctx, spark: SparkSession): Unit = {
    spark.conf.set("spark.graft.encoder.class", "graft.functions.CorpusLexicalQueryEncoder")
    spark.conf.set(CorpusLexicalEncoder.DirKey, data)
    ctx.layer("Tables.warm")(Tables.warm(spark, data, Seq("embeddings", "documents")))
    ctx.layer("TextRetrieval.ensureModel")(TextRetrieval.ensureModel(spark, data))
    ctx.layer("CorpusLexicalEncoder.lexicon") {
      CorpusLexicalEncoder.ensureLexicon(spark, data)
      QueryEncoder.required(spark).encode(Corpus.Vocab.head)
    }
    // first call of every operation: lazily built artifacts (the BM25
    // length table) and per-shape planning happen here, not in the loop
    ctx.layer("first_calls") {
      val q = QueryEncoder.required(spark).encode(Corpus.Vocab.head)
      VectorSearch.topKText(spark, data, Corpus.Vocab.head, K).collect()
      VectorSearch.topK(spark, data, 0L, K).collect()
      VectorSearch.filteredTopK(spark, data, 0L, K, Seq(0, 1, 2)).collect()
      TextRetrieval.hybridTopKFree(spark, data, q, Corpus.Vocab.head, 0.5, K, None).collect()
      TextRetrieval.bm25TopK(spark, data, Corpus.Vocab.head, K).collect()
      VectorSearch.simMatrix(spark, data, Seq(0L, 1L)).collect()
    }
  }

  private def text(r: java.util.Random): String =
    r.ints(0, terms.length).distinct().limit(2 + r.nextInt(3)).toArray.map(terms(_)).mkString(" ")

  private def scored(rows: Array[Row], id: Int, score: Int): Seq[(Long, Double)] =
    rows.toSeq.map(x => (x.getLong(id), x.getDouble(score)))

  private def vectorCheck(q: Array[Float], exp: Seq[(Long, Double)]): Array[Row] => Option[String] = {
    rows =>
      val got = scored(rows, 0, 1)
      recalls += Oracle.recall(got.map(_._1), exp.map(_._1))
      Oracle.sameRanking(got, exp, oracle.cosine(_, q))
  }

  private def op(spark: SparkSession, kind: String, r: java.util.Random): Op = kind match {
    case "VectorSearch.topKText" =>
      val t = text(r)
      val t0 = System.nanoTime()
      val q = QueryEncoder.required(spark).encode(t)
      encodeMs += (System.nanoTime() - t0) / 1e6
      Op(() => VectorSearch.topKText(spark, data, t, K), vectorCheck(q, oracle.topK(q, K)(_ => true)))
    case "VectorSearch.topK" =>
      val i = r.nextInt(oracle.size)
      val (id, q) = (oracle.id(i), oracle.vec(i))
      Op(() => VectorSearch.topK(spark, data, id, K), vectorCheck(q, oracle.topK(q, K)(_ != i)))
    case "VectorSearch.filteredTopK" =>
      val i = r.nextInt(oracle.size)
      val (id, q) = (oracle.id(i), oracle.vec(i))
      val labels = r.ints(0, 10).distinct().limit(3).toArray.toSeq
      Op(() => VectorSearch.filteredTopK(spark, data, id, K, labels),
        vectorCheck(q, oracle.topK(q, K)(j => j != i && labels.contains(oracle.label(j)))))
    case "TextRetrieval.hybridTopKFree" =>
      val t = text(r)
      // encoded again inside the timed call, as the app's hybrid tab does;
      // this copy is only for the check
      val q = QueryEncoder.required(spark).encode(t)
      Op(() => TextRetrieval.hybridTopKFree(spark, data, QueryEncoder.required(spark).encode(t), t, 0.5, K, None), rows => {
        val got = scored(rows, 0, 1)
        Oracle.ranked(got).orElse {
          if (rows.length != K) Some(s"${rows.length} rows, expected $K")
          else rows.collectFirst {
            case x if !Oracle.near(x.getDouble(2), oracle.cosine(x.getLong(0), q)) =>
              s"doc ${x.getLong(0)}: vector_score ${x.getDouble(2)} is not its cosine"
            case x if math.abs(x.getDouble(1) - 0.5 * (x.getDouble(2) + x.getDouble(3))) > 2e-5 =>
              s"doc ${x.getLong(0)}: hybrid_score ${x.getDouble(1)} is not the 0.5 blend"
          }
        }
      })
    case "TextRetrieval.bm25TopK" =>
      val t = text(r)
      Op(() => TextRetrieval.bm25TopK(spark, data, t, K), rows => {
        val got = scored(rows, 0, 1)
        Oracle.ranked(got).orElse {
          if (rows.isEmpty) Some("no rows for in-vocabulary terms")
          else got.collectFirst { case (id, s) if s <= 0 || id < 0 || id >= nDocs =>
            s"doc $id: score $s" }
        }
      })
    case "VectorSearch.simMatrix" =>
      val ids = r.ints(0, oracle.size).distinct().limit(2 + r.nextInt(3)).toArray.map(oracle.id).toSeq
      Op(() => VectorSearch.simMatrix(spark, data, ids), rows => {
        val exp = for (a <- ids.sorted; b <- ids.sorted) yield
          (a, b, Oracle.round5(Oracle.dot(oracle.vecOf(a), oracle.vecOf(b)) /
            (Oracle.norm(oracle.vecOf(a)) * Oracle.norm(oracle.vecOf(b)))))
        val got = rows.toSeq.map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
        if (got.length != exp.length) Some(s"${got.length} cells, expected ${exp.length}")
        else got.zip(exp).collectFirst {
          case (g, e) if g._1 != e._1 || g._2 != e._2 || !Oracle.near(g._3, e._3) => s"cell $g, expected $e"
        }
      })
  }

  def run(ctx: Ctx, spark: SparkSession, deadlineNs: Long): Long = {
    val r = ctx.rng(1)
    var prepNs = 0L
    var round = 0
    while (System.nanoTime() < deadlineNs) {
      ctx.setTracing(round % 2 == 0)
      val order = scala.util.Random.javaRandomToRandom(r).shuffle(Mix)
      order.foreach { kind =>
        val p0 = System.nanoTime()
        val o = op(spark, kind, r)
        prepNs += System.nanoTime() - p0
        ctx.query(kind, "read")(o.frame()).foreach(rows => ctx.check(kind)(o.check(rows)))
      }
      round += 1
    }
    prepNs
  }

  override def report(ctx: Ctx): Unit = {
    ctx.gauge("recall_at_10", Stats.mean(recalls.toSeq), "ratio")
    ctx.gauge("QueryEncoder.encode_ms", Stats.median(encodeMs.toSeq), "ms")
  }
}

object SearchWarm {
  /** One generated operation: the frame to run and its output check. */
  final case class Op(frame: () => DataFrame, check: Array[Row] => Option[String])
}

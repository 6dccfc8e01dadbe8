package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.operators.{Curation, Dedup, TextAnalysis}

/** One cold curation pass over a skewed document corpus with planted
  * verbatim and near copies. The pass reads a fresh copy of the corpus,
  * so no cache or artifact applies, and runs the stages in a fixed
  * order; each stage's output is collected. A traced run adds an
  * untraced second pass, so it always runs exactly one pass of each
  * kind whatever the program's speed.
  */
final class CurateBatch(smoke: Boolean, copies: Int) extends Workload {
  val name = "curate_batch"
  override val latencyGroup = "stage"
  val tailPct = 0.75
  private val (baseDocs, nCopies, plants) = if (smoke) (500, 2, 5) else (2500, copies, 20)
  val Stages: Seq[String] = Seq("Dedup.exact", "TextAnalysis.quality", "Curation.curatePipeline",
    "Dedup.minhashLsh", "Dedup.dedupClusters", "Dedup.decontaminate")

  private var corpus: String = _
  private var docs: Array[(Long, String, String)] = _
  private var inputBytes = 0.0
  private val passMs = mutable.ArrayBuffer.empty[Double]
  private val passDocs = mutable.ArrayBuffer.empty[Int]
  private val plantedRecall = mutable.ArrayBuffer.empty[Double]
  def rawBytes: Double = inputBytes

  def prepare(ctx: Ctx, spark: () => SparkSession): Unit = {
    val base = Corpus.base(ctx, spark, baseDocs, 500)
    corpus = Corpus.scaled(ctx, spark, base, nCopies, zipf = true, "documents")
  }

  /** A pass is cold by construction; set-up is the session start. */
  def setup(ctx: Ctx, spark: SparkSession): Unit = ()

  def load(ctx: Ctx, spark: SparkSession): Unit = docs = Corpus.loadDocs(spark, corpus)

  /** Writes one pass's corpus: the cached one plus seeded plants, near
    * copies in the corpus's own style (source text plus the marker token).
    * Returns (dir, all docs, verbatim (copy, source), near (copy, source)).
    */
  private def passInput(ctx: Ctx, spark: SparkSession, r: java.util.Random, pass: Int)
      : (String, Array[(Long, String, String)], Seq[(Long, Long)], Seq[(Long, Long)]) = {
    val dir = s"${ctx.runDir}/pass-$pass"
    var next = docs.last._1 + 1
    val long = docs.filter(_._2.count(_ == ' ') >= 40)
    def pick() = long(r.nextInt(long.length))
    val verbatim = (0 until plants).map { _ =>
      val s = pick(); next += 1; ((next, s._2, s._3), s._1) }
    val near = (0 until plants).map { _ =>
      val s = pick(); next += 1; ((next, s"${s._2} ${Corpus.NearCopyToken}", s._3), s._1) }
    val all = docs ++ verbatim.map(_._1) ++ near.map(_._1)
    Corpus.write(spark, all.toSeq.map { case (id, t, l) => Corpus.docRow(id, t, l, s"src${id % 20}") },
      Corpus.DocSchema, s"$dir/documents.parquet")
    (dir, all, verbatim.map(v => (v._1._1, v._2)), near.map(v => (v._1._1, v._2)))
  }

  def run(ctx: Ctx, spark: SparkSession, deadlineNs: Long): Long = {
    val r = ctx.rng(4)
    var prepNs = 0L
    // the untraced second pass of a traced run gives the tracing
    // overhead (an upper bound, as the second pass runs warmer)
    val passes = if (ctx.args.trace) 2 else 1
    (0 until passes).foreach { pass =>
      ctx.setTracing(pass == 0)
      val p0 = System.nanoTime()
      val (dir, all, verbatim, near) = passInput(ctx, spark, r, pass)
      prepNs += System.nanoTime() - p0
      inputBytes += all.map(_._2.getBytes("UTF-8").length.toLong).sum
      val t0 = System.nanoTime()
      val out = Stages.map { s =>
        s -> ctx.query(s, "stage")(s match {
          case "Dedup.exact" => Dedup.exact(spark, dir)
          case "TextAnalysis.quality" => TextAnalysis.quality(spark, dir)
          case "Curation.curatePipeline" => Curation.curatePipeline(spark, dir)
          case "Dedup.minhashLsh" => Dedup.minhashLsh(spark, dir)
          case "Dedup.dedupClusters" => Dedup.dedupClusters(spark, dir)
          case "Dedup.decontaminate" => Dedup.decontaminate(spark, dir)
        })
      }.toMap
      passMs += (System.nanoTime() - t0) / 1e6
      passDocs += all.length
      val faulty = if (ctx.args.fault == "drop-cluster" && pass == 0)
        out.updated("Dedup.dedupClusters", out("Dedup.dedupClusters").map(_.drop(1))) else out
      checkPass(ctx, all, verbatim, near, faulty)
    }
    ctx.gauge("curate_passes", passes.toDouble, "count")
    prepNs
  }

  /** Each stage's output must equal what the benchmark recomputes from
    * the pass's documents, so kept + dropped = input holds per stage.
    */
  private def checkPass(ctx: Ctx, all: Array[(Long, String, String)], verbatim: Seq[(Long, Long)],
                        near: Seq[(Long, Long)], out: Map[String, Option[Array[Row]]]): Unit = {
    val n = all.length
    val ids = all.map(_._1).toSet
    def rowsOf(s: String)(f: Array[Row] => Option[String]): Unit =
      out(s).foreach(rows => ctx.check(s)(f(rows)))
    lazy val shingles = all.map(d => d._1 -> CurateBatch.shingles(d._2)).toMap
    lazy val capped = CurateBatch.dfCapped(shingles)

    rowsOf("Dedup.exact") { rows =>
      val dups = rows.filter(_.getAs[Boolean]("is_dup")).map(_.getAs[Long]("doc_id")).toSet
      val firstOf = all.groupBy(_._2).values.map(_.map(_._1).min).toSet
      if (rows.length != n || rows.map(_.getAs[Long]("doc_id")).toSet != ids) Some(s"${rows.length} rows for $n docs")
      else verbatim.collectFirst { case (c, _) if !dups.contains(c) => s"planted copy $c not flagged" }
        .orElse(if (dups != ids -- firstOf)
          Some(s"${dups.size} flagged, expected ${n - firstOf.size} (all but the first of each text)") else None)
    }
    rowsOf("TextAnalysis.quality") { rows =>
      val quality = rows.map(x => x.getAs[Long]("doc_id") -> x.getAs[Double]("quality")).toMap
      if (rows.length != n || quality.keySet != ids) Some(s"${rows.length} rows for $n docs")
      else all.collectFirst { case (id, text, _) if quality(id) != CurateBatch.quality(text) =>
        s"doc $id: quality ${quality(id)}, expected ${CurateBatch.quality(text)}" }
    }
    rowsOf("Curation.curatePipeline") { rows =>
      val kept = rows.map(_.getAs[Long]("doc_id")).toSet
      val expect = all.filter(d => d._3 == "en" && CurateBatch.quality(d._2) >= 0.6)
        .groupBy(_._2).values.map(_.map(_._1).min).toSet
      ctx.gauge("Curation.kept_docs", kept.size.toDouble, "count")
      if (kept.size != rows.length) Some("duplicate doc ids")
      else if (kept != expect) Some(s"kept ${kept.size} docs, expected ${expect.size}")
      else None
    }
    rowsOf("Dedup.minhashLsh") { rows =>
      // LSH may miss a pair; every pair it reports must be a true one
      val exact = CurateBatch.nearPairs(shingles, 0.8)
      val pairs = rows.map(x => ((x.getAs[Long]("a_id"), x.getAs[Long]("b_id")), x.getAs[Double]("jaccard")))
      ctx.gauge("Dedup.near_dup_pairs", exact.size.toDouble, "count")
      ctx.gauge("Dedup.minhash_pair_recall",
        if (exact.isEmpty) 1.0 else pairs.count(p => exact.contains(p._1)).toDouble / exact.size, "ratio")
      if (pairs.map(_._1).distinct.length != pairs.length) Some("duplicate pairs")
      else pairs.collectFirst {
        case (p, j) if !exact.get(p).contains(j) => s"pair $p with jaccard $j, exact ${exact.get(p)}"
      }
    }
    rowsOf("Dedup.dedupClusters") { rows =>
      val cl = rows.map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("cluster_id"),
        x.getAs[Boolean]("is_kept")))
      val cluster = cl.map(c => c._1 -> c._2).toMap
      plantedRecall += near.count { case (c, s) => cluster.get(c).exists(cluster.get(s).contains) }
        .toDouble / near.length
      val expect = CurateBatch.components(CurateBatch.nearPairs(capped, 0.8).keys)
      ctx.gauge("Dedup.clusters", cl.count(_._3).toDouble, "count")
      if (cl.map(_._1).distinct.length != cl.length) Some("duplicate doc ids")
      else if (cluster != expect) {
        val diff = (cluster.toSet diff expect.toSet) ++ (expect.toSet diff cluster.toSet)
        Some(s"${cluster.size} clustered docs, expected ${expect.size}; first difference ${diff.minBy(_._1)}")
      } else cl.collectFirst { case (d, c, k) if k != (d == c) => s"doc $d in cluster $c kept=$k" }
    }
    rowsOf("Dedup.decontaminate") { rows =>
      val eval = all.map(_._1).filter(CurateBatch.md5Prefix(_) < "0ccc")
      val evalShingles = eval.flatMap(capped(_)).toSet
      val shared = (ids -- eval).map(d => d -> capped(d).count(evalShingles)).toMap
      val got = rows.map(x => x.getAs[Long]("doc_id") -> (x.getAs[Long]("n_shared"), x.getAs[Boolean]("contaminated")))
      if (rows.length != shared.size || got.map(_._1).toSet != shared.keySet)
        Some(s"${rows.length} rows for ${shared.size} train docs")
      else got.collectFirst { case (d, (k, c)) if k != shared(d) || c != (shared(d) >= 3) =>
        s"doc $d: n_shared $k contaminated $c, expected ${shared(d)}" }
    }
  }

  override def report(ctx: Ctx): Unit = {
    ctx.gauge("curate_docs_per_s", Stats.median(passDocs.zip(passMs).map { case (d, ms) => d / (ms / 1e3) }.toSeq),
      "docs/s")
    Stages.foreach(s => ctx.gauge(s"${s}_s",
      Stats.median(ctx.samples.filter(_.kind == s).map(_.ms / 1e3).toSeq), "s"))
    ctx.gauge("Dedup.planted_recall", Stats.mean(plantedRecall.toSeq), "ratio")
  }
}

object CurateBatch {
  private val Stop = Set("the", "a")

  /** TextAnalysis.quality's score: 0.4·min(tok,100)/100 + 0.3·types/tok
    * + 0.3·(1 − stop/tok), as one exact ratio over 500·tok.
    */
  def quality(text: String): Double = {
    val toks = text.split(" ", -1)
    val n = toks.length.toLong
    val types = toks.distinct.length.toLong
    val stop = toks.count(Stop).toLong
    (2L * math.min(n, 100L) * n + 150L * types + 150L * (n - stop)).toDouble / (500L * n).toDouble
  }

  /** Distinct 5-token shingles of a text, as `Dedup.shingles`. */
  def shingles(text: String, n: Int = 5): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length < n) Set.empty else (0 to t.length - n).map(i => t.slice(i, i + n).mkString(" ")).toSet
  }

  /** The sets without shingles held by more than `maxDf` documents (Dedup's df cap). */
  def dfCapped(sets: Map[Long, Set[String]], maxDf: Int = 1000): Map[Long, Set[String]] = {
    val df = mutable.HashMap.empty[String, Int]
    sets.valuesIterator.foreach(_.foreach(s => df(s) = df.getOrElse(s, 0) + 1))
    val hot = df.collect { case (s, c) if c > maxDf => s }.toSet
    if (hot.isEmpty) sets else sets.map { case (d, s) => d -> (s -- hot) }
  }

  /** Pairs (a < b) sharing a shingle whose Jaccard, rounded half-up to
    * five places, is at least `threshold`, with that Jaccard.
    */
  def nearPairs(sets: Map[Long, Set[String]], threshold: Double): Map[(Long, Long), Double] = {
    val holders = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    sets.foreach { case (d, ss) => ss.foreach(s => holders.getOrElseUpdate(s, mutable.ArrayBuffer.empty) += d) }
    val inter = mutable.HashMap.empty[(Long, Long), Int]
    holders.valuesIterator.filter(_.length > 1).foreach { h =>
      val ds = h.sorted
      for (i <- ds.indices; j <- i + 1 until ds.length) inter((ds(i), ds(j))) = inter.getOrElse((ds(i), ds(j)), 0) + 1
    }
    inter.iterator.map { case ((a, b), k) =>
      (a, b) -> Oracle.round5(k.toDouble / (sets(a).size + sets(b).size - k))
    }.filter(_._2 >= threshold).toMap
  }

  /** doc -> minimum id of its connected component, over the docs in `edges`. */
  def components(edges: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = { val p = parent.getOrElseUpdate(x, x); if (p == x) x else { val r = find(p); parent(x) = r; r } }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(d => d -> find(d)).toMap
  }

  def md5Prefix(id: Long): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(id.toString.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString.take(4)
  }
}

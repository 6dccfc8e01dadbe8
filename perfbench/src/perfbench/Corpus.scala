package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Benchmark inputs. The base corpus is generated from a fixed seed to
  * the distributions measured on the project's shipped test corpora
  * (see README.md, "Corpus"): documents `doc_id, text, lang, source,
  * n_chars` with 10-99 tokens drawn uniformly from a 30-word
  * vocabulary, `lang` independent of the text (40 % `en`, the other
  * four equally likely), `source` = `src<id % 20>`, and one document in
  * twenty a near copy of another one plus the token `dup`; embeddings
  * `vec_id, 64-d unit Gaussian vector, label 0-9` with the label
  * independent of the vector. `graft.tools.GenData` scales it up.
  * Generated corpora are cached under the benchmark's build directory
  * by (base size, copies, mode, tables); each run copies what it needs
  * into its own directory, so no run sees another run's files or index
  * artifacts.
  */
object Corpus {

  val Dim = 64
  val Vocab: IndexedSeq[String] = IndexedSeq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key",
    "query", "a", "scan", "batch")
  private val Langs = IndexedSeq("zh", "es", "fr", "de")

  /** A unit vector with i.i.d. Gaussian components. */
  def gaussianUnit(r: java.util.Random, dim: Int = Dim): Array[Float] = {
    val v = Array.fill(dim)(r.nextGaussian())
    normalized(v)
  }

  def normalized(v: Array[Double]): Array[Float] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** `v` plus Gaussian noise of per-component deviation `sigma`, renormalised. */
  def perturbed(r: java.util.Random, v: Array[Float], sigma: Double): Array[Float] =
    normalized(v.map(x => x + sigma * r.nextGaussian()))

  def randomText(r: java.util.Random): String =
    Seq.fill(10 + r.nextInt(90))(Vocab(r.nextInt(Vocab.length))).mkString(" ")

  /** One document in `NearCopyEvery` is another one's text plus this token. */
  val NearCopyToken = "dup"
  val NearCopyEvery = 20

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  val VecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType), StructField("embedding", ArrayType(FloatType, containsNull = false)),
    StructField("label", IntegerType)))

  def docRow(id: Long, text: String, lang: String, source: String): Row =
    Row(id, text, lang, source, text.length.toLong)

  def vecRow(id: Long, v: Array[Float], label: Int): Row = Row(id, v.toSeq, label)

  /** The base corpus with `nDocs` documents and `nVecs` vectors: generated,
    * or with `--corpus <dir>` the first rows of a reference corpus, for
    * comparing the two (README.md, "Corpus").
    */
  def base(ctx: Ctx, spark: () => SparkSession, nDocs: Int, nVecs: Int): String =
    if (ctx.args.corpus.nonEmpty) reference(ctx, spark, ctx.args.corpus, nDocs, nVecs)
    else cached(ctx, s"base-v2-d$nDocs-v$nVecs") { dst =>
      val r = new java.util.Random(42L)
      val texts = Array.fill(nDocs)(randomText(r))
      val langs = Array.fill(nDocs)(if (r.nextDouble() < 0.4) "en" else Langs(r.nextInt(Langs.length)))
      // near copies in seeded order: a copy of a copy gets two markers
      r.ints(0, nDocs).distinct().limit(nDocs / NearCopyEvery).toArray.foreach { i =>
        val j = (i + 1 + r.nextInt(nDocs - 1)) % nDocs
        texts(i) = s"${texts(j)} $NearCopyToken"
      }
      val docs = (0 until nDocs).map(i => docRow(i.toLong, texts(i), langs(i), s"src${i % 20}"))
      val vecs = (0 until nVecs).map(i => vecRow(i.toLong, gaussianUnit(r), r.nextInt(10)))
      write(spark(), docs, DocSchema, s"$dst/documents.parquet")
      write(spark(), vecs, VecSchema, s"$dst/embeddings.parquet")
      stubs(spark(), dst)
    }

  private def reference(ctx: Ctx, spark: () => SparkSession, src: String, nDocs: Int, nVecs: Int): String = {
    val tag = java.util.UUID.nameUUIDFromBytes(new File(src).getAbsolutePath.getBytes("UTF-8"))
    cached(ctx, s"ref-$tag-d$nDocs-v$nVecs") { dst =>
      val s = spark()
      s.read.parquet(s"$src/documents.parquet").where(s"doc_id < $nDocs")
        .select(DocSchema.fieldNames.head, DocSchema.fieldNames.tail: _*)
        .coalesce(1).write.parquet(s"$dst/documents.parquet")
      s.read.parquet(s"$src/embeddings.parquet").where(s"vec_id < $nVecs")
        .select(VecSchema.fieldNames.head, VecSchema.fieldNames.tail: _*)
        .coalesce(1).write.parquet(s"$dst/embeddings.parquet")
      stubs(s, dst)
    }
  }

  // GenData passes the dimension tables through; two stubs suffice
  private def stubs(spark: SparkSession, dst: String): Unit = {
    write(spark, Seq(Row(0L, "R0")), StructType(Seq(StructField("r_regionkey", LongType),
      StructField("r_name", StringType))), s"$dst/region.parquet")
    write(spark, Seq(Row(0L, "N0", 0L)), StructType(Seq(StructField("n_nationkey", LongType),
      StructField("n_name", StringType), StructField("n_regionkey", LongType))),
      s"$dst/nation.parquet")
  }

  /** `base` tiled `copies`× by GenData (`zipf` skews the copies). */
  def scaled(ctx: Ctx, spark: () => SparkSession, base: String, copies: Int, zipf: Boolean,
             table: String): String = {
    val mode = if (zipf) "zipf" else "uniform"
    cached(ctx, s"${new File(base).getName}-x$copies-$mode-$table") { dst =>
      graft.tools.GenData.generate(spark(), base, dst, copies, zipf, Some(Set(table)))
    }
  }

  def write(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(path)

  /** Builds `name` once under the cache dir (staged, then renamed). */
  private def cached(ctx: Ctx, name: String)(build: String => Unit): String = {
    val dst = new File(ctx.cacheDir, name)
    if (!dst.isDirectory) {
      val tmp = new File(ctx.cacheDir, s".tmp-$name-${ProcessHandle.current().pid()}")
      deleteTree(tmp.toPath)
      tmp.mkdirs()
      build(tmp.getAbsolutePath)
      Files.move(tmp.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
    }
    dst.getAbsolutePath
  }

  /** Copies the named tables of `src` into `dst` (fresh files, fresh mtimes). */
  def copyTables(src: String, dst: String, tables: Seq[String]): String = {
    tables.foreach { t =>
      val from = Paths.get(src, s"$t.parquet")
      val to = Paths.get(dst, s"$t.parquet")
      Files.walk(from).sorted().forEach { p =>
        val q = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(q)
        else if (!p.getFileName.toString.startsWith(".")) Files.copy(p, q)
      }
    }
    dst
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.deleteIfExists(x))
    finally s.close()
  }

  /** Bytes of all regular files under `dir`. */
  def bytesUnder(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  /** (ids, vectors, labels) of an embeddings table, ordered by id. */
  def loadVectors(spark: SparkSession, dir: String): (Array[Long], Array[Array[Float]], Array[Int]) = {
    val rows = spark.read.parquet(s"$dir/embeddings.parquet").orderBy("vec_id").collect()
    (rows.map(_.getLong(0)), rows.map(_.getSeq[Float](1).toArray), rows.map(_.getInt(2)))
  }

  /** (id, text, lang) of a documents table, ordered by id. */
  def loadDocs(spark: SparkSession, dir: String): Array[(Long, String, String)] =
    spark.read.parquet(s"$dir/documents.parquet").orderBy("doc_id")
      .select("doc_id", "text", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
}

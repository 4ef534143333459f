package graftbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{Pipeline, Tables}
import graft.operators.{Curation, Dedup, Relational, Retrieval, Sampling,
  Similarity, Takedown}
import graft.sinks.Sinks
import graft.sources.{Generator, Ingest}
import graft.streaming.StreamingIngest

object Inputs {
  val TableNames = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  /** Dimensions `MintSf` copies once at any multiplier. */
  val Bounded = Set("region", "nation")

  /** Mint `mult` key-shifted copies of `base` into `out` and verify every
    * table's row count against the base; drift throws. */
  def mint(ctx: Ctx, spark: SparkSession, out: String, mult: Int): Unit = {
    graft.tools.MintSf.mint(spark, ctx.base, out, mult)
    TableNames.foreach { t =>
      val want = rowCount(spark, s"${ctx.base}/$t.parquet") *
        (if (Bounded(t)) 1 else mult)
      val got = rowCount(spark, s"$out/$t.parquet")
      if (got != want)
        throw new IllegalStateException(
          s"fixture drift: minted $t has $got rows, expected $want")
    }
  }

  /** Rows of a parquet file, or of every parquet file below a
    * directory, summed from the footers. */
  def rowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    def files(q: Path): Seq[Path] =
      if (!fs.getFileStatus(q).isDirectory) Seq(q)
      else fs.listStatus(q).toSeq.map(_.getPath)
        .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
        .flatMap(c => if (fs.getFileStatus(c).isDirectory) files(c)
          else if (c.getName.endsWith(".parquet")) Seq(c) else Nil)
    files(p).map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  def delete(spark: SparkSession, dir: String): Unit = {
    val p = new Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }
}

/** E1 end to end: `Pipeline.runReport` over a `MintSf` mint of the base
  * fixture, each run into a fresh output directory. */
final class Medallion(ctx: Ctx) extends Workload {
  /** `MintSf` multiplier of the base fixture. */
  val Mult = 1
  val BizNames = Seq("b_performance_metrics", "b_product_performance",
    "b_profitability_kpi", "b_sales_kpi", "b_customer_retention")
  /** The oracle twin of each business table, by name. */
  val Twin = Map(
    "b_performance_metrics" -> "q_performance_metrics",
    "b_product_performance" -> "q_product_performance",
    "b_profitability_kpi" -> "q_profitability_kpi",
    "b_sales_kpi" -> "q_sales_kpi",
    "b_customer_retention" -> "q_customer_retention")

  private var mint: String = _
  private val stages = mutable.ArrayBuffer.empty[Map[String, Double]]
  private var firstOut: String = _
  private var warmCounts = Map.empty[String, Long]
  private var warmDigests = Map.empty[String, String]

  def setup(spark: SparkSession, rep: Int): Unit = {
    mint = s"${ctx.work}/mint$rep"
    Inputs.mint(ctx, spark, mint, Mult)
  }

  /** The warm-up run's output is the one checked against the oracle
    * twins; every timed run must match its digests. */
  def warmup(spark: SparkSession): Unit = {
    firstOut = s"${ctx.work}/e1_warmup"
    ctx.phase = "warmup"
    ctx.startOp()
    val t0 = System.nanoTime()
    val rep = Pipeline.runReport(spark, mint, firstOut)
    ctx.record(Op("e1", (System.nanoTime() - t0) / 1e9, ok = true))
    ctx.phase = ""
    warmCounts = rep.counts.raw ++ rep.counts.business +
      ("m_data_model" -> rep.counts.master)
    warmDigests = bizDigests(spark, firstOut)
  }

  private def bizDigests(spark: SparkSession, out: String) =
    BizNames.map(n =>
      n -> ctx.digest(spark.read.parquet(s"$out/business_layer/$n"))).toMap

  private def runOnce(spark: SparkSession, i: Int): Op = {
    val out = s"${ctx.work}/e1/op$i"
    ctx.startOp()
    val t0 = System.nanoTime()
    val r = try Right(ctx.tracer.span(spark, "Pipeline", "runReport") {
      Pipeline.runReport(spark, mint, out)
    }) catch { case e: Exception => Left(e) }
    val op = ctx.record(Op("e1", (System.nanoTime() - t0) / 1e9, r.isRight))
    r match {
      case Left(e) => ctx.fail(op, e.toString)
      case Right(rep) =>
        stages += rep.stages.map(s => s.stage -> s.seconds).toMap
        val c = rep.counts.raw ++ rep.counts.business +
          ("m_data_model" -> rep.counts.master)
        if (c != warmCounts)
          ctx.fail(op, s"layer counts $c != warm-up run's $warmCounts")
        if (bizDigests(spark, out) != warmDigests)
          ctx.fail(op, "business tables differ from the warm-up run's")
        Inputs.delete(spark, out)
    }
    op
  }

  def run(spark: SparkSession, deadlineNs: Long, traced: Boolean): Unit =
    if (traced) {
      ctx.phase = "baseline"
      runOnce(spark, 0)
      ctx.phase = "traced"
      ctx.tracer.attach(spark)
      runOnce(spark, 1)
    } else {
      var i = 0
      do { runOnce(spark, i); i += 1 }
      while (System.nanoTime() < deadlineNs)
    }

  /** Each E1 stage's public calls once, one after another, so their
    * Spark work can be told apart (E1 runs its two arms at once). */
  override def isolated(spark: SparkSession): Unit = {
    ctx.tracer.request = -1
    val iso = s"${ctx.work}/isolated"
    val csv = s"$iso/csv/transactions"
    ctx.tracer.span(spark, "sources", "Generator.transactions") {
      Sinks.writeCsvObjects(Generator.transactions(spark, 1000), csv)
    }
    ctx.tracer.span(spark, "sources", "Ingest.readCsv") {
      ctx.noopDigest(Ingest.readCsv(spark, s"$csv/*.csv",
        Ingest.transactionsSchema))
    }
    val masterPath = s"$iso/master"
    ctx.tracer.span(spark, "operators.Relational", "masterModel") {
      Sinks.createTableAs(Relational.masterModel(spark, mint), masterPath,
        partitionBy = Seq("transaction_country"))
    }
    val master = spark.read.parquet(masterPath)
    val biz = Seq(
      "performanceMetrics" -> Relational.performanceMetrics(master),
      "productPerformance" -> Relational.productPerformance(master),
      "profitabilityKpi" -> Relational.profitabilityKpi(master),
      "salesKpi" -> Relational.salesKpi(master),
      "customerRetention" -> Relational.customerRetention(master))
    biz.foreach { case (name, df) =>
      ctx.tracer.span(spark, "operators.Relational", name) {
        Sinks.appendLayer(df, s"$iso/business/$name")
      }
    }
    ctx.tracer.span(spark, "sinks", "appendLayer") {
      Sinks.appendLayer(spark.read.parquet(masterPath), s"$iso/sink_copy")
    }
    val gated = s"$iso/gated"
    ctx.tracer.span(spark, "operators.Curation", "expectSplit") {
      val (good, bad) = Curation.expectSplit(Tables.documents(spark, mint),
        Curation.documentRules)
      Sinks.appendLayer(bad, s"$iso/quarantine")
      good.write.mode("overwrite").parquet(s"$gated/documents.parquet")
    }
    ctx.tracer.span(spark, "operators.Dedup", "ngramJaccard") {
      val d = ctx.noopDigest(Dedup.ngramJaccard(spark, gated))
      ctx.tracer.result(d.takeWhile(_ != ':').toLong)
    }
    ctx.tracer.span(spark, "operators.Curation", "curatedDocs") {
      Sinks.appendLayer(Curation.curatedDocs(spark, gated), s"$iso/curated")
    }
    // The similarity and dedup build tier, which E1 does not run: the
    // three all-pairs operators over the same mint, forced through the
    // noop sink, so their candidate and result pairs are recorded.
    Seq(("operators.Similarity", "knnJoin",
          () => Similarity.knnJoin(spark, mint)),
        ("operators.Similarity", "embeddingNearDup",
          () => Similarity.embeddingNearDup(spark, mint)),
        ("operators.Dedup", "simhash64Neighbors",
          () => Dedup.simhash64Neighbors(spark, mint))).foreach {
      case (layer, name, df) => ctx.tracer.span(spark, layer, name) {
        val d = ctx.noopDigest(df())
        ctx.tracer.result(d.takeWhile(_ != ':').toLong)
      }
    }
    ctx.tracer.span(spark, "operators.Sampling", "assembly") {
      val survivors = spark.read.parquet(s"$iso/curated").select("doc_id")
      Sinks.createTableAs(Sampling.trainSplit(spark, mint)
        .join(survivors, "doc_id"), s"$iso/a_split",
        partitionBy = Seq("split"))
      Sinks.createTableAs(Sampling.packSequencesOf(
        Tables.documents(spark, mint).join(survivors, "doc_id")),
        s"$iso/a_packs")
    }
  }

  def check(spark: SparkSession): Unit = ()

  def named: Map[String, Any] = Map(
    "mint_dir" -> mint,
    "mult" -> Mult,
    "stages" -> stages.toSeq,
    "counts" -> Seq(warmCounts),
    "twin_outputs" -> Option(firstOut).map(o => BizNames.map(n =>
      Twin(n) -> s"$o/business_layer/$n").toMap).getOrElse(Map.empty),
    "oracle_sql" -> (Twin.values.toSeq :+ "q_master_model")
      .map(n => n -> graft.SparkEntry.oracleSql(n)).toMap)
}

/** Standing indexes served one request at a time, with arrivals and
  * takedowns between lookups on the same indexes. */
final class ServeIngest(ctx: Ctx) extends Workload {
  /** One block of the request stream: eight lookups, kNN and BM25 in an
    * order the seed shuffles, then one arrival batch and one takedown.
    * The writes close the block because every write adds files that
    * each later lookup reads: in a shuffled position they made a run's
    * lookup cost depend on where the seed put them (BM25 lookups after
    * both writes cost 1.5× those before). */
  val BlockLookups: Seq[String] = Seq.fill(4)("knn") ++ Seq.fill(4)("bm25")
  val ArrivalDocs = 10
  val TakedownIds = 2
  /** Ids of arrived documents and vectors start here, above every id a
    * mint of the base fixture can hold. */
  val ArrivalBase = 900000000000L

  /** The warm-up stream is the same in every run; the measured stream
    * comes from the run's seed. */
  val WarmupSeed = 0x5eed
  private var rng = new java.util.SplittableRandom(WarmupSeed)
  private var root, lexIdx, ivfIdx, inLex, inIvf: String = _
  private var docSchema, embSchema: StructType = _
  private var vocab: Array[String] = _
  private val vecs = mutable.Map.empty[Long, Array[Float]]
  private var baseIds: Array[Long] = _
  private val live = mutable.ArrayBuffer.empty[Long]
  private val deleted = mutable.Set.empty[Long]
  private val arrivals = mutable.ArrayBuffer.empty[(String, String)]
  private val takedowns = mutable.ArrayBuffer.empty[Seq[Long]]
  private var nextId = ArrivalBase
  private var step = 0L
  private var batches0 = 0
  private var rowsIngested = 0L

  /** A lookup kept for the deferred check against the inline operator
    * on the corpus as it stood (arrivals and takedowns applied so far). */
  private case class Sample(op: Op, nArr: Int, nTd: Int, qid: Long,
                            query: Any, answer: Set[Row])
  private val samples = mutable.ArrayBuffer.empty[Sample]
  private val sampleDue = mutable.Set("knn", "bm25")
  val MaxSamplesPerKind = 1
  val WarmupLookups = 2

  def setup(spark: SparkSession, rep: Int): Unit = {
    root = s"${ctx.work}/serve$rep"
    lexIdx = s"$root/lex"; ivfIdx = s"$root/ivf"
    inLex = s"$root/in_lex"; inIvf = s"$root/in_ivf"
    val docs = Tables.documents(spark, ctx.base)
    val emb = Tables.embeddings(spark, ctx.base)
    docSchema = docs.schema; embSchema = emb.schema
    // The base corpus is bootstrapped under batch id -1, the standard
    // bootstrap id; arrivals then stream in as batches 0, 1, ...
    Retrieval.buildLexIndexBatch(spark, docs, lexIdx, -1L)
    Similarity.buildIvfIndexBatch(spark, emb, ivfIdx, -1L)
    val nd = Inputs.rowCount(spark, s"${ctx.base}/documents.parquet")
    val nv = Inputs.rowCount(spark, s"${ctx.base}/embeddings.parquet")
    val idxDocs = Inputs.rowCount(spark, s"$lexIdx/doclens")
    val idxVecs = Inputs.rowCount(spark, s"$ivfIdx/postings")
    if (idxDocs != nd || idxVecs != nv)
      throw new IllegalStateException(s"index build lost rows: " +
        s"$idxDocs/$nd docs, $idxVecs/$nv vectors")
  }

  private def drain(spark: SparkSession): Unit = {
    ctx.tracer.span(spark, "streaming", "lexIndexMaintenanceStream") {
      StreamingIngest.lexIndexMaintenanceStream(
        spark.readStream.schema(docSchema).parquet(s"$inLex/*"),
        lexIdx, s"$root/ckpt_lex")
    }
    ctx.tracer.span(spark, "streaming", "ivfIndexMaintenanceStream") {
      StreamingIngest.ivfIndexMaintenanceStream(
        spark.readStream.schema(embSchema).parquet(s"$inIvf/*"),
        ivfIdx, s"$root/ckpt_ivf")
    }
  }

  private def queryFrame(spark: SparkSession, qid: Long,
                         v: Array[Float]): DataFrame = {
    import spark.implicits._
    Seq((qid, v.map(_.toDouble))).toDF("q_id", "qv")
      .withColumn("nq", sqrt(call_function("dot_d", col("qv"), col("qv"))))
  }

  private def knn(spark: SparkSession, qid: Long,
                  v: Array[Float]): Array[Row] =
    ctx.tracer.span(spark, "operators.Similarity", "queryIvfIndex") {
      val rows = Similarity.queryIvfIndex(spark, ivfIdx,
        queryFrame(spark, qid, v)).select("vec_id", "cosine", "rank").collect()
      ctx.tracer.result(rows.length)
      rows
    }

  private def bm25(spark: SparkSession, terms: Seq[String]): Array[Row] =
    ctx.tracer.span(spark, "operators.Retrieval", "bm25TopKServed") {
      val rows = Retrieval.bm25TopKServed(spark, lexIdx, terms).collect()
      ctx.tracer.result(rows.length)
      rows
    }

  private def gaussianUnit(): Array[Float] = {
    val v = Array.fill(Similarity.Dim)(rng.nextGaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** A letters-only token no generated text contains. */
  private def marker(id: Long): String =
    "zq" + (id - ArrivalBase).toString.map(c => ('a' + (c - '0')).toChar)

  private def timed[T](kind: String)(body: => T): (Op, Option[T]) = {
    ctx.startOp()
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case e: Exception => Left(e) }
    val op = ctx.record(Op(kind, (System.nanoTime() - t0) / 1e9, r.isRight))
    r.left.foreach(e => ctx.fail(op, e.toString))
    (op, r.toOption)
  }

  private def noneDeleted(op: Op, rows: Array[Row], idCol: String): Unit =
    rows.map(_.getAs[Long](idCol)).find(deleted).foreach(id =>
      ctx.fail(op, s"taken-down id $id served"))

  private def doOp(spark: SparkSession, kind: String): Unit = {
    step += 1
    ctx.tracer.request = step
    kind match {
      case "knn" =>
        val b = vecs(baseIds(rng.nextInt(baseIds.length)))
        val noise = gaussianUnit()
        val v = b.indices.map(i => b(i) + 0.3f * noise(i)).toArray
        val qid = -step
        val (op, r) = timed("knn")(knn(spark, qid, v))
        r.foreach { rows =>
          noneDeleted(op, rows, "vec_id")
          if (sampleDue("knn") && samples.count(_.op.kind == "knn") <
              MaxSamplesPerKind) {
            samples += Sample(op, arrivals.size, takedowns.size, qid, v,
              rows.toSet)
            sampleDue -= "knn"
          }
        }
      case "bm25" =>
        val first = rng.nextInt(vocab.length)
        val terms = Seq(vocab(first),
          vocab((first + 1 + rng.nextInt(vocab.length - 1)) % vocab.length))
        val (op, r) = timed("bm25")(bm25(spark, terms))
        r.foreach { rows =>
          noneDeleted(op, rows, "doc_id")
          if (sampleDue("bm25") && samples.count(_.op.kind == "bm25") <
              MaxSamplesPerKind) {
            samples += Sample(op, arrivals.size, takedowns.size, 0L,
              terms, rows.toSet)
            sampleDue -= "bm25"
          }
        }
      case "arrival" =>
        import spark.implicits._
        val ids = Seq.fill(ArrivalDocs) { nextId += 1; nextId }
        val docs = ids.map { id =>
          val words = Seq.fill(20 + rng.nextInt(40))(
            vocab(rng.nextInt(vocab.length))) :+ marker(id)
          val text = words.mkString(" ")
          (id, text, "en", s"src${id % 20}", text.length.toLong)
        }
        val newVecs = ids.map(id => id -> gaussianUnit())
        val n = arrivals.size + 1
        val docPath = f"$inLex/b$n%05d"
        val embPath = f"$inIvf/b$n%05d"
        val (op, r) = timed("arrival") {
          docs.toDF("doc_id", "text", "lang", "source", "n_chars")
            .coalesce(1).write.parquet(docPath)
          newVecs.map { case (id, v) => (id, v, (id % 10).toInt) }
            .toDF("vec_id", "embedding", "label")
            .coalesce(1).write.parquet(embPath)
          drain(spark)
          // Fresh once a lookup returns the new ids.
          val first = ids.head
          val k = knn(spark, -1000000000L - n, newVecs.head._2)
          val b = bm25(spark, Seq(marker(first)))
          (k.exists(_.getAs[Long]("vec_id") == first),
            b.exists(_.getAs[Long]("doc_id") == first))
        }
        arrivals += (docPath -> embPath)
        vecs ++= newVecs
        live ++= ids
        rowsIngested += 2L * ids.size
        r.foreach { case (kOk, bOk) =>
          if (!kOk || !bOk)
            ctx.fail(op, s"arrived id ${ids.head} not served (knn $kOk, " +
              s"bm25 $bOk)")
        }
        sampleDue ++= Seq("knn", "bm25")
      case "takedown" =>
        import spark.implicits._
        val ids = (0 until TakedownIds).map { _ =>
          val i = rng.nextInt(live.size)
          val id = live(i)
          live(i) = live.last
          live.remove(live.size - 1)
          id
        }
        val tid = takedowns.size.toLong
        val (op, r) = timed("takedown") {
          val df = ids.toDF("doc_id")
          ctx.tracer.span(spark, "operators.Takedown", "takedownLex") {
            Takedown.takedownLex(spark, lexIdx, df, tid)
            ctx.tracer.result(ids.size)
          }
          ctx.tracer.span(spark, "operators.Takedown", "takedownIvf") {
            Takedown.takedownIvf(spark, ivfIdx,
              df.select(col("doc_id").as("vec_id")), tid)
          }
        }
        takedowns += ids
        deleted ++= ids
        // The taken-down vector itself must no longer be its own
        // nearest neighbour.
        if (r.isDefined) {
          val rows = knn(spark, -2000000000L - tid, vecs(ids.head))
          noneDeleted(op, rows, "vec_id")
        }
        sampleDue ++= Seq("knn", "bm25")
    }
  }

  private def block(): Seq[String] = {
    val b = BlockLookups.toArray
    for (i <- b.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = b(i); b(i) = b(j); b(j) = t
    }
    b.toSeq ++ Seq("arrival", "takedown")
  }

  /** Load the request generator's inputs (vocabulary, base vectors)
    * and run a fixed warm-up stream. */
  def warmup(spark: SparkSession): Unit = {
    vocab = Tables.documents(spark, ctx.base)
      .select(explode(split(col("text"), " ")).as("w"))
      .distinct().orderBy("w").collect().map(_.getString(0))
    Tables.embeddings(spark, ctx.base).collect().foreach(r =>
      vecs(r.getLong(0)) = r.getSeq[Float](1).toArray)
    baseIds = vecs.keys.toArray.sorted
    live ++= baseIds
    // One arrival and one takedown first, so every measured lookup
    // reads an index that already has stream batches and deletes (the
    // first of each changes the layout a lookup reads), then lookups.
    ctx.phase = "warmup"
    (Seq("arrival", "takedown") ++
      Seq.fill(WarmupLookups)(Seq("knn", "bm25")).flatten)
      .foreach(doOp(spark, _))
    ctx.phase = ""
    rng = new java.util.SplittableRandom(ctx.seed)
    // The deferred checks replay measured lookups.
    samples.clear()
    sampleDue ++= Seq("knn", "bm25")
  }

  private def commits(): Int = Seq("ckpt_lex", "ckpt_ivf").map { c =>
    val d = new java.io.File(s"$root/$c/commits")
    Option(d.listFiles()).map(_.count(f => !f.getName.startsWith(".")))
      .getOrElse(0)
  }.sum

  def run(spark: SparkSession, deadlineNs: Long, traced: Boolean): Unit =
    if (traced) {
      ctx.phase = "baseline"
      block().foreach(doOp(spark, _))
      ctx.phase = "traced"
      batches0 = commits()
      rowsIngested = 0L
      ctx.tracer.attach(spark)
      block().foreach(doOp(spark, _))
    } else {
      // Whole blocks, so every run serves writes beside its lookups.
      do block().foreach(doOp(spark, _))
      while (System.nanoTime() < deadlineNs)
    }

  /** Deferred checks: each sampled lookup against the inline operator
    * over the corpus state it was served from. */
  def check(spark: SparkSession): Unit = samples.zipWithIndex.foreach {
    case (s, i) =>
      val gone = takedowns.take(s.nTd).flatten.toSeq
      val docs = arrivals.take(s.nArr).map(a =>
          spark.read.schema(docSchema).parquet(a._1))
        .foldLeft(Tables.documents(spark, ctx.base))(_ unionByName _)
        .where(!col("doc_id").isin(gone: _*))
      val inline: Set[Row] = s.op.kind match {
        case "bm25" =>
          val dir = s"$root/check$i"
          docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
          Retrieval.bm25TopK(spark, dir, s.query.asInstanceOf[Seq[String]])
            .collect().toSet
        case "knn" =>
          import spark.implicits._
          val q = Seq((s.qid, s.query.asInstanceOf[Array[Float]], 0))
            .toDF("vec_id", "embedding", "label")
          val emb = arrivals.take(s.nArr).map(a =>
              spark.read.schema(embSchema).parquet(a._2))
            .foldLeft(Tables.embeddings(spark, ctx.base))(_ unionByName _)
            .where(!col("vec_id").isin(gone: _*))
            .unionByName(q)
          Similarity.topkCosineIvfWith(
              Similarity.normalizedCorpusOf(spark, emb),
              spark.read.parquet(s"$ivfIdx/centroids"))
            .where(col("q_id") === s.qid)
            .select("vec_id", "cosine", "rank").collect().toSet
      }
      if (inline != s.answer)
        ctx.fail(s.op, s"served ${s.answer} != inline $inline")
  }

  def named: Map[String, Any] = Map(
    "micro_batches" -> (commits() - batches0),
    "rows_ingested" -> rowsIngested,
    "checked_lookups" -> samples.size,
    "arrivals" -> arrivals.size, "takedowns" -> takedowns.size)
}

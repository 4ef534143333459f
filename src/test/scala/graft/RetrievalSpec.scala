package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{Compaction, Retrieval, Similarity, Takedown}

/** Semantic invariants of the ranked-retrieval tier (BM25 + RRF hybrid)
  * — the oracle rows pin exact values; these pin the properties that
  * must survive any refactor of the scoring plumbing. */
class RetrievalSpec extends SparkSpec {

  test("phrase search: alignment counts, overlaps, repeated-term slots") {
    import spark.implicits._
    import graft.operators.Retrieval
    val docs = Seq(
      (1L, "x hash join y hash join"), // two occurrences
      (2L, "hash y join"),             // both terms, never adjacent
      (3L, "a a a"),                   // overlapping self-phrase fodder
      (4L, "a b a b a")                // repeated-term phrase fodder
    ).toDF("doc_id", "text")
    val hj = Retrieval.phraseSearchOf(docs, Seq("hash", "join"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(hj == Map(1L -> ((2L, 1))),
      s"adjacency must be required and counted: $hj")
    // Overlapping matches each count: "a a a" contains "a a" at 0 and 1.
    val aa = Retrieval.phraseSearchOf(docs, Seq("a", "a"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(aa == Map(3L -> ((2L, 0))), s"overlaps must both match: $aa")
    // Repeated-term phrase fills DISTINCT slots: "a b a" at 0 and 2.
    val aba = Retrieval.phraseSearchOf(docs, Seq("a", "b", "a"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getInt(2))).toMap
    assert(aba == Map(4L -> ((2L, 0))), s"slot identity broke: $aba")
  }

  test("bm25: dense ranks, non-increasing scores, matched-term bounds") {
    val rows = Retrieval.bm25TopK(spark, sf0001)
      .orderBy(col("rank")).collect()
    assert(rows.nonEmpty && rows.length <= Retrieval.FinalK)
    // Ranks are exactly 1..n with no gaps (the deterministic tie-break
    // makes the cut stable, so a dense prefix is guaranteed).
    assert(rows.map(_.getAs[Int]("rank")).toSeq == (1 to rows.length))
    // Scores never increase down the ranking.
    val scores = rows.map(_.getAs[Double]("bm25"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // Every scored doc matched between 1 and |query| distinct terms,
    // and every score is strictly positive (rational idf > 0 always —
    // the documented deviation from ln-idf).
    val nt = rows.map(_.getAs[Long]("n_terms"))
    assert(nt.forall(n => n >= 1 && n <= Retrieval.DefaultQuery.size))
    assert(scores.forall(_ > 0.0))
  }

  test("bm25: scored docs really contain a query term") {
    val docs = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        concat(lit(" "), lower(col("text")), lit(" ")).as("padded"))
    val hits = Retrieval.bm25TopK(spark, sf0001).join(docs, "doc_id")
    val misses = hits.where(!Retrieval.DefaultQuery
        .map(t => col("padded").contains(s" $t "))
        .reduce(_ || _))
      .count()
    assert(misses == 0L)
  }

  test("rrf: fused scores match the member ranks exactly") {
    val rows = Retrieval.hybridRrf(spark, sf0001)
      .orderBy(col("rank")).collect()
    assert(rows.nonEmpty && rows.length <= Retrieval.FinalK)
    rows.foreach { r =>
      val lex = r.getAs[Int]("lex_rank")
      val vec = r.getAs[Int]("vec_rank")
      // A fused doc came from at least one arm, each within its
      // candidate depth.
      assert(lex > 0 || vec > 0)
      assert(lex <= Retrieval.CandidateK && vec <= Retrieval.CandidateK)
      // The rrf value is exactly the sum its member ranks imply.
      val expect =
        (if (lex > 0) 1.0 / (Retrieval.RrfK + lex) else 0.0) +
        (if (vec > 0) 1.0 / (Retrieval.RrfK + vec) else 0.0)
      assert(r.getAs[Double]("rrf") == expect)
    }
    // Two-arm members dominate: any doc present in BOTH arms at rank
    // <= CandidateK/2 must outscore every single-arm doc whose one
    // rank is worse than CandidateK/2 — spot-check monotonicity of the
    // final ordering instead of re-deriving it: scores non-increasing.
    val scores = rows.map(_.getAs[Double]("rrf"))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("phrase served == inline; positional scan is partition-pruned") {
    import graft.operators.Retrieval
    val dir = tmpDir("pos_idx")
    Retrieval.buildPosIndex(spark, sf0001, s"$dir/pos")
    val served = Retrieval.phraseSearchServed(spark, s"$dir/pos")
    val inline = Retrieval.phraseSearch(spark, sf0001)
    assert(served.exceptAll(inline).isEmpty &&
      inline.exceptAll(served).isEmpty)
    // The serve path must touch only the phrase terms' partitions.
    served.collect()
    val p = served.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("tok"),
      s"positional read not partition-pruned:\n$p")
  }

  test("pos index batch-maintained == one-shot build; replay is a no-op") {
    import graft.operators.Retrieval
    val docs = Tables.documents(spark, sf0001)
    val inc = tmpDir("pos_inc")
    Retrieval.buildPosIndexBatch(spark,
      docs.where(col("doc_id") % 2 === 0), s"$inc/pos", batchId = 0L)
    Retrieval.buildPosIndexBatch(spark,
      docs.where(col("doc_id") % 2 === 1), s"$inc/pos", batchId = 1L)
    val incremental = Retrieval.phraseSearchServed(spark, s"$inc/pos")
    val inline = Retrieval.phraseSearch(spark, sf0001)
    assert(incremental.exceptAll(inline).isEmpty &&
      inline.exceptAll(incremental).isEmpty, "batched index drifted")
    // Replaying a committed batch overwrites itself — no double-index.
    Retrieval.buildPosIndexBatch(spark,
      docs.where(col("doc_id") % 2 === 0), s"$inc/pos", batchId = 0L)
    val replayed = Retrieval.phraseSearchServed(spark, s"$inc/pos")
    assert(replayed.exceptAll(inline).isEmpty &&
      inline.exceptAll(replayed).isEmpty, "replay double-indexed")
  }

  test("hybrid rrf served == inline; lex arm partition-pruned") {
    import graft.operators.{Retrieval, Similarity}
    val dir = tmpDir("hybrid_idx")
    Retrieval.buildLexIndex(spark, sf0001, s"$dir/lex")
    Similarity.buildIvfIndex(spark, sf0001, s"$dir/ivf")
    val served = Retrieval.hybridRrfServed(spark, s"$dir/lex", s"$dir/ivf")
    val inline = Retrieval.hybridRrf(spark, sf0001)
    assert(served.exceptAll(inline).isEmpty &&
      inline.exceptAll(served).isEmpty,
      "served hybrid drifted from the inline fusion")
    // The lex arm must touch only the query terms' partitions — the
    // bm25TopKServed pin, carried to the fused form.
    served.collect()
    val p = served.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("tok"),
      s"served hybrid's postings read not partition-pruned:\n$p")
  }

  test("pos index mixed lifecycle: bootstrap → stream maintenance on ONE " +
      "indexPath; replayed batch 0 never clobbers the bootstrap slice") {
    import graft.operators.Retrieval
    // The lifecycle the unified batch_id layout exists for (ADVICE r10
    // / VERDICT r11 #3): full build claims batch_id=-1, a stream then
    // attaches to the SAME indexPath and its foreachBatch ids (0, 1)
    // land beside it — one consistent partition depth, and the
    // bootstrap sits BELOW any replayable id.
    val docs = Tables.documents(spark, sf0001)
    val dir = tmpDir("pos_mixed")
    docs.where(col("doc_id") % 3 === 0).write
      .parquet(s"$dir/boot/documents.parquet")
    Retrieval.buildPosIndex(spark, s"$dir/boot", s"$dir/idx")
    docs.where(col("doc_id") % 3 === 1)
      .coalesce(1).write.parquet(s"$dir/in/s1")
    docs.where(col("doc_id") % 3 === 2)
      .coalesce(1).write.parquet(s"$dir/in/s2")
    val schema = spark.read.parquet(s"$dir/in/s1").schema
    graft.streaming.StreamingIngest.posIndexMaintenanceStream(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*"),
      s"$dir/idx", s"$dir/ckpt")
    val inline = Retrieval.phraseSearch(spark, sf0001)
    val served = Retrieval.phraseSearchServed(spark, s"$dir/idx")
    assert(served.exceptAll(inline).isEmpty &&
      inline.exceptAll(served).isEmpty, "mixed-lifecycle index drifted")
    // Crash-replay of stream batch 0 (whatever slice it carried):
    // overwrites ONLY batch_id=0 — the batch_id=-1 bootstrap survives
    // byte-identically and the serve stays converged.
    val b0docs = docs.join(
      spark.read.schema("doc_id BIGINT, pos INT, tok STRING")
        .parquet(s"$dir/idx/pos/batch_id=0").select("doc_id").distinct(),
      Seq("doc_id"))
    val bootBefore = spark.read
      .schema("doc_id BIGINT, pos INT, tok STRING")
      .parquet(s"$dir/idx/pos/batch_id=-1")
    val bootCount = bootBefore.count()
    Retrieval.buildPosIndexBatch(spark, b0docs, s"$dir/idx", batchId = 0L)
    val bootAfter = spark.read
      .schema("doc_id BIGINT, pos INT, tok STRING")
      .parquet(s"$dir/idx/pos/batch_id=-1")
    assert(bootAfter.count() == bootCount &&
      bootAfter.exceptAll(bootBefore).isEmpty,
      "replayed batch 0 clobbered the batch_id=-1 bootstrap slice")
    val replayed = Retrieval.phraseSearchServed(spark, s"$dir/idx")
    assert(replayed.exceptAll(inline).isEmpty &&
      inline.exceptAll(replayed).isEmpty, "replay drifted the serve")
  }

  test("pos index flat-layout adoption: a pre-unified flat index is " +
      "migrated under batch_id=-1 at stream attach") {
    import graft.operators.Retrieval
    // An index bootstrapped by the OLD flat layout (tok=* at the
    // root). Without attach-time adoption, the stream's batch_id=N
    // dirs land NEXT TO the flat tok=* dirs and partition discovery
    // fails at serve time (ADVICE r11 #3).
    val docs = Tables.documents(spark, sf0001)
    val dir = tmpDir("pos_adopt")
    docs.where(col("doc_id") % 2 === 0)
      .select(col("doc_id"),
        posexplode(graft.operators.TextOps.tokens(col("text")))
          .as(Seq("pos", "tok")))
      .write.partitionBy("tok").mode("overwrite").parquet(s"$dir/idx/pos")
    docs.where(col("doc_id") % 2 === 1)
      .coalesce(1).write.parquet(s"$dir/in/s1")
    val schema = spark.read.parquet(s"$dir/in/s1").schema
    graft.streaming.StreamingIngest.posIndexMaintenanceStream(
      spark.readStream.schema(schema).parquet(s"$dir/in/*"),
      s"$dir/idx", s"$dir/ckpt")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(
      new org.apache.hadoop.fs.Path(s"$dir/idx/pos/batch_id=-1")),
      "flat layout was not adopted under batch_id=-1")
    val inline = Retrieval.phraseSearch(spark, sf0001)
    val served = Retrieval.phraseSearchServed(spark, s"$dir/idx")
    assert(served.exceptAll(inline).isEmpty &&
      inline.exceptAll(served).isEmpty, "adopted index drifted")
  }

  test("positional serve survives numeric tokens (no partition inference)") {
    import spark.implicits._
    import graft.operators.Retrieval
    // A numeric token becomes a tok=007 partition directory; type
    // inference would read it back as the integer 7 and silently
    // de-match it from the phrase. The explicit reader schema pins it.
    val dir = tmpDir("pos_num")
    Seq((1L, "007 agent 007 agent"), (2L, "agent 7"))
      .toDF("doc_id", "text")
      .write.parquet(s"$dir/documents.parquet")
    Retrieval.buildPosIndex(spark, dir, s"$dir/pos")
    val served = Retrieval
      .phraseSearchServed(spark, s"$dir/pos", Seq("007", "agent"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2))))
      .toMap
    assert(served == Map(1L -> ((2L, 0))),
      s"numeric token de-matched through the partition layout: $served")
  }

  test("bm25 served == inline; postings scan is partition-pruned") {
    val dir = tmpDir("lex_idx")
    graft.operators.Retrieval.buildLexIndex(spark, sf0001, s"$dir/lex")
    val served = graft.operators.Retrieval.bm25TopKServed(spark, s"$dir/lex")
    val inline = graft.operators.Retrieval.bm25TopK(spark, sf0001)
    assert(served.exceptAll(inline).isEmpty &&
      inline.exceptAll(served).isEmpty)
    // The serve path must touch only the query terms' partitions —
    // the whole point of the term-partitioned layout.
    served.collect()
    val p = served.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: [") && p.contains("tok"),
      s"postings read not partition-pruned:\n$p")
  }

  test("bm25 batch-maintained index == one-shot build, replay is a no-op") {
    import graft.operators.Retrieval
    val docs = Tables.documents(spark, sf0001)
    val oneShot = tmpDir("lex_full")
    Retrieval.buildLexIndex(spark, sf0001, s"$oneShot/lex")
    val expect = Retrieval.bm25TopKServed(spark, s"$oneShot/lex")
    // Two disjoint doc_id slices arriving as separate batches...
    val inc = tmpDir("lex_inc")
    Retrieval.buildLexIndexBatch(spark,
      docs.where(col("doc_id") % 2 === 0), s"$inc/lex", batchId = 0L)
    Retrieval.buildLexIndexBatch(spark,
      docs.where(col("doc_id") % 2 === 1), s"$inc/lex", batchId = 1L)
    val inc2 = Retrieval.bm25TopKServed(spark, s"$inc/lex")
    assert(inc2.exceptAll(expect).isEmpty && expect.exceptAll(inc2).isEmpty)
    // ...and a crash-replay of batch 0 overwrites itself: still
    // identical, never double-counted (the exactly-once contract).
    Retrieval.buildLexIndexBatch(spark,
      docs.where(col("doc_id") % 2 === 0), s"$inc/lex", batchId = 0L)
    val replayed = Retrieval.bm25TopKServed(spark, s"$inc/lex")
    assert(replayed.exceptAll(expect).isEmpty &&
      expect.exceptAll(replayed).isEmpty)
  }

  test("bm25 stream-maintained index == one-shot build") {
    import graft.operators.Retrieval
    val docs = Tables.documents(spark, sf0001)
    val oneShot = tmpDir("lex_full2")
    Retrieval.buildLexIndex(spark, sf0001, s"$oneShot/lex")
    val expect = Retrieval.bm25TopKServed(spark, s"$oneShot/lex")
    val dir = tmpDir("lex_stream")
    (0 to 2).foreach { m =>
      docs.where(pmod(col("doc_id"), lit(3)) === m)
        .coalesce(1).write.parquet(s"$dir/in/slice$m")
    }
    val schema = spark.read.parquet(s"$dir/in/slice0").schema
    graft.streaming.StreamingIngest.lexIndexMaintenanceStream(
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$dir/in/*"),
      s"$dir/idx", s"$dir/ckpt")
    val served = Retrieval.bm25TopKServed(spark, s"$dir/idx")
    assert(served.exceptAll(expect).isEmpty &&
      expect.exceptAll(served).isEmpty)
  }

  test("fuzzy vocab: blocking == brute force on a crafted typo corpus") {
    import spark.implicits._
    // Engineered edit-distance structure: deletions, substitutions,
    // transpositions (lev 2), a 1-char token, and an unrelated word.
    val dir = tmpDir("fuzzy_corpus")
    Seq(
      (0L, "spark sprk spork park sparkle", "en", "web", 29L),
      (1L, "ab ba a zzzz spark", "en", "web", 18L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = graft.operators.TextOps.fuzzyVocabPairs(spark, dir)
      .select("tok_a", "tok_b", "lev").as[(String, String, Int)]
      .collect().toSet
    // Brute force over the same vocab — the SymSpell completeness
    // theorem, validated in-engine (the oracle row validates it
    // cross-engine on the fixture).
    val vocab = Tables.documents(spark, dir)
      .select(explode(graft.operators.TextOps.tokens(col("text"))).as("tok"))
      .distinct()
    val brute = vocab.as("x").crossJoin(vocab.as("y"))
      .where(col("x.tok") < col("y.tok"))
      .select(col("x.tok"), col("y.tok"),
        levenshtein(col("x.tok"), col("y.tok")).as("lev"))
      .where(col("lev") <= 2)
      .as[(String, String, Int)].collect().toSet
    assert(got == brute)
    // Spot-pin the engineered cases, including the lev-2 transposition
    // pair that needs the INTERSECTING-deletions key (not containment).
    assert(got.contains(("spark", "sprk", 1)))
    assert(got.contains(("spark", "spork", 1)))
    assert(got.contains(("ab", "ba", 2)))
    assert(got.contains(("a", "ab", 1)))
    assert(!got.exists(p => p._1 == "zzzz" || p._2 == "zzzz"))
  }

  /** Tokens a term-addressed reader must address exactly: a numeric
    * token (partition-type inference would read tok=007 back as 7),
    * Spark's escaped path characters, glob metacharacters and a dot
    * segment. */
  private val Adversarial =
    Seq("007", "a/b", "x=y", "50%", "*", "{a,b}", "?", "..")

  /** A 48-document corpus landing as four batches (doc_id % 4). Every
    * batch holds all 40 filler words — more than Spark's 32-path
    * parallel-listing threshold of `tok=` directories per batch — and
    * adversarial tokens in rotation; `onlyone` lives in batch 1 only;
    * `nowhere` in no document. Vectors share the doc ids. */
  private class AdversarialIndex(dir: String) {
    import spark.implicits._
    val lex = s"$dir/lex"
    val pos = s"$dir/pos"
    val ivf = s"$dir/ivf"
    private val docs: Seq[(Long, String)] = (0L until 48L).map { id =>
      val i = (id / 4).toInt
      val filler = (0 until 10).map(j => s"w${(i * 10 + j) % 40}")
      val adv = Seq(Adversarial((id % 8).toInt),
        Adversarial(((id + 3) % 8).toInt), Adversarial((id % 8).toInt))
      val phrases =
        (if (id % 5 == 0) Seq("a/b", "x=y") else Nil) ++
        (if (id % 6 == 1) Seq("*", "{a,b}") else Nil) ++
        (if (id % 7 == 2) Seq("007", "..") else Nil) ++
        (if (id % 4 == 1 && id < 20) Seq("onlyone") else Nil)
      id -> (filler.take(5) ++ adv ++ phrases ++ filler.drop(5)).mkString(" ")
    }
    private def vec(id: Long): Array[Float] = {
      val r = new scala.util.Random(id)
      Array.fill(Similarity.Dim)(r.nextGaussian().toFloat)
    }
    private def docsFrame(keep: Long => Boolean): DataFrame =
      docs.filter(d => keep(d._1)).toDF("doc_id", "text")
    private def embFrame(keep: Long => Boolean): DataFrame =
      docs.map(_._1).filter(keep).map(id => (id, vec(id), (id % 10).toInt))
        .toDF("vec_id", "embedding", "label")

    /** A fixture directory (documents + embeddings) holding `keep`'s
      * documents — the inline twins' corpus. */
    def corpus(name: String, keep: Long => Boolean): String = {
      val out = s"$dir/corpus_$name"
      docsFrame(keep).write.parquet(s"$out/documents.parquet")
      embFrame(keep).write.parquet(s"$out/embeddings.parquet")
      out
    }

    /** The flat one-shot layouts: `postings/tok=`, `pos/tok=` (the
      * pre-batch positional layout) and `postings/cell=`. */
    def buildFlat(corpusDir: String, at: String): Unit = {
      Retrieval.buildLexIndex(spark, corpusDir, s"$at/lex")
      Tables.documents(spark, corpusDir)
        .select(col("doc_id"),
          posexplode(graft.operators.TextOps.tokens(col("text")))
            .as(Seq("pos", "tok")))
        .write.partitionBy("tok").parquet(s"$at/pos/pos")
      Similarity.buildIvfIndex(spark, corpusDir, s"$at/ivf")
    }

    def addBatch(b: Long): Unit = {
      val keep = (id: Long) => id % 4 == b
      Retrieval.buildLexIndexBatch(spark, docsFrame(keep), lex, b)
      Retrieval.buildPosIndexBatch(spark, docsFrame(keep), pos, b)
      if (b == 0L) Similarity.buildIvfIndexBatch(spark, embFrame(keep), ivf, b)
      else Similarity.appendToIvfIndexBatch(spark, embFrame(keep), ivf, b)
    }

    def takedown(ids: Seq[Long], takedownId: Long): Unit = {
      val frame = ids.toDF("doc_id")
      Takedown.takedownLex(spark, lex, frame, takedownId)
      Takedown.takedownPos(spark, pos, frame, takedownId)
      Takedown.takedownIvf(spark, ivf, frame.toDF("vec_id"), takedownId)
    }

    def compact(): Unit = {
      Compaction.compactLexIndex(spark, lex)
      Compaction.compactPosIndex(spark, pos)
      Compaction.compactIvfIndex(spark, ivf)
    }

    def queryFrame(id: Long): DataFrame =
      Seq((id, vec(id).map(_.toDouble))).toDF("q_id", "qv")
        .withColumn("nq", sqrt(call_function("dot_d", col("qv"), col("qv"))))

    /** Batches 0–2, a takedown, a compaction into generation 1, then
      * batch 3 beside the fold. */
    def buildFinal(): Unit = {
      (0L to 2L).foreach(addBatch)
      takedown(Dead, 0L)
      compact()
      addBatch(3L)
    }
  }

  /** Every filler word and adversarial token: 48 terms, so one lookup
    * addresses more directories than one scan may list without a job. */
  private val WideQuery = (0 until 40).map(i => s"w$i") ++ Adversarial

  /** Taken-down documents: one from each early batch, holding
    * adversarial tokens and phrases. */
  private val Dead = Seq(0L, 9L, 10L)

  private def sameRows(served: DataFrame, inline: DataFrame,
                       what: String): Unit =
    assert(served.exceptAll(inline).isEmpty &&
      inline.exceptAll(served).isEmpty, s"$what: served != inline")

  test("served lexical reads address adversarial terms exactly: flat, " +
      "batched, taken-down and compacted layouts equal the inline twins") {
    val dir = tmpDir("adv_idx")
    val idx = new AdversarialIndex(dir)
    // The last query addresses more than 32 directories per read, so
    // the reader splits it into several scans.
    val bm25Queries = Seq(Adversarial :+ "nowhere",
      Seq("onlyone", "007", "w3"), Seq("{a,b}", "*", "?"), WideQuery)
    val phrases = Seq(Seq("a/b", "x=y"), Seq("*", "{a,b}"),
      Seq("007", ".."), Seq("w1", "w2"), Seq("onlyone", "w3"))
    var checked = 0
    def check(stage: String, corpusDir: String, lex: String, pos: String,
              ivf: String, queryVec: Long): Unit = {
      bm25Queries.foreach { q =>
        sameRows(Retrieval.bm25TopKServed(spark, lex, q),
          Retrieval.bm25TopK(spark, corpusDir, q), s"$stage bm25 $q")
      }
      phrases.foreach { ph =>
        sameRows(Retrieval.phraseSearchServed(spark, pos, ph),
          Retrieval.phraseSearch(spark, corpusDir, ph), s"$stage phrase $ph")
      }
      sameRows(
        Retrieval.hybridRrfServed(spark, lex, ivf, Adversarial, queryVec),
        Retrieval.hybridRrf(spark, corpusDir, Adversarial, queryVec),
        s"$stage hybrid")
      // A term no batch holds: an empty answer, not an exception.
      assert(Retrieval.bm25TopKServed(spark, lex, Seq("nowhere")).isEmpty,
        s"$stage: absent term answered")
      assert(Retrieval.phraseSearchServed(spark, pos, Seq("nowhere"))
        .isEmpty, s"$stage: absent phrase answered")
      checked += 1
    }
    // Non-vacuous: the corpus really holds the adversarial phrases.
    val full = idx.corpus("full", _ => true)
    assert(Retrieval.phraseSearch(spark, full, Seq("*", "{a,b}")).count() > 0)
    assert(Retrieval.bm25TopK(spark, full, Seq("007")).count() > 0)

    idx.buildFlat(full, s"$dir/flat")
    check("flat", full, s"$dir/flat/lex", s"$dir/flat/pos",
      s"$dir/flat/ivf", 5L)

    (0L to 2L).foreach(idx.addBatch)
    val early = idx.corpus("early", _ % 4 != 3)
    check("batched", early, idx.lex, idx.pos, idx.ivf, 5L)

    idx.takedown(Dead, 0L)
    val purged = idx.corpus("purged", id => id % 4 != 3 && !Dead.contains(id))
    check("taken-down", purged, idx.lex, idx.pos, idx.ivf, 5L)

    idx.compact()
    idx.addBatch(3L)
    assert(Compaction.resolveRoot(spark, idx.lex).endsWith("/v=1"))
    val last = idx.corpus("last", id => !Dead.contains(id))
    check("compacted", last, idx.lex, idx.pos, idx.ivf, 7L)
    assert(checked == 4)
  }

  /** Every job `body` launches from this thread (and the jobs Spark
    * starts on its behalf, which inherit the job group), as
    * (description, stage names). A barrier job submitted afterwards
    * bounds the wait: the listener bus delivers events in order, so
    * once the barrier's start arrives every earlier job's has too. */
  private def jobsOf(body: => Unit): Seq[(String, Seq[String])] = {
    val sc = spark.sparkContext
    val group = s"jobs-of-${java.util.UUID.randomUUID}"
    val barrier = s"$group-barrier"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, String, Seq[String])]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties)
          .flatMap(p => Option(p.getProperty(k))).getOrElse("")
        seen.add((prop("spark.jobGroup.id"), prop("spark.job.description"),
          e.stageInfos.map(_.name)))
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(barrier, barrier)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.asScala.exists(_._1 == barrier) &&
          System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.asScala.exists(_._1 == barrier),
        "the listener never saw the barrier job")
      seen.asScala.toSeq.collect { case (`group`, d, st) => (d, st) }
    } finally sc.removeSparkListener(listener)
  }

  test("served lookups launch no file-listing and no schema-inference " +
      "job") {
    val idx = new AdversarialIndex(tmpDir("adv_jobs"))
    idx.buildFinal()
    val lookups: Seq[(String, () => Unit)] = Seq(
      "bm25" -> (() =>
        Retrieval.bm25TopKServed(spark, idx.lex, Adversarial).collect()),
      "bm25 over 48 terms" -> (() =>
        Retrieval.bm25TopKServed(spark, idx.lex, WideQuery).collect()),
      "phrase" -> (() =>
        Retrieval.phraseSearchServed(spark, idx.pos, Seq("*", "{a,b}"))
          .collect()),
      "knn" -> (() =>
        Similarity.queryIvfIndex(spark, idx.ivf, idx.queryFrame(7L))
          .collect()))
    lookups.foreach { case (name, run) =>
      run() // warm: the first run may register functions, load classes
      val jobs = jobsOf(run())
      assert(jobs.nonEmpty, s"$name: no job seen — the probe is blind")
      val listing = jobs.filter(_._1.startsWith(
        "Listing leaf files and directories"))
      assert(listing.isEmpty, s"$name listed the index tree: $listing")
      // Both a parallel listing and a parquet footer (schema-inference)
      // job run inside DataFrameReader.parquet, so their stages carry
      // its call site; the lookup's own query jobs carry collect's.
      val inReader = jobs.filter(_._2.exists(_.startsWith("parquet at ")))
      assert(inReader.isEmpty, s"$name launched jobs while reading: $inReader")
    }
  }
}

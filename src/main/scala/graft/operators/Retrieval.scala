package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType
import graft.Tables

/** Ranked retrieval over the document corpus: BM25 lexical scoring and
  * reciprocal-rank-fusion (RRF) hybrid search combining the lexical
  * ranking with embedding-cosine ranking — the serving-side counterpart
  * of the corpus-preparation tier (dedup/curation build the corpus;
  * these operators query it).
  *
  * North-star scope (BASELINE.json "similarity search" + "text
  * analysis"); the reference itself has no retrieval surface
  * (`cloud_composer/datapipeline_gcp.py` declares only SQL rollups), so
  * the design is Spark-first throughout.
  *
  * Determinism discipline: BM25's per-(doc,term) contribution is a
  * chain of IEEE ops on bit-identical operands in both engines (exact
  * long tf/dl/df/N, literal constants, identical association), then
  * FIXED-POINT rounded to a micro-unit long BEFORE the per-doc sum —
  * sums of exact longs are order-insensitive, so the aggregate crosses
  * the oracle boundary hash-exact (the same trick as the TPC-H
  * integer-cents revenue). The classic ln() idf is replaced by its
  * rational core (N−df+0.5)/(df+0.5) — ln is not guaranteed correctly
  * rounded across libm implementations (same deviation as tf-idf's
  * N/df, TextOps.scala §tfidf) and the rational form is monotone in it,
  * so rankings for a fixed query are preserved while every value stays
  * engine-portable. Side effect (documented, accepted): unlike ln-idf
  * this variant never goes negative for df > N/2 terms.
  */
object Retrieval {

  /** BM25 constants — literal doubles written identically in the SQL
    * twins so both engines parse the same IEEE values. */
  val K1 = 1.2
  val B = 0.75

  /** Default query: mid-df corpus terms (the fixture vocabulary is
    * synthetic Spark-ese). */
  val DefaultQuery: Seq[String] = Seq("spark", "hash", "join")

  /** Fixed-point scale for score micro-units. */
  val ScoreScale = 1000000L

  /** Per-list candidate depth for fusion and the final cut. RRF fuses
    * bounded CANDIDATE LISTS, not full rankings — the 100 TB shape:
    * each arm reduces to its own top-R via heap-path TakeOrdered /
    * salted top-k, and only the ≤2R-row fused frame ever sees a
    * window. */
  val CandidateK = 100
  val FinalK = 25

  /** RRF smoothing constant (the standard k=60 from Cormack et al.'s
    * original formulation). */
  val RrfK = 60

  /** Default phrase for the positional search row — a bigram that
    * genuinely occurs in the fixture vocabulary. */
  val DefaultPhrase: Seq[String] = Seq("hash", "join")

  /** Exact phrase search by POSITION ALIGNMENT — the retrieval
    * operator BM25's bag-of-words scoring cannot express ("hash join"
    * as a unit, not two terms).
    *
    * Every occurrence of phrase term i at position p votes for a
    * phrase START at p − i; a start winning all |phrase| slots is a
    * match. That turns phrase matching into ONE hash aggregate keyed
    * (doc, start): the token stream is cut to the phrase's vocabulary
    * by a broadcast join BEFORE any exchange (the shuffle carries only
    * phrase-term occurrences — at 100 TB: the phrase's postings, never
    * the corpus), and a longer phrase adds SLOTS to the same
    * aggregate, where the naive positional self-join adds a shuffle
    * per term. A persisted positional-postings index would replace the
    * tokenize with a posting scan and keep the identical alignment
    * tail. Repeated phrase terms are handled by slot identity: one
    * occurrence votes once per slot it could fill, each vote at a
    * different start. */
  def phraseSearch(spark: SparkSession, dir: String,
                   phrase: Seq[String] = DefaultPhrase): DataFrame =
    phraseSearchOf(Tables.documents(spark, dir), phrase)

  def phraseSearchOf(docs: DataFrame, phrase: Seq[String]): DataFrame =
    phraseAlign(
      docs.select(col("doc_id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok"))),
      phrase)

  /** Build the persisted POSITIONAL postings index — (doc_id, pos)
    * rows term-partitioned, the layout the BM25 index uses, but
    * keeping POSITIONS (tf postings cannot serve phrases). The
    * corpus-grain explode is paid once at build; every phrase serve
    * after that reads only its terms' partitions.
    *
    * Layout: `batch_id=<n>/tok=<term>/` — the SAME directory depth as
    * [[buildPosIndexBatch]], so the natural lifecycle (bootstrap with
    * the full build, then maintain incrementally) keeps one consistent
    * partition scheme under one indexPath; mixed depths would break
    * Spark's partition discovery at serve time (ADVICE r10). The
    * bootstrap claims batch_id = -1, BELOW any batch/streaming id
    * (foreachBatch ids start at 0), so a checkpoint replaying batch 0
    * can never clobber the bootstrap slice. mode=overwrite here clears
    * the WHOLE index (a full rebuild), where the batch form overwrites
    * only its own batch partition. */
  def buildPosIndex(spark: SparkSession, dir: String,
                    indexPath: String): Unit =
    Tables.documents(spark, dir)
      .select(lit(-1L).as("batch_id"), col("doc_id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
      .write.partitionBy("batch_id", "tok").mode("overwrite")
      .parquet(s"$indexPath/pos")

  /** Incremental positional-index maintenance, batch_id-keyed
    * exactly-once (the lex-index pattern): each arrival slice lands
    * its positional postings under its own `batch_id=N` partition with
    * mode=overwrite, so a replayed slice overwrites itself instead of
    * double-indexing. Contract: batches carry disjoint doc_id slices.
    * The serve path is layout-agnostic — the pinned reader schema
    * surfaces the discovered batch_id column and simply never selects
    * it — so phrase results over N batches are bit-identical to a
    * one-shot build over the union (spec-proven, replay included). */
  def buildPosIndexBatch(spark: SparkSession, docs: DataFrame,
                         indexPath: String, batchId: Long): Unit = {
    if (Compaction.isFolded(spark, indexPath, batchId)) return
    val root = Compaction.resolveRoot(spark, indexPath)
    docs.select(col("doc_id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "tok")))
      .write.partitionBy("tok").mode("overwrite")
      .parquet(s"$root/pos/batch_id=$batchId")
  }

  /** Phrase serve from the standing positional index: the scan reads
    * only the phrase terms' directories ([[termPartitions]] — the
    * tokenize never re-runs), then the SAME alignment tail as the
    * inline form — build/serve identity by shared definition. */
  def phraseSearchServed(spark: SparkSession, indexPath: String,
                         phrase: Seq[String] = DefaultPhrase): DataFrame = {
    // Generation-resolved ONCE per query (r14): both reads below come
    // from the same generation, and a compaction committing mid-query
    // flips nothing under this plan.
    val root = Compaction.resolveRoot(spark, indexPath)
    phraseAlign(
      // Takedown-aware (r13): deleted docs drop out of the occurrence
      // slice before alignment.
      Takedown.applyDeletes(
        termPartitions(spark, s"$root/pos", PosSchema, phrase),
        s"$root/deletes"),
      phrase)
  }

  /** Pinned reader schemas of the term-partitioned index tables.
    * Partition-type INFERENCE would read a numeric token directory
    * (tok=007) back as an integer, silently renaming the token
    * ("007" → 7) and de-matching it from the query — the BPE
    * vocabulary is full of number pieces, so tok is STRING at every
    * reader. */
  private[operators] val PostingsSchema = "doc_id BIGINT, tf BIGINT, tok STRING"
  private[operators] val PosSchema = "doc_id BIGINT, pos INT, tok STRING"

  /** The served readers' TERM-ADDRESSED scan of a term-partitioned
    * table (`postings`, `pos`) under a resolved generation root: the
    * rows of `terms`, with exactly the columns of `schema`.
    *
    * Read contract — what one lookup costs in file-system metadata,
    * whatever the vocabulary or the number of batches:
    *  - ONE listing of the table directory: its `batch_id=` children
    *    (batch-maintained and compacted layouts), or, on the flat
    *    one-shot layout, its term directories' names — one driver
    *    call, never a recursive walk.
    *  - One existence probe per (batch, distinct term), then one
    *    listing per existing `tok=` directory: O(batches × |terms|)
    *    directories, never the `batch_id=N/tok=*` tree. A term no batch
    *    holds costs its probes and reads nothing (an empty slice, no
    *    exception).
    *  - Directory names are Spark's own partition-path escaping of the
    *    term ([[ExternalCatalogUtils.escapePathName]], the writer's
    *    encoding), never a pattern built from terms. The escaping
    *    encodes `*`, `?`, `[`, `{` and `\`, so no name can open a glob
    *    group or wildcard: the reader's globbing (which a leftover `}`
    *    still triggers) matches each name to itself alone. Globbing
    *    stays on: Spark's internal no-glob read option lists a
    *    multi-path read holding a comma (`{a,b}`) three times over.
    *  - `basePath` keeps partition discovery on the table root, so `tok`
    *    (pinned STRING) comes back from the directory names as before;
    *    the `tok IN (…)` filter stays on the plan (a no-op over the
    *    addressed directories — the scan still reports it under
    *    `PartitionFilters`).
    *  - At most `spark.sql.sources.parallelPartitionDiscovery.threshold`
    *    paths per scan (unioned above that): Spark lists more paths
    *    than that with a distributed listing JOB, which would cost each
    *    lookup a task per directory. */
  private[operators] def termPartitions(spark: SparkSession, table: String,
                                        schema: String,
                                        terms: Seq[String]): DataFrame = {
    val base = new Path(table)
    val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val wanted = terms.distinct
    val dirs = for {
      parent <- termParents(fs, base)
      t <- wanted
      dir = new Path(parent, s"tok=${ExternalCatalogUtils.escapePathName(t)}")
      if fs.exists(dir)
    } yield dir.toString
    val fields = StructType.fromDDL(schema).fieldNames.toSeq.map(col)
    val maxPaths = spark.conf
      .get(SQLConf.PARALLEL_PARTITION_DISCOVERY_THRESHOLD.key).toInt.max(1)
    val scans = dirs.grouped(maxPaths).map { chunk =>
      spark.read.schema(schema)
        .option("basePath", table)
        .parquet(chunk: _*)
        .select(fields: _*)
    }.toSeq
    val slice =
      if (scans.isEmpty)
        spark.createDataFrame(java.util.Collections.emptyList[Row](),
          StructType.fromDDL(schema))
      else scans.reduce(_ unionByName _)
    slice.where(col("tok").isin(wanted: _*))
  }

  /** The directories holding a term-partitioned table's `tok=`
    * children: its `batch_id=` subdirectories, or the table itself in
    * the flat one-shot layout. A table's layout is uniform (the
    * writers keep it so — [[graft.sinks.Sinks.adoptFlatLayout]]
    * migrates a flat index before the first batch lands); a mix fails
    * loudly, as Spark's partition discovery did. */
  private def termParents(fs: FileSystem, table: Path): Seq[Path] = {
    val (batches, flat) = fs.listStatus(table).toSeq
      .filter { st =>
        val n = st.getPath.getName
        st.isDirectory && !n.startsWith("_") && !n.startsWith(".")
      }
      .partition(_.getPath.getName.startsWith("batch_id="))
    if (batches.nonEmpty && flat.nonEmpty)
      throw new IllegalStateException(
        s"$table mixes batch_id= and flat term directories")
    if (flat.nonEmpty) Seq(table) else batches.map(_.getPath)
  }

  /** The ONE alignment tail both phrase paths share (the bm25ScoreTail
    * discipline): slot votes at start = pos − slot, full-slot starts
    * are matches. */
  private def phraseAlign(occ: DataFrame, phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "phraseSearch needs at least one term")
    val spark = occ.sparkSession
    import spark.implicits._
    val ph = phrase.zipWithIndex.map { case (t, i) => (i, t) }
      .toDF("sl", "ptok")
    occ
      .join(broadcast(ph), col("tok") === col("ptok"))
      .select(col("doc_id"), (col("pos") - col("sl")).as("start"),
        col("sl"))
      .groupBy(col("doc_id"), col("start"))
      .agg(countDistinct(col("sl")).as("k"))
      .where(col("k") === phrase.length)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_matches"),
        min(col("start")).cast("int").as("first_pos"))
  }

  /** Per-(doc, term) BM25 contributions for `terms`, joined against the
    * per-doc length and the broadcast one-row corpus stats. The token
    * stream is filtered to the bounded query vocabulary BEFORE its
    * (doc, term) aggregate, so the tf shuffle carries only matching
    * occurrences (at 100 TB: |terms| postings lists, never the corpus);
    * df re-aggregates the compact tf frame and broadcasts (≤ |terms|
    * rows). dl/avgdl come from one map-only stats pass over documents
    * (no second explode — `size(tokens)` avoids materializing the
    * array per row twice). */
  private def bm25Contribs(spark: SparkSession, dir: String,
                           terms: Seq[String]): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val occ = docs
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
    val dl = docs.select(col("doc_id"),
      size(TextOps.tokens(col("text"))).cast("long").as("dl"))
    val stats = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(size(TextOps.tokens(col("text"))).cast("long")).as("sum_dl"))
    val tf = occ.where(col("tok").isin(terms: _*))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
    bm25ScoreTail(tf, dl, stats)
  }

  /** The shared scoring tail — (doc, term, tf) postings slice + doc
    * lengths + one-row corpus stats → fixed-point contributions. ONE
    * home for the arithmetic so the inline and served paths cannot
    * drift (the build/serve identity proof leans on this). df is
    * re-aggregated from the query-term slice in BOTH paths — identical
    * derivation, identical values. */
  private def bm25ScoreTail(tf: DataFrame, dl: DataFrame,
                            stats: DataFrame): DataFrame = {
    val df = tf.groupBy(col("tok").as("df_tok"))
      .agg(count(lit(1)).as("df"))
    // Identical association to the SQL twin, term by term:
    //   idf  = (n_docs - df + 0.5) / (df + 0.5)
    //   tfn  = (tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl) / avgdl))
    //   avgdl = CAST(sum_dl AS DOUBLE) / n_docs
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf = (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
    val tfn = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + (lit(0.75) * col("dl")) / avgdl))
    tf.join(dl, "doc_id")
      .join(broadcast(df), col("tok") === col("df_tok"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), col("tok"),
        round((idf * tfn) * ScoreScale).cast("long").as("contrib_fp"))
  }

  /** Build the persisted lexical index: term-partitioned postings
    * (`tok=<term>/` dirs → a query touches only its terms' partitions),
    * doc lengths, and the one-row corpus stats. The corpus-grain
    * explode is paid ONCE here at build time; every serve after that
    * reads postings slices. At 10⁹-term scale partition-per-term
    * becomes bucket-by-term-hash — the layout idea (queries prune to
    * their terms' files) is unchanged. */
  def buildLexIndex(spark: SparkSession, dir: String,
                    indexPath: String): Unit = {
    val docs = Tables.documents(spark, dir)
    docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
      .write.partitionBy("tok").mode("overwrite")
      .parquet(s"$indexPath/postings")
    docs.select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("dl"))
      .write.mode("overwrite").parquet(s"$indexPath/doclens")
    docs.agg(count(lit(1)).as("n_docs"),
        sum(size(TextOps.tokens(col("text"))).cast("long")).as("sum_dl"))
      .write.mode("overwrite").parquet(s"$indexPath/stats")
  }

  /** Incremental index maintenance, batch_id-keyed exactly-once (the
    * [[Similarity.buildIvfIndexBatch]] / pair-table pattern): each
    * arrival slice of documents lands its postings, doc lengths, and
    * PARTIAL corpus stats under its own `batch_id=N` partition with
    * mode=overwrite — a replayed batch overwrites itself, never
    * double-counts. Contract: batches carry disjoint doc_id slices
    * (re-ingesting a doc means replaying ITS batch). The serve path
    * is layout-agnostic: partition discovery surfaces `batch_id` as
    * just another column the reader ignores, and stats MERGE by exact
    * long addition — so served scores over N batches are bit-identical
    * to a from-scratch build over the union (RetrievalSpec proves it,
    * replay included). */
  def buildLexIndexBatch(spark: SparkSession, docs: DataFrame,
                         indexPath: String, batchId: Long): Unit = {
    // Replay guard post-compaction (r13): once [[Compaction]] folded
    // this id's partition away, re-writing it would DOUBLE-COUNT (the
    // partition itself was the pre-fold dedup) — the folded ledger
    // makes the replay a no-op instead.
    if (Compaction.isFolded(spark, indexPath, batchId)) return
    val root = Compaction.resolveRoot(spark, indexPath)
    docs.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"))
      .write.partitionBy("tok").mode("overwrite")
      .parquet(s"$root/postings/batch_id=$batchId")
    docs.select(col("doc_id"),
        size(TextOps.tokens(col("text"))).cast("long").as("dl"))
      .write.mode("overwrite").parquet(s"$root/doclens/batch_id=$batchId")
    docs.agg(count(lit(1)).as("n_docs"),
        sum(size(TextOps.tokens(col("text"))).cast("long")).as("sum_dl"))
      .write.mode("overwrite").parquet(s"$root/stats/batch_id=$batchId")
  }

  /** BM25 served from the persisted index: partition-pruned postings
    * reads (only the query terms' directories), the SAME score tail,
    * the SAME cut — hash-identical to [[bm25TopK]] by construction, at
    * serve cost (no corpus explode, no token-grain shuffle). Handles
    * both the one-shot [[buildLexIndex]] layout and the
    * [[buildLexIndexBatch]]-maintained layout: stats re-aggregate by
    * exact long SUM (identity over the one-shot single row). */
  def bm25TopKServed(spark: SparkSession, indexPath: String,
                     terms: Seq[String] = DefaultQuery,
                     k: Int = FinalK): DataFrame =
    bm25Cut(servedContribs(spark, indexPath, terms), k)

  /** Per-(doc, term) BM25 contributions answered from the PERSISTED
    * lex index — the serve-path twin of [[bm25Contribs]], shared by
    * [[bm25TopKServed]] and [[hybridRrfServed]] so their lex arms are
    * one definition. Postings come through the term-addressed
    * [[termPartitions]] (only the query terms' directories, pinned
    * schema); doclens and stats through pinned schemas (no parquet
    * schema-inference job). */
  private def servedContribs(spark: SparkSession, indexPath: String,
                             terms: Seq[String]): DataFrame = {
    // Generation-resolved ONCE (r14): all three reads come from the
    // same generation — a compaction committing mid-query can never
    // mix a folded postings scan with unfolded stats.
    val root = Compaction.resolveRoot(spark, indexPath)
    // Takedown-aware (r13): anti-join the logically-deleted docs (a
    // no-op when the index never saw a takedown); the matching
    // corpus-stats correction is already a negative partial under
    // stats/, and df re-derives from this purged slice — so served
    // scores equal a rebuild over the purged corpus, bit for bit.
    val tf = Takedown.applyDeletes(
      termPartitions(spark, s"$root/postings", PostingsSchema, terms)
        .select(col("doc_id"), col("tok"), col("tf")),
      s"$root/deletes")
    val dl = spark.read.schema("doc_id BIGINT, dl BIGINT")
      .parquet(s"$root/doclens")
      .select(col("doc_id"), col("dl"))
    val stats = spark.read.schema("n_docs BIGINT, sum_dl BIGINT")
      .parquet(s"$root/stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
    bm25ScoreTail(tf, dl, stats)
  }

  /** BM25 top-k: exact-long micro-unit scores summed per doc, global
    * top-[[FinalK]] cut on (score desc, doc_id asc). The limit plans as
    * TakeOrderedAndProject (per-partition heaps over the ≤|matching
    * docs| scored frame); the rank window runs AFTER the cut, over ≤ k
    * rows. */
  def bm25TopK(spark: SparkSession, dir: String,
               terms: Seq[String] = DefaultQuery,
               k: Int = FinalK): DataFrame =
    bm25Cut(bm25Contribs(spark, dir, terms), k)

  /** Shared per-doc sum + top-k cut over a contributions frame. */
  private def bm25Cut(contribs: DataFrame, k: Int): DataFrame = {
    val scored = contribs
      .groupBy(col("doc_id"))
      .agg(sum(col("contrib_fp")).as("score_fp"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("score_fp").desc, col("doc_id").asc)
      .limit(k)
    scored
      .withColumn("rank", row_number().over(
        Window.orderBy(col("score_fp").desc, col("doc_id").asc)))
      .select(col("doc_id"), col("n_terms"),
        (col("score_fp").cast("double") / ScoreScale).as("bm25"),
        col("rank"))
  }

  /** One arm's top-R candidate ranking: heap-path cut first, then a
    * row_number over the resulting ≤R-row frame (the window never sees
    * the full scored corpus). */
  private def rankedTopR(scored: DataFrame, scoreCol: Column,
                         idCol: Column, r: Int): DataFrame =
    scored.orderBy(scoreCol.desc, idCol.asc).limit(r)
      .withColumn("rank",
        row_number().over(Window.orderBy(scoreCol.desc, idCol.asc)))

  /** Reciprocal-rank-fusion hybrid search: the BM25 arm for `terms`
    * fused with the embedding-cosine arm for query vector `queryVecId`
    * (fixture correspondence: vec_id ≡ doc_id, FIXTURES.md). Each arm
    * reduces to its own top-[[CandidateK]] list, ranks within the
    * compact list, and the full-outer fused frame scores
    * Σ 1/(60+rank) over the arms a doc appears in — absent-arm rank
    * crosses the boundary as 0. The rrf quotients are divisions of
    * exact small ints → bit-identical doubles, and the two-term sum has
    * fixed expression order, so the fused score is engine-exact without
    * fixed-point help. Scale: the vector arm is one broadcast-query
    * pass over the corpus (the bounded-query-side shape of
    * [[Similarity.topkCosine]]); swap in the IVF/LSH arm for >10⁸
    * vectors — the fusion tail is rank-only and doesn't change. */
  def hybridRrf(spark: SparkSession, dir: String,
                terms: Seq[String] = DefaultQuery,
                queryVecId: Long = 0L,
                k: Int = FinalK): DataFrame =
    hybridRrfTail(bm25Contribs(spark, dir, terms),
      Similarity.normalizedCorpus(spark, dir), queryVecId, k)

  /** Hybrid RRF answered ENTIRELY from the two persisted indexes
    * (VERDICT r11 #8): the lex arm reads the term-partitioned postings
    * (partition-pruned to the query terms, [[servedContribs]]) and the
    * vector arm reads the IVF index's cell-partitioned postings —
    * which carry the COMPLETE normalized corpus (vec_id, v, nv), so an
    * un-probed scan of them is the exact cosine arm, bit-identical to
    * the inline form (the index persists the same 9-dp-rounded
    * normalization the inline path computes; parquet round-trips
    * doubles exactly). Both arms then share [[hybridRrfTail]] with the
    * inline query — build/serve identity by one definition, the
    * [[bm25TopKServed]] discipline. Serve cost: the tokenize and the
    * corpus normalization never re-run; the vector arm is one
    * broadcast-query pass over the postings (swap in the probed
    * [[Similarity.queryIvfIndex]] arm for >10⁸ vectors — the fusion
    * tail is rank-only and doesn't change, but results then carry IVF
    * recall, not exactness). */
  def hybridRrfServed(spark: SparkSession, lexIndexPath: String,
                      vecIndexPath: String,
                      terms: Seq[String] = DefaultQuery,
                      queryVecId: Long = 0L,
                      k: Int = FinalK): DataFrame = {
    graft.expressions.DotProduct.register(spark)
    val vecRoot = Compaction.resolveRoot(spark, vecIndexPath)
    // Takedown-aware (r13 review): the vector arm must drop deleted
    // vectors like every other serve path — a taken-down doc surfacing
    // through hybrid fusion is the same compliance hole as serving it
    // directly.
    val c = Takedown.applyDeletes(
      Similarity.ivfPostings(spark, vecRoot),
      s"$vecRoot/deletes", idCol = "vec_id")
      .select(col("vec_id"), col("v"), col("nv"))
    hybridRrfTail(servedContribs(spark, lexIndexPath, terms), c,
      queryVecId, k)
  }

  /** The ONE fusion tail both hybrid paths share (the bm25ScoreTail
    * discipline): top-[[CandidateK]] per arm, rank within the compact
    * lists, Σ 1/(60+rank) over present arms. `c` is any
    * (vec_id, v, nv) normalized-corpus frame. */
  private def hybridRrfTail(contribs: DataFrame, c: DataFrame,
                            queryVecId: Long, k: Int): DataFrame = {
    val lex = rankedTopR(
      contribs
        .groupBy(col("doc_id"))
        .agg(sum(col("contrib_fp")).as("score_fp")),
      col("score_fp"), col("doc_id"), CandidateK)
      .select(col("doc_id"), col("rank").as("lex_rank"))
    val q = c.where(col("vec_id") === queryVecId)
      .select(col("v").as("qv"), col("nv").as("nq"))
    val scoredVec = c.crossJoin(broadcast(q))
      .where(col("vec_id") =!= queryVecId)
      .select(col("vec_id"),
        (call_function("dot_d", col("qv"), col("v")) /
          (col("nq") * col("nv"))).as("cosine"))
    val vec = rankedTopR(scoredVec, col("cosine"), col("vec_id"), CandidateK)
      .select(col("vec_id"), col("rank").as("vec_rank"))
    val fused = lex.join(vec, col("doc_id") === col("vec_id"), "full_outer")
      .select(
        coalesce(col("doc_id"), col("vec_id")).as("doc_id"),
        coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0)).as("vec_rank"))
      .withColumn("rrf",
        when(col("lex_rank") > 0, lit(1.0) / (lit(RrfK) + col("lex_rank")))
          .otherwise(lit(0.0)) +
        when(col("vec_rank") > 0, lit(1.0) / (lit(RrfK) + col("vec_rank")))
          .otherwise(lit(0.0)))
    rankedTopR(fused, col("rrf"), col("doc_id"), k)
      .select(col("doc_id"), col("lex_rank"), col("vec_rank"),
        col("rrf"), col("rank"))
  }
}

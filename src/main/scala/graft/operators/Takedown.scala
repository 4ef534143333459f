package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** Takedown propagation (r13, VERDICT r12 missing #1): purge a set of
  * document ids from the corpus AND from every derived artifact — the
  * capability an LLM training-data pipeline is legally required to
  * have (opt-out / right-to-erasure requests arrive continuously and
  * must reach everything the offending documents touched).
  *
  * Design: '''deletion vectors, then fold''' — the same two-step every
  * production table format uses, because it is the only shape that
  * scales. A takedown batch writes its id set under the artifact's
  * deletes directory (cost: O(|ids|), never a rewrite of the 100 TB
  * artifact); every serve path anti-joins the (small, broadcast)
  * deleted set, so the docs stop being servable IMMEDIATELY; the
  * physical rewrite happens later, amortized, inside the index
  * compaction pass ([[Compaction]]) which folds deletes into the data
  * and clears them. Exactness is preserved through the logical phase:
  * BM25's corpus stats (n_docs, sum_dl) are additive longs, so the
  * takedown stamps a NEGATIVE partial-stats partition and the served
  * scores equal a from-scratch rebuild over the purged corpus — bit
  * for bit (TakedownSpec; `q_bm25_takedown` carries the driver
  * oracle). df needs no correction: both paths re-derive it from the
  * postings slice, which the anti-join has already purged.
  *
  * Replay contract: every write here is keyed by `takedownId` and
  * mode=overwrite into its own `batch_id=<takedownId>` partition, and
  * the stats correction excludes ids already deleted by OTHER batches
  * — so replaying a takedown (crash recovery) converges and
  * overlapping takedown batches never double-subtract.
  *
  * The corpus itself needs no machinery from this file: a corpus
  * takedown is exactly a D-batch through
  * [[graft.sinks.Sinks.mergePublishCdc]] (versioned, OCC-serialized,
  * ledgered). */
object Takedown {

  /** Pinned reader schema for a deletes directory — partition-value
    * type inference must never reinterpret the id column, and the
    * discovered `batch_id` partition column is appended after the
    * pinned field (selected only where provenance matters). */
  private def deletesSchema(idCol: String) = s"$idCol BIGINT"

  /** Record one takedown slice under `deletesDir/batch_id=<takedownId>`
    * (mode=overwrite → a replayed takedown overwrites itself). The
    * directory name is `deletes` as an index SIBLING, or `_deletes`
    * when it must live INSIDE a directory Spark reads wholesale (the
    * `_` prefix hides it from partition discovery, the `_latest`
    * convention). */
  def recordDeletes(ids: DataFrame, deletesDir: String,
                    takedownId: Long, idCol: String = "doc_id"): Unit =
    ids.select(col(idCol).cast("long").as(idCol)).distinct()
      .write.mode("overwrite")
      .parquet(s"$deletesDir/batch_id=$takedownId")

  /** All deleted ids under a deletes directory (empty frame with the
    * right schema when no takedown ever ran). `beforeBatch` restricts
    * to takedown batches with a SMALLER id — the replay-stable base
    * for computing "what THIS batch newly deletes": ownership of a
    * doc's stats correction goes to the smallest takedownId containing
    * it, a rule that is independent of replay order (an exclude-my-own
    * rule is not — replaying batch A after a later overlapping batch B
    * landed would re-assign A's docs to B and the rewritten correction
    * would under-subtract; r13 review). */
  def deletedIds(spark: SparkSession, deletesDir: String,
                 idCol: String = "doc_id",
                 beforeBatch: Option[Long] = None): DataFrame = {
    val root = new Path(deletesDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(idCol,
          org.apache.spark.sql.types.LongType))))
    if (!fs.exists(root)) empty
    else {
      val all = spark.read.schema(deletesSchema(idCol)).parquet(deletesDir)
      // Post-compaction the deletes dir can hold ONLY the `_folded`
      // ledger (zero data files): no batch_id partition column is
      // discovered then, and filtering on it would throw — an empty
      // dir means nothing recorded (r13 review; the folded history
      // lives in the data, not here).
      if (!all.columns.contains("batch_id"))
        if (beforeBatch.isEmpty) all.select(col(idCol)).distinct() else empty
      else beforeBatch.fold(all)(b => all.where(col("batch_id") < b))
        .select(col(idCol)).distinct()
    }
  }

  /** Anti-join `df` against the deletes directory — a no-op (same
    * plan, zero cost) when no takedown ever ran, one broadcast
    * anti-join otherwise. Takedown sets are small relative to the
    * corpus by nature (requests, not rebuilds); a takedown set too big
    * to broadcast is a corpus rebuild wearing the wrong API. */
  def applyDeletes(df: DataFrame, deletesDir: String,
                   idCol: String = "doc_id"): DataFrame = {
    val spark = df.sparkSession
    val root = new Path(deletesDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) df
    else df.join(
      broadcast(spark.read.schema(deletesSchema(idCol))
        .parquet(deletesDir).select(col(idCol)).distinct()),
      Seq(idCol), "left_anti")
  }

  /** Takedown against the persisted LEXICAL index
    * ([[Retrieval.buildLexIndex]] layout): record the deletes (serve
    * paths anti-join them) and stamp the NEGATIVE corpus-stats partial
    * that keeps served BM25 bit-identical to a rebuild over the purged
    * corpus — n_docs/sum_dl are summed over partial partitions at
    * serve time, so a correction partition of (-removed docs,
    * -removed tokens) composes exactly (longs). The correction counts
    * only ids present in the index's doclens and not already deleted
    * by another batch; it lands under `stats/batch_id=-(takedownId+2)`
    * — below the -1 bootstrap id, so it can never collide with an
    * ingest batch's partial. */
  def takedownLex(spark: SparkSession, indexPath: String,
                  ids: DataFrame, takedownId: Long): Unit = {
    require(takedownId >= 0, s"takedownId must be >= 0, got $takedownId")
    // Generation-resolved once (r14): every path below reads/writes
    // the CURRENT generation of a compacted index.
    val root = Compaction.resolveRoot(spark, indexPath)
    // Replay guard post-compaction: these ids were already purged
    // PHYSICALLY — re-stamping the negative stats partial would
    // double-subtract ([[Compaction]]'s deletes ledger).
    if (Compaction.isTakedownFolded(spark, s"$root/deletes",
        takedownId)) return
    // MONOTONE-ID contract, enforced (ADVICE r13): the
    // smallest-takedownId-owns stats rule is replay-stable only when
    // fresh ids arrive in increasing order — a brand-new batch applied
    // with an id SMALLER than an already-applied overlapping batch
    // would recompute the overlap doc as "fresh" (deletedIds excludes
    // the larger id) and stamp a SECOND negative partial: silent
    // double-subtraction. Replaying an id already recorded (crash
    // recovery) stays legal — it recomputes its own correction
    // idempotently; only a FRESH id below the high-water is rejected.
    {
      val fs = new Path(root)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val recorded =
        Compaction.batchIds(fs, new Path(s"$root/deletes"))
      val seenMax = (recorded ++ Compaction
        .foldedTakedowns(spark, s"$root/deletes").map(_._2))
        .foldLeft(-1L)(math.max)
      require(takedownId >= seenMax || recorded.contains(takedownId),
        s"takedownLex: out-of-order takedownId $takedownId — ids up " +
          s"to $seenMax are already applied under $root/deletes, " +
          "and the smallest-id-owns stats-correction rule " +
          "double-subtracts when a FRESH smaller id lands later; " +
          "replay an existing id, or allocate ids monotonically " +
          "(the streaming path's micro-batch ids already are)")
    }
    // A one-shot ([[Retrieval.buildLexIndex]]) stats dir is FLAT; the
    // correction partial below adds a batch_id= child, and mixed
    // depths break partition discovery — adopt first (moves the flat
    // row under batch_id=-1, the standard bootstrap id; idempotent).
    graft.sinks.Sinks.adoptFlatLayout(spark, s"$root/stats")
    // "Newly deleted BY THIS batch" = ids minus docs owned by a
    // SMALLER takedownId — deterministic under replay whatever later
    // batches landed in between (see [[deletedIds]]).
    val fresh = ids.select(col("doc_id").cast("long").as("doc_id")).distinct()
      .join(deletedIds(spark, s"$root/deletes",
        beforeBatch = Some(takedownId)), Seq("doc_id"), "left_anti")
    val dl = spark.read.schema("doc_id BIGINT, dl BIGINT")
      .parquet(s"$root/doclens")
    val corr = dl.join(broadcast(fresh), "doc_id")
      .agg((-count(lit(1))).as("n_docs"),
        (-coalesce(sum(col("dl")), lit(0L))).as("sum_dl"))
    corr.write.mode("overwrite")
      .parquet(s"$root/stats/batch_id=-${takedownId + 2}")
    // Deletes last: a crash between the two writes leaves a correction
    // without its deletes (or, replayed, vice versa) — replaying the
    // SAME takedownId recomputes both idempotently, which is the
    // documented recovery.
    recordDeletes(ids, s"$root/deletes", takedownId)
  }

  /** Takedown against the persisted POSITIONAL index
    * ([[Retrieval.buildPosIndex]] layout): deletes only — phrase
    * alignment carries no corpus statistics to correct. */
  def takedownPos(spark: SparkSession, indexPath: String,
                  ids: DataFrame, takedownId: Long): Unit = {
    val root = Compaction.resolveRoot(spark, indexPath)
    if (!Compaction.isTakedownFolded(spark, s"$root/deletes",
        takedownId))
      recordDeletes(ids, s"$root/deletes", takedownId)
  }

  /** Takedown against the persisted IVF index
    * ([[Similarity.buildIvfIndex]] layout): deletes on `vec_id` —
    * served neighbors stop containing the vectors immediately. The
    * trained centroids are NOT retrained (they are an approximation
    * structure, not data; the purged vectors' mass in the means is a
    * quality question the next scheduled retrain absorbs, exactly as
    * production ANN systems treat deletes). */
  def takedownIvf(spark: SparkSession, indexPath: String,
                  ids: DataFrame, takedownId: Long): Unit = {
    val root = Compaction.resolveRoot(spark, indexPath)
    if (!Compaction.isTakedownFolded(spark, s"$root/deletes",
        takedownId))
      recordDeletes(ids, s"$root/deletes", takedownId, idCol = "vec_id")
  }

  /** Takedown against the persisted near-dup PAIR table: a pair is
    * evidence ABOUT two documents, so it dies when EITHER side is
    * taken down. The deletes live INSIDE the table directory as
    * `_deletes` (the table dir is read wholesale — an unprefixed
    * sibling would break partition discovery). [[pairTableLive]] is
    * the deletes-aware reader. */
  def takedownPairs(spark: SparkSession, pairPath: String,
                    ids: DataFrame, takedownId: Long): Unit = {
    val root = Compaction.resolveRoot(spark, pairPath)
    if (!Compaction.isTakedownFolded(spark, s"$root/_deletes",
        takedownId))
      recordDeletes(ids, s"$root/_deletes", takedownId)
  }

  /** Takedown against the standing CONTENT index
    * ([[ContentIndex.buildBatch]] layout): deletes only — the index
    * carries no corpus statistics; both its readers (shingle postings
    * and docstore) anti-join the deletes, so a taken-down doc's text
    * stops being probe-able immediately and
    * [[Compaction.compactContentIndex]] purges it physically. This is
    * the most compliance-sensitive artifact of the set — the docstore
    * stores the full normalized text. */
  def takedownContent(spark: SparkSession, indexPath: String,
                      ids: DataFrame, takedownId: Long): Unit = {
    val root = Compaction.resolveRoot(spark, indexPath)
    if (!Compaction.isTakedownFolded(spark, s"$root/deletes",
        takedownId))
      recordDeletes(ids, s"$root/deletes", takedownId)
  }

  /** The deletes-aware pair-table reader: [[Dedup.pairTable]]'s
    * contract minus pairs touching a taken-down doc (either side). */
  def pairTableLive(spark: SparkSession, pairPath: String): DataFrame = {
    val root = Compaction.resolveRoot(spark, pairPath)
    val base = Dedup.pairTable(spark, pairPath)
    val d = s"$root/_deletes"
    applyDeletes(
      applyDeletes(base.withColumnRenamed("doc_a", "doc_id"), d)
        .withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("doc_b", "doc_id"), d)
      .withColumnRenamed("doc_id", "doc_b")
  }

  /** Which packed training sequences a takedown invalidates — resolved
    * from the STANDING pack table, never a corpus-wide offset window
    * (r14, VERDICT r13 #1: the old form recomputed every doc's running
    * offset per takedown, a full-stratum pass that defeated half the
    * point of [[repackSuffix]]). Packing ([[Sampling.packSequencesOf]])
    * assigns a doc to the pack where it STARTS, in doc_id order — so
    * the first affected pack of a lang stratum is exactly the pack
    * whose [first_doc, last_doc] range CONTAINS the stratum's smallest
    * deleted doc: a broadcast range-join of the (small) deleted set
    * against the pack table, one linear pass over packs, zero windows.
    * `docs` supplies only the deleted docs' lang (a broadcast lookup
    * of two pruned columns); `packs` must be the standing pack table
    * OF `docs` (same corpus, pre-takedown).
    *
    * Returns one row per affected lang:
    * (lang, from_pack_id, from_doc, seed_offset) — `from_doc` the cut
    * pack's first doc (everything below it is untouched by the
    * takedown, because the smallest deleted doc starts in the cut
    * pack), and `seed_offset` the exact running token offset at
    * `from_doc`, reconstructed as the SUM of pack token counts
    * strictly below the cut (pack n_tokens sums the docs STARTING in
    * the pack, so the cumulative pack sum IS the running doc offset at
    * each pack's first doc; every doc below the cut survives, so the
    * purged corpus's offset there equals the original). Integer
    * arithmetic end to end (ADVICE r13: the old true-division
    * `min(start_offset) / budget` yields DOUBLE and disagrees with the
    * packer's `div` past 2^53 stratum tokens). Langs untouched by the
    * takedown are absent (nothing to do). */
  def affectedPacks(docs: DataFrame, ids: DataFrame,
                    packs: DataFrame): DataFrame = {
    val firstDead = docs
      .join(broadcast(ids.select(col("doc_id")).distinct()), "doc_id")
      .groupBy(col("lang")).agg(min(col("doc_id")).as("first_dead"))
    val cut = packs.join(broadcast(firstDead), Seq("lang"))
      .where(col("first_dead") >= col("first_doc") &&
        col("first_dead") <= col("last_doc"))
      .groupBy(col("lang"))
      .agg(min(col("pack_id")).as("from_pack_id"))
    packs.join(broadcast(cut), Seq("lang"))
      .groupBy(col("lang"), col("from_pack_id"))
      .agg(
        min(when(col("pack_id") === col("from_pack_id"), col("first_doc")))
          .as("from_doc"),
        coalesce(sum(when(col("pack_id") < col("from_pack_id"),
          col("n_tokens"))), lit(0L)).as("seed_offset"))
  }

  /** Repack ONLY the affected suffix: per affected lang, the purged
    * docs from the cut pack's first doc onward get their running
    * offsets seeded at [[affectedPacks]]'s `seed_offset` and flow
    * through the SAME offset→pack tail as the full packer
    * ([[Sampling.packTail]] — one definition, no drift). Union with
    * the original packs below the cut reproduces a full repack of the
    * purged corpus exactly (TakedownSpec pins the identity), so a
    * takedown rewrites O(affected suffix) pack shards AND scans only
    * the affected suffix — the offset window runs over the
    * cut-filtered frame, never the full stratum (plan-pinned). */
  def repackSuffix(docs: DataFrame, ids: DataFrame,
                   packs: DataFrame): DataFrame =
    repackSuffixCounts(Sampling.tokenCountsOf(docs), ids, packs)

  /** [[repackSuffix]] over a precomputed (doc_id, lang, n_tokens)
    * frame — the form [[packCertLeg]] uses to pay the corpus tokenize
    * ONCE for both its packer passes (token counting dominates; the
    * tail is windows over three columns). One definition of the
    * seeded-offset tail either way. */
  private[operators] def repackSuffixCounts(counts: DataFrame,
                                            ids: DataFrame,
                                            packs: DataFrame): DataFrame =
    repackSuffixFromCuts(counts, ids, affectedPacks(counts, ids, packs))

  /** The seeded-offset suffix repack over an EXPLICIT cuts frame
    * (lang, from_pack_id, from_doc, seed_offset) — split out in r17 so
    * [[packCertLeg]], which has already COLLECTED the bounded cut rows
    * for its scoping decision, can feed them back as a LocalRelation
    * instead of re-planning the whole [[affectedPacks]] join/aggregate
    * subtree inside the certificate's final job (guide §2.4/§5: the
    * subtree was computed once for the driver-side collect and then
    * AGAIN in-plan — identical inputs, so the LocalRelation is
    * result-identical by construction). */
  private def repackSuffixFromCuts(counts: DataFrame, ids: DataFrame,
                                   cuts: DataFrame): DataFrame = {
    val suffix = counts
      .join(broadcast(ids.select(col("doc_id")).distinct()),
        Seq("doc_id"), "left_anti")
      .join(broadcast(cuts), Seq("lang"))
      .where(col("doc_id") >= col("from_doc"))
    Sampling.packTail(
      suffix
        .select(col("doc_id"), col("lang"), col("seed_offset"),
          col("n_tokens"))
        .withColumn("start_offset",
          col("seed_offset") +
            sum(col("n_tokens")).over(Sampling.strataRunningWindow) -
            col("n_tokens"))
        .drop("seed_offset"))
  }

  /** Targets of an end-to-end takedown — any subset of the stores a
    * corpus feeds. `corpusTableDir` is a versioned corpus table
    * ([[graft.sinks.Sinks.mergePublish]] layout); the index/table
    * paths are the same roots the per-artifact takedowns accept. */
  final case class TakedownTargets(
      corpusTableDir: Option[String] = None,
      lexIndexPath: Option[String] = None,
      posIndexPath: Option[String] = None,
      ivfIndexPath: Option[String] = None,
      pairTablePath: Option[String] = None,
      contentIndexPath: Option[String] = None) {
    private[Takedown] def legs: Seq[(String, String)] = Seq(
      "corpus" -> corpusTableDir, "lex" -> lexIndexPath,
      "pos" -> posIndexPath, "ivf" -> ivfIndexPath,
      "pairs" -> pairTablePath,
      "content" -> contentIndexPath).collect { case (n, Some(p)) => n -> p }
  }

  /** ORCHESTRATED takedown (r14, VERDICT r13 #2): one call propagates
    * an id set into EVERY derived artifact, with a completion MANIFEST
    * — before it, a complete takedown was five calls whose consistency
    * was caller discipline, and a partial failure left artifacts
    * inconsistent with no completion proof.
    *
    * The manifest is one [[graft.sinks.Publish]]-format range ledger
    * per artifact under `manifestDir/<artifact>`, recording the
    * takedownIds that COMPLETED against it. Each leg: skip if the
    * ledger already names the id, else run the (itself idempotent)
    * artifact takedown, then extend the ledger — so a crash anywhere
    * is recovered by REPLAYING the same call until
    * [[manifestComplete]]; a leg that ran but missed its ledger write
    * re-runs harmlessly. The corpus leg derives its D-batch from the
    * ids still present in the current version and rides
    * [[graft.sinks.Sinks.mergePublishCdc]]'s own applied-batch ledger
    * (keyed by this takedownId), so its replay is doubly no-op'd.
    *
    * The id frame is pinned (localCheckpoint) before the first leg: a
    * nondeterministic input must not resolve to different id sets on
    * different legs — THE cross-artifact consistency hazard the
    * orchestrator exists to remove. */
  def takedownAll(spark: SparkSession, ids: DataFrame, takedownId: Long,
                  targets: TakedownTargets, manifestDir: String): Unit =
    takedownAllWith(spark, ids, takedownId, targets, manifestDir)

  /** [[takedownAll]] with the between-legs crash seam exposed for the
    * spec (`beforeLeg` runs before each leg, with its name — the
    * compactPairTableWith betweenCommits pattern): a throw there
    * models the driver dying mid-orchestration, which the manifest
    * replay contract must absorb. */
  private[graft] def takedownAllWith(spark: SparkSession, ids: DataFrame,
                                     takedownId: Long,
                                     targets: TakedownTargets,
                                     manifestDir: String,
                                     beforeLeg: String => Unit =
                                       _ => ()): Unit = {
    require(targets.legs.nonEmpty,
      "takedownAll: no target artifacts — the request would be " +
        "manifested as complete while applied nowhere")
    val mroot = new Path(manifestDir)
    val fs = mroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(mroot)
    val pinned = ids.select(col("doc_id").cast("long").as("doc_id"))
      .distinct().localCheckpoint()
    try targets.legs.foreach { case (name, path) =>
      beforeLeg(name)
      val lp = new Path(mroot, name)
      val done = graft.sinks.Publish.readLedger(fs, lp)
      if (!graft.sinks.Publish.batchApplied(done, takedownId)) {
        name match {
          case "corpus" =>
            val cur = graft.sinks.Sinks.readLatest(spark, path)
            val dels = cur.join(pinned, Seq("doc_id"))
              .withColumn("op", lit("D"))
            // The corpus table's `_applied` ledger is SHARED with the
            // ingest CDC stream's micro-batch ids (r14 review #3): a
            // takedownId colliding with an already-applied ingest id
            // would make the D-batch a silent ledger no-op — the docs
            // stay served while the manifest records the leg complete.
            // Takedown ids therefore ride the ledger in the NEGATIVE
            // namespace, -(id+2) below the -1 bootstrap — the same
            // convention the lex index's correction partials use.
            graft.sinks.Sinks.mergePublishCdc(spark, dels, path,
              Seq("doc_id"), batchId = Some(-(takedownId + 2L)))
          case "lex" => takedownLex(spark, path, pinned, takedownId)
          case "pos" => takedownPos(spark, path, pinned, takedownId)
          case "ivf" => takedownIvf(spark, path,
            pinned.withColumnRenamed("doc_id", "vec_id"), takedownId)
          case "pairs" => takedownPairs(spark, path, pinned, takedownId)
          case "content" => takedownContent(spark, path, pinned, takedownId)
        }
        graft.sinks.Publish.writeLedger(fs, lp,
          graft.sinks.Publish.addBatch(done, takedownId))
      }
    } finally pinned.unpersist()
  }

  /** True when `takedownId` completed against EVERY targeted artifact
    * — the orchestrator's convergence test and the statement a
    * compliance process polls. */
  def manifestComplete(spark: SparkSession, manifestDir: String,
                       takedownId: Long, targets: TakedownTargets): Boolean = {
    val mroot = new Path(manifestDir)
    val fs = mroot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    targets.legs.forall { case (name, _) =>
      graft.sinks.Publish.batchApplied(
        graft.sinks.Publish.readLedger(fs, new Path(mroot, name)),
        takedownId)
    }
  }

  /** The ERASURE CERTIFICATE (r14, VERDICT r13 #2) — the one frame a
    * compliance audit actually asks for: per artifact, the rows a
    * consumer would now be served (`n_live`) and the rows still
    * referencing a taken-down id (`n_dead` — zero everywhere on a
    * complete takedown, COMPUTED from the serve paths, never assumed).
    * The driver's DuckDB twin recomputes every leg from the filtered
    * raw tables, so the certificate is hash-checked against an
    * independent engine, not self-asserted.
    *
    * Legs: the versioned corpus read, the lex postings serve slice
    * (doc, term grain), the positional occurrence slice, the IVF
    * postings, the live pair table (a pair dies when EITHER side is
    * down), and — when `packSource` supplies (standing token counts,
    * standing packs) — the stitched training packs (prefix below the
    * cut + [[repackSuffix]]), whose `n_live` counts packed doc slots
    * and `n_dead` is packed-slots minus live docs: zero exactly when
    * every surviving doc is packed once and no dead doc is packed.
    *
    * The counts frame is the (doc_id, lang, n_tokens) table the pack
    * table itself derives from ([[Sampling.tokenCountsOf]]) — a
    * deployment maintains it as a STANDING table alongside the packs
    * (per-doc rows, so incremental append per ingest batch), and the
    * certificate READS it instead of re-tokenizing the corpus per
    * audit (r16, VERDICT r15 #4: the per-audit tokenize was the
    * certificate's dominant fixed cost). A caller without the standing
    * table passes `Sampling.tokenCountsOf(docs)` and pays the
    * tokenize explicitly. */
  def erasureCertificate(spark: SparkSession, ids: DataFrame,
                         targets: TakedownTargets,
                         packSource: Option[(DataFrame, DataFrame)] = None)
      : DataFrame = {
    val dead = ids.select(col("doc_id").cast("long").as("doc_id"))
      .distinct().localCheckpoint()
    // Each leg is ROW-GRAIN here — (artifact, dead-flag) per served row
    // — and the counting happens ONCE over the union of all legs (r17,
    // VERDICT r16 #2): the r14–r16 form ended every leg in its own
    // global .agg(), i.e. seven single-partition exchanges that AQE
    // materializes as seven separate query stages; the fixed job-count
    // was the certificate's dominant cost at bench SF and the source of
    // its ±50% same-box swing (BASELINE.md). Now the union feeds ONE
    // hash aggregate keyed by artifact (partial map-side per leg scan,
    // a 7-group reduce), so the whole certificate body is one job.
    def leg(name: String, df: DataFrame, idCols: Seq[String]): DataFrame = {
      val flagged = idCols.foldLeft(df.select(idCols.map(col): _*)) {
        (acc, c) =>
          acc.join(broadcast(dead.select(col("doc_id").as(c))
            .withColumn(s"__dead_$c", lit(1))), Seq(c), "left")
      }
      val anyDead = idCols.map(c => col(s"__dead_$c") === 1)
        .reduce(_ || _)
      flagged.select(lit(name).as("artifact"),
        when(anyDead, 1L).otherwise(0L).as("dead"))
    }
    val legs = targets.legs.map {
      case ("corpus", t) =>
        leg("corpus", graft.sinks.Sinks.readLatest(spark, t)
          .select(col("doc_id")), Seq("doc_id"))
      case ("lex", p) =>
        val root = Compaction.resolveRoot(spark, p)
        leg("lex", applyDeletes(
          spark.read.schema(Retrieval.PostingsSchema)
            .parquet(s"$root/postings").select(col("doc_id")),
          s"$root/deletes"), Seq("doc_id"))
      case ("pos", p) =>
        val root = Compaction.resolveRoot(spark, p)
        leg("pos", applyDeletes(
          spark.read.schema(Retrieval.PosSchema)
            .parquet(s"$root/pos").select(col("doc_id")),
          s"$root/deletes"), Seq("doc_id"))
      case ("ivf", p) =>
        val root = Compaction.resolveRoot(spark, p)
        leg("ivf", applyDeletes(
          Similarity.ivfPostings(spark, root).select(col("vec_id")),
          s"$root/deletes", idCol = "vec_id")
          .withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"))
      case ("pairs", p) =>
        leg("pairs", pairTableLive(spark, p)
          .select(col("doc_a"), col("doc_b")), Seq("doc_a", "doc_b"))
      case ("content", p) =>
        val root = Compaction.resolveRoot(spark, p)
        leg("content", ContentIndex.docstore(spark, root)
          .select(col("doc_id")), Seq("doc_id"))
      case (other, _) => throw new IllegalStateException(other)
    }
    // An artifact whose serve path holds ZERO rows produces no group —
    // backfill from the driver-known leg list so the certificate always
    // carries one row per audited artifact (n_live = n_dead = 0), the
    // same contract the per-leg global aggregates gave for free. A
    // pack-only certificate (no index legs) skips the body entirely.
    val body =
      if (targets.legs.isEmpty) None
      else {
        val counted = legs.reduce(_ unionByName _)
          .groupBy(col("artifact"))
          .agg(count(lit(1)).as("n_rows"), sum(col("dead")).as("n_dead"))
        val nameFrame = spark
          .createDataFrame(targets.legs.map(l => Tuple1(l._1)))
          .toDF("artifact")
        Some(nameFrame.join(broadcast(counted), Seq("artifact"), "left")
          .select(col("artifact"),
            coalesce(col("n_rows") - col("n_dead"), lit(0L)).as("n_live"),
            coalesce(col("n_dead"), lit(0L)).as("n_dead")))
      }
    val packLeg = packSource.map { case (counts, packs) =>
      packCertLeg(counts, dead, packs, suffixScoped = true)
    }
    (body.toSeq ++ packLeg).reduce(_ unionByName _)
  }

  /** The certificate's PACK leg: one row
    * ('packs', n_live = packed doc slots, n_dead = |symmetric
    * difference between the stitched packs a training run would read
    * and a from-scratch repack of the purged corpus|) — n_dead zero
    * iff the two plans are bit-identical at pack-row grain. (r14
    * review #7: a packed-slots-minus-live-docs difference lets a
    * packed DEAD doc and a dropped LIVE doc cancel to zero — a
    * compliance certificate must not pass on cancellation.)
    *
    * `suffixScoped = true` (the production form — r15, VERDICT r14
    * #2) bounds BOTH sides of the proof to where disagreement can
    * live:
    *
    *  - The from-scratch repack runs only over the AFFECTED langs'
    *    strata (langs untouched by the takedown keep their standing
    *    packs in `stitched` verbatim, and the packer is deterministic
    *    — [[Sampling.packSequencesOf]]'s per-stratum window makes a
    *    lang's packs a function of that lang's docs alone — so
    *    untouched langs contribute zero difference rows BY
    *    CONSTRUCTION, pinned by TakedownSpec's scoped≡full case).
    *  - The symmetric difference is restricted to
    *    `pack_id >= from_pack_id` per affected lang: below the cut no
    *    doc was removed, so offsets — prefix sums over preceding
    *    live docs only — are unchanged and the deterministic packer
    *    reproduces the standing prefix bit for bit (the prefix
    *    identity TakedownSpec already pins).
    *
    *  The scoped form still catches corruption BELOW the cut that a
    *  suffix proof must see: a misaligned standing pack table (e.g. a
    *  wrong prefix n_tokens) feeds [[affectedPacks]]'s seed_offset,
    *  shifts every stitched suffix pack, and surfaces as suffix
    *  difference rows — TakedownSpec crafts exactly that case and
    *  asserts both forms flag it. What it deliberately does NOT
    *  re-prove is prefix fields the packer's determinism already
    *  covers; the full form (`suffixScoped = false`, the r14
    *  shape) remains for audits that want the corpus-order
    *  re-derivation. Cost: O(affected strata) packer + O(suffix)
    *  excepts, vs a full corpus repack plus two full-table excepts
    *  per certificate — at 100 TB the difference is the audit being
    *  routine vs being a budget line. */
  private[graft] def packCertLeg(countsIn: DataFrame, dead: DataFrame,
                                 packs: DataFrame,
                                 suffixScoped: Boolean): DataFrame = {
    // GUARD (r15): scope by the langs that HAVE dead docs, not by the
    // langs where [[affectedPacks]] FOUND a cut — on a corrupted
    // standing pack table whose doc ranges contain no dead doc, the
    // cut set is empty, and a cut-driven scope would compare nothing
    // and certify the corruption clean (the stale-ranges case the r14
    // spec pins). A dead lang with no cut row scopes to
    // from_pack_id = Long.MinValue: its standing packs leave the
    // stitched plan (nothing below MinValue) and the whole stratum
    // enters the symmetric difference against the from-scratch repack
    // — n_dead goes nonzero, loudly.
    // The counts frame arrives as the STANDING (doc_id, lang,
    // n_tokens) table (r16 — the certificate reads, never
    // re-tokenizes; see [[erasureCertificate]]); it is still pinned
    // because the packer passes below wrap it in DIFFERENT join/window
    // subtrees (seeded suffix vs from-scratch vs cut detection), so
    // exchange reuse cannot dedup them — lazily each would re-scan the
    // table per consumer. The pin costs one blocking job; three
    // consumers read it.
    val counts = countsIn.localCheckpoint()
    // Collected ONCE (bounded: one row per affected lang) and rebuilt
    // as a driver-local relation — its join consumers then broadcast a
    // LocalRelation with zero extra jobs, where a pinned distributed
    // frame would still schedule a stage per consumer (at bench SF the
    // pack leg is job-overhead-bound, r15). r17: the collect now also
    // carries from_doc/seed_offset, so the suffix repack inside the
    // final job reads the SAME LocalRelation instead of re-planning the
    // whole [[affectedPacks]] subtree a second time (one job computed
    // it here already — identical inputs, identical rows).
    val spark = countsIn.sparkSession
    val cutRows: Seq[(String, Long, Option[Long], Option[Long])] = counts
      .join(broadcast(dead.select(col("doc_id")).distinct()), "doc_id")
      .select(col("lang")).distinct()
      .join(broadcast(affectedPacks(counts, dead, packs)), Seq("lang"), "left")
      .select(col("lang"),
        coalesce(col("from_pack_id"), lit(Long.MinValue))
          .as("from_pack_id"),
        col("from_doc"), col("seed_offset"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        if (r.isNullAt(3)) None else Some(r.getLong(3)))).toSeq
    val affected = spark.createDataFrame(cutRows.map(t => (t._1, t._2)))
      .toDF("lang", "from_pack_id")
    // The RAW cut rows (a lang with dead docs but NO cut keeps its
    // Long.MinValue marker in `affected` — loud-failure scoping — but
    // must NOT enter the suffix repack, exactly as the inner join on
    // [[affectedPacks]]'s output excluded it before).
    val cutsLocal = spark.createDataFrame(cutRows.collect {
        case (l, fp, Some(fd), Some(so)) => (l, fp, fd, so) })
      .toDF("lang", "from_pack_id", "from_doc", "seed_offset")
    val prefix = packs.join(broadcast(affected), Seq("lang"), "left")
      .where(col("from_pack_id").isNull ||
        col("pack_id") < col("from_pack_id"))
      .drop("from_pack_id")
    val stitched = prefix.unionByName(
      repackSuffixFromCuts(counts, dead, cutsLocal))
    val purged = counts.join(broadcast(dead), Seq("doc_id"), "left_anti")
    // Project BOTH sides through one explicit column list before the
    // excepts (r14 review, second pass): exceptAll resolves
    // POSITIONALLY, five of the six columns are BIGINT, and a
    // caller-supplied pack table with the same columns in a
    // different order would silently compare misaligned columns —
    // a bogus certificate either way.
    val packCols = Seq("lang", "pack_id", "n_docs", "n_tokens",
      "first_doc", "last_doc").map(col)
    val (st, fl) =
      if (suffixScoped) {
        val fullAff = Sampling.packSequencesOfCounts(
          purged.join(broadcast(affected.select(col("lang"))), Seq("lang")))
        // When every cut sits at (or below) its stratum's first pack,
        // the "suffix" is the whole stratum: the pack_id restriction
        // would keep every row while adding broadcast stages (measured
        // +36% on the pack leg at ×10 — the fixture's doc_id%5 takedown
        // set lands exactly there, as does any takedown touching a
        // stratum's earliest docs), so skip only the RANGE predicate.
        // The LANG restriction must stay on BOTH sides (r16, ADVICE r15
        // high): `stitched` carries unaffected langs' standing packs via
        // the prefix join's isNull branch, while `fullAff` is inner-
        // joined to affected langs — comparing the whole stitched frame
        // put every untouched lang's packs into the symmetric difference
        // and certified a CLEAN subset-of-langs takedown as corrupt
        // (n_dead > 0). TakedownSpec pins the case: one-lang takedown,
        // cut at pack 0, other langs untouched.
        def suffixOf(df: DataFrame): DataFrame =
          df.join(broadcast(affected), Seq("lang"))
            .where(col("pack_id") >= col("from_pack_id"))
            .select(packCols: _*)
        if (cutRows.forall(_._2 <= 0L))
          (stitched.join(broadcast(affected.select(col("lang"))),
              Seq("lang")).select(packCols: _*),
            fullAff.select(packCols: _*))
        else (suffixOf(stitched), suffixOf(fullAff))
      } else {
        val full = Sampling.packSequencesOfCounts(purged)
        (stitched.select(packCols: _*), full.select(packCols: _*))
      }
    // Multiset symmetric difference as ONE signed-count aggregate (r17
    // optimization round, guide §2.3/§2.4): the double exceptAll planned
    // BOTH window-repack subtrees twice (each exceptAll re-plans both
    // inputs — Catalyst has no cross-operator subtree dedup), which at
    // bench SF made the pack leg 2/3 of the certificate row and at ×100
    // doubled its true scan work. |st Δ fl| ≡ Σ_rows |mult_st − mult_fl|
    // = sum(abs(sum(±1))) grouped by the pack row — st and fl each enter
    // the plan ONCE, one hash-aggregate exchange replaces the excepts'
    // two, and null grouping keys compare null-safe exactly as exceptAll
    // compares them. TakedownSpec's clean/corrupt/scoped≡full cases pin
    // the rewrite; the certificate row stays hash-checked by the oracle.
    val nDead = st.withColumn("__side", lit(1L))
      .unionByName(fl.withColumn("__side", lit(-1L)))
      .groupBy(packCols: _*)
      .agg(sum(col("__side")).as("__d"))
      .agg(coalesce(sum(abs(col("__d"))), lit(0L)).as("n_dead"))
    stitched.agg(coalesce(sum(col("n_docs")), lit(0L)).as("n_live"))
      .crossJoin(nDead)
      .select(lit("packs").as("artifact"), col("n_live"), col("n_dead"))
  }

  /** Resolve a CONTENT-ADDRESSED takedown request (r14, VERDICT r13
    * #4): real requests name passages/URLs, not doc_ids. Semantics:
    * token-boundary containment — a document matches when the
    * passage's token sequence appears as CONSECUTIVE document tokens
    * (the right contract for a quoted-text takedown; normText collapses
    * whitespace so the match is layout-insensitive). Two tiers:
    *
    *  1. CANDIDATES by shingle probe: the passage's first 3-token
    *     shingle (broadcast — requests are small by nature) joins the
    *     corpus shingle stream, so the exchange carries only colliding
    *     shingles. Complete by construction: token-boundary containment
    *     implies every passage shingle — in particular the first — is a
    *     document shingle. Contract: passages carry >= 3 tokens
    *     (enforced); shorter requests must go by id. The corpus-grain
    *     shingle pass is shared across the whole request batch — at
    *     100 TB a standing shingle index (the lex-postings layout over
    *     block keys) replaces it; the verify tier is unchanged.
    *  2. VERIFY by exact padded containment — candidates only.
    *
    * Optional expansion: near-dup neighbors of every exact match from
    * the standing pair table ([[pairTableLive]] — already
    * takedown-aware), labeled `via='neardup'`; exact matches win the
    * label when a doc is both. The result feeds [[takedownAll]]. */
  def resolveTakedownContent(docs: DataFrame, passages: DataFrame,
                             pairTablePath: Option[String] = None,
                             idPushdownCap: Long =
                               ScaleEnvelope.ContentIdPushdownCap)
      : DataFrame = {
    val spark = docs.sparkSession
    val p = passagePrep(passages)
    val sh = docs.select(col("doc_id"),
      explode(TextOps.shingles(TextOps.tokens(col("text")))).as("sh"))
    val cand = sh.join(broadcast(p), col("sh") === col("probe"))
      .select(col("doc_id"), col("passage_id")).distinct()
    val candText = cand
      .join(docs.select(col("doc_id"),
        TextOps.normText(col("text")).as("norm_text")), "doc_id")
      .select(col("passage_id"), col("doc_id"), col("norm_text"))
    contentExpandTail(spark,
      exactTier(candText, p).localCheckpoint(), pairTablePath,
      idPushdownCap)
  }

  /** [[resolveTakedownContent]] answered ENTIRELY from the standing
    * content index (r15, VERDICT r14 next #1 — the serve-grade form):
    *
    *  1. CANDIDATES from the persisted shingle postings, PARTITION-
    *     PRUNED to the probes' hash buckets — the per-request corpus
    *     shingle explode is gone; the scan touches |request-batch
    *     distinct probes| of [[ContentIndex.ShingleBuckets]] bucket
    *     directories. (The bucket values are collected driver-side —
    *     bounded by the request batch, the same class as the one-row
    *     bounds probes — because partition pruning needs literals.)
    *  2. VERIFY by the SAME exact padded-containment tail, reading
    *     candidate texts from the index's docstore (never the
    *     `documents` table — PlanAuditSpec pins the serve plan corpus-
    *     scan-free); candidates broadcast into the bucketed docstore
    *     (requests are small by nature — the [[applyDeletes]]
    *     contract).
    *
    * Build/serve identity: the tail is shared by definition, the
    * docstore's norm_text is the same [[TextOps.normText]] the inline
    * form computes, and [[ContentIndex]] dedups shingles per doc just
    * as the inline candidate tier's distinct does — so the result is
    * hash-identical to the inline resolver over the same live corpus
    * (the driver oracle pins it: q_takedown_by_content_served shares
    * q_takedown_by_content's twin verbatim). Takedown-aware end to
    * end: both index readers anti-join `deletes/`. */
  def resolveTakedownContentServed(spark: SparkSession, indexPath: String,
                                   passages: DataFrame,
                                   pairTablePath: Option[String] = None,
                                   idPushdownCap: Long =
                                     ScaleEnvelope.ContentIdPushdownCap)
      : DataFrame =
    contentExpandTail(spark,
      servedExact(spark, indexPath, passages, idPushdownCap)
        .localCheckpoint(),
      pairTablePath, idPushdownCap)

  /** The served resolver's probe + verify tiers, UP TO the exact-match
    * frame (before the pin that feeds the expansion joins) — exposed
    * private[graft] so PlanAuditSpec can audit the real production
    * subtree (the localCheckpoint in the public form truncates it out
    * of the final plan, the IVF-seed precedent). */
  private[graft] def servedExact(spark: SparkSession, indexPath: String,
                                 passages: DataFrame,
                                 idPushdownCap: Long =
                                   ScaleEnvelope.ContentIdPushdownCap)
      : DataFrame = {
    val root = Compaction.resolveRoot(spark, indexPath)
    // Pinned: the frame feeds a driver-side bucket collect, the probe
    // join, and the verify join — a nondeterministic request source
    // must resolve to ONE passage set across them (the takedownAll
    // id-pinning argument).
    val p = passagePrep(passages).localCheckpoint()
    val buckets = p
      .select(ContentIndex.shingleBucket(col("probe")).as("sb"))
      .distinct().collect().map(_.getLong(0)).toSeq
    // Candidates pinned: they feed a driver-side doc-bucket collect
    // (≤ DocBuckets distinct values — bounded by the layout, not the
    // data) and the verify join; without the pin the probe join would
    // re-run per consumer.
    val cand = candidatesOf(spark, root, p, buckets).localCheckpoint()
    // Candidate ids: COUNTED before anything is collected (r16,
    // VERDICT r15 #2 — the set is bounded by CORPUS match cardinality,
    // not request size; a boilerplate probe can make it corpus-scale).
    // At or below [[ScaleEnvelope.ContentIdPushdownCap]] the ids are
    // collected and PUSHED INTO the docstore scan along with their db
    // buckets: the bucket filter prunes directories, the IN-list
    // prunes ROW GROUPS inside them (the build sorts each bucket by
    // doc_id precisely so these stats are tight) — without the
    // pushdown the stored-text scan read every live doc's norm_text
    // and the serve cost equaled the inline resolver's (r15 ×100
    // measurement). Above the cap the driver never sees the ids: the
    // db-bucket dirs still prune (distinct db values are LAYOUT-
    // bounded — ≤ DocBuckets — so that collect stays O(64) whatever
    // the match count), and the id restriction becomes a distributed
    // shuffle-hash join against the pinned candidate frame instead of
    // a literal tree + driver broadcast. Both branches produce the
    // same rows; TakedownSpec forces a corpus-wide boilerplate passage
    // through each and compares.
    // ONE driver round-trip decides the branch AND (in the common,
    // below-cap case) delivers both literal sets (r17 optimization
    // round, guide §5 — the serve path's fixed cost is its SEQUENTIAL
    // driver-action count, ~0.2 s of scheduling each at bench SF):
    // `db` is a pure function of doc_id, so distinct (db, doc_id) rows
    // ≡ distinct resolved ids, and collecting `cap+1` of them answers
    // `contentPushdownByLiteral(nIds, cap)` exactly — length ≤ cap ⟺
    // the id cardinality is within the cap, in which case the limit
    // returned the COMPLETE set (deterministic despite `limit` being
    // order-arbitrary). Replaces the r16 count + ids-collect +
    // db-collect chain (three blocking jobs) with one; the driver
    // bound is unchanged — ≤ cap+1 rows ≈ 1.6 MB, the documented
    // ScaleEnvelope budget. Above the cap the ids never reach the
    // driver (the envelope's point); only then is the layout-bounded
    // (≤ DocBuckets) db set collected separately for dir pruning.
    val idRows = cand.select(col("db"), col("doc_id")).distinct()
      .limit(math.min(idPushdownCap + 1, Int.MaxValue.toLong).toInt).collect()
    val candText =
      (if (ScaleEnvelope.contentPushdownByLiteral(idRows.length,
          idPushdownCap)) {
        val store = ContentIndex.docstore(spark, root)
          .where(col("db").isin(idRows.map(_.getLong(0)).distinct.toSeq: _*))
        store.where(col("doc_id").isin(
            idRows.map(_.getLong(1)).toSeq: _*))
          .join(broadcast(cand), Seq("db", "doc_id"))
      } else {
        val dbBuckets = cand.select(col("db")).distinct()
          .collect().map(_.getLong(0)).toSeq
        ContentIndex.docstore(spark, root)
          .where(col("db").isin(dbBuckets: _*))
          .join(cand.hint("shuffle_hash"), Seq("db", "doc_id"))
      }).select(col("passage_id"), col("doc_id"), col("norm_text"))
    exactTier(candText, p)
  }

  /** The served CANDIDATE tier — probe-bucket-pruned shingle postings
    * equi-joined on the exact probe shingle. One definition for the
    * resolver and for [[servedCandidates]] (the PlanAuditSpec seam —
    * the resolver pins this frame, which truncates its scan out of
    * downstream final plans). */
  private def candidatesOf(spark: SparkSession, root: String, p: DataFrame,
                           buckets: Seq[Long]): DataFrame =
    ContentIndex.shinglePostings(spark, root, buckets)
      .join(broadcast(p), col("sh") === col("probe"))
      .select(col("doc_id"), col("passage_id")).distinct()
      .withColumn("db", ContentIndex.docBucket(col("doc_id")))

  /** The candidate tier as the production code builds it, pre-pin —
    * exposed for plan auditing only. */
  private[graft] def servedCandidates(spark: SparkSession, indexPath: String,
                                      passages: DataFrame): DataFrame = {
    val root = Compaction.resolveRoot(spark, indexPath)
    val p = passagePrep(passages).localCheckpoint()
    val buckets = p
      .select(ContentIndex.shingleBucket(col("probe")).as("sb"))
      .distinct().collect().map(_.getLong(0)).toSeq
    candidatesOf(spark, root, p, buckets)
  }

  /** Shared passage preparation: normalized passage text + the
    * first-3-token probe shingle, with the completeness guard
    * (token-boundary containment implies every passage shingle — in
    * particular the first — is a document shingle; below 3 tokens the
    * probe tier cannot guarantee completeness). */
  private def passagePrep(passages: DataFrame): DataFrame = {
    val p = passages.select(col("passage_id"),
        TextOps.normText(col("passage")).as("p_norm"),
        TextOps.tokens(col("passage")).as("p_toks"))
      .withColumn("probe", concat_ws(" ", slice(col("p_toks"), 1, 3)))
      .drop("p_toks")
    val tooShort = p.where(size(split(col("probe"), " ")) < 3)
    require(tooShort.isEmpty,
      "resolveTakedownContent: a passage carries fewer than 3 tokens — " +
        "the shingle-probe candidate tier cannot guarantee completeness " +
        "below the shingle width; resolve such requests by id")
    p
  }

  /** The ONE exact-containment verify both content resolvers share
    * (the bm25ScoreTail discipline — build/serve identity by shared
    * definition): exact padded containment on candidates only.
    * `candText` is any (passage_id, doc_id, norm_text) candidate
    * frame. */
  private def exactTier(candText: DataFrame, p: DataFrame): DataFrame =
    candText
      .join(broadcast(p), "passage_id")
      .where(contains(
        concat(lit(" "), col("norm_text"), lit(" ")),
        concat(lit(" "), col("p_norm"), lit(" "))))
      .select(col("passage_id"), col("doc_id"))

  /** The ONE near-dup-expansion tail both content resolvers share:
    * optional neighbor expansion through the live pair table, exact
    * matches winning the label. `exact` arrives PINNED
    * (localCheckpoint) — it feeds the result and both expansion
    * joins. */
  private def contentExpandTail(spark: SparkSession, exact: DataFrame,
                                pairTablePath: Option[String],
                                idPushdownCap: Long =
                                  ScaleEnvelope.ContentIdPushdownCap)
      : DataFrame =
    pairTablePath match {
      case None => exact.withColumn("via", lit("exact"))
      case Some(pp) =>
        // Seed ids COUNTED before collecting (r16, VERDICT r15 #2 —
        // the resolved set is bounded by corpus match cardinality, not
        // request size). At or below the cap they are collected and
        // PUSHED INTO the pair scan: the predicate turns two wholesale
        // pair-table scans (one per orientation) into ONE scan that
        // materializes only rows touching a seed — at ×100 the
        // standing pair table is the corpus's whole near-dup structure
        // and scanning it per request was most of the resolver's cost,
        // inline AND served (r15 measurement). Above the cap the seeds
        // never reach the driver: each orientation SEMI-joins the pair
        // table against the pinned exact frame (two scans — the price
        // of staying distributed — but each exchange carries only pair
        // keys, and no multi-million-literal In tree is planned). The
        // touched frame is pinned either way; both expansion
        // orientations read the pinned sliver.
        // Branch decision and (below-cap) seed set in ONE driver
        // round-trip (r17, guide §5 — the servedExact limit-collect
        // pattern): `seedRows.length ≤ cap` ⟺
        // `contentPushdownByLiteral(n_distinct, cap)`, and at ≤ cap the
        // limit returned the complete set.
        val seedFrame = exact.select(col("doc_id")).distinct()
        val seedRows = seedFrame
          .limit(math.min(idPushdownCap + 1, Int.MaxValue.toLong).toInt)
          .collect()
        val touched = (if (ScaleEnvelope.contentPushdownByLiteral(
            seedRows.length, idPushdownCap)) {
            val seeds = seedRows.map(_.getLong(0)).toSeq
            // distinct matches the distributed branch's discipline
            // (r17, ADVICE r16): the pair table is duplicate-free by
            // the serve-time distinct upstream, but the two branches
            // must not RELY on different invariants for their row
            // multiplicity to agree — the frame is request-sliver
            // sized, so the exchange is noise.
            pairTableLive(spark, pp)
              .where(col("doc_a").isin(seeds: _*) ||
                col("doc_b").isin(seeds: _*))
              .select(col("doc_a"), col("doc_b"))
              .distinct()
          } else {
            val pt = pairTableLive(spark, pp)
              .select(col("doc_a"), col("doc_b"))
            pt.join(seedFrame.hint("shuffle_hash")
                .withColumnRenamed("doc_id", "doc_a"),
                Seq("doc_a"), "left_semi")
              .unionByName(pt.join(seedFrame.hint("shuffle_hash")
                .withColumnRenamed("doc_id", "doc_b"),
                Seq("doc_b"), "left_semi"))
              .distinct()
          })
          .localCheckpoint()
        val viaA = exact
          .join(touched.select(col("doc_a").as("doc_id"),
            col("doc_b").as("nb")), "doc_id")
          .select(col("passage_id"), col("nb").as("doc_id"))
        val viaB = exact
          .join(touched.select(col("doc_b").as("doc_id"),
            col("doc_a").as("nb")), "doc_id")
          .select(col("passage_id"), col("nb").as("doc_id"))
        val expanded = viaA.unionByName(viaB).distinct()
          .join(exact, Seq("passage_id", "doc_id"), "left_anti")
          .withColumn("via", lit("neardup"))
        exact.withColumn("via", lit("exact")).unionByName(expanded)
    }
}

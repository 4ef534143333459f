package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}
import graft.sinks.Publish

/** Exactly-once, READER-ATOMIC compaction for the batch_id-accreting
  * indexes (r13; generation protocol r14 — VERDICT r13 #1): every
  * streaming-maintained index (lex, pos, pair/signature, IVF) lands
  * each micro-batch under its own `batch_id=N` partition forever —
  * exactly-once by layout, but at one micro-batch a minute a year-old
  * index carries ~500k partitions per table and LISTING becomes the
  * scan. This pass folds all existing batch partitions into ONE
  * (`batch_id=<max folded id>`), applies any logical [[Takedown]]
  * deletes physically, and clears them — after which serves are
  * byte-identical and discovery is O(1) again.
  *
  * == The generation protocol ==
  *
  * A fold never mutates the directory readers are scanning. The index
  * ROOT is versioned with the SAME marker machinery the corpus tables
  * use ([[Publish]]): generation `n` lives at `<indexPath>/v=n`, the
  * commit point is the token-verified marker `_latest/n`, and readers
  * resolve their generation ONCE per query ([[resolveRoot]] — the flat
  * `indexPath` itself until the first fold, for one-shot and
  * stream-bootstrapped layouts). Phases:
  *
  *  1. MATERIALIZE — the consolidated, delete-purged content of the
  *     ENTIRE next generation (all subdirs, the `_folded` ledgers, the
  *     claim token) is written under a hidden `.genstage-*` dir.
  *  2. CLAIM — one rename to `v=<n+1>`. Invisible to readers (no
  *     marker); the no-overwrite rename is the only-one-compactor
  *     check.
  *  3. COMMIT — [[Publish.commitMarker]] writes `_latest/<n+1>`
  *     naming the claim token. This single metadata op is the reader
  *     flip: a query that resolved before it reads generation n (still
  *     fully present), one that resolves after reads n+1 — never a
  *     half-state, never a missing file.
  *  4. CLEANUP — generations OLDER than n are reaped (marker first,
  *     then data — either crash prefix is re-reaped next fold);
  *     generation n itself is retained for queries in flight across
  *     the flip, the corpus tables' keepLast=1 retention.
  *
  * Crash discipline collapses to two cases, both handled by
  * [[recoverGen]] at the next compact: a `.genstage-*` (crash in 1) or
  * an UNMARKED `v=` dir (crash between 2 and 3) is re-derivable debris
  * and is dropped; from the marker onward the fold has happened and
  * only cleanup can be outstanding. The r13 in-place swap's
  * quiesce-or-retry contract for concurrent READERS is gone — that is
  * the point of the protocol. Concurrent WRITERS during a fold remain
  * out of contract (single maintenance actor — the self-triggering
  * stream form serializes them by construction), as does a second
  * concurrent compactor (its claim rename fails loudly).
  *
  * == Exactly-once across the fold ==
  *
  * Replays are kept out by two LEDGERS (the [[Publish]] range format:
  * `lo-hi` lines, symbolic end to end), each riding INSIDE its
  * generation — so "data folded" and "ledger extended" commit in the
  * same atomic marker flip (the r13 layout's ledger-then-swap window
  * is gone too):
  *
  *  - `<gen>/_folded` — ingest batch ids folded so far. The batch
  *    builders ([[Retrieval.buildLexIndexBatch]] etc.) consult it and
  *    NO-OP a replayed id whose `batch_id=N` partition no longer
  *    exists (pre-fold, the partition itself was the dedup:
  *    mode=overwrite into its own dir; post-fold, re-writing it would
  *    double-count).
  *  - `<gen>/deletes/_folded` — takedown ids whose deletes were
  *    applied physically. [[Takedown]] writers consult it: a replayed
  *    takedown whose ids are already purged must not re-stamp a
  *    negative stats partial (double-subtraction). */
object Compaction {

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Resolve the CURRENT generation root of an index: `indexPath/v=n`
    * once a fold has published a generation (highest servable marker —
    * token-verified, [[Publish.currentVersion]]), the flat `indexPath`
    * itself before. Every reader and writer of a compactable index
    * resolves through here ONCE per operation, which is what makes the
    * fold's marker flip atomic for them. Idempotent: a generation dir
    * carries no `_latest` of its own, so resolving a resolved path
    * returns it unchanged. */
  def resolveRoot(spark: SparkSession, indexPath: String): String = {
    val (fs, root) = fsOf(spark, indexPath)
    val gen = currentGen(fs, root)
    if (gen > 0) s"$indexPath/v=$gen" else indexPath
  }

  /** The current generation NUMBER (0 = still flat / never folded).
    * Only a marker dir that is genuinely ABSENT (or vanished mid-list)
    * reads as flat; any other listing failure PROPAGATES — a swallowed
    * transient on a compacted index would silently misroute reads to
    * the stale flat root and writes into a root no future resolve ever
    * reads (r14 review #5: on an object store that is silent data
    * loss, where failing loudly costs one retry). */
  private def currentGen(fs: FileSystem, root: Path): Int = {
    val md = new Path(root, Publish.MarkerDir)
    val hasGen = fs.exists(md) && {
      try fs.listStatus(md).exists(_.getPath.getName.toIntOption.nonEmpty)
      catch { case _: java.io.FileNotFoundException => false }
    }
    if (hasGen) Publish.currentVersion(fs, root) else 0
  }

  /** The folded-ingest-batch ledger of an index (read from the current
    * generation). */
  def foldedBatches(spark: SparkSession, indexDir: String): Seq[(Long, Long)] = {
    val cur = resolveRoot(spark, indexDir)
    val (fs, p) = fsOf(spark, cur)
    Publish.readLedger(fs, new Path(p, "_folded"))
  }

  /** True when `batchId`'s partition was folded away — the batch
    * builders' replay guard. */
  def isFolded(spark: SparkSession, indexDir: String, batchId: Long): Boolean =
    Publish.batchApplied(foldedBatches(spark, indexDir), batchId)

  /** The folded-takedown ledger under a RESOLVED deletes dir ([[Takedown]]
    * resolves the index root before building the path). */
  def foldedTakedowns(spark: SparkSession, deletesDir: String): Seq[(Long, Long)] = {
    val (fs, p) = fsOf(spark, deletesDir)
    Publish.readLedger(fs, new Path(p, "_folded"))
  }

  def isTakedownFolded(spark: SparkSession, deletesDir: String,
                       takedownId: Long): Boolean =
    Publish.batchApplied(foldedTakedowns(spark, deletesDir), takedownId)

  /** True when an index has accreted enough batch partitions — or
    * enough logical-delete partitions sitting on the serve path's
    * anti-join — to warrant a fold: the SELF-TRIGGERING signal the
    * streaming maintenance paths poll each micro-batch (r14, VERDICT
    * r13 #5 — before this, serve-path takedown cost grew until someone
    * remembered to run compact*Index by hand). One listing of the
    * current generation; `threshold <= 0` disables. `sub` is the
    * accreting subdir ("" for tables whose batch partitions live at
    * the root, like the pair table). */
  def compactionDue(spark: SparkSession, indexPath: String, sub: String,
                    deletesSub: String, threshold: Int): Boolean =
    threshold > 0 && {
      val cur = resolveRoot(spark, indexPath)
      val (fs, p) = fsOf(spark, cur)
      def at(s: String) = if (s.isEmpty) p else new Path(p, s)
      // Mirror the fold's own never-built check (ADVICE r14): when the
      // accreting content was never built — a takedown stream racing
      // ahead of its ingest twin — the fold is a guaranteed no-op, and
      // firing on the accreting DELETES count alone would pay a wasted
      // resolve+list+compact call every micro-batch until content
      // arrives. With this guard the per-batch poll stays a single
      // cheap existence probe in that state. For root-accreting tables
      // (sub = "", the pair table) "built" means a non-hidden entry
      // exists — takedown debris is all `_`-prefixed.
      val built =
        if (sub.isEmpty)
          fs.exists(p) && fs.listStatus(p).exists { s =>
            val n = s.getPath.getName
            !n.startsWith("_") && !n.startsWith(".")
          }
        else fs.exists(at(sub))
      built && (batchIds(fs, at(sub)).size >= threshold ||
        batchIds(fs, at(deletesSub)).size >= threshold)
    }

  /** Batch ids present as `batch_id=N` children of one subdir. */
  private[operators] def batchIds(fs: FileSystem, dir: Path): Seq[Long] =
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("batch_id="))
      .flatMap(_.getPath.getName.stripPrefix("batch_id=").toLongOption)

  /** Drop crash debris of an interrupted fold: `.genstage-*` (died in
    * MATERIALIZE) and unmarked `v=` dirs (died between CLAIM and
    * COMMIT — also the tail of a marker-first CLEANUP). Both are
    * re-derivable from the still-live previous generation; nothing a
    * reader can resolve is touched. Runs at the start of every
    * compact; single-maintenance-actor contract makes it race-free. */
  private def recoverGen(fs: FileSystem, root: Path): Unit = {
    if (!fs.exists(root)) return
    val md = new Path(root, Publish.MarkerDir)
    fs.listStatus(root).toSeq.foreach { s =>
      val n = s.getPath.getName
      if (s.isDirectory && n.startsWith(".genstage-"))
        fs.delete(s.getPath, true)
      else if (s.isDirectory && n.startsWith("v=") &&
          n.stripPrefix("v=").toIntOption
            .exists(g => !fs.exists(new Path(md, g.toString))))
        fs.delete(s.getPath, true)
    }
  }

  /** Phases 1–4 shared by every index form: `build` materializes the
    * full next-generation content into the hidden stage; then claim
    * rename, marker commit, and retention reap (generations < the
    * previous one; the flat pre-generation entries — selected by
    * `flatEntry` — count as generation 0 and are reaped once
    * generation 2 commits). */
  private def publishGeneration(spark: SparkSession, indexPath: String,
                                flatEntry: String => Boolean)
                               (build: Path => Unit): Unit = {
    val (fs, root) = fsOf(spark, indexPath)
    val cur = currentGen(fs, root)
    val stage = new Path(root,
      s".genstage-${java.util.UUID.randomUUID.toString.take(8)}")
    try build(stage)
    catch { case e: Throwable => fs.delete(stage, true); throw e }
    val token = java.util.UUID.randomUUID.toString
    fs.create(new Path(stage, s"_claim-$token"), false).close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      root.toUri, spark.sparkContext.hadoopConfiguration)
    // No-overwrite: a competing compactor (out of contract) fails here
    // loudly instead of cross-wiring two folds.
    fc.rename(stage, new Path(root, s"v=${cur + 1}"),
      org.apache.hadoop.fs.Options.Rename.NONE)
    Publish.commitMarker(spark, indexPath, Publish.Claim(cur + 1, token))
    // CLEANUP: keep generation `cur` for readers in flight across the
    // flip; everything older is unreachable by any future resolve.
    // Reap by LISTING the marker dir once, not by probing every
    // historical generation number (ADVICE r14: the counter grows
    // unboundedly under a self-compacting stream, so per-number probes
    // make cumulative metadata ops quadratic — real cost/rate-limit
    // exposure on object stores, and it contradicted the listing-cost
    // motivation for compaction). Marker first, then data: a crash
    // after the marker delete leaves an unmarked dir recoverGen reaps
    // at the next fold; a crash before it leaves the generation intact
    // for the next fold's sweep.
    val md = new Path(root, Publish.MarkerDir)
    val staleGens =
      (try fs.listStatus(md).toSeq.flatMap(_.getPath.getName.toIntOption)
       catch { case _: java.io.FileNotFoundException => Nil })
        .filter(_ < cur)
    staleGens.foreach { g =>
      fs.delete(new Path(md, g.toString), false)
      fs.delete(new Path(root, s"v=$g"), true)
    }
    if (cur >= 1)
      fs.listStatus(root).toSeq.foreach { s =>
        val n = s.getPath.getName
        if (!n.startsWith("v=") && n != Publish.MarkerDir && flatEntry(n))
          fs.delete(s.getPath, true)
      }
  }

  private def lexFlat(n: String): Boolean =
    Set("postings", "doclens", "stats", "deletes", "_folded").contains(n)

  /** The shared fold decision: resolve the current generation,
    * enumerate accreted ingest batches and pending takedown batches,
    * and pick the fold id. None = nothing to do. A DELETES-ONLY fold
    * (a one-shot flat index, or an already-consolidated one, under a
    * takedown stream) is REAL work and folds under the bootstrap id -1
    * — never a stream id, so the output partition collides with
    * nothing (r14 review #4: an ingest-empty early return starved
    * exactly that case — compactionDue kept firing on the accreting
    * deletes while the fold never ran and the serve-path deleted-set
    * broadcast grew without bound). The pinned-schema reads below
    * handle the flat layouts transparently (no batch_id column is
    * discovered; none is selected). */
  private case class FoldPlan(cur: String, ingest: Seq[Long],
                              takedowns: Seq[Long], foldId: Long,
                              newFolded: Seq[(Long, Long)],
                              newTd: Seq[(Long, Long)])

  private def foldPlan(spark: SparkSession, indexPath: String,
                       accretingSub: String, deletesSub: String)
      : Option[FoldPlan] = {
    val (fs, root) = fsOf(spark, indexPath)
    recoverGen(fs, root)
    val cur = resolveRoot(spark, indexPath)
    val curP = new Path(cur)
    def at(s: String) = if (s.isEmpty) curP else new Path(curP, s)
    if (!fs.exists(at(accretingSub))) return None // never built
    val ingest = batchIds(fs, at(accretingSub))
    val takedowns = batchIds(fs, at(deletesSub))
    if (ingest.size <= 1 && takedowns.isEmpty) return None
    val foldId = if (ingest.isEmpty) -1L else ingest.max
    val newFolded = ingest.foldLeft(
      Publish.readLedger(fs, new Path(curP, "_folded")))(Publish.addBatch)
    val newTd = takedowns.foldLeft(
      Publish.readLedger(fs, new Path(curP, s"$deletesSub/_folded")))(
      Publish.addBatch)
    Some(FoldPlan(cur, ingest, takedowns, foldId, newFolded, newTd))
  }

  /** Compact the LEXICAL index ([[Retrieval.buildLexIndexBatch]]
    * layout): postings (term-partitioned inside the fold), doclens,
    * and stats (all partials — ingest AND negative takedown
    * corrections — re-summed into one exact row) fold into one batch
    * partition each inside generation n+1; logical deletes are applied
    * physically and cleared. No-op on an index with nothing accreted
    * and nothing deleted. */
  def compactLexIndex(spark: SparkSession, indexPath: String): Unit = {
    val (fs, root) = fsOf(spark, indexPath)
    val plan = foldPlan(spark, indexPath, "postings", "deletes")
      .getOrElse(return)
    val cur = plan.cur
    val foldId = plan.foldId
    val deletesDir = s"$cur/deletes"
    val postings = Takedown.applyDeletes(
      spark.read.schema(Retrieval.PostingsSchema)
        .parquet(s"$cur/postings")
        .select(col("doc_id"), col("tf"), col("tok")),
      deletesDir)
    val doclens = Takedown.applyDeletes(
      spark.read.schema("doc_id BIGINT, dl BIGINT")
        .parquet(s"$cur/doclens")
        .select(col("doc_id"), col("dl")),
      deletesDir)
    // Stats: the negative correction partials exist precisely so this
    // exact long re-sum equals the purged corpus — fold them in.
    val stats = spark.read.schema("n_docs BIGINT, sum_dl BIGINT")
      .parquet(s"$cur/stats")
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("sum_dl")).as("sum_dl"))
    publishGeneration(spark, indexPath, lexFlat) { stage =>
      postings.write.mode("overwrite").partitionBy("tok")
        .parquet(s"$stage/postings/batch_id=$foldId")
      doclens.write.mode("overwrite")
        .parquet(s"$stage/doclens/batch_id=$foldId")
      stats.write.mode("overwrite")
        .parquet(s"$stage/stats/batch_id=$foldId")
      Publish.writeLedger(fs, new Path(stage, "_folded"), plan.newFolded)
      if (plan.newTd.nonEmpty) {
        fs.mkdirs(new Path(stage, "deletes"))
        Publish.writeLedger(fs, new Path(stage, "deletes/_folded"),
          plan.newTd)
      }
    }
  }

  /** Compact the POSITIONAL index ([[Retrieval.buildPosIndexBatch]]
    * layout): one subdir (`pos`, term-partitioned), deletes applied
    * and cleared. */
  def compactPosIndex(spark: SparkSession, indexPath: String): Unit = {
    val (fs, root) = fsOf(spark, indexPath)
    val plan = foldPlan(spark, indexPath, "pos", "deletes")
      .getOrElse(return)
    val cur = plan.cur
    val occ = Takedown.applyDeletes(
      spark.read.schema(Retrieval.PosSchema)
        .parquet(s"$cur/pos")
        .select(col("doc_id"), col("pos"), col("tok")),
      s"$cur/deletes")
    publishGeneration(spark, indexPath,
      n => Set("pos", "deletes", "_folded").contains(n)) { stage =>
      occ.write.mode("overwrite").partitionBy("tok")
        .parquet(s"$stage/pos/batch_id=${plan.foldId}")
      Publish.writeLedger(fs, new Path(stage, "_folded"), plan.newFolded)
      if (plan.newTd.nonEmpty) {
        fs.mkdirs(new Path(stage, "deletes"))
        Publish.writeLedger(fs, new Path(stage, "deletes/_folded"),
          plan.newTd)
      }
    }
  }

  /** Compact the CONTENT index ([[ContentIndex.buildBatch]] layout):
    * shingle postings (bucket-partitioned inside the fold) and the
    * docstore (doc-bucket-partitioned) fold into one batch partition
    * each; logical deletes are applied physically and cleared — after
    * which a content-addressed takedown probe reads consolidated,
    * purged buckets. */
  def compactContentIndex(spark: SparkSession, indexPath: String): Unit = {
    val (fs, _) = fsOf(spark, indexPath)
    val plan = foldPlan(spark, indexPath, "shingles", "deletes")
      .getOrElse(return)
    val cur = plan.cur
    val deletesDir = s"$cur/deletes"
    val sh = Takedown.applyDeletes(
      spark.read.schema("doc_id BIGINT, sh STRING")
        .parquet(s"$cur/shingles")
        .select(col("doc_id"), col("sh"), col("sb")),
      deletesDir)
    val store = Takedown.applyDeletes(
      spark.read.schema("doc_id BIGINT, norm_text STRING")
        .parquet(s"$cur/docstore")
        .select(col("doc_id"), col("norm_text"), col("db")),
      deletesDir)
    publishGeneration(spark, indexPath,
      n => Set("shingles", "docstore", "deletes", "_folded").contains(n)) {
      stage =>
        sh.write.mode("overwrite").partitionBy("sb")
          .parquet(s"$stage/shingles/batch_id=${plan.foldId}")
        // Keep the build's sorted-by-doc_id row groups through the fold
        // — the verify tier's IN-list row-group pruning depends on it.
        store.repartition(col("db"))
          .sortWithinPartitions(col("db"), col("doc_id"))
          .write.mode("overwrite").partitionBy("db")
          .parquet(s"$stage/docstore/batch_id=${plan.foldId}")
        Publish.writeLedger(fs, new Path(stage, "_folded"), plan.newFolded)
        if (plan.newTd.nonEmpty) {
          fs.mkdirs(new Path(stage, "deletes"))
          Publish.writeLedger(fs, new Path(stage, "deletes/_folded"),
            plan.newTd)
        }
    }
  }

  /** Compact the near-dup PAIR + SIGNATURE tables (the [[Dedup]]
    * streaming-maintained layout — both roots are read WHOLESALE, so
    * their batch partitions, ledger, and `_deletes` live at the table
    * root). Pairs die when either side was taken down; signatures when
    * their doc was.
    *
    * COMMIT ORDER (r14 review #1): the SIGNATURE generation commits
    * first, the pair generation (which carries the `_folded` ledger
    * AND the pending `_deletes` partitions) last. The deletes data is
    * dropped exactly when the pair generation flips — so a crash
    * between the two commits leaves the deletes alive in the
    * still-current pair generation, and the next pass re-applies them
    * to the already-purged signatures (idempotent anti-join) and
    * completes; committing pair-first would reap the only copy of the
    * deletes while the signature fold still owed them, silently
    * folding taken-down docs' band signatures forward forever. The
    * price of sig-first: a replayed ingest batch in the crash window
    * re-writes its signature partition NEXT TO the fold that already
    * contains those rows — candidate generation collapses the
    * duplicates (distinct on (pair, band)) and the fold itself
    * re-distincts the signature rows, so the window is
    * correctness-neutral. */
  def compactPairTable(spark: SparkSession, pairPath: String,
                       sigPath: String): Unit =
    compactPairTableWith(spark, pairPath, sigPath)

  /** [[compactPairTable]] with the crash seam between the two
    * generation commits exposed for the spec.
    *
    * The fold OUTPUT partition is the fixed bootstrap id `-1`, never
    * `ingest.max` (r14 review, second pass): `ingest.max` is exactly
    * the micro-batch id a post-crash stream replays (offsets commit
    * only after foreachBatch returns, and the self-trigger runs inside
    * it), and under the sig-first commit order the crash window holds
    * no ledger — the replayed append's `batch_id =!= K` exclusion
    * would see the folded sig set (single partition `batch_id=K`) as
    * its own crashed debris and OVERWRITE it wholesale. At `-1` the
    * replay lands NEXT TO the fold instead: its sig rows duplicate
    * rows already inside the fold (collapsed by candidate generation's
    * distinct and by the next fold's distinct), and its pair partition
    * rewrites value-identical content — convergent, not lossy. */
  private[graft] def compactPairTableWith(spark: SparkSession,
                                          pairPath: String, sigPath: String,
                                          betweenCommits: () => Unit =
                                            () => ()): Unit = {
    val (pairFs, pairRoot) = fsOf(spark, pairPath)
    val (sigFs, sigRoot) = fsOf(spark, sigPath)
    recoverGen(sigFs, sigRoot)
    val hasSig = sigFs.exists(new Path(resolveRoot(spark, sigPath)))
    // Legacy completion trigger: a pre-reorder crash (pair generation
    // committed, signature fold still owed) leaves the pair side
    // consolidated — foldPlan alone would return None forever while
    // taken-down docs' band signatures survive in the sig table.
    // LIMITATION, documented (ADVICE r14): in that crash state the
    // pair commit already reaped the `_deletes` DATA (only the
    // `_deletes/_folded` id ledger survives), so this completion pass
    // can only CONSOLIDATE the signatures — it cannot purge the
    // taken-down docs' rows, and their bands may generate candidate
    // pairs again. Recovery is a compliance re-issue under a FRESH
    // takedownId (the folded ledger no-ops the original id by design);
    // the shipped sig-first commit order makes this state unreachable
    // going forward — it exists only for pre-reorder (r14-draft) trees.
    val sigOwed = hasSig &&
      batchIds(sigFs, new Path(resolveRoot(spark, sigPath))).size > 1
    val plan = foldPlan(spark, pairPath, "", "_deletes").orElse {
      if (!sigOwed) None
      else {
        val cur = resolveRoot(spark, pairPath)
        val curP = new Path(cur)
        Some(FoldPlan(cur, batchIds(pairFs, curP),
          batchIds(pairFs, new Path(curP, "_deletes")), -1L,
          Publish.readLedger(pairFs, new Path(curP, "_folded")),
          Publish.readLedger(pairFs, new Path(curP, "_deletes/_folded"))))
      }
    }.getOrElse(return)
    val curPair = plan.cur
    // A pair root holding ONLY takedown debris (never built — e.g. a
    // takedown stream racing ahead of its ingest twin) has nothing
    // readable to fold; leave the deletes standing until content
    // arrives (r14 review, second pass). The exists guard covers the
    // sigOwed legacy entry, where the pair root itself may be ABSENT
    // (sig table present, pair root deleted) — listStatus would throw
    // FileNotFoundException instead of returning cleanly (ADVICE r14).
    val curPairPath = new Path(curPair)
    if (plan.ingest.isEmpty &&
        (!pairFs.exists(curPairPath) ||
         !pairFs.listStatus(curPairPath).exists { s =>
           val n = s.getPath.getName
           !n.startsWith("_") && !n.startsWith(".")
         })) return
    val pairs = Takedown.pairTableLive(spark, pairPath)
    def tableFlat(n: String): Boolean =
      n.startsWith("batch_id=") || n == "_deletes" || n == "_folded"
    if (hasSig) {
      val curSig = resolveRoot(spark, sigPath)
      val sigs = Takedown.applyDeletes(
        spark.read.parquet(curSig).drop("batch_id"),
        s"$curPair/_deletes").distinct()
      publishGeneration(spark, sigPath, tableFlat) { stage =>
        sigs.write.mode("overwrite").parquet(s"$stage/batch_id=-1")
      }
    }
    betweenCommits()
    publishGeneration(spark, pairPath, tableFlat) { stage =>
      pairs.write.mode("overwrite").parquet(s"$stage/batch_id=-1")
      Publish.writeLedger(pairFs, new Path(stage, "_folded"),
        plan.newFolded)
      if (plan.newTd.nonEmpty) {
        pairFs.mkdirs(new Path(stage, "_deletes"))
        Publish.writeLedger(pairFs, new Path(stage, "_deletes/_folded"),
          plan.newTd)
      }
    }
  }

  /** The pair/sig tables' replay guard reads the in-table ledger (from
    * the current generation). */
  def isPairBatchFolded(spark: SparkSession, pairPath: String,
                        batchId: Long): Boolean = {
    val cur = resolveRoot(spark, pairPath)
    val (fs, root) = fsOf(spark, cur)
    Publish.batchApplied(
      Publish.readLedger(fs, new Path(root, "_folded")), batchId)
  }

  /** Compact the IVF index ([[Similarity.buildIvfIndexBatch]] layout):
    * postings fold cell-partitioned; the trained centroids are carried
    * into the new generation byte-exactly (parquet round-trips the
    * 9-dp doubles) — they are structure, not data, and are never
    * retrained here. */
  def compactIvfIndex(spark: SparkSession, indexPath: String): Unit = {
    val (fs, root) = fsOf(spark, indexPath)
    val plan = foldPlan(spark, indexPath, "postings", "deletes")
      .getOrElse(return)
    val cur = plan.cur
    val postings = Takedown.applyDeletes(
      Similarity.ivfPostings(spark, cur).drop("batch_id"),
      s"$cur/deletes", idCol = "vec_id")
    val cents = Similarity.ivfCentroids(spark, cur)
    publishGeneration(spark, indexPath,
      n => Set("postings", "centroids", "deletes", "_folded").contains(n)) {
      stage =>
        postings.write.mode("overwrite").partitionBy("cell")
          .parquet(s"$stage/postings/batch_id=${plan.foldId}")
        cents.write.mode("overwrite").parquet(s"$stage/centroids")
        Publish.writeLedger(fs, new Path(stage, "_folded"), plan.newFolded)
        if (plan.newTd.nonEmpty) {
          fs.mkdirs(new Path(stage, "deletes"))
          Publish.writeLedger(fs, new Path(stage, "deletes/_folded"),
            plan.newTd)
        }
    }
  }
}

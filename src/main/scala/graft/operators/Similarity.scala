package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Similarity-search operators over the `embeddings` fixture
  * (`embedding: array<float>`, 64-dim): brute-force cosine top-k as the
  * exact baseline and a random-hyperplane LSH-bucketed variant as the
  * scale path (candidates only collide within a bucket — never
  * all-pairs at 100 TB).
  *
  * All vector math uses higher-order functions (`zip_with` +
  * `aggregate`), which fold left-to-right in array order — the same
  * order the DuckDB oracle's `list_sum(list_transform(range(...)))`
  * uses — so cosine scores are bit-identical across engines with no
  * rounding tolerance needed.
  */
object Similarity {

  val Dim = 64
  /** Hyperplanes for the BOUNDED-query LSH ([[topkCosineLsh]]) ⇒ 2^6 =
    * 64 buckets. Acceptable THERE only because the query side is a
    * fixed, broadcastable set (NumQueries rows): per-bucket work is
    * O(corpus/64 × queries), linear in the corpus. The ALL-PAIRS
    * operators ([[embeddingNearDup]], [[knnJoin]]) must NOT use a
    * fixed domain — they band over [[NumTables]] × [[tablePlanesFor]]
    * signatures instead (VERDICT r6 #1). */
  val NumPlanes = 6
  /** Queries = the first NumQueries vec_ids (a bounded, broadcastable set). */
  val NumQueries = 10
  val TopK = 5

  /** Banded-LSH parameters for the self-join operators: B independent
    * tables of h hyperplanes each, bucket key = (table, h-bit
    * signature). h GROWS with the corpus ([[tablePlanesFor]]) so
    * expected bucket occupancy stays ≤ [[TargetBucket]] — the fix for
    * the fixed-64-bucket domain, whose expected candidate count was
    * Θ(N²/64) at ANY corpus size (same defect class as the demoted
    * 16-bit simhash banding, SURVEY §8.6). B tables are the recall
    * lever (a pair missed by one table's signature can collide in
    * another — the classic LSH amplification), replacing radius-1
    * multi-probe for the self-join shape. */
  val NumTables = 4
  /** Base per-table plane stride of the hyperplane LAYOUT: table t
    * owns base planes [t·24, (t+1)·24). No longer a cap on h (the r6–r9
    * "raise this constant past ~5×10⁸ vectors" manual envelope —
    * VERDICT r9 #1): widths beyond 24 draw from the extension region
    * via [[planeIndexFor]], and the width derivation runs uncapped to
    * [[ScaleEnvelope.AbsMaxPlanes]]. Kept at 24 so plane indices 0–95 —
    * and therefore every signature at every fixture SF and its DuckDB
    * twin — are bit-identical to the pre-envelope layout. */
  val MaxTablePlanes = 24
  val MinTablePlanes = 4
  /** Expected vectors per (table, signature) bucket the widths aim for. */
  val TargetBucket = 32

  /** Per-table signature width at corpus size n: the smallest h with
    * n ≤ TargetBucket·2^h, so expected occupancy n/2^h stays ≤
    * TargetBucket as the corpus grows — delegated to the shared
    * [[ScaleEnvelope.lshPlanesFor]] policy (uncapped: N = 2⁶³−1
    * derives h = 58; the old 24-plane cap was the §8.8 manual
    * envelope). INTEGER comparisons only — the DuckDB twin derives the
    * identical h from COUNT(*) with the same inequalities (a float
    * log2 could round differently across engines at exact
    * power-of-two boundaries). */
  def tablePlanesFor(n: Long): Int =
    ScaleEnvelope.lshPlanesFor(n, MinTablePlanes, TargetBucket.toLong)

  /** Absolute hyperplane index of table t's plane j. Base widths
    * (j < MaxTablePlanes) keep the historical layout t·24 + j —
    * signatures at any corpus the old cap could serve are UNCHANGED —
    * and wider signatures draw planes from a disjoint extension
    * region, one stride of (AbsMaxPlanes − 24) per table. Injective
    * over (t, j) by construction: the two regions are disjoint and
    * each is a distinct-stride grid. */
  def planeIndexFor(t: Int, j: Int): Int =
    if (j < MaxTablePlanes) t * MaxTablePlanes + j
    else NumTables * MaxTablePlanes +
      t * (ScaleEnvelope.AbsMaxPlanes - MaxTablePlanes) + (j - MaxTablePlanes)

  /** Deterministic pseudo-random hyperplanes derived from md5 — the same
    * bytes DuckDB's md5 produces, so the oracle can recompute the
    * identical values in SQL. Component p,i = (hex4(md5("w:p:i")) -
    * 32768) / 32768 ∈ (-1, 1), exactly representable (16-bit numerator
    * over a power-of-two denominator). Table t of the banded scheme
    * owns base planes [t·MaxTablePlanes, (t+1)·MaxTablePlanes) plus an
    * extension stride mapped by [[planeIndexFor]]; the bounded
    * 6-plane [[bucketOf]] uses planes 0-5. Tabulated through the full
    * NumTables·AbsMaxPlanes layout (248 planes — a build-time
    * constant, ~16k md5 calls once per JVM). */
  lazy val hyperplanes: Array[Array[Double]] = {
    val mdt = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(NumTables * ScaleEnvelope.AbsMaxPlanes, Dim) { (h, i) =>
      val hex = mdt.digest(s"w:$h:$i".getBytes("UTF-8"))
        .take(2).map(b => f"$b%02x").mkString
      (Integer.parseInt(hex, 16) - 32768).toDouble / 32768.0
    }
  }

  /** embedding floats cast to double (exact) for all arithmetic. */
  private def vec: Column = transform(col("embedding"), x => x.cast("double"))

  /** LTR dot product via the native codegen
    * [[graft.expressions.DotProduct]] expression (registered in
    * [[corpus]], which every entry point goes through). Bit-identical to
    * the HOF fold it replaced — `aggregate(zip_with(a,b,_*_), 0.0, _+_)`
    * — and to the oracle's `list_sum(list_transform(...))`. At fixture
    * scale the swap is timing-neutral (the 5k-vector corpus is
    * overhead-dominated); at volume it is the 100 TB call: 7× measured
    * on a 2M-row × 64-dim microbenchmark (4.3 s → 0.6 s, local[8] —
    * the fold pays an interpreted lambda per element plus a zipped
    * intermediate array per row). */
  private def dot(a: Column, b: Column): Column =
    call_function("dot_d", a, b)

  private def planeLit(h: Int): Column =
    typedLit(hyperplanes(h).toSeq)

  /** LSH bucket id: sign bits of the NumPlanes hyperplane projections. */
  def bucketOf(v: Column): Column =
    (0 until NumPlanes)
      .map(h => when(dot(planeLit(h), v) > 0, lit(1 << h)).otherwise(lit(0)))
      .reduce(_ + _)

  /** Signature bits of banded table `tbl` (width h): bit j is the sign
    * of the projection onto plane [[planeIndexFor]](tbl, j) — the
    * historical tbl·24 + j for j < 24, the extension region beyond,
    * so signatures at any width ≤ 24 are unchanged and bits 0–23 of a
    * WIDER signature still match the 24-bit one (spec-pinned). */
  private def tableSig(v: Column, tbl: Int, h: Int): Column =
    (0 until h)
      .map(j => when(dot(planeLit(planeIndexFor(tbl, j)), v) > 0,
        lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** The exploded (vec_id, tbl, sig) banded-bucket shape the self-join
    * operators key their candidate joins on — narrow rows (no vectors),
    * so the bucket shuffle moves 3 longs per (vector, table) and the
    * vectors are joined back only for the (small) candidate set. */
  def bandedSignatureRows(c: DataFrame, h: Int): DataFrame =
    c.select(col("vec_id"),
        explode(array((0 until NumTables).map(t =>
          struct(lit(t).as("tbl"), tableSig(col("v"), t, h).as("sig"))): _*))
          .as("ts"))
      .select(col("vec_id"), col("ts.tbl").as("tbl"), col("ts.sig").as("sig"))

  /** Corpus size for the banded-LSH width — a driver-side build
    * parameter, like the JDBC bounds probe: parquet answers COUNT(*)
    * from footer metadata (no column read), and at a standing
    * deployment h is pinned at INDEX-BUILD time, not re-derived per
    * query. */
  private def corpusSize(spark: SparkSession, dir: String): Long =
    Tables.embeddings(spark, dir).count()

  private def corpus(spark: SparkSession, dir: String): DataFrame =
    corpusOf(spark, Tables.embeddings(spark, dir))

  /** Rescore side of the banded self-joins (r18, VERDICT r17 #3):
    * (vec_id, v, nv) with `v` as the RAW float32 embedding — half the
    * exchange/broadcast bytes of [[corpus]]'s widened `array<double>`
    * form. Bit-exact: [[DotProduct]] widens each float to double
    * BEFORE the multiply, so every cosine (and `nv` itself) is
    * IDENTICAL to the double-array form — float→double is exact and
    * the accumulation is the same double LTR (ExtensionsSpec pins the
    * widening identity; the oracle hash pins the end-to-end result).
    * No [[Spread]]: this frame is a join/broadcast DIMENSION — its
    * per-row work is one 64-dim dot for `nv`, not a CPU-heavy stream
    * stage, and repartitioning a to-be-broadcast side is pure cost. */
  private def rescoreCorpus(spark: SparkSession, dir: String): DataFrame = {
    graft.expressions.DotProduct.register(spark)
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nv", sqrt(dot(col("v"), col("v"))))
  }

  /** Envelope-dispatched join form for a rescore vector side (guide
    * §3.1): broadcast below [[ScaleEnvelope.VectorBroadcastRows]] —
    * past autoBroadcastJoinThreshold AQE would otherwise degrade the
    * rescore to pair-payload shuffles (the ×100 cliff) — shuffled-hash
    * above it (the vector side builds per-partition hash tables; the
    * pair stream probes without sorting). Result-identical branches. */
  private def rescoreSide(df: DataFrame, n: Long): DataFrame =
    if (ScaleEnvelope.vectorRescoreBroadcast(n)) broadcast(df)
    else df.hint("shuffle_hash")

  /** The normalized (vec_id, label, v, nv) corpus shape over an
    * arbitrary raw-embeddings frame — shared by the dir readers and
    * the incremental index path so the norm arithmetic has one home. */
  private def corpusOf(spark: SparkSession, emb: DataFrame): DataFrame = {
    graft.expressions.DotProduct.register(spark)
    Spread(emb)
      .select(col("vec_id"), col("label"), vec.as("v"))
      .withColumn("nv", sqrt(dot(col("v"), col("v"))))
  }

  /** Brute-force cosine top-k: the first NumQueries vectors against the
    * whole corpus. The query side is bounded ⇒ broadcast (legitimately:
    * it does NOT grow with SF); one pass over the corpus computes all
    * scores, then a salted two-phase row_number keeps the top k per
    * query without ever sorting a query's full candidate list in one
    * task. */
  def topkCosine(spark: SparkSession, dir: String,
                 k: Int = TopK, saltBuckets: Int = 64): DataFrame = {
    val c = corpus(spark, dir)
    val q = c.select(col("vec_id").as("q_id"), col("v").as("qv"),
      col("nv").as("nq")).where(col("q_id") < NumQueries)
    val scored = c.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dot(col("qv"), col("v")) / (col("nq") * col("nv"))).as("cosine"))
    Ranking.saltedTopK(scored,
      part = Seq(col("q_id")),
      ord = Seq(col("cosine").desc, col("vec_id").asc),
      saltOn = col("vec_id"), k = k, saltBuckets = saltBuckets)
  }

  /** MMR candidate-pool size (top-R by relevance feeds the greedy
    * diversifier) and the number of diversified results kept. */
  val MmrPool = 12
  val MmrKeep = 5

  /** Bitext-mining neighborhood depth for the margin denominator. */
  val MineK = 4

  /** Hard-negative mining for contrastive training: per anchor, the
    * top-k highest-cosine vectors OUTSIDE the anchor's positive group
    * (the `label` column — in a real pipeline, whatever keys the
    * (query, positive) sets). Random negatives are easy and teach an
    * embedding model nothing late in training; the hardest negatives
    * are exactly the high-similarity cross-group neighbors this
    * returns. Same scale shape as the exact ANN baseline: bounded
    * anchor set broadcast, salted two-phase top-k (no global sort);
    * past broadcastability the candidates come from the IVF index's
    * probed cells, identical tail. Self-pairs need no filter — the
    * anchor shares its own label and is excluded with its group. */
  def hardNegatives(spark: SparkSession, dir: String,
                    k: Int = TopK): DataFrame = {
    val c = corpus(spark, dir)
    val anchors = c.select(col("vec_id").as("q_id"),
        col("label").as("q_label"), col("v").as("qv"), col("nv").as("nq"))
      .where(col("q_id") < NumQueries)
    val scored = c.crossJoin(broadcast(anchors))
      .where(col("label") =!= col("q_label"))
      .select(col("q_id"), col("vec_id"), col("label"),
        (dot(col("qv"), col("v")) / (col("nq") * col("nv"))).as("cosine"))
    Ranking.saltedTopK(scored, part = Seq(col("q_id")),
      ord = Seq(col("cosine").desc, col("vec_id").asc),
      saltOn = col("vec_id"), k = k, saltBuckets = 64)
  }

  /** Margin-based bitext mining (the Artetxe–Schwenk criterion) — the
    * parallel-corpus extraction step of a multilingual training
    * pipeline: for every language-A document, its best language-B
    * candidate is kept only when cos(a,b) clearly beats the MEAN of
    * both sides' k-NN neighborhoods, margin = cos / ((mean_a +
    * mean_b)/2) — absolute-cosine thresholds fail because "high
    * similarity" is neighborhood-relative (hubness), which is exactly
    * what the margin normalizes away.
    *
    * Scale shape: one cross-scoring of the two language slices with
    * the smaller side broadcast (at fixture scale exact; past
    * broadcastability the candidate generation swaps to the IVF
    * index's probed cells — the ANN-tier substitution, same margin
    * tail), then two bounded per-key windows (k-NN cut), two compact
    * per-key aggregates, and a final bounded argmax window.
    *
    * Engine-exact: neighborhood means use the micro-unit discipline —
    * per-neighbor cosines round to exact 1e-6 longs BEFORE the sum
    * (float accumulation order would make the mean engine-dependent),
    * and the margin's division chain is associated identically in the
    * twin; the 1.05 keep-threshold is a decimal literal on both
    * sides. */
  def bitextMine(spark: SparkSession, dir: String,
                 langA: String = "en", langB: String = "de"): DataFrame = {
    val langs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"))
    val c = corpus(spark, dir).join(langs, col("vec_id") === col("doc_id"))
    val a = c.where(col("lang") === langA).select(col("vec_id").as("a_id"),
      col("v").as("av"), col("nv").as("na"))
    val b = c.where(col("lang") === langB).select(col("vec_id").as("b_id"),
      col("v").as("bv"), col("nv").as("nb"))
    val ab = a.crossJoin(broadcast(b))
      .select(col("a_id"), col("b_id"),
        (dot(col("av"), col("bv")) / (col("na") * col("nb"))).as("cos"))
      .localCheckpoint() // scored once; feeds both direction windows
    val wa = Window.partitionBy(col("a_id"))
      .orderBy(col("cos").desc, col("b_id").asc)
    val wb = Window.partitionBy(col("b_id"))
      .orderBy(col("cos").desc, col("a_id").asc)
    val fa = ab.withColumn("rn", row_number().over(wa))
      .where(col("rn") <= MineK)
    val fb = ab.withColumn("rn", row_number().over(wb))
      .where(col("rn") <= MineK)
    def microSum(src: DataFrame, key: String, s: String, n: String) =
      src.groupBy(col(key)).agg(
        sum(round(col("cos") * lit(1000000)).cast("long")).as(s),
        count(lit(1)).as(n))
    val ka = microSum(fa, "a_id", "sa", "ca")
    val kb = microSum(fb, "b_id", "sb", "cb")
    val wbest = Window.partitionBy(col("a_id"))
      .orderBy(col("margin").desc, col("b_id").asc)
    fa.select(col("a_id"), col("b_id"), col("cos"))
      .join(ka, "a_id").join(kb, "b_id")
      .withColumn("margin",
        col("cos") / (((col("sa").cast("double") / col("ca") / lit(1000000.0))
          + (col("sb").cast("double") / col("cb") / lit(1000000.0)))
          / lit(2.0)))
      .withColumn("brn", row_number().over(wbest))
      .where(col("brn") === 1 && col("margin") > lit(1.05))
      .select(col("a_id"), col("b_id"), col("cos").as("cosine"),
        col("margin"))
  }

  /** Maximal-marginal-relevance re-ranking — the serving-tier
    * diversifier RAG retrieval runs between ANN and the prompt: from
    * each query's top-[[MmrPool]] relevance candidates, greedily pick
    * [[MmrKeep]] maximizing 0.7·relevance − 0.3·max-sim-to-already-
    * picked, so near-duplicate passages don't crowd the context
    * window.
    *
    * Scale shape: the candidate pool is BOUNDED per query (R rows from
    * the ANN tier — here the exact top-k so the pool shares the
    * already-hash-proven definition), selection is K rounds of one
    * q_id-keyed join + one bounded window (≤ R rows per query), total
    * work O(K·R) per query with queries partitioning the cluster. The
    * penalty updates incrementally (greatest of the standing penalty
    * and similarity to the LATEST pick) — never a pairwise matrix.
    *
    * Engine-exact: cosines are LTR IEEE dots of parquet-exact
    * operands; 0.7/0.3 are decimal literals parsed to identical
    * doubles in both engines (never computed as 1−λ, whose float
    * round-off could differ from the literal); ties break on vec_id.
    * The twin unrolls the K greedy rounds as CTEs — the driver hash
    * pins the greedy SELECTION ORDER, not just the final set. */
  def mmrDiversify(spark: SparkSession, dir: String): DataFrame = {
    val score = lit(0.7) * col("rel") - lit(0.3) * col("pen")
    var cand = topkCosine(spark, dir, k = MmrPool)
      .select(col("q_id"), col("vec_id"), col("cosine").as("rel"))
      .join(corpus(spark, dir).select(col("vec_id"), col("v"), col("nv")),
        "vec_id")
      .select(col("q_id"), col("vec_id"), col("rel"), col("v"), col("nv"))
      .withColumn("pen", lit(0.0))
      .localCheckpoint()
    val picks = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (t <- 1 to MmrKeep) {
      val w = Window.partitionBy(col("q_id"))
        .orderBy(score.desc, col("vec_id").asc)
      val sel = cand.withColumn("score", score)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("q_id"), col("vec_id"), col("score"),
          col("v").as("sv"), col("nv").as("snv"))
        .localCheckpoint()
      picks += sel.select(col("q_id"), col("vec_id"),
        lit(t).as("mmr_rank"), col("score"))
      if (t < MmrKeep)
        cand = cand
          .join(sel.select(col("q_id"), col("vec_id").as("sel_id"),
            col("sv"), col("snv")), "q_id")
          .where(col("vec_id") =!= col("sel_id"))
          .select(col("q_id"), col("vec_id"), col("rel"), col("v"),
            col("nv"),
            greatest(col("pen"),
              dot(col("v"), col("sv")) / (col("nv") * col("snv")))
              .as("pen"))
          .localCheckpoint()
    }
    picks.reduce(_ unionAll _)
  }

  /** Multi-probe masks: the query's own bucket plus every bucket at
    * Hamming distance 1 (flip one hyperplane sign). */
  val ProbeMasks: Seq[Int] = 0 +: (0 until NumPlanes).map(1 << _)

  /** LSH-bucketed approximate top-k with radius-1 multi-probe: queries
    * meet corpus vectors only in their own hyperplane-sign bucket or a
    * bucket one sign-flip away (an equi-join on bucket id — the 100 TB
    * shape: shuffle keyed by bucket, per-bucket candidate sets, never
    * all-pairs; probing trades NumPlanes+1 bucket lookups for recall on
    * near-boundary neighbors). Same scoring/ranking as the exact
    * baseline, so recall vs `topkCosine` is directly measurable. */
  def topkCosineLsh(spark: SparkSession, dir: String, k: Int = TopK): DataFrame = {
    val c = corpus(spark, dir).withColumn("bucket", bucketOf(col("v")))
    val q = c.select(col("vec_id").as("q_id"), col("v").as("qv"),
      col("nv").as("nq"), col("bucket")).where(col("q_id") < NumQueries)
      .withColumn("mask", explode(typedLit(ProbeMasks)))
      .withColumn("bucket", col("bucket").bitwiseXOR(col("mask")))
      .drop("mask")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    c.join(broadcast(q), "bucket")
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("bucket"),
        (dot(col("qv"), col("v")) / (col("nq") * col("nv"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** IVF parameters: k = max(MinCentroids, ⌈√N⌉) centroids (VERDICT r6
    * #2 — the old every-50th-vector stride rule made k grow LINEARLY
    * with the corpus: the N×k assignment pass was Θ(N²/50) and the
    * "bounded broadcast" centroid table was a fiction at 1 B vectors).
    * √N is the classic IVF balance point: assignment work N·√N, probe
    * work √N cells × √N-sized cells. The k-means SEED is a
    * deterministic HASH-SAMPLE ([[seedCentroidsOf]]), and the index
    * always trains KmIterations Lloyd rounds from it before assigning
    * cells, because recall at 100 TB depends on centroid quality, not
    * just index mechanics. Queries probe the NumProbes nearest
    * cells. */
  val MinCentroids = 16
  val NumProbes = 2
  /** Lloyd refinement rounds for every IVF build (see [[kmeansRefine]]). */
  val KmIterations = 2

  /** Centroid count at corpus size n — the shared
    * [[ScaleEnvelope.centroidCountFor]] piecewise policy: ⌈√n⌉ up to
    * the 10⁸-vector crossover (the r9 prose envelope, now code), then
    * ⌈n/c*⌉ so cells cap at c* = 10⁴ members and SemDeDup's
    * within-cell pair volume stays LINEAR in n. Continuous at the
    * boundary (both forms derive the same k — spec-pinned), and the
    * DuckDB twin is the same CASE over COUNT(*). */
  def centroidCountFor(n: Long): Int =
    ScaleEnvelope.centroidCountFor(n, MinCentroids)

  /** Deterministic hash-sample k-means seed: the k corpus vectors
    * ranking first by (md5(vec_id), vec_id), as normalized (cent_id,
    * cv, cnv) rows. Partitioning-independent, replay-stable,
    * engine-identical (DuckDB md5 of the same decimal string), and
    * uniform over the corpus whatever the vec_id distribution — the
    * every-50th-id stride it replaces skewed toward dense id ranges
    * and tied k to N. orderBy+limit plans as TakeOrderedAndProject
    * (per-partition k-row heaps, driver merge — no global sort);
    * k = O(√N) rows is a build-time artifact (~31.6 k × 64-dim at
    * 1 B vectors ≈ 16 MB). */
  def seedCentroidsOf(c: DataFrame, k: Int): DataFrame =
    c.orderBy(md5(col("vec_id").cast("string")), col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("cent_id"), col("v").as("cv"),
        col("nv").as("cnv"))

  /** Trained centroids: KmIterations Lloyd rounds from the hash-sample
    * seed, rebuilt into normalized (cent_id, cv, cnv) vector rows. The
    * 9-dp component rounding inside [[kmeansRefine]] makes these
    * replay- and engine-stable, so oracle-checked queries can sit on
    * top of them. The corpus count that sizes k is a one-off
    * build-time driver scalar, like the JDBC bounds probe. */
  def trainedCentroidsOf(c: DataFrame,
                         iterations: Int = KmIterations): DataFrame =
    kmeansRefineOf(c, iterations, centroidCountFor(c.count()))
      .groupBy(col("cell"))
      .agg(array_sort(collect_list(struct(col("dim"), col("mean_x"))))
        .as("pairs"))
      .select(col("cell").as("cent_id"),
        transform(col("pairs"), p => p.getField("mean_x")).as("cv"))
      .withColumn("cnv", sqrt(dot(col("cv"), col("cv"))))

  /** The normalized corpus frame, exposed for recall experiments
    * (SimilaritySpec compares trained-vs-seed centroid recall). */
  def normalizedCorpus(spark: SparkSession, dir: String): DataFrame =
    corpus(spark, dir)

  /** IVF-bucketed approximate top-k: corpus vectors are assigned to the
    * cell of their nearest TRAINED coarse centroid (broadcast the
    * O(√N) centroid set, one pass, deterministic argmax); a query
    * scores only vectors whose cell is among its NumProbes nearest
    * centroids — an equi-join on cell id, the inverted-list shape
    * (shuffle keyed by cell, never all-pairs). Training cost rides the
    * query here for oracle-checkability; production builds train ONCE
    * at [[buildIvfIndex]] time and serve from the persisted centroids. */
  def topkCosineIvf(spark: SparkSession, dir: String, k: Int = TopK): DataFrame = {
    val c = corpus(spark, dir)
    topkCosineIvfWith(c, trainedCentroidsOf(c), k)
  }

  /** [[topkCosineIvf]] body over explicit (cent_id, cv, cnv) centroids —
    * shared by the trained default and the spec's seed-only recall
    * baseline. */
  def topkCosineIvfWith(c: DataFrame, cents: DataFrame,
                        k: Int = TopK): DataFrame = {
    val scoredCells = c.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        (dot(col("cv"), col("v")) / (col("cnv") * col("nv"))).as("ccos"))
    val byVec = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cent_id").asc)
    val ranked = scoredCells.withColumn("crank", row_number().over(byVec))
    val cells = ranked.where(col("crank") === 1)
      .select(col("vec_id"), col("cent_id").as("cell"))
    val probes = ranked.where(col("crank") <= NumProbes)
      .where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("cent_id").as("cell"))
    val q = c.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("nv").as("nq"))
    val candidates = c.join(cells, "vec_id")
      .join(probes, "cell")
      .where(col("vec_id") =!= col("q_id"))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    candidates
      .join(broadcast(q), "q_id")
      .select(col("q_id"), col("vec_id"), col("cell"),
        (dot(col("qv"), col("v")) / (col("nq") * col("nv"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Embedding-cosine near-duplicate pairs over BANDED LSH (VERDICT r6
    * #1): candidates collide on a (table, h-bit signature) bucket key
    * whose domain GROWS with the corpus — expected candidates are
    * O(NumTables · N · TargetBucket), linear in N, where the old fixed
    * 64-bucket domain was Θ(N²/64) at any corpus size. The bucket
    * self-join moves only (vec_id, tbl, sig) rows; vectors are joined
    * back for the candidate set alone, then the exact cosine filters
    * at `threshold`. `n_tables` reports how many of the B tables the
    * pair collided in (the LSH amplification at work). The
    * symmetric-pair convention (vec_a < vec_b) matches the MinHash
    * dedup output shape, so the two near-dup families compose. */
  /** The banded-bucket collision self-join both self-join operators
    * share — ONE definition so the shuffle-hash hints (identical
    * exchanges ⇒ ReuseExchange computes the signature subtree ONCE,
    * the minhashPairs trick, PlanAuditSpec-pinned) and the (tbl, sig)
    * key can't drift between them. `pred` is the pair convention:
    * `<` for symmetric pairs, `=!=` for directed neighbor lists. */
  private def bandedCollisions(sigs: DataFrame,
                               pred: (Column, Column) => Column): DataFrame = {
    val a = sigs.hint("shuffle_hash").as("a")
    val b = sigs.hint("shuffle_hash").as("b")
    a.join(b,
        col("a.tbl") === col("b.tbl") && col("a.sig") === col("b.sig") &&
          pred(col("a.vec_id"), col("b.vec_id")))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
  }

  /** Build/serve split for the kNN GRAPH (r17, VERDICT r16 #7): the
    * band-join + exact-rescore + salted top-k chain is the standing
    * ×100 top line (74.2 s at sf10), and in a deployment the kNN graph
    * is a once-per-corpus-version ARTIFACT its consumers (hard-negative
    * mining per training epoch, neighborhood stats, recall panels)
    * read, not re-derive — the [[buildIvfIndex]] / `Dedup.pairTable`
    * discipline applied to the last expensive family without a served
    * form. The table is k·N rows of (long, long, double, int) — tiny
    * next to the corpus — and parquet round-trips longs/doubles
    * bit-exactly, so serving is result-identical to recomputing
    * (`q_knn_join_served` shares `q_knn_join`'s oracle twin
    * verbatim). */
  def buildKnnTable(spark: SparkSession, dir: String, out: String): Unit =
    knnJoin(spark, dir).write.mode("overwrite").parquet(out)

  /** Serve the persisted kNN graph. */
  def knnTable(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Build/serve split for the embedding near-dup PAIR set (r17,
    * second serving pass): the banded-collision + exact-cosine chain
    * is a ×100 top inline line (55.5 s at sf10), and its pair set —
    * like the kNN graph and the minhash pair table — is a
    * once-per-corpus-version artifact downstream consumers (corpus
    * slimming, leakage audits) read rather than re-derive. (long,
    * long, long, double) rows, parquet-exact round-trip, so
    * `q_embedding_neardup_served` shares the inline twin verbatim. */
  def buildEmbeddingPairTable(spark: SparkSession, dir: String,
                              out: String): Unit =
    embeddingNearDup(spark, dir).write.mode("overwrite").parquet(out)

  /** Serve the persisted embedding near-dup pairs. */
  def embeddingPairTable(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Diagnostic accessor (r17, VERDICT r16 #7): the kNN band join's
    * candidate-pair volume at signature width h (default: the
    * envelope-derived width for the corpus). Evidence feed for the
    * candidates-vs-h growth curve in PLANS.md — [[graft.KnnProbe]]
    * prints it at h−1/h/h+1 across the sf0.1/sf1/sf10 mints so the
    * [[tablePlanesFor]] policy's growth is measured, not asserted. */
  def knnCandidateCount(spark: SparkSession, dir: String,
                        hOverride: Option[Int] = None): (Int, Long, Long) = {
    val n = corpusSize(spark, dir)
    val h = hOverride.getOrElse(tablePlanesFor(n))
    val c = corpus(spark, dir)
    val cands = bandedCollisions(bandedSignatureRows(c, h), _ =!= _)
      .select(col("id_a").as("vec_id"), col("id_b").as("nn_id"))
      .distinct().count()
    (h, n, cands)
  }

  def embeddingNearDup(spark: SparkSession, dir: String,
                       threshold: Double = 0.5): DataFrame = {
    val n = corpusSize(spark, dir)
    val h = tablePlanesFor(n)
    val c = corpus(spark, dir)
    val cand = bandedCollisions(bandedSignatureRows(c, h), _ < _)
      .groupBy(col("id_a").as("vec_a"), col("id_b").as("vec_b"))
      .agg(count(lit(1)).as("n_tables"))
    // r18 rescore shape (VERDICT r17 #3, guide §3.1/§8): float32
    // vector side, envelope-broadcast — the pair set never shuffles
    // vector payloads; see [[rescoreCorpus]]/[[rescoreSide]].
    val r = rescoreCorpus(spark, dir)
    val va = rescoreSide(r.select(col("vec_id").as("vec_a"),
      col("v").as("va"), col("nv").as("na")), n)
    val vb = rescoreSide(r.select(col("vec_id").as("vec_b"),
      col("v").as("vb"), col("nv").as("nb")), n)
    cand.join(va, "vec_a").join(vb, "vec_b")
      .select(col("vec_a"), col("vec_b"), col("n_tables"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosine"))
      .where(col("cosine") > threshold)
  }

  /** SemDeDup near-identical threshold (ε): within-cell pairs at or
    * above this cosine are duplicates; tuned so the fixture corpus has
    * real drops at every SF (global near-dup pairs at 0.5 are rare —
    * within-cell correlation makes 0.3 the working band). */
  val SemDedupEps = 0.3

  /** SemDeDup (Abbas et al., 2023): cluster-scoped SEMANTIC dedup — the
    * k-means cells bound who is compared with whom, so pair volume is
    * Θ(N²/k) spread over embarrassingly-parallel cells instead of the
    * global N². Each vector is assigned to its trained IVF cell (the
    * same deterministic build/assignment as [[topkCosineIvf]] — one
    * shared derivation, oracle-identical); within a cell, every pair at
    * cosine ≥ ε is a duplicate, and the member MORE typical of its
    * cluster (higher centroid-cosine; tie → higher vec_id) drops while
    * the atypical one survives — the paper's keep-lowest-centroid-
    * similarity rule, which preserves cluster diversity where keep-any
    * would collapse it. Emits every member with its cell, centroid
    * cosine and the drop verdict (the corpus slimming is one
    * `where(!is_dropped)` downstream).
    *
    * 100 TB note: with the ANN tier's k = √N the within-cell pair
    * volume is N^1.5 — fine to ~10⁸ vectors, past that train MORE
    * centroids (k = N/c* for a target cell size c*, making total work
    * N·c*, linear); the rule and this plan shape are unchanged, only
    * the k derivation moves. The banded-LSH [[embeddingNearDup]]
    * remains the high-ε exact-near-dup path; SemDeDup is the semantic
    * tier below it. */
  def semDedup(spark: SparkSession, dir: String,
               threshold: Double = SemDedupEps): DataFrame = {
    val c = corpus(spark, dir)
    val cents = trainedCentroidsOf(c)
    val byVec = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cent_id").asc)
    val cells = c.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        (dot(col("cv"), col("v")) / (col("cnv") * col("nv"))).as("ccos"))
      .withColumn("crank", row_number().over(byVec))
      .where(col("crank") === 1)
      .select(col("vec_id"), col("cent_id").as("cell"),
        col("ccos").as("cent_cos"))
    val members = c.join(cells, "vec_id")
      .select(col("vec_id"), col("cell"), col("cent_cos"), col("v"),
        col("nv"))
    semDedupSweep(members, threshold)
  }

  /** SemDeDup from a persisted [[buildIvfIndex]] index — the
    * build/serve split the ANN tier already has, applied to semantic
    * dedup: members and their cells come straight from the
    * cell-partitioned postings (assignment cost: ZERO at serve — the
    * in-query form pays the N×k crossJoin every run), and cent_cos is
    * recomputed against the persisted centroids with the SAME IEEE
    * expression over parquet-exact operands, so the output is
    * bit-identical to in-query [[semDedup]] over the same corpus —
    * the two paths share q_semdedup's DuckDB twin, which makes the
    * build/serve identity a driver-hash-verified fact rather than an
    * argument. Production shape at 100 TB: dedup runs on a standing
    * index maintained by the append path; training rides the index
    * build, never the dedup query. */
  def semDedupServed(spark: SparkSession, indexPath: String,
                     threshold: Double = SemDedupEps): DataFrame = {
    graft.expressions.DotProduct.register(spark)
    val root = Compaction.resolveRoot(spark, indexPath)
    val cents = ivfCentroids(spark, root)
    // Takedown-aware (r13 review): deleted vectors leave the dedup
    // sweep too — they must neither survive nor shadow a live vector.
    val members = Takedown.applyDeletes(
        ivfPostings(spark, root),
        s"$root/deletes", idCol = "vec_id")
      .select(col("cell").cast("long").as("cell"), col("vec_id"),
        col("v"), col("nv"))
      .join(broadcast(cents), col("cell") === col("cent_id"))
      .select(col("vec_id"), col("cell"),
        (dot(col("cv"), col("v")) / (col("cnv") * col("nv")))
          .as("cent_cos"),
        col("v"), col("nv"))
    semDedupSweep(members, threshold)
  }

  /** The within-cell pair sweep + keep-rule shared by [[semDedup]] and
    * [[semDedupServed]] — ONE definition so the drop semantics (and
    * the (cent_cos, vec_id) tie-break) cannot drift between the
    * in-query and served forms. `members`: (vec_id, cell, cent_cos,
    * v, nv). */
  private def semDedupSweep(members: DataFrame,
                            threshold: Double): DataFrame = {
    val a = members.select(col("cell"), col("vec_id").as("id_a"),
      col("cent_cos").as("cc_a"), col("v").as("va"), col("nv").as("na"))
    val b = members.select(col("cell"), col("vec_id").as("id_b"),
      col("cent_cos").as("cc_b"), col("v").as("vb"), col("nv").as("nb"))
    val losers = a.join(b, Seq("cell"))
      .where(col("id_a") < col("id_b"))
      .where((dot(col("va"), col("vb")) / (col("na") * col("nb")))
        >= threshold)
      .select(
        when(col("cc_a") > col("cc_b") ||
            (col("cc_a") === col("cc_b") && col("id_a") > col("id_b")),
          col("id_a"))
          .otherwise(col("id_b")).as("vec_id"))
      .distinct()
    members.select(col("vec_id"), col("cell"), col("cent_cos"))
      .join(losers.withColumn("dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("cent_cos"),
        coalesce(col("dropped"), lit(false)).as("is_dropped"))
  }

  /** Neighbors kept per vector by [[knnJoin]]. */
  val KnnK = 3

  /** Banded-LSH kNN self-join: every corpus vector gets its KnnK
    * nearest neighbors among banded-bucket collisions — the "find
    * related items for ALL rows" shape (vs the bounded query set of
    * the `topkCosine*` family). Candidates collide on the (table,
    * signature) key of [[bandedSignatureRows]] (domain grows with N —
    * VERDICT r6 #1; the B tables replace radius-1 multi-probe as the
    * recall lever), the distinct collapses pairs colliding in several
    * tables BEFORE vectors are joined back, and per-vector selection
    * runs through the shared salted two-phase [[Ranking.saltedTopK]].
    * Vectors colliding with nothing in any table have no neighbors. */
  def knnJoin(spark: SparkSession, dir: String, k: Int = KnnK,
              saltBuckets: Int = 16): DataFrame = {
    val n = corpusSize(spark, dir)
    val h = tablePlanesFor(n)
    val c = corpus(spark, dir)
    val cand = bandedCollisions(bandedSignatureRows(c, h), _ =!= _)
      .select(col("id_a").as("vec_id"), col("id_b").as("nn_id"))
      .distinct()
    // r18 rescore shape (VERDICT r17 #3, guide §3.1/§8): float32
    // vector side, envelope-broadcast — the 53.8 M-candidate rescore
    // at the ×100 mint stops re-shuffling ~280 B of vector per pair
    // row; see [[rescoreCorpus]]/[[rescoreSide]].
    val r = rescoreCorpus(spark, dir)
    val va = rescoreSide(r.select(col("vec_id"), col("v").as("va"),
      col("nv").as("na")), n)
    val vb = rescoreSide(r.select(col("vec_id").as("nn_id"),
      col("v").as("vb"), col("nv").as("nb")), n)
    val scored = cand.join(va, "vec_id").join(vb, "nn_id")
      .select(col("vec_id"), col("nn_id"),
        (dot(col("va"), col("vb")) / (col("na") * col("nb"))).as("cosine"))
    Ranking.saltedTopK(scored,
      part = Seq(col("vec_id")),
      ord = Seq(col("cosine").desc, col("nn_id").asc),
      saltOn = col("nn_id"), k = k, saltBuckets = saltBuckets)
  }

  /** ANN recall report — the standing-deployment health check "is the
    * approximate index still finding what exact search finds?", run
    * per query: n_returned (LSH may return < k when buckets are
    * sparse), n_hits (approximate results confirmed by the exact
    * top-k), recall = n_hits / k. Both inputs are deterministic, the
    * join is on (q_id, vec_id), and recall is an int/const IEEE
    * quotient — oracle-checkable bit-for-bit. The exact side is the
    * broadcast-bounded [[topkCosine]] (the query set is fixed, so this
    * diagnostic is CHEAP — it never scores more than the exact
    * baseline does); production points it at a sampled query panel to
    * monitor a 100 TB index after maintenance cycles. LSH is the
    * reported method here; the IVF path's quality is pinned by
    * SimilaritySpec (spherical-k-means objective + recall floor) — its
    * in-query-training twin is expensive enough that re-running it
    * inside a second oracle row buys no new information. */
  def lshRecallReport(spark: SparkSession, dir: String,
                      k: Int = TopK): DataFrame =
    recallReportOf(topkCosineLsh(spark, dir, k), topkCosine(spark, dir, k), k)

  /** Generic per-query recall of an approximate top-k result against an
    * exact one — the method-agnostic core of [[lshRecallReport]], also
    * run against a maintained on-disk IVF index after N incremental
    * appends (SimilaritySpec index-drift health check, VERDICT r7 #6).
    * Both frames need (q_id, vec_id) columns; extra columns ignored. */
  def recallReportOf(approx: DataFrame, exact: DataFrame,
                     k: Int): DataFrame =
    approx.select(col("q_id"), col("vec_id"))
      .join(exact.select(col("q_id"), col("vec_id"), lit(1).as("hit")),
        Seq("q_id", "vec_id"), "left")
      .groupBy(col("q_id"))
      .agg(
        count(lit(1)).as("n_returned"),
        sum(coalesce(col("hit"), lit(0))).as("n_hits"))
      .withColumn("recall", col("n_hits") / lit(k.toDouble))

  /** Post-takedown ANN health (r15, VERDICT r14 next #4): per-query
    * recall of the takedown-aware IVF serve against the exact top-k
    * over the PURGED corpus — the unmeasured consequence of the
    * deliberate never-retrain-on-takedown policy
    * ([[Takedown.takedownIvf]]): centroids keep the purged vectors'
    * mass, so after heavy purges the probe ranking drifts from where
    * the live vectors actually are and recall decays silently. This is
    * [[lshRecallReport]]'s shape with the IVF serve as the approximate
    * arm and the index's OWN deletes defining the ground-truth corpus;
    * the exact arm is the broadcast-bounded brute force (the query
    * panel is fixed, so the diagnostic costs one corpus pass —
    * production runs it on a sampled panel after maintenance cycles,
    * the lshRecallReport note). */
  def recallAfterTakedown(spark: SparkSession, indexPath: String,
                          dir: String, k: Int = TopK): DataFrame = {
    val c = corpus(spark, dir)
    val q = c.where(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("nv").as("nq"))
    val approx = queryIvfIndex(spark, indexPath, q, k)
    val root = Compaction.resolveRoot(spark, indexPath)
    // The purged corpus is INDEX MEMBERSHIP — the vec_ids the serve
    // path still answers with — not `corpus minus the deletes sidecar`
    // (r17): compaction FOLDS deletes into the postings generation and
    // empties the sidecar, so a sidecar-derived live set silently
    // resurrects every folded takedown in the exact arm and the panel
    // reports drift that isn't there. Postings-minus-current-deletes is
    // fold-invariant: pre-fold it equals the sidecar subtraction,
    // post-fold the postings are already purged.
    val servedIds = Takedown.applyDeletes(
      ivfPostings(spark, root).select(col("vec_id")),
      s"$root/deletes", idCol = "vec_id").distinct()
    val live = c.join(servedIds, Seq("vec_id"), "left_semi")
    val scored = live.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        (dot(col("qv"), col("v")) / (col("nq") * col("nv"))).as("cosine"))
    val exact = Ranking.saltedTopK(scored,
      part = Seq(col("q_id")),
      ord = Seq(col("cosine").desc, col("vec_id").asc),
      saltOn = col("vec_id"), k = k, saltBuckets = 64)
    recallReportOf(approx, exact, k)
  }

  /** True when the panel's MEAN post-takedown recall fell below
    * `floor` — the retrain-due signal the takedown stream polls beside
    * compactionDue ([[graft.streaming.StreamingIngest]]): compaction
    * keeps the index PHYSICALLY healthy, this keeps it SEMANTICALLY
    * healthy. One bounded driver probe (the report is ≤ NumQueries
    * rows). */
  def retrainDue(spark: SparkSession, indexPath: String, dir: String,
                 floor: Double, k: Int = TopK): Boolean =
    recallAfterTakedown(spark, indexPath, dir, k)
      // An EMPTY panel (every query's probed cells purged hollow) is
      // maximal drift, not a missing measurement — mean 0, flag fires.
      .agg(coalesce(avg(col("recall")), lit(0.0)))
      .collect()(0).getDouble(0) < floor

  /** Levels for [[quantizeEmbeddings]] (int8-style: codes 0..255). */
  val QuantLevels = 256

  /** Scalar quantization calibration + encoding, long form: per-dim
    * corpus min/max (the calibration pass — one posexplode + hash
    * aggregate, shuffle key space = dim, corpus-size-independent), then
    * code = floor((x − mn)·(levels−1) / (mx − mn)), clamped degenerate
    * dims to 0. Emitted as (vec_id, dim, code) — the compact form an
    * ANN index stores (4× smaller than float32; production packs codes
    * to bytes at write). Every step is IEEE +,−,×,÷ and floor on
    * identical operands, so codes are engine-identical (no
    * transcendentals — SURVEY §8.5).
    *
    * The corpus IS scanned twice (calibrate, then encode) — deliberate:
    * min/max cannot be known mid-pass, the alternative dim-keyed window
    * puts a whole corpus-per-dim partition on one task, and production
    * persists the 64-row calibration table anyway (encode-only
    * thereafter, including for streaming appends). */
  def quantizeEmbeddings(spark: SparkSession, dir: String,
                         levels: Int = QuantLevels): DataFrame = {
    val c = corpus(spark, dir)
      .select(col("vec_id"), posexplode(col("v")).as(Seq("dim", "x")))
    val params = c.groupBy(col("dim"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
    c.join(broadcast(params), "dim")
      .select(col("vec_id"), col("dim"), col("x"),
        when(col("mx") > col("mn"),
          floor((col("x") - col("mn")) * lit((levels - 1).toDouble) /
            (col("mx") - col("mn"))).cast("int"))
          .otherwise(lit(0)).as("code"))
  }

  /** Pinned reader schemas of the persisted IVF index: every read of
    * `centroids` and `postings` goes through [[ivfCentroids]] /
    * [[ivfPostings]], so no read pays a parquet schema-inference job
    * (one footer-reading Spark job per read, per lookup). The
    * partition columns are left to discovery, which reads them off the
    * directory names without a job: `cell` keeps the type it always
    * had (INT while the centroid ids fit), and a `batch_id` column is
    * appended for the stream-maintained layout. */
  private val IvfCentroidsSchema = "cent_id BIGINT, cv ARRAY<DOUBLE>, cnv DOUBLE"
  private val IvfPostingsSchema = "vec_id BIGINT, v ARRAY<DOUBLE>, nv DOUBLE"

  /** The (cent_id, cv, cnv) centroid table under a RESOLVED IVF root. */
  def ivfCentroids(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(IvfCentroidsSchema).parquet(s"$root/centroids")

  /** The cell-partitioned (vec_id, v, nv, [batch_id,] cell) postings
    * under a RESOLVED IVF root. */
  def ivfPostings(spark: SparkSession, root: String): DataFrame =
    spark.read.schema(IvfPostingsSchema).parquet(s"$root/postings")

  /** Persist the IVF index as two parquet tables: `centroids`
    * (cent_id, cv, cnv — k = O(√N) rows, ~16 MB at 1 B vectors, so the
    * broadcast stays practical through the scalable range; past ~10¹²
    * vectors shard the centroid scoring instead of broadcasting) and
    * `postings` partitioned BY CELL (hive layout `cell=N/`), so a query
    * probing NumProbes cells reads exactly those directories and the
    * scan prunes the rest of the corpus (`PartitionFilters` in the
    * plan) — the true inverted-list access path, which the in-memory
    * [[topkCosineIvf]] can only simulate with a shuffle. Build once,
    * serve many: the standing-index shape for a corpus that outlives
    * any single query's runtime. */
  def buildIvfIndex(spark: SparkSession, dir: String,
                    indexPath: String): Unit =
    buildIvfIndexOf(spark, Tables.embeddings(spark, dir), indexPath)

  /** [[buildIvfIndex]] over an arbitrary raw-embeddings frame — the
    * form the incremental-maintenance spec builds its base index
    * through. */
  def buildIvfIndexOf(spark: SparkSession, emb: DataFrame,
                      indexPath: String): Unit = {
    val c = corpusOf(spark, emb)
    // Trained centroids (VERDICT r5 ask #4): KmIterations Lloyd rounds
    // from the deterministic hash-sample seed, k = O(√N) — training
    // happens ONCE here at build time; serving and incremental appends
    // read the persisted result (parquet round-trips the 9-dp doubles
    // exactly).
    buildIvfIndexWith(c, trainedCentroidsOf(c), indexPath)
  }

  /** Index build over an EXPLICIT (cent_id, cv, cnv) centroid set — the
    * rebuild-without-retraining form (e.g. re-laying-out a grown corpus
    * against the serving centroids, or the spec's append-vs-rebuild
    * bit-identity proof, which must hold the centroid set fixed: Lloyd
    * means depend on the member set, so a base-only training run and a
    * full-corpus one diverge by construction). */
  def buildIvfIndexWith(c: DataFrame, cents: DataFrame,
                        indexPath: String): Unit = {
    // ADVICE r5: an empty centroid set would assign NO cells (the
    // crossJoin produces zero rows) and silently publish an index that
    // loses every vector — fail fast instead. The set is bounded, so
    // the probe is a cheap one-partition job at build time.
    require(!cents.isEmpty,
      s"refusing to build IVF index at $indexPath with ZERO centroids " +
        "(empty corpus, or a mis-built input)")
    cents.write.mode("overwrite").parquet(s"$indexPath/centroids")
    assignCells(c, cents)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$indexPath/postings")
  }

  /** The normalized corpus shape over a raw embeddings frame, exposed
    * for explicit-centroid builds ([[buildIvfIndexWith]]). */
  def normalizedCorpusOf(spark: SparkSession, emb: DataFrame): DataFrame =
    corpusOf(spark, emb)

  /** Nearest-centroid assignment of a normalized corpus frame — ONE
    * definition of the scoring and (ccos desc, cent_id asc) tie-break
    * shared by the full build and the incremental append, so their
    * bit-identity proof (SimilaritySpec) cannot drift. Returns the
    * cell-partitioned postings shape. */
  private def assignCells(c: DataFrame, cents: DataFrame): DataFrame = {
    val scoredCells = c.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        (dot(col("cv"), col("v")) / (col("cnv") * col("nv"))).as("ccos"))
    val byVec = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cent_id").asc)
    val cells = scoredCells.withColumn("crank", row_number().over(byVec))
      .where(col("crank") === 1)
      .select(col("vec_id"), col("cent_id").as("cell"))
    c.join(cells, "vec_id")
      .select(col("cell"), col("vec_id"), col("v"), col("nv"))
  }

  /** Incremental IVF maintenance: assign ONLY the arrival slice to the
    * already-trained centroids (read back from the index — broadcast,
    * O(√N) rows) and append its postings into the cell-partitioned layout
    * (hive partition append touches only the cells the new vectors land
    * in). Centroids stay FIXED — the production contract: cells are
    * retrained on full rebuild, not per arrival, so serving stays
    * consistent while the corpus grows; per-increment cost is
    * O(|slice| · centroids), never O(corpus). `newVecs` takes the raw
    * embeddings shape (vec_id, label, emb Array[Float]); [[assignCells]]
    * is the SAME code the full build runs, so an appended index is
    * bit-identical to rebuilding with the same centroid set
    * (SimilaritySpec). The append is at-least-once: a crash after the
    * write followed by a re-run would post the slice twice, and
    * duplicate postings corrupt top-k serving (both copies rank; ties
    * then break nondeterministically) — the pair table has the same
    * replay exposure and absorbs it with a serve-time distinct
    * ([[graft.operators.Dedup.pairTable]]); postings could too, but the
    * clean fix is not to serve a half-applied index at all: stage the
    * index under [[graft.sinks.Sinks.publishVersioned]] and re-point
    * only after the slice's append completed. */
  /** Batch-keyed twin of [[appendToIvfIndex]] for the STREAMING
    * maintenance path (VERDICT r6 #3 + ADVICE r6 bootstrap-replay): the
    * slice's postings land under the micro-batch's own `batch_id=N`
    * partition directory (cell-partitioned inside it) with OVERWRITE,
    * so a batch replayed after a checkpoint-window crash converges to
    * the same bytes instead of appending duplicate postings — which
    * would corrupt top-k serving (both copies rank). Exactly-once by
    * layout; `batch_id` rides as a provenance partition column and
    * cell-pruning still applies (both are partition keys). Assignment
    * is the shared [[assignCells]] against the persisted centroids. */
  def appendToIvfIndexBatch(spark: SparkSession, newVecs: DataFrame,
                            indexPath: String, batchId: Long): Unit = {
    // Replay guard post-compaction + generation resolution (r13/r14).
    if (Compaction.isFolded(spark, indexPath, batchId)) return
    val root = Compaction.resolveRoot(spark, indexPath)
    // An index built flat (buildIvfIndex) adopts the batch-keyed
    // layout on first stream contact: its cell=* dirs move under
    // batch_id=-1, because batch_id= dirs NEXT TO flat cell=* dirs
    // make the whole postings directory unreadable (r7 review).
    graft.sinks.Sinks.adoptFlatLayout(spark, s"$root/postings")
    val nv = corpusOf(spark, newVecs)
    val cents = ivfCentroids(spark, root)
    require(!cents.isEmpty,
      s"IVF index at $indexPath has an empty centroid table — " +
        "mis-built or truncated; appending would silently drop the slice")
    assignCells(nv, cents)
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$root/postings/batch_id=$batchId")
  }

  /** Bootstrap twin of [[appendToIvfIndexBatch]]: train centroids from
    * the first slice and write BOTH tables idempotently — centroids by
    * plain overwrite (training is deterministic, so a replay rewrites
    * identical bytes), postings under the batch's own partition. The
    * ADVICE r6 crash window (bootstrap writes landed, checkpoint
    * commit didn't) therefore converges WHICHEVER branch the replay
    * takes: re-entering here retrains to the identical centroids and
    * overwrites; falling through to the append branch (centroids
    * exist) assigns against the very centroids this bootstrap
    * persisted — the same [[assignCells]] the bootstrap ran — and
    * overwrites the same batch partition. */
  def buildIvfIndexBatch(spark: SparkSession, emb: DataFrame,
                         indexPath: String, batchId: Long): Unit = {
    // Replay guard post-compaction (r13): see [[Compaction]].
    if (Compaction.isFolded(spark, indexPath, batchId)) return
    val root = Compaction.resolveRoot(spark, indexPath)
    graft.sinks.Sinks.adoptFlatLayout(spark, s"$root/postings")
    val c = corpusOf(spark, emb)
    val cents = trainedCentroidsOf(c)
    require(!cents.isEmpty,
      s"refusing to bootstrap IVF index at $indexPath with ZERO " +
        "centroids (empty first slice)")
    cents.write.mode("overwrite").parquet(s"$root/centroids")
    // Assign against the PERSISTED centroids (parquet round-trips the
    // 9-dp doubles exactly) so Lloyd doesn't recompute for the
    // assignment pass and the append branch is provably identical.
    assignCells(c, ivfCentroids(spark, root))
      .write.mode("overwrite").partitionBy("cell")
      .parquet(s"$root/postings/batch_id=$batchId")
  }

  def appendToIvfIndex(spark: SparkSession, newVecs: DataFrame,
                       indexPath: String): Unit = {
    val root = Compaction.resolveRoot(spark, indexPath)
    val nv = corpusOf(spark, newVecs)
    // This flat-append API must not write cell=* dirs into a
    // STREAM-maintained (batch_id-keyed) postings layout — the mix is
    // unreadable at partition discovery. Fail fast toward the batch
    // twin (r7 review).
    val postings = new org.apache.hadoop.fs.Path(s"$root/postings")
    val fs = postings.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(postings) || !fs.listStatus(postings)
        .exists(_.getPath.getName.startsWith("batch_id=")),
      s"$indexPath/postings is batch_id-keyed (stream-maintained) — " +
        "use appendToIvfIndexBatch, which overwrites its own partition")
    val cents = ivfCentroids(spark, root)
    // ADVICE r5: an empty/truncated centroid table would make the
    // assignment crossJoin produce zero rows and the append write
    // NOTHING — the whole arrival slice silently lost. Fail fast.
    require(!cents.isEmpty,
      s"IVF index at $indexPath has an empty centroid table — " +
        "mis-built or truncated; appending would silently drop the slice")
    assignCells(nv, cents)
      .write.mode("append").partitionBy("cell")
      .parquet(s"$root/postings")
  }

  /** Serve top-k from a persisted [[buildIvfIndex]] index: rank the
    * broadcast centroid table per query, probe the NumProbes best
    * cells, and push `cell IN (...)` into the postings scan so only the
    * probed partitions are read. Scoring and ranking match
    * [[topkCosineIvf]] exactly (same argmax tie-breaks), so serving
    * from disk is result-identical to the in-memory plan. */
  def queryIvfIndex(spark: SparkSession, indexPath: String,
                    queries: DataFrame, k: Int = TopK): DataFrame = {
    graft.expressions.DotProduct.register(spark)
    // Generation-resolved ONCE per query (r14): centroids and postings
    // always come from the same generation.
    val root = Compaction.resolveRoot(spark, indexPath)
    val cents = ivfCentroids(spark, root)
    val scored = queries.crossJoin(broadcast(cents))
      .select(col("q_id"), col("cent_id"),
        (dot(col("cv"), col("qv")) / (col("cnv") * col("nq"))).as("ccos"))
    val byQ = Window.partitionBy(col("q_id"))
      .orderBy(col("ccos").desc, col("cent_id").asc)
    val probes = scored.withColumn("crank", row_number().over(byQ))
      .where(col("crank") <= NumProbes)
      .select(col("q_id"), col("cent_id").as("cell"))
    // Takedown-aware (r13): taken-down vectors drop out of the probed
    // cells before scoring (no-op join when no takedown ever ran).
    val postings = Takedown.applyDeletes(
      ivfPostings(spark, root),
      s"$root/deletes", idCol = "vec_id")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cosine").desc, col("vec_id").asc)
    postings.join(broadcast(probes), "cell")
      .join(broadcast(queries), Seq("q_id"))
      .where(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"), col("cell"),
        (dot(col("qv"), col("v")) / (col("nq") * col("nv"))).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Lloyd's k-means refinement for the IVF coarse index: starting from
    * the deterministic hash-sampled centroids, each iteration (1)
    * assigns every vector to its nearest centroid by cosine — a
    * broadcast of the O(√N) centroid set, one corpus pass — and (2)
    * recomputes centroids as member means via the posexplode +
    * (cell, dim) hash-aggregate shape of [[labelCentroids]] (shuffle key
    * space = k × dim, sublinear in corpus size). Component means are
    * rounded to 9 dp so the refined index is partitioning-independent
    * and replay-stable, like every other deterministic artifact here.
    * Returns (cell, dim, mean_x) for the refined centroids. */
  def kmeansRefine(spark: SparkSession, dir: String,
                   iterations: Int = 2): DataFrame = {
    val c = corpus(spark, dir)
    kmeansRefineOf(c, iterations,
      centroidCountFor(corpusSize(spark, dir)))
  }

  /** [[kmeansRefine]] over a prebuilt normalized corpus frame and an
    * explicit centroid count — the form [[trainedCentroidsOf]] (and
    * thus every IVF build) goes through. */
  def kmeansRefineOf(c: DataFrame, iterations: Int, k: Int): DataFrame = {
    var cents = seedCentroidsOf(c, k)
      .select(col("cent_id").as("cell"),
        posexplode(col("cv")).as(Seq("dim", "cx")))
      .select(col("cell"), col("dim"), col("cx"))
    for (_ <- 1 to iterations) {
      // Rebuild centroid vectors (k × dim rows → k rows of array) and
      // broadcast; assignment is a deterministic argmax (cosine desc,
      // cell asc) per vector.
      val cvecs = cents.groupBy(col("cell"))
        .agg(array_sort(collect_list(struct(col("dim"), col("cx"))))
          .as("pairs"))
        .select(col("cell"),
          transform(col("pairs"), p => p.getField("cx")).as("cv"))
        .withColumn("cnv", sqrt(call_function("dot_d", col("cv"), col("cv"))))
      val byVec = Window.partitionBy(col("vec_id"))
        .orderBy(col("ccos").desc, col("cell").asc)
      val assigned = c.crossJoin(broadcast(cvecs))
        .select(col("vec_id"), col("cell"), col("v"),
          (call_function("dot_d", col("cv"), col("v")) /
            (col("cnv") * col("nv"))).as("ccos"))
        .withColumn("r", row_number().over(byVec))
        .where(col("r") === 1)
      val updated = assigned
        .select(col("cell"), posexplode(col("v")).as(Seq("dim", "x")))
        .groupBy(col("cell"), col("dim"))
        .agg(round(avg(col("x")), 9).as("cx"))
      // Lloyd's empty-cluster guard: a cell that attracted no members
      // this iteration keeps its previous centroid instead of silently
      // vanishing from the index (k must stay k).
      val emptyCells = cents.select(col("cell")).distinct()
        .join(updated.select(col("cell")).distinct(), Seq("cell"), "left_anti")
      // localCheckpoint per iteration: `updated` appears twice and
      // `cents` three times in this expression — without materializing,
      // the crossJoin subtree would nest and re-execute per iteration
      // (plan growth ~3× per round). k×dim rows: tiny.
      val next = updated.unionByName(cents.join(emptyCells, "cell"))
        .localCheckpoint()
      cents.unpersist()
      cents = next
    }
    cents.select(col("cell"), col("dim"), col("cx").as("mean_x"))
  }

  /** Per-label centroid components: posexplode each vector and hash-
    * aggregate per (label, dim) — map-side partial sums collapse each
    * partition before the shuffle, and the shuffle key space is
    * #labels × dim regardless of corpus size (the scale shape for any
    * vector-mean step: class centroids, k-means updates). Component
    * means are rounded to 6 dp: row-summation order varies with
    * partitioning, but per-row values are exact, so the rounded mean is
    * stable (error ~1e-12 ≪ tolerance) and cross-engine identical. */
  def labelCentroids(spark: SparkSession, dir: String): DataFrame =
    corpus(spark, dir)
      .select(col("label"), posexplode(col("v")).as(Seq("dim", "x")))
      .groupBy(col("label"), col("dim"))
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("x")), 6).as("mean_x"))

  /** Corpus statistics by label: counts and L2-norm aggregates. The norm
    * sum is rounded to 6 dp — norms are bit-identical per row across
    * engines, so only group summation order differs (error ~1e-12,
    * far inside the rounding tolerance). */
  def embeddingStats(spark: SparkSession, dir: String): DataFrame =
    corpus(spark, dir)
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("n_vectors"),
        round(sum(col("nv")), 6).as("total_norm"),
        round(min(col("nv")), 6).as("min_norm"),
        round(max(col("nv")), 6).as("max_norm"))
}

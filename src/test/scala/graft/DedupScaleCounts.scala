package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Replication helpers for the scale specs (DedupScaleSpec,
  * DeconScaleSpec): replicate the corpus m× at a FIXED duplicate rate
  * and count what each operator finds. The claim being gated: cost and
  * output grow ~LINEARLY (or exactly m×/additively) with corpus size at
  * fixed dup rate — the property that makes the design survive
  * 100 TB, unlike an all-pairs baseline's m² growth. The sweeps at
  * larger m are recorded in BASELINE.md (rounds 3–15).
  *
  * Replicas must be DISTINCT documents (clones would RAISE the dup rate
  * and melt every bucket): each replica r rewrites the text through a
  * rotated-alphabet substitution, which changes every shingle while
  * preserving the replica's internal near-dup structure — so the planted
  * dup rate is constant across m by construction. The rotation touches
  * LOWERCASE letters only: uppercase/digit-heavy corpora would keep some
  * shingles identical across replicas and weaken the disjoint-shingle
  * premise (the testdata documents are lowercase prose, where it holds).
  */
object DedupScaleCounts {

  private val Alphabet = "abcdefghijklmnopqrstuvwxyz"

  /** Multipliers coprime to 26 — the `a` of the affine letter map. */
  private val Coprimes = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)

  /** Replica r's alphabet bijection σ_r(i) = a·i + b (mod 26) with
    * a = Coprimes[r/26 mod 12], b = r mod 26. Plain rotation repeats
    * every 26 replicas — replica 26 would EXACTLY clone replica 0 and
    * melt the planted dup rate — while the affine family provides 312
    * distinct bijections (identity at r = 0, and a = 1 reproduces the
    * historical rotation for r < 26, so the ≤×20 sweep series is
    * unchanged). Two distinct affine maps agree on at most a small
    * letter subset, so multi-word shingles stay disjoint across
    * replicas. */
  private def perm(r: Int): String = {
    val a = Coprimes((r / 26) % Coprimes.size)
    val b = r % 26
    (0 until 26).map(i => Alphabet((a * i + b) % 26)).mkString
  }

  /** Replica r alone: rotated-alphabet text, ids offset by r·stride. */
  def replicaOf(docs: DataFrame, r: Int, stride: Long): DataFrame =
    docs.select(
      (col("doc_id") + lit(r * stride)).as("doc_id"),
      (if (r == 0) col("text")
       else translate(col("text"), Alphabet, perm(r))).as("text"))

  /** Corpus replicated m× with disjoint shingle spaces per replica.
    * Replica ids are offset by max(doc_id)+1 per replica — derived from
    * the data, so they stay collision-free for any base id range (a fixed
    * 10M stride would collide once base ids reach 10M). */
  def replicate(docs: DataFrame, m: Int): DataFrame = {
    val stride = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    (0 until m).map(replicaOf(docs, _, stride)).reduce(_ unionAll _)
  }

  /** Duplicated-span count ([[Dedup.duplicateSpans]]) at replication m.
    * Same disjoint-shingle-space construction: every duplicated w-gram
    * lives inside one replica, so the span set replicates exactly —
    * span count must be EXACTLY m× the base, confirming the span
    * pipeline has no cross-corpus pair term (it is one aggregation on
    * the gram key, linear by construction). */
  def spanCounts(docs: DataFrame, m: Int, w: Int = 8): Long =
    Dedup.duplicateSpans(replicate(docs, m), "doc_id", "text", w,
      byHash = true).count()

  /** Embedding corpus replicated m× in DISJOINT regions of cosine space:
    * replica r runs every vector through a per-replica orthogonal
    * transform (cyclic coordinate shift by r, then a deterministic ±1
    * diagonal) — orthogonal maps preserve every WITHIN-replica cosine
    * exactly, so each replica carries an identical near-dup structure,
    * while cross-replica cosines decorrelate (the semantic analogue of
    * the rotated-alphabet trick above). Ids stride by 2·(max+1) per
    * replica; every `cloneEvery`-th vector gets an EXACT clone (cos = 1)
    * at id + stride — the planted duplicates whose recovery the sweep
    * gates. */
  def semReplicate(emb: DataFrame, m: Int,
      cloneEvery: Int = 20): DataFrame = {
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val stride = emb.agg(max(col("vec_id"))).head().getLong(0) + 1L
    val s2 = 2L * stride
    (0 until m).map { r =>
      val shift = r % dim
      val signs = array((0 until dim).map(j =>
        lit(if (((j * 2654435761L + (r + 1) * 40503L) >>> 3) % 2 == 0)
          1.0 else -1.0)): _*)
      val v = col("embedding").cast("array<double>")
      val shifted =
        if (shift == 0) v
        else concat(slice(v, shift + 1, dim - shift), slice(v, 1, shift))
      val tv = zip_with(shifted, signs, (x, s) => x * s)
      val base = emb.select((col("vec_id") + lit(r * s2)).as("vec_id"),
        tv.as("embedding"))
      val clones = base
        .filter(pmod(col("vec_id") - lit(r * s2), lit(cloneEvery.toLong))
          === 0)
        .select((col("vec_id") + lit(stride)).as("vec_id"),
          col("embedding"))
      base.unionAll(clones)
    }.reduce(_ unionAll _)
  }

  /** (planted clone pairs found, total pairs, planted clone count) at
    * replication m. Cluster count scales WITH the corpus (16·m) — the
    * SemDeDup scale posture: occupancy stays put, so Σ|cluster|² (the
    * pairwise term) grows linearly, not quadratically. A clone pair is
    * identified by id_b − id_a == stride AND same replica (the id-diff
    * alone is impossible for natural pairs but IS attainable across a
    * replica boundary — clone(r, w) vs base w of replica r+1). */
  def semCounts(emb: DataFrame, m: Int, tau: Double = 0.99,
      maxCluster: Int = 400): (Long, Long, Long) = {
    val stride = emb.agg(max(col("vec_id"))).head().getLong(0) + 1L
    val corpus = semReplicate(emb, m).persist()
    val planted = corpus
      .filter(pmod(col("vec_id"), lit(2L * stride)) >= stride).count()
    val pairs = graft.operators.SemDedup.nearDupPairs(corpus, "vec_id",
      "embedding", nClusters = 16 * m, tau = tau, seed = 42L,
      maxCluster = maxCluster).persist()
    val total = pairs.count()
    // same-replica guard: clone(r, w) and base w of replica r+1 ALSO
    // differ by exactly `stride` across the replica boundary, so the
    // diff test alone could count a (cosmically unlikely but possible)
    // cross-replica match as planted
    val plantedFound =
      pairs.filter(col("id_b") - col("id_a") === stride &&
        floor(col("id_a") / (2L * stride)) ===
          floor(col("id_b") / (2L * stride))).count()
    pairs.unpersist()
    corpus.unpersist()
    (plantedFound, total, planted)
  }

  /** SimHash near-dup pair count at replication m, plus each replica's
    * OWN pair count. Unlike MinHash/spans, per-replica counts are NOT
    * identical — a signature's hamming distance depends on the token
    * hash values, not just token overlap, so rotating the alphabet
    * re-rolls which borderline pairs land ≤ maxHamming. The scale
    * property that DOES hold exactly (and is gated): total pairs ==
    * Σ per-replica pairs — cross-replica 64-bit signatures decorrelate
    * (P(hamming ≤ 6) ≈ 2⁻⁴⁰ per pair), so the banded join contributes
    * ZERO cross-corpus term and growth is additive, i.e. linear. */
  def simhashCounts(docs: DataFrame, m: Int,
      maxHamming: Int = 6): (Long, Seq[Long]) = {
    val stride = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val total = Dedup.simhashNearDups(replicate(docs, m), "doc_id",
      "text", maxHamming = maxHamming).count()
    val per = (0 until m).map(r =>
      Dedup.simhashNearDups(replicaOf(docs, r, stride), "doc_id", "text",
        maxHamming = maxHamming).count())
    (total, per)
  }

  /** Image + audio near-dup pair counts at replication m — the
    * multimodal mirror of [[simhashCounts]]: the synthetic corpora
    * ([[graft.multimodal.Multimodal.syntheticPng]]/[[graft.multimodal
    * .Multimodal.syntheticWav]]) derive content from fmix64(doc_id), so
    * replicating the ID SPACE (stride offsets) replicates the corpora
    * with decorrelated signatures — each replica plants its own
    * docId ≡ 1 (mod 40) twins, and a cross-replica Hamming ≤ 2 match
    * is ~2⁻⁵⁰ per pair. Per-replica twin counts differ slightly (the
    * mod-40 pattern shifts with the stride offset), so the gated
    * invariant is ADDITIVITY: union pairs == Σ per-replica pairs — the
    * banded join contributes zero cross-corpus term, i.e. growth is
    * linear. Returns (imgTotal, imgPerReplica, audTotal,
    * audPerReplica). */
  def mmCounts(docs: DataFrame, m: Int): (Long, Seq[Long], Long, Seq[Long]) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val mm = graft.multimodal.Multimodal
    val png = udf((id: Long) => mm.syntheticPng(id))
    val wav = udf((id: Long) => mm.syntheticWav(id))
    val stride = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    def ids(r: Int): DataFrame =
      docs.select((col("doc_id") + lit(r * stride)).as("doc_id"))
    val all = (0 until m).map(ids).reduce(_ unionAll _)
    def imgPairs(d: DataFrame): Long =
      Dedup.hammingNearDups(
        mm.imageDHashes(d.select($"doc_id", png($"doc_id").as("content"))),
        maxHamming = 2).count()
    def audPairs(d: DataFrame): Long =
      Dedup.hammingNearDups(
        mm.audioFingerprints(
          d.select($"doc_id", wav($"doc_id").as("content"))),
        maxHamming = 2).count()
    (imgPairs(all), (0 until m).map(r => imgPairs(ids(r))),
      audPairs(all), (0 until m).map(r => audPairs(ids(r))))
  }

  /** STREAMING near-dup screen at replication m — the additivity
    * exhibit pushed through the REAL streaming path, not just the
    * batch operator: the ×m corpus (disjoint shingle spaces per
    * replica) splits odd/even on doc_id; the odd half is indexed once
    * ([[Dedup.writeReplayableIndex]]) and the even half is drained
    * through [[graft.streaming.NearDupStream]] as a genuine file
    * backlog (4 micro-batches, fresh checkpoint). Returns
    * (streamed matches, direct batch-screen matches, cross-replica
    * matches). The gated invariants: streamed == direct (the stream ≡
    * batch contract through a real checkpoint at every scale), and
    * cross-replica == 0 (disjoint shingle spaces make a cross-replica
    * match a leak in the stream-static band join). Per arriving shard
    * the cost is O(shard) signatures + one bucket join — the wall
    * series exhibits that the screen loop's per-arrival cost does not
    * grow with what was already screened. */
  def streamScreenCounts(spark: SparkSession, docs: DataFrame,
      m: Int): (Long, Long, Long) = {
    val stride = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val corpus = replicate(docs, m)
    val root = Scratch.dir(s"graft_probe_stream_x$m")
    Dedup.writeReplayableIndex(corpus.filter(col("doc_id") % 2 === 1),
      "doc_id", "text", s"$root/idx")
    corpus.filter(col("doc_id") % 2 === 0)
      .repartition(4)
      .write.mode("overwrite").parquet(s"$root/src")
    graft.streaming.NearDupStream.runToCompletion(spark, s"$root/src",
      s"$root/idx", s"$root/out", s"$root/chk")
    val streamed = graft.streaming.NearDupStream
      .readOutput(spark, s"$root/out").persist()
    val total = streamed.count()
    val crossReplica = streamed
      .filter(col("new_id").divide(stride).cast("long") =!=
        col("corpus_id").divide(stride).cast("long"))
      .count()
    streamed.unpersist()
    val direct = Dedup.minhashScreenReplayable(
      spark.read.parquet(s"$root/idx/bands"),
      spark.read.parquet(s"$root/idx/sh"),
      corpus.filter(col("doc_id") % 2 === 0), "doc_id", "text").count()
    (total, direct, crossReplica)
  }

  /** Decontamination overlap counts at replication m: each replica
    * carries its OWN eval slice (doc_id ≡ 0 mod 97 over its offset id
    * range) and a disjoint gram space (affine-rotated text), so the
    * union's contaminated-doc count must be EXACTLY the sum of the
    * per-replica counts — a cross-replica gram match would mean the
    * broadcast eval join leaks across corpora. Per-replica counts
    * legitimately differ (the mod-97 slice shifts with the offset). */
  def deconCounts(docs: DataFrame, m: Int, w: Int = 4): (Long, Seq[Long]) = {
    val stride = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    def cnt(d: DataFrame): Long = graft.operators.Decontaminate
      .overlapReport(d.filter(col("doc_id") % 97 =!= 0),
        d.filter(col("doc_id") % 97 === 0), "doc_id", "text", w)
      .count()
    (cnt(replicate(docs, m)),
      (0 until m).map(r => cnt(replicaOf(docs, r, stride))))
  }

  /** (total blocks, duplicated block instances) at replication m for
    * [[Dedup.blockDupProfile]]. Planted structure: every 5th doc
    * re-appears under a new id, so its blocks repeat corpus-wide; the
    * rotated-alphabet replicas preserve within-replica block equality
    * exactly (translate is a bijection on the letters) while keeping
    * blocks disjoint ACROSS replicas — so both counts must scale by
    * exactly m (the block pipeline is count-join-count, no pair term).
    */
  def blockCounts(docs: DataFrame, m: Int): (Long, Long) = {
    val stride = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val planted = docs.select(col("doc_id"), col("text")).unionAll(
      docs.filter(pmod(col("doc_id"), lit(5L)) === 0)
        .select((col("doc_id") + stride).as("doc_id"), col("text")))
    val prof = Dedup.blockDupProfile(
        replicate(planted, m).withColumn("source", lit("all")),
        "source", "text", blockLen = 10)
      .agg(sum(col("n_blocks")), sum(col("n_dup_inst"))).head()
    (prof.getLong(0), prof.getLong(1))
  }

  /** Corpus replicated m× as EXACT clones with the lang column carried
    * (ids offset per replica). The dedup sweeps need DISTINCT replicas
    * (a clone would melt their buckets); the model-based sweeps below
    * need the OPPOSITE — identical text under different ids — because
    * their gated invariant is "the score/weight is a pure function of
    * CONTENT under the fitted model": every clone must land bit-equal
    * to its base doc. */
  def replicateExact(docs: DataFrame, m: Int): (DataFrame, Long) = {
    val stride = docs.agg(max(col("doc_id"))).head().getLong(0) + 1L
    val corpus = (0 until m).map(r =>
      docs.select((col("doc_id") + lit(r * stride)).as("doc_id"),
        col("text"), col("lang"))).reduce(_ unionAll _)
    (corpus, stride)
  }

  /** DSIR at replication m: (rows weighted, max distinct weights per
    * base doc). The model is fitted on the replicated corpus itself —
    * clones shift the fitted counts, but every clone of a doc carries
    * the SAME gram multiset, so its log-weight under that model must be
    * IDENTICAL to its base doc's (maxDistinct == 1). That exactness is
    * the no-position-dependence proof: the weight depends on content
    * and model only, never on id, partition, or corpus placement. Wall
    * is recorded per m — the pipeline is one gram explode + keyed
    * shuffles, so growth must look linear, never pairwise. */
  def dsirCounts(docs: DataFrame, m: Int): (Long, Long) = {
    val (corpus, stride) = replicateExact(docs, m)
    val w = graft.operators.Dsir.importanceWeights(corpus, "doc_id",
      "text", isTarget = col("lang") === "en", buckets = 1024,
      seed = 42L)
    val perBase = w
      .withColumn("base_id", pmod(col("doc_id"), lit(stride)))
      .groupBy(col("base_id"))
      .agg(countDistinct(col("log_weight")).as("nw"))
    (w.count(), perBase.agg(max(col("nw"))).head().getLong(0))
  }

  /** Quality-classifier at replication m: (rows scored, max distinct
    * scores per base doc). Training stays bounded by construction
    * (≤ maxSample per class regardless of m — the per-class
    * TakeOrdered); the gated invariant is score purity: every clone of
    * a doc gets the bit-identical quality_score under the fitted model
    * (maxDistinct == 1), so scoring is content-pure and the corpus
    * pass is the only cost that grows with m. */
  def qcCounts(docs: DataFrame, m: Int): (Long, Long) = {
    val (corpus, stride) = replicateExact(docs, m)
    val model = graft.ml.QualityClassifier.train(corpus, "doc_id",
      "text", isTarget = col("lang") === "en", buckets = 1024,
      seed = 42L, maxSample = 500, iters = 50)
    val scored = graft.ml.QualityClassifier.score(corpus, "doc_id",
      "text", model)
    val perBase = scored
      .withColumn("base_id", pmod(col("doc_id"), lit(stride)))
      .groupBy(col("base_id"))
      .agg(countDistinct(col("quality_score")).as("ns"))
    (scored.count(), perBase.agg(max(col("ns"))).head().getLong(0))
  }

  /** Phrase-screen audit at replication m ([[graft.operators
    * .PhraseScreen.screen]] with q169's phrase list): screening is
    * content-pure per document — ONE linear Aho–Corasick scan, no pair
    * term, nothing shuffles until this audit's aggregation — so exact
    * clones must reproduce the base exactly: total hits EXACTLY m× and
    * every clone's sorted hit string equal to its base's
    * (maxVariantsPerBase == 1; a violation is a correctness failure,
    * not a statistic). Returns (Σ n_hits, max distinct hit-strings per
    * base doc). */
  def screenCounts(docs: DataFrame, m: Int): (Long, Long) = {
    val (corpus, stride) = replicateExact(docs, m)
    val phrases = Seq("join filter", "data vector", "slow stream",
      "fast hash", "window merge", "customer group", "agg small",
      "quantum flux")
    val hits = graft.operators.PhraseScreen
      .screen(corpus, "doc_id", "text", phrases)
      .withColumn("hs", array_join(col("hits"), "|"))
    val perBase = hits
      .withColumn("base_id", pmod(col("doc_id"), lit(stride)))
      .groupBy(col("base_id"))
      .agg(countDistinct(col("hs")).as("ns"))
    (hits.agg(sum(col("n_hits"))).head().getLong(0),
      perBase.agg(max(col("ns"))).head().getLong(0))
  }

  /** (LSH candidate pairs, MinHash near-dup pairs) at replication m. */
  def counts(docs: DataFrame, m: Int,
      threshold: Double = 0.5): (Long, Long) = {
    val corpus = replicate(docs, m)
    val idx = Dedup.minhashIndex(corpus, "doc_id", "text", 32, 3)
    val cands = Dedup.lshCandidates(idx, 8, 32).count()
    val dups = Dedup.minhashNearDups(corpus, "doc_id", "text",
      threshold = threshold).count()
    (cands, dups)
  }
}

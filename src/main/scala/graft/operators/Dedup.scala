package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Deduplication operators for large text corpora (north-star extension):
  * exact, n-gram Jaccard, MinHash+LSH banding, SimHash. All shuffle-lean:
  * signatures are computed in one pass per document (map-side), candidate
  * generation is one groupBy on the band/bucket key, and only candidate
  * pairs — never all pairs — are verified. That is the shape that holds at
  * 100 TB: cost scales with Σ|buckets|², not n².
  *
  * Everything except SimHash is pure built-in expressions (codegen'd).
  */
object Dedup extends Serializable {

  def tokens(text: Column): Column = split(text, " ")

  /** Word n-gram shingles, distinct, as an array column. `greatest(1, …)`
    * keeps sequence() ascending for docs shorter than n tokens (Spark
    * would otherwise generate a DESCENDING sequence — silent corruption).
    */
  def shingles(text: Column, n: Int = 3): Column =
    // let-bound (TextFunctions.bound): an unbound toks inside the
    // lambda re-splits the doc per gram — the HOF-CSE O(n²) term,
    // measured 6× on this exact expression (BASELINE.md round 8)
    graft.functions.TextFunctions.bound(tokens(text)) { t =>
      array_distinct(transform(
        sequence(lit(1), greatest(lit(1), size(t) - (n - 1))),
        i => concat_ws(" ", slice(t, i, lit(n)))))
    }

  /** Exact dedup: keep the smallest id per identical text. At 100 TB,
    * group on sha2(text, 256) instead of the raw string to shrink the
    * shuffle key (semantically identical modulo 2^-128 collisions). */
  def exact(df: DataFrame, idCol: String, textCol: String,
      byHash: Boolean = false): DataFrame = {
    val key = if (byHash) sha2(col(textCol).cast("binary"), 256)
      else col(textCol)
    df.groupBy(key.as("dedup_key"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_copies"))
      .drop("dedup_key")
  }

  /** Content-keyed snapshot diff: classify every document of two corpus
    * snapshots as `added` (in new, content unseen in old), `removed`
    * (in old, content gone from new), or `common`. Identity is the
    * CONTENT hash, not the id — a re-crawled page with a new id but
    * identical bytes is `common`, which is what an incremental-ingest
    * pipeline needs (only `added` rows proceed to dedup/scoring; the
    * 100 TB history is never rescanned beyond its hash column). Shape:
    * two shuffle joins on the 32-byte hash key against DISTINCT hash
    * sets — both sides stay fully distributed, no broadcast assumption
    * on either snapshot. Rows carry `diff_status`; old-side rows are
    * only emitted for `removed` (the new snapshot already carries
    * `added`/`common`). NULL text hashes to NULL, and SQL null keys
    * never join — a null-text row is treated as content unique to its
    * own snapshot (`added` on the new side, `removed` on the old). */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
      textCol: String): DataFrame = {
    val h = sha2(col(textCol).cast("binary"), 256)
    val oldHashes = oldDf.select(h.as("__h")).distinct()
    val newHashes = newDf.select(h.as("__h")).distinct()
    val newTagged = newDf.withColumn("__h", h)
      .join(oldHashes.withColumn("__seen", lit(true)), Seq("__h"), "left_outer")
      .withColumn("diff_status",
        when(col("__seen").isNotNull, "common").otherwise("added"))
      .drop("__h", "__seen")
    val removed = oldDf.withColumn("__h", h)
      .join(newHashes, Seq("__h"), "left_anti")
      .withColumn("diff_status", lit("removed"))
      .drop("__h")
    newTagged.unionByName(removed)
  }

  /** Fixed-width token-block duplication profile: chop each document
    * into consecutive non-overlapping `blockLen`-token blocks (tail
    * fragment dropped, docs shorter than one block emit nothing) and
    * report, per source, how many block INSTANCES repeat anywhere in
    * the corpus — the cheap passage-granularity duplication signal
    * between whole-document dedup ([[exact]]) and positional span dedup
    * ([[duplicateSpans]]): non-overlapping blocks cost O(tokens/w) rows
    * where spans cost O(tokens). Plan: one generator projection (no
    * shuffle), one count aggregation on the block key, one shuffle join
    * back, one per-source aggregation. At 100 TB swap the join/group
    * key for xxhash64(block) to shrink the shuffle payload (kept as the
    * raw string here so the DuckDB oracle replays it bit-for-bit). */
  def blockDupProfile(df: DataFrame, sourceCol: String, textCol: String,
      blockLen: Int = 10): DataFrame = {
    require(blockLen > 0, "blockLen must be positive")
    val toks = tokens(col(textCol))
    val blocks = df
      .where(size(toks) >= blockLen)
      .select(col(sourceCol).as("source"),
        explode(sequence(lit(0),
          floor(size(toks) / blockLen).cast("int") - 1)).as("__i"),
        toks.as("__ws"))
      .select(col("source"),
        concat_ws(" ",
          slice(col("__ws"), col("__i") * blockLen + 1, lit(blockLen)))
          .as("block"))
    val totals = blocks.groupBy(col("block"))
      .agg(count(lit(1)).as("__tot"))
    blocks.join(totals, "block")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_blocks"),
        countDistinct(col("block")).as("n_distinct"),
        sum(when(col("__tot") > 1, 1L).otherwise(0L)).as("n_dup_inst"))
      .withColumn("dup_rate", round(col("n_dup_inst") / col("n_blocks"), 6))
  }

  /** Positional w-token windows: one row per (id, pos, gram) where gram
    * is the w-token substring starting at 1-based token position pos.
    * Docs shorter than w tokens emit nothing (no partial windows). */
  def positionalWindows(df: DataFrame, idCol: String, textCol: String,
      w: Int): DataFrame = {
    val toks = tokens(col(textCol))
    val grams = graft.functions.TextFunctions.bound(toks) { t =>
      transform(sequence(lit(1), size(t) - (w - 1)),
        i => concat_ws(" ", slice(t, i, lit(w))))
    }
    df.where(size(toks) >= w)
      .select(col(idCol).as("id"), posexplode(grams))
      .select(col("id"), (col("pos") + 1).as("pos"), col("col").as("gram"))
  }

  /** Span-level EXACT substring dedup (the "duplicated n-gram spans" of
    * Lee et al., Deduplicating Training Data Makes Language Models
    * Better, re-expressed for Spark): find every maximal token span that
    * appears verbatim in ≥ `minDocs` distinct documents.
    *
    * Shape (the part that matters at 100 TB): window rows are generated
    * map-side; duplicated grams are ONE aggregation on the gram key
    * (count-distinct-docs — hot boilerplate grams aggregate, they never
    * explode into pairs); marking is one join back on the same key (same
    * partitioning, no extra exchange under exchange reuse); span merging
    * is a per-doc window function (gaps-and-islands: a window starting
    * within w tokens of the previous one extends the same duplicated
    * span). Everything is linear in corpus size — no pair enumeration
    * anywhere, unlike doc-level near-dup which must emit pairs.
    *
    * Set `byHash` to group/join on xxhash64(gram) instead of the gram
    * string — shrinks the shuffle payload from w tokens to 8 bytes at the
    * cost of 2^-64 collision odds (use for the 100 TB run; the oracle
    * path keeps exact strings).
    *
    * Output: (id, span_start, span_end, span_tokens) — 1-based inclusive
    * token positions of each maximal duplicated span. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      w: Int = 12, minDocs: Int = 2, byHash: Boolean = false): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val win = positionalWindows(df, idCol, textCol, w)
      .select(col("id"), col("pos"),
        (if (byHash) xxhash64(col("gram")) else col("gram")).as("gram"))
    val dup = win.groupBy(col("gram"))
      .agg(countDistinct(col("id")).as("n_docs"))
      .where(col("n_docs") >= minDocs)
      .select(col("gram"))
    val marked = win.join(dup, "gram").select(col("id"), col("pos"))
    positionsToSpans(marked, w)
  }

  /** Gaps-and-islands merge: (id, pos) w-gram hit positions → maximal
    * covered spans (adjacent/overlapping hits fuse; a gap > w starts a
    * new island). One window pass per doc partition. Shared by
    * [[duplicateSpans]] and [[contaminatedSpans]]. */
  def positionsToSpans(marked: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byDoc = Window.partitionBy(col("id")).orderBy(col("pos"))
    val islands = marked
      .withColumn("gap",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) > w, 1)
          .otherwise(0))
      .withColumn("island", sum(col("gap")).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    islands.groupBy(col("id"), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + (w - 1)).as("span_end"))
      .select(col("id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_tokens"))
  }

  /** Benchmark-contamination spans: every maximal corpus span covered
    * by n-grams that appear ANYWHERE in the benchmark set — the
    * identify half of eval decontamination (excise with
    * [[exciseSpans]]; doc-level drop is q98's count path). The bench
    * gram set broadcasts (eval suites are thousands of documents, not
    * billions — drop the hint and let AQE decide if that ever changes);
    * the corpus side is one generator projection + the shared
    * gaps-and-islands merge. */
  def contaminatedSpans(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int = 3): DataFrame = {
    val benchGrams = positionalWindows(bench, idCol, textCol, n)
      .select(col("gram")).distinct()
    val marked = positionalWindows(corpus, idCol, textCol, n)
      .join(broadcast(benchGrams), "gram")
      .select(col("id"), col("pos"))
    positionsToSpans(marked, n)
  }

  /** Excise duplicated spans: rebuild every document WITHOUT the tokens
    * inside its [[duplicateSpans]] regions — the decontamination /
    * boilerplate-strip step that follows span identification (content
    * appearing verbatim in ≥ minDocs documents is removed everywhere;
    * use doc-level [[keepCanonical]] when one copy should survive).
    *
    * Spans are collected per doc (bounded: spans per doc ≤ tokens/w) and
    * the rebuild is pure higher-order expressions — zip tokens with
    * positions, drop positions covered by any span, reassemble — so the
    * only cost beyond [[duplicateSpans]] is one aggregation + one join.
    * Docs with no duplicated span pass through untouched (anti-join
    * branch, no array work). Output: (id, n_removed, clean_text). */
  def exciseDuplicateSpans(df: DataFrame, idCol: String, textCol: String,
      w: Int = 12, minDocs: Int = 2, byHash: Boolean = false): DataFrame =
    exciseSpans(df, idCol, textCol,
      duplicateSpans(df, idCol, textCol, w, minDocs, byHash))

  /** The rewrite half of [[exciseDuplicateSpans]], taking an already-
    * materialized span table (columns id/span_start/span_end — e.g.
    * read back from the `dedup-spans` CLI's output) so identification
    * is never recomputed when both artifacts are wanted. */
  def exciseSpans(df: DataFrame, idCol: String, textCol: String,
      spans: DataFrame): DataFrame = {
    // the span id is aliased to a reserved name: if the caller's idCol is
    // itself "id" (duplicateSpans outputs "id"), an unaliased post-join
    // col(idCol) would be ambiguous and fail analysis
    val perDoc = spans.groupBy(col("id").as("__span_id"))
      .agg(collect_list(struct(col("span_start"), col("span_end")))
        .as("__spans"))
    val toks = tokens(col(textCol))
    val zipped = zip_with(toks, sequence(lit(1), size(toks)),
      (t, i) => struct(t.as("t"), i.as("i")))
    val keptArr = filter(zipped, x =>
      !exists(col("__spans"), s =>
        x.getField("i") >= s.getField("span_start") &&
          x.getField("i") <= s.getField("span_end")))
    val touched = df.join(perDoc, df(idCol) === perDoc("__span_id"),
        "inner")
      .select(df(idCol),
        (size(toks) - size(keptArr)).as("n_removed"),
        concat_ws(" ", transform(keptArr, _.getField("t")))
          .as("clean_text"))
    val untouched = df.join(perDoc, df(idCol) === perDoc("__span_id"),
        "left_anti")
      .select(col(idCol), lit(0).as("n_removed"),
        col(textCol).as("clean_text"))
    touched.unionAll(untouched)
  }

  /** Jaccard similarity of two shingle-array columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_distinct(concat(a, b)))

  /** All-pairs n-gram Jaccard — the exact (quadratic) baseline, for small
    * collections or for verifying candidates from the LSH path.
    *
    * `minJaccard` enables the standard LENGTH prefilter: J(A,B) ≥ t
    * implies min(|A|,|B|) ≥ t·max(|A|,|B|) (since |A∩B| ≤ min and
    * |A∪B| ≥ max), so pairs whose shingle-set sizes are too lopsided are
    * dropped on two cheap ints BEFORE the array intersection — results
    * identical to filtering `jaccard ≥ t` afterwards, several× cheaper
    * when sizes vary. Pairs below `t` that survive the size test still
    * appear with their (sub-threshold) jaccard value; apply the final
    * threshold downstream. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, minJaccard: Option[Double] = None): DataFrame = {
    val sh = df.select(col(idCol).as("id"), shingles(col(textCol), n).as("sh"))
    val a = sh.select(col("id").as("id_a"), col("sh").as("sh_a"),
      size(col("sh")).as("sz_a"))
    val b = sh.select(col("id").as("id_b"), col("sh").as("sh_b"),
      size(col("sh")).as("sz_b"))
    val cond = minJaccard match {
      case Some(t) => col("id_a") < col("id_b") &&
        least(col("sz_a"), col("sz_b")).cast("double") >=
          greatest(col("sz_a"), col("sz_b")) * t
      case None => col("id_a") < col("id_b")
    }
    a.join(b, cond)
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
  }

  /** EXACT Jaccard similarity self-join at corpus scale via prefix
    * filtering (AllPairs, Bayardo et al. WWW'07; the SSJoin prefix
    * lemma) — the relational scale path between the quadratic baseline
    * ([[ngramJaccardPairs]], bounded slices only) and the probabilistic
    * LSH path ([[minhashNearDups]], which can miss borderline pairs):
    * every pair with shingle-set Jaccard ≥ `threshold`, no all-pairs
    * term, no false negatives.
    *
    * How the n² term disappears: shingles get a canonical global order
    * (ascending document frequency, shingle string tie-break), each
    * document indexes only its PREFIX — the first
    * m − ceil(t·m) + 1 shingles, the rarest it has — and candidates are
    * pairs sharing a prefix shingle (SSJoin lemma: J ≥ t forces a
    * common element in both prefixes). The inverted-index join is on
    * df-MINIMAL shingles by construction, so its buckets are the
    * smallest the corpus offers — self-limiting skew, the opposite of
    * joining on frequent shingles. A size filter (min ≥ t·max) prunes
    * lopsided pairs on two ints, and only surviving candidates pay the
    * exact intersection count (a join constrained to candidate pairs —
    * cost scales with candidates, not pairs²).
    *
    * Every step is relational (df aggregation, per-doc row_number
    * window, three hash joins), so the whole operator is
    * DuckDB-replayable and q161 holds a green oracle row; the spec
    * additionally proves pair-set EQUALITY with the quadratic baseline
    * (an algorithmic false negative would fool a same-algorithm oracle,
    * but not that parity check). */
  def prefixFilterJaccardPairs(df: DataFrame, idCol: String,
      textCol: String, threshold: Double, n: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0,1]")
    // shingles ride as xxhash64 longs from here on (the q109 shuffle-key
    // pattern: set semantics identical modulo 2^-64 collisions, which
    // the STRING-keyed DuckDB oracle checks) — an 8-byte key through
    // every join instead of a ~20-char string
    val sh = df.select(col(idCol).as("id"),
        explode(shingles(col(textCol), n)).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
    val sized = sh.groupBy(col("id")).agg(count(lit(1)).as("m"))
    val freq = sh.groupBy(col("h")).agg(count(lit(1)).as("tdf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("tdf"), col("h"))
    val prefix = sh.join(freq, "h").join(sized, "id")
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <=
        col("m") - ceil(col("m") * threshold) + lit(1))
    // candidate pairs share a prefix shingle and pass two prunes that
    // never drop a true pair: the size filter (min ≥ t·max), and
    // PPJoin's POSITIONAL filter — for a true pair the first shared
    // shingle in canonical order sits inside BOTH prefixes (else one
    // side's unshared head already caps the overlap below ceil(t·m)),
    // every shared shingle lies at-or-after it in both suffixes, so
    // overlap ≤ 1 + min(m_a − pos_a, m_b − pos_b) there; the max of
    // that bound over matched prefix shingles is the first-match bound,
    // and it must reach the overlap J ≥ t demands:
    // o ≥ t·(m_a + m_b)/(1 + t).
    val cand = prefix.select(col("id").as("id_a"), col("h"),
        col("m").as("m_a"), col("pos").as("pos_a"))
      .join(prefix.select(col("id").as("id_b"), col("h"),
        col("m").as("m_b"), col("pos").as("pos_b")), "h")
      .filter(col("id_a") < col("id_b") &&
        least(col("m_a"), col("m_b")).cast("double") >=
          greatest(col("m_a"), col("m_b")) * threshold)
      .groupBy(col("id_a"), col("id_b"), col("m_a"), col("m_b"))
      .agg(max(lit(1) + least(col("m_a") - col("pos_a"),
        col("m_b") - col("pos_b"))).as("ub"))
      .filter(col("ub").cast("double") >=
        (col("m_a") + col("m_b")) * (threshold / (1 + threshold)))
      .select(col("id_a"), col("id_b"), col("m_a"), col("m_b"))
    // verify candidates on sorted hash-set arrays (one row per pair, a
    // codegen'd array_intersect) instead of re-exploding the postings —
    // the exploded self-join shape costs |cand|·|doc| intermediate rows
    val sets = sh.groupBy(col("id"))
      .agg(sort_array(collect_list(col("h"))).as("hs"))
    val inter = size(array_intersect(col("ha"), col("hb")))
    cand
      .join(sets.select(col("id").as("id_a"), col("hs").as("ha")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("hs").as("hb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (inter.cast("double") /
          (col("m_a") + col("m_b") - inter)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Winnowing document fingerprints (Schleimer–Wilkerson–Aiken,
    * SIGMOD'03 — the MOSS algorithm): hash every k-token gram, slide a
    * w-hash window, keep each window's MINIMUM hash; the selected set
    * is the doc's fingerprint. The guarantee that makes it the
    * partial-overlap detector: any shared token run of ≥ w + k − 1
    * tokens spans at least one full window on both sides, and that
    * window's minimum is the same gram on both — so the docs MUST
    * share a fingerprint (no false negatives above the guarantee
    * length), while only ~1/w of all grams is ever indexed.
    *
    * The gram hash is md5-hex and the window minimum is its
    * LEXICOGRAPHIC min — deliberately, so the entire selection is
    * ANSI-SQL-replayable (DuckDB computes identical md5 strings and
    * list_min) and the operator holds a full oracle row, unlike
    * engine-side hash families (MinHash/SimHash → rows-only). All
    * per-doc work is higher-order array expressions — one scan, no
    * shuffle until the caller aggregates. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 8): DataFrame = {
    require(k >= 1 && w >= 1, "k and w must be >= 1")
    // each stage is MATERIALIZED as a column before the next slices
    // into it: a lambda body re-evaluates any outer expression it
    // references per element (no CSE inside HOFs), so inlining `toks`
    // into the gram lambda — or `grams` into the window lambda — turns
    // an O(n·(k+w)) doc into O(n²·k) md5 work (measured 175 s vs 3 s
    // for the whole sf0.1 query)
    val staged = df
      .select(col(idCol).as("id"), tokens(col(textCol)).as("tk"))
      .select(col("id"), transform(
        // gram i (1-based): tokens i..i+k-1; short docs yield one
        // whole-doc gram (the shingles() convention)
        sequence(lit(1), greatest(lit(1), size(col("tk")) - (k - 1))),
        i => md5(concat_ws(" ", slice(col("tk"), i, lit(k))))).as("gs"))
    staged.select(col("id"), explode(array_distinct(transform(
        sequence(lit(1), greatest(lit(1), size(col("gs")) - (w - 1))),
        i => array_min(slice(col("gs"), i, lit(w)))))).as("fp"))
  }

  /** Candidate near-dup pairs from shared winnowing fingerprints:
    * pairs sharing ≥ `minShared` selected grams, with the shared
    * count — the index-join step of MOSS. Fingerprint buckets are
    * content-frequency-bounded (a gram is selected only where it is a
    * window minimum), and the guarantee bounds recall from below:
    * every pair sharing a ≥ w+k−1 token run appears. */
  def winnowCandidates(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, w: Int = 8, minShared: Int = 2): DataFrame = {
    val fp = winnowFingerprints(df, idCol, textCol, k, w)
    fp.select(col("id").as("id_a"), col("fp"))
      .join(fp.select(col("id").as("id_b"), col("fp")), "fp")
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** EXACT containment join: every DIRECTED pair (A, B) with
    * |sh(A) ∩ sh(B)| / |sh(A)| ≥ `threshold` — "A's content is
    * (mostly) inside B", the asymmetric near-dup Jaccard can't see: a
    * quote, a wrapped article, a doc-in-template all have low Jaccard
    * against their container but high containment. Same AllPairs
    * machinery as [[prefixFilterJaccardPairs]] pointed asymmetrically:
    * containment ≥ t needs overlap ≥ t·|A|, which depends on A alone —
    * so only the PROBE side indexes a prefix (its |A| − ceil(t·|A|) + 1
    * df-rarest shingles; if none land in B the overlap is capped below
    * t·|A|) while the right side keeps full postings. Candidates =
    * probe-prefix × postings on df-minimal shingles (self-limiting
    * buckets), a  |B| ≥ ceil(t·|A|) size prune on two ints, then one
    * sorted-array intersection per surviving pair. No false negatives;
    * every step relational and DuckDB-replayable. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3): DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0,1]")
    val sh = df.select(col(idCol).as("id"),
        explode(shingles(col(textCol), n)).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
    val sized = sh.groupBy(col("id")).agg(count(lit(1)).as("m"))
    val freq = sh.groupBy(col("h")).agg(count(lit(1)).as("tdf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("tdf"), col("h"))
    val prefix = sh.join(freq, "h").join(sized, "id")
      .withColumn("pos", row_number().over(w))
      .filter(col("pos") <=
        col("m") - ceil(col("m") * threshold) + lit(1))
    val cand = prefix.select(col("id").as("id_a"), col("h"),
        col("m").as("m_a"))
      .join(sh.select(col("id").as("id_b"), col("h")), "h")
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"), col("m_a")).distinct()
      .join(sized.select(col("id").as("id_b"), col("m").as("m_b")),
        "id_b")
      .filter(col("m_b") >= ceil(col("m_a") * threshold))
    val sets = sh.groupBy(col("id"))
      .agg(sort_array(collect_list(col("h"))).as("hs"))
    val inter = size(array_intersect(col("ha"), col("hb")))
    cand
      .join(sets.select(col("id").as("id_a"), col("hs").as("ha")), "id_a")
      .join(sets.select(col("id").as("id_b"), col("hs").as("hb")), "id_b")
      .select(col("id_a"), col("id_b"),
        (inter.cast("double") / col("m_a")).as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Ingest-time exact near-dup screen: every (corpus, batch) pair at
    * shingle Jaccard ≥ `threshold`, cross-side only — the EXACT
    * complement of [[minhashNearDupsAgainst]] for the batch-admission
    * gate, with [[prefixFilterJaccardPairs]]' machinery re-pointed at
    * an asymmetric join. Cost scales with the BATCH's prefix postings
    * against the corpus prefix index, never corpus².
    *
    * Canonical order comes from CORPUS document frequencies alone
    * (batch-only shingles take df 0 and sort first): the SSJoin prefix
    * lemma holds for ANY fixed global order — the unshared tokens a
    * prefix spends slots on never weaken the pigeonhole argument — and
    * a batch-independent order is what lets the corpus side (freq
    * table, prefix postings, hash sets) be persisted once and reused
    * across batches instead of rebuilt per admission. */
  def prefixFilterJaccardAgainst(corpus: DataFrame, newBatch: DataFrame,
      idCol: String, textCol: String, threshold: Double, n: Int = 3)
      : DataFrame = {
    require(threshold > 0 && threshold <= 1, "threshold must be in (0,1]")
    def sh(df: DataFrame) = df.select(col(idCol).as("id"),
        explode(shingles(col(textCol), n)).as("t"))
      .select(col("id"), xxhash64(col("t")).as("h"))
    val shC = sh(corpus)
    val shB = sh(newBatch)
    val freq = shC.groupBy(col("h")).agg(count(lit(1)).as("tdf"))
    def prefixOf(s: DataFrame) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("id")).orderBy(col("tdf"), col("h"))
      s.join(freq, Seq("h"), "left_outer")
        .withColumn("tdf", coalesce(col("tdf"), lit(0L)))
        .join(s.groupBy(col("id")).agg(count(lit(1)).as("m")), "id")
        .withColumn("pos", row_number().over(w))
        .filter(col("pos") <=
          col("m") - ceil(col("m") * threshold) + lit(1))
    }
    val cand = prefixOf(shC).select(col("id").as("id_a"), col("h"),
        col("m").as("m_a"), col("pos").as("pos_a"))
      .join(prefixOf(shB).select(col("id").as("id_b"), col("h"),
        col("m").as("m_b"), col("pos").as("pos_b")), "h")
      .filter(least(col("m_a"), col("m_b")).cast("double") >=
        greatest(col("m_a"), col("m_b")) * threshold)
      .groupBy(col("id_a"), col("id_b"), col("m_a"), col("m_b"))
      .agg(max(lit(1) + least(col("m_a") - col("pos_a"),
        col("m_b") - col("pos_b"))).as("ub"))
      .filter(col("ub").cast("double") >=
        (col("m_a") + col("m_b")) * (threshold / (1 + threshold)))
      .select(col("id_a"), col("id_b"), col("m_a"), col("m_b"))
    def sets(s: DataFrame) = s.groupBy(col("id"))
      .agg(sort_array(collect_list(col("h"))).as("hs"))
    val inter = size(array_intersect(col("ha"), col("hb")))
    cand
      .join(sets(shC).select(col("id").as("id_a"), col("hs").as("ha")),
        "id_a")
      .join(sets(shB).select(col("id").as("id_b"), col("hs").as("hb")),
        "id_b")
      .select(col("id_a"), col("id_b"),
        (inter.cast("double") /
          (col("m_a") + col("m_b") - inter)).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash signatures WITHOUT the verification hash set: the
    * single-pass native kernel ([[graft.expressions.MinHashSignature]])
    * as a pure projection — no explode, no aggregate, NO shuffle, and
    * the loop-invariant inner hash computed once per shingle. This is
    * the right shape when signatures are consumed from ONE plan branch
    * (streaming a batch's signatures against a persisted index, or
    * exporting signatures as an artifact); [[minhashIndex]] keeps the
    * explode+aggregate shape because its consumers need `hs` too and
    * read the index from four branches (see its scaladoc for the
    * measured A/B). Values are bit-identical to the index's signatures
    * (MinHashParitySpec). Hash family: ONE xxhash64 per shingle STRING,
    * then numHashes seeded integer re-hashes xxhash64(base, seed_i).
    * Deterministic; docs keep their whole-text fallback shingle. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, shingleN: Int = 3): DataFrame =
    df.select(col(idCol).as("id"),
        graft.expressions.MinHashSignature(
          shingles(col(textCol), shingleN), numHashes).as("signature"))
      .filter(col("signature").isNotNull)

  /** One-pass MinHash INDEX: per doc, both the banding signature and the
    * full distinct shingle-HASH set. The set makes candidate verification
    * self-contained — exact Jaccard over 8-byte hashes (set identity is
    * preserved by xxhash64 up to 2^-64 collisions) instead of re-reading
    * and re-shingling the corpus text per join branch. One corpus scan,
    * one shuffle; every branch that consumes the index shares the same
    * map-side aggregation via Spark's exchange reuse. This is also the
    * persistable artifact for incremental dedup (append-only corpus
    * index).
    *
    * The explode → 33-aggregate shape is DELIBERATE, kept after a
    * measured A/B against the single-pass projection kernel
    * ([[graft.expressions.MinHashSignature]], round 6, q44 at sf0.1,
    * 7 repeats): projection with no exchange 7.8 s (the four consuming
    * branches each re-shingle + re-hash the corpus), projection +
    * repartition for exchange reuse 4.1 s (per-doc hs arrays shuffle
    * without collect_set's map-side dedup, and the base hash runs twice
    * to feed signature and hs separately), this aggregate form 3.4 s —
    * one string-hash per shingle feeds all 33 aggregate buffers and the
    * partial-minima shuffle is the reusable exchange. The kernel stays
    * the right shape for signatures-only consumers
    * ([[minhashSignatures]]). */
  def minhashIndex(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, shingleN: Int = 3): DataFrame = {
    val exploded = df.select(col(idCol).as("id"),
        explode(shingles(col(textCol), shingleN)).as("sh"))
      .select(col("id"), xxhash64(col("sh")).as("h"))
    val mins = (0 until numHashes).map(i =>
      min(xxhash64(col("h"), lit(i.toLong))).as(s"h$i"))
    val aggs = mins :+ collect_set(col("h")).as("hs")
    exploded.groupBy(col("id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("signature"),
        col("hs"))
  }

  /** Exact Jaccard of two distinct-hash-set columns. */
  def hashSetJaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** Band buckets for a signature set: (id, band, bucket) — the
    * persistable LSH index (write it out once per corpus; incremental
    * batches join against it). */
  def bandBuckets(signatures: DataFrame, bands: Int,
      numHashes: Int): DataFrame = {
    val rowsPerBand = numHashes / bands
    // one literal expression per band, not a transform() lambda: a
    // higher-order function falls back to interpreted evaluation and
    // splits the scan, the explode and the consumer into separate
    // codegen stages; the unrolled array keeps them in one
    val bandHashes = array((0 until bands).map(b => xxhash64(lit(b),
      concat_ws("|", slice(col("signature"), b * rowsPerBand + 1,
        rowsPerBand)))): _*)
    signatures.select(col("id"), posexplode(bandHashes))
      .select(col("id"), col("pos").as("band"), col("col").as("bucket"))
  }

  /** Default bucket-occupancy cap for LSH candidate generation: bounds
    * per-bucket self-join work at maxBucket² comparisons. */
  val DefaultMaxBucket = 1000

  /** LSH banding: docs sharing any band hash are candidate pairs.
    * Returns distinct (id_a < id_b) candidates.
    *
    * `maxBucket` caps bucket occupancy — the one quadratic-blowup hazard
    * of banded LSH: a degenerate bucket (empty docs, boilerplate) makes
    * the candidate self-join quadratic IN THAT BUCKET no matter how good
    * the banding is. Buckets over the cap do not self-join; they emit a
    * linear STAR of candidates around their min-id representative, which
    * keeps a pathological clone family connected (verification + connected
    * components still groups it; pairs between non-representative members
    * of a mixed oversized bucket are the accepted loss). Capped bucket
    * counts are computed in the same pass and logged via [[CapObserver]].
    * `maxBucket <= 0` disables the cap.
    *
    * Shape: the frame's banded rows join its own [[cappedMembers]] and
    * keep (member, doc) with member < doc. Inside the cap that is every
    * ordered pair of the bucket; over it the only member is the min-id
    * representative, so the pairs are exactly the star — one join, the
    * same one [[minhashNearDupsAgainstIndex]] runs against the index. */
  def lshCandidates(signatures: DataFrame, bands: Int,
      numHashes: Int, maxBucket: Int = DefaultMaxBucket): DataFrame =
    bucketPairs(signatures, cappedMembers(signatures, bands, numHashes,
        maxBucket, "lsh"), bands, numHashes)(_ > _)
      .select(col("ref").as("id_a"), col("new").as("id_b"))

  /** The size-and-cap step both LSH paths share: (bucket, id) of every
    * banded row of an index frame, keeping all members of a bucket
    * within `maxBucket` and only the min-id representative of a bucket
    * over it. Over-cap buckets are counted in the same pass and logged
    * via [[CapObserver]] under `tag`; `maxBucket <= 0` keeps every row.
    *
    * Buckets are keyed by the 8-byte `bucket` hash alone: it is
    * xxhash64(band, slice), so the band is already part of it and two
    * bands share a key only on a 64-bit hash collision (the contract
    * the shingle hashes already carry). A single long key makes every
    * broadcast band join a LongHashedRelation (a 1 MB first page);
    * keyed on (band, bucket) each was a BytesToBytesMap whose first page
    * took 16 MB of driver heap. */
  private def cappedMembers(idx: DataFrame, bands: Int, numHashes: Int,
      maxBucket: Int, tag: String): DataFrame = {
    val banded = bandBuckets(idx, bands, numHashes)
    if (maxBucket <= 0) banded.select(col("id"), col("bucket"))
    else {
      val sizes = CapObserver.observeCapped(
        banded.groupBy(col("bucket"))
          .agg(count(lit(1)).as("n"), min(col("id")).as("rep")),
        tag, maxBucket)
      banded.join(sizes, "bucket")
        .filter(col("n") <= maxBucket || col("id") === col("rep"))
        .select(col("id"), col("bucket"))
    }
  }

  /** The candidate step both LSH paths share: distinct (new, ref) pairs
    * of a doc of `newIdx` and a capped member sharing one of its band
    * buckets, kept where `keep(new, ref)` holds. */
  private def bucketPairs(newIdx: DataFrame, members: DataFrame, bands: Int,
      numHashes: Int)(keep: (Column, Column) => Column): DataFrame =
    // no renames below the join: for the in-batch path both band sides
    // are then the same plan and run once (exchange reuse)
    bandBuckets(newIdx, bands, numHashes).as("n")
      .join(members.as("r"), col("n.bucket") === col("r.bucket"))
      .filter(keep(col("n.id"), col("r.id")))
      .select(col("n.id").as("new"), col("r.id").as("ref")).distinct()

  /** The verification step both LSH paths share: each candidate side's
    * hash set joins in by id and the pair keeps its exact Jaccard when
    * that reaches `threshold`. Returns (a, b, jaccard). */
  private def verifyPairs(cands: DataFrame, a: String, aIdx: DataFrame,
      b: String, bIdx: DataFrame, threshold: Double): DataFrame =
    cands
      .join(aIdx.select(col("id").as(a), col("hs").as("hs_a")), a)
      .join(bIdx.select(col("id").as(b), col("hs").as("hs_b")), b)
      .select(col(a), col(b),
        hashSetJaccard(col("hs_a"), col("hs_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)

  /** In-batch near-dups of an (id, signature, hs) index frame: banded
    * candidates, verified against the frame's own hash sets. */
  private def nearDupsOfIndex(idx: DataFrame, numHashes: Int, bands: Int,
      threshold: Double, maxBucket: Int): DataFrame =
    verifyPairs(lshCandidates(idx, bands, numHashes, maxBucket),
      "id_a", idx, "id_b", idx, threshold)

  /** Incremental near-dup: a NEW batch against an EXISTING corpus without
    * re-signaturing the corpus — new-batch band buckets join the corpus's
    * band index; only cross candidates are verified. Builds the corpus
    * index from `corpus` first; [[minhashNearDupsAgainstIndex]] is the
    * production shape over a persisted index. */
  def minhashNearDupsAgainst(corpus: DataFrame, newBatch: DataFrame,
      idCol: String, textCol: String, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, shingleN: Int = 3,
      maxBucket: Int = DefaultMaxBucket): DataFrame =
    minhashNearDupsAgainstIndex(
      minhashIndex(corpus, idCol, textCol, numHashes, shingleN),
      newBatch, idCol, textCol, numHashes, bands, threshold, shingleN,
      maxBucket)

  /** Incremental near-dup against a PRE-BUILT corpus index (the
    * (id, signature, hs) table from [[minhashIndex]], usually read back
    * from parquet via [[readIndex]]): the corpus TEXT is never touched.
    * The corpus side is still re-banded and re-sized on every call, so a
    * call costs O(batch) signatures plus O(index) banding and one bucket
    * join — linear in the index, not in the batch alone. */
  def minhashNearDupsAgainstIndex(corpusIdx: DataFrame, newBatch: DataFrame,
      idCol: String, textCol: String, numHashes: Int = 32, bands: Int = 8,
      threshold: Double = 0.5, shingleN: Int = 3,
      maxBucket: Int = DefaultMaxBucket): DataFrame = {
    requireGeometry(corpusIdx, numHashes)
    nearDupsAgainstIndex(corpusIdx,
      minhashIndex(newBatch, idCol, textCol, numHashes, shingleN),
      numHashes, bands, threshold, maxBucket)
  }

  /** Geometry guard: banding a persisted index with the wrong numHashes
    * would silently slice short/empty bands and miss near-dups. The
    * signature length is checked on one row (a parquet-footer-cheap
    * head); shingleN is NOT recoverable from the index — the caller owns
    * keeping it consistent across ingest jobs. */
  private def requireGeometry(corpusIdx: DataFrame, numHashes: Int): Unit =
    corpusIdx.select(col("signature")).head(1).foreach { r =>
      val len = r.getAs[scala.collection.Seq[Long]](0).length
      require(len == numHashes,
        s"index geometry mismatch: persisted signatures carry $len " +
          s"hashes, caller banding expects $numHashes")
    }

  /** Cross pairs (new_id, corpus_id, jaccard) of two index frames.
    * Corpus-side occupancy cap ([[cappedMembers]]): an oversized corpus
    * bucket (boilerplate family) contributes only its min-id
    * representative as a join partner, so one hot bucket costs each new
    * doc ONE candidate instead of |bucket| of them. new_id =!= corpus_id:
    * the same id on both sides is the same document re-presented (a
    * redelivered/retried batch whose signatures already reached the
    * index) — matching a doc against ITSELF would turn every retried row
    * into a jaccard-1.0 victim. */
  private def nearDupsAgainstIndex(corpusIdx: DataFrame, newIdx: DataFrame,
      numHashes: Int, bands: Int, threshold: Double,
      maxBucket: Int): DataFrame = {
    val cands = bucketPairs(newIdx, cappedMembers(corpusIdx, bands,
        numHashes, maxBucket, "lsh_inc"), bands, numHashes)(_ =!= _)
      .select(col("new").as("new_id"), col("ref").as("corpus_id"))
    verifyPairs(cands, "new_id", newIdx, "corpus_id", corpusIdx, threshold)
  }

  /** One production ingest step: dedup `batch` against the growing
    * persisted index AND against itself, keep the survivors, and append
    * ONLY the survivors' signatures to the index. The corpus text behind
    * the index is never read. The batch is shingled and hashed ONCE: its
    * (id, signature, hs) rows are written to `outDir/batch_index`, and
    * that artifact feeds the in-batch candidates, the against-index
    * candidates and the index append (a semi-join against `kept_new`).
    * The index side is still re-banded on every step, so a step costs
    * O(batch) signatures plus O(index) banding — linear in the index.
    *
    * Write order is the correctness mechanism: `batch_index`,
    * `batch_pairs`, `cross_pairs`, `kept` and `kept_new` are
    * materialized to `outDir` BEFORE the index append, because every
    * frame here is lazy over the index parquet — deferring execution
    * past the append would make the batch match its own
    * freshly-appended signatures. Downstream steps consume the written
    * artifacts, not the live plans. The three returned counts are taken
    * with `Dataset.observe` while their outputs are written, never by
    * re-reading them.
    *
    * Plan-shape invariant: a step touches at most 63 distinct generated
    * classes, so after the first steps it compiles nothing under Spark's
    * default 100-entry codegen cache (four LRU segments of 25), on the
    * driver and on every executor JVM alike, each of which holds its own
    * cache. Both LSH paths band, size-and-cap and verify through the
    * same code ([[cappedMembers]], [[bucketPairs]], [[verifyPairs]]),
    * band without a lambda, and no plan re-aggregates the batch text.
    * Measured on the 1000-doc `corpus-dedup` benchmark batch (4-core
    * VM, local[4]): a cold step compiles 46 classes after the index
    * build (123 before), a step's whole working set is 63 (whole-stage
    * classes count twice, once per driver and executor class loader),
    * later steps compile 0 (98–117 before), and a step runs 28 jobs (46
    * before). The cache picks a segment by a hash that includes the
    * class loader, so a JVM now and then draws more than 25 of the 63
    * into one segment and recompiles those every step. DedupIngestSpec
    * asserts a steady step compiles 0 classes.
    *
    * First call (no index at `indexDir`) bootstraps: in-batch dedup only,
    * then the index is created from the survivors. Returns (#cross dup
    * pairs, #in-batch dup pairs, #kept). */
  def ingest(spark: org.apache.spark.sql.SparkSession, batch: DataFrame,
      indexDir: String, outDir: String,
      idCol: String = "doc_id", textCol: String = "text",
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.5,
      shingleN: Int = 3,
      maxBucket: Int = DefaultMaxBucket): (Long, Long, Long) = {
    import spark.implicits._
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(indexDir), spark.sparkContext.hadoopConfiguration)
    val index =
      if (fs.exists(new org.apache.hadoop.fs.Path(indexDir)))
        Some(readIndex(spark, indexDir))
      else None
    index.foreach(requireGeometry(_, numHashes))
    minhashIndex(batch, idCol, textCol, numHashes, shingleN)
      .write.mode("overwrite").parquet(s"$outDir/batch_index")
    val batchIdx = spark.read.parquet(s"$outDir/batch_index")
    import BroadcastRelease.writeCounted
    val nBatchPairs = writeCounted(
      nearDupsOfIndex(batchIdx, numHashes, bands, threshold, maxBucket),
      s"$outDir/batch_pairs")
    val nCrossPairs = writeCounted(index match {
        case Some(idx) => nearDupsAgainstIndex(idx, batchIdx, numHashes,
          bands, threshold, maxBucket)
        case None => Seq.empty[(Long, Long, Double)]
          .toDF("new_id", "corpus_id", "jaccard")
      }, s"$outDir/cross_pairs")
    // victims: every batch doc matching the corpus, plus non-canonical
    // members of in-batch duplicate families
    val victims = spark.read.parquet(s"$outDir/cross_pairs")
      .select(col("new_id").as(idCol))
      .union(connectedComponents(spark.read.parquet(s"$outDir/batch_pairs"))
        .filter(col("id") =!= col("component"))
        .select(col("id").as(idCol)))
    val nKept = writeCounted(batch.join(victims, Seq(idCol), "left_anti"),
      s"$outDir/kept")
    // Idempotent append: a RETRIED batch (redelivery, crash between this
    // append and a streaming checkpoint commit) re-keeps the same ids —
    // appending their signatures again would double them in the index.
    // One anti-join of the reduced kept set against the index's id
    // column (a pruned single-column scan) makes re-running a no-op;
    // materialized to outDir first so the append never writes a path the
    // live plan still reads (same write-order mechanism as above).
    val kept = spark.read.parquet(s"$outDir/kept")
    val keptNew = index match {
      case Some(idx) =>
        writeCounted(
          kept.join(idx.select(col("id").as(idCol)), Seq(idCol), "left_anti"),
          s"$outDir/kept_new")
        spark.read.parquet(s"$outDir/kept_new")
      case None => kept
    }
    writeCounted(
      batchIdx.join(keptNew.select(col(idCol).as("id")), Seq("id"), "left_semi"),
      indexDir, SaveMode.Append)
    (nCrossPairs, nBatchPairs, nKept)
  }

  /** Persist a corpus's MinHash index: one corpus scan, append-mode write
    * — repeated calls with successive ingest batches GROW the index
    * without rewriting it (ids must be disjoint across batches, the
    * usual monotonic-id ingest contract). */
  def writeIndex(df: DataFrame, idCol: String, textCol: String,
      path: String, numHashes: Int = 32, shingleN: Int = 3): Unit =
    minhashIndex(df, idCol, textCol, numHashes, shingleN)
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(path)

  /** Read a persisted MinHash index back ((id, signature, hs) rows). */
  def readIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = spark.read.parquet(path)

  /** Full MinHash-LSH near-dup pipeline: one-pass index → banded
    * candidates → exact-Jaccard verification of candidates only, against
    * the index's own hash sets (the corpus text is read exactly once).
    *
    * RECALL NOTE on `maxBucket` (default [[DefaultMaxBucket]]): in a
    * bucket OVER the cap, only star pairs around the min-id representative
    * are emitted — a near-dup pair between two NON-representative members
    * of a mixed oversized bucket is found only if it shares some other
    * (band, bucket), so duplicates can survive [[keepCanonical]] when the
    * cap fires. This is the deliberate cost/recall trade that bounds the
    * candidate join at scale; capped-bucket counts are logged via
    * [[CapObserver]] in the same pass. Pass `maxBucket <= 0` for EXACT
    * banded candidate generation when the corpus is small enough that a
    * hot bucket's quadratic self-join is affordable (e.g. verification
    * runs, corpora ≲ 1M docs with non-degenerate text). */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 32, bands: Int = 8, threshold: Double = 0.5,
      shingleN: Int = 3, maxBucket: Int = DefaultMaxBucket): DataFrame = {
    // NOT cached (r16 optimization round, measured): the index feeds
    // three consumers, but each consumer's plan prunes the aggregation
    // to just the columns it reads (candidates: the 32 cheap xxhash64
    // mins; each verification join: only the hash set), so the
    // "recompute" is three PRUNED passes — persisting the full index
    // materializes the collect_set arrays through the columnar cache
    // encode/decode both ways and measured SLOWER (q44 focused A/B,
    // 5 repeats: 2.2 s → 2.7 s median). Contrast
    // [[minhashNearDupsReplayable]], where the per-pass cost is 8
    // salted md5 string passes and the cache wins decisively.
    nearDupsOfIndex(minhashIndex(df, idCol, textCol, numHashes, shingleN),
      numHashes, bands, threshold, maxBucket)
  }

  /** MinHash + LSH banding with an ANSI-REPLAYABLE hash family: the
    * j-th signature is the LEXICOGRAPHIC min of md5(j || "|" ||
    * shingle) — DuckDB computes the identical strings, so for the
    * first time the LSH CANDIDATE GENERATION itself (not just a
    * verified answer) holds under an oracle. The production path
    * ([[minhashNearDups]]) keeps the xxhash64 family — 8-byte longs
    * beat 32-char strings through every shuffle — and stays rows-only;
    * this variant is its correctness face: same banding pigeonhole,
    * same exact-Jaccard verification, every pair hash-checked
    * end-to-end in SQL. Returns (id_a, id_b, jaccard ≥ threshold). */
  def minhashNearDupsReplayable(df: DataFrame, idCol: String,
      textCol: String, numHashes: Int = 8, bands: Int = 4,
      threshold: Double = 0.5, shingleN: Int = 3): DataFrame = {
    // same multi-consumer shapes as [[minhashNearDups]] (r16
    // optimization round): the shingle frame feeds the band derivation
    // plus both verification joins, and the banded frame self-joins —
    // uncached, the md5 signature pipeline (8 salted md5 passes over
    // every shingle) would run once per self-join side and the
    // tokenize+shingle pass twice more. Persist both, materialize the
    // bounded pair output, release (triangleCounts ownership pattern).
    val (sh0, banded0) = replayableShinglesAndBands(df, idCol, textCol,
      numHashes, bands, shingleN)
    val sh = sh0.persist()
    val banded = banded0.persist()
    val cands = banded.select(col("band"), col("key"), col("id").as("id_a"))
      .join(banded.select(col("band"), col("key"), col("id").as("id_b")),
        Seq("band", "key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
    val out = cands.select(col("id_a"), col("id_b"),
        shingleSetJaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
    out.unpersist()
    val res = out.persist()
    res.count()
    banded.unpersist()
    sh.unpersist()
    res
  }

  /** The md5-family building blocks shared by [[minhashNearDupsReplayable]]
    * and the streaming screen: distinct shingle strings per doc, and the
    * banded LSH keys (signature j = lexicographic min of md5("j|" ++
    * shingle), band = '#'-joined signature slice). The shingle array is
    * a materialized column, so the per-j transforms read it bound (no
    * HOF-CSE term). Returns ((id, sh), (id, band, key)). */
  private[graft] def replayableShinglesAndBands(df: DataFrame,
      idCol: String, textCol: String, numHashes: Int, bands: Int,
      shingleN: Int): (DataFrame, DataFrame) = {
    val sh = df.select(col(idCol).as("id"),
      shingles(col(textCol), shingleN).as("sh"))
    (sh, bandsFromShingles(sh, numHashes, bands))
  }

  /** Band keys from an (id, sh) frame — split out so the persisted
    * index build can derive bands from the MATERIALIZED shingle
    * artifact (one tokenize+shingle pass over the corpus, not two). */
  private[graft] def bandsFromShingles(sh: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rowsPerBand = numHashes / bands
    val sigs = (0 until numHashes).map(j =>
      array_min(transform(col("sh"), s =>
        md5(concat(lit(s"$j|"), s)))).as(s"s$j"))
    val signed = sh.select(col("id") +: col("sh") +: sigs: _*)
    val bandCols = (0 until bands).map(b =>
      struct(lit(b).as("band"),
        concat_ws("#", (0 until rowsPerBand)
          .map(r => col(s"s${b * rowsPerBand + r}")): _*).as("key")))
    signed.select(col("id"),
      explode(array(bandCols: _*)).as("bk"))
      .select(col("id"), col("bk.band").as("band"), col("bk.key").as("key"))
  }

  /** Exact Jaccard of two distinct-shingle-STRING array columns (the
    * replayable complement of [[hashSetJaccard]]). */
  private[graft] def shingleSetJaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter)
  }

  /** Persist the REPLAYABLE near-dup index for a corpus: band keys for
    * candidate generation, distinct shingle strings for exact-Jaccard
    * verification, and the banding geometry — everything an arriving
    * shard needs to screen itself against the corpus without touching
    * the corpus text again ([[graft.streaming.NearDupStream]]). The md5
    * family costs string width vs the production xxhash64 index
    * ([[writeIndex]]); what it buys is an ANSI-SQL oracle over the
    * whole streaming screen (q203). Returns the number of indexed
    * documents (shingle-set rows written). */
  def writeReplayableIndex(df: DataFrame, idCol: String, textCol: String,
      path: String, numHashes: Int = 8, bands: Int = 4,
      shingleN: Int = 3): Long = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = df.sparkSession
    import spark.implicits._
    // write the shingle sets first, then derive the band keys from the
    // WRITTEN artifact: the corpus is tokenized + shingled exactly once
    // (the md5 signature pass reads the compact parquet back, not the
    // text)
    val docs = BroadcastRelease.writeCounted(df.select(col(idCol).as("id"),
      shingles(col(textCol), shingleN).as("sh")), s"$path/sh")
    bandsFromShingles(spark.read.parquet(s"$path/sh"), numHashes, bands)
      .write.mode("overwrite").parquet(s"$path/bands")
    Seq((numHashes, bands, shingleN))
      .toDF("num_hashes", "bands", "shingle_n")
      .write.mode("overwrite").parquet(s"$path/meta")
    docs
  }

  /** Screen a new batch against a persisted replayable index: the
    * batch's band keys join the corpus's, matches verify with exact
    * shingle Jaccard — O(batch) signatures + one bucket join, the
    * corpus text never read. Returns (new_id, corpus_id, jaccard ≥
    * threshold). A doc id present on BOTH sides is skipped (the
    * redelivered-batch guard, as in [[minhashNearDupsAgainstIndex]]). */
  def minhashScreenReplayable(corpusBands: DataFrame, corpusSh: DataFrame,
      newBatch: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 8, bands: Int = 4, threshold: Double = 0.5,
      shingleN: Int = 3): DataFrame = {
    val (nsh, nb) = replayableShinglesAndBands(newBatch, idCol, textCol,
      numHashes, bands, shingleN)
    val cands = corpusBands
      .select(col("band"), col("key"), col("id").as("corpus_id"))
      .join(nb.select(col("band"), col("key"), col("id").as("new_id")),
        Seq("band", "key"))
      .filter(col("new_id") =!= col("corpus_id"))
      .select(col("new_id"), col("corpus_id")).distinct()
    cands
      .join(nsh.select(col("id").as("new_id"), col("sh").as("sh_n")),
        "new_id")
      .join(corpusSh.select(col("id").as("corpus_id"), col("sh").as("sh_c")),
        "corpus_id")
      .select(col("new_id"), col("corpus_id"),
        shingleSetJaccard(col("sh_n"), col("sh_c")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // ------------------------------------------------------------- SimHash

  /** 64-bit SimHash of a token array (FNV-1a per token, bitwise weighted
    * vote). Pure JVM function — used both by the UDF below and by tests.
    */
  def simhash64(toks: Seq[String]): Long = {
    val votes = new Array[Int](64)
    toks.foreach { t =>
      var h = 0xcbf29ce484222325L // FNV-1a 64
      var i = 0
      while (i < t.length) { h ^= t.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
      var b = 0
      while (b < 64) { if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1; b += 1 }
    }
    var sig = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) sig |= (1L << b); b += 1 }
    sig
  }

  private val simhashUdf = udf((toks: Seq[String]) => simhash64(toks))

  /** 64-bit SimHash with an ANSI-replayable hash family: per-token
    * bits come from the first 16 hex chars of md5(token) — hex char p
    * (1-based) contributes bits (p−1)·4+b for b∈0..3, LSB of the
    * nibble first — votes summed per bit, ties to 0 (the
    * [[simhash64]] convention). Pure JVM function; the SQL oracle
    * rebuilds the identical bits from the identical md5 strings. */
  def simhashMd5(toks: Seq[String]): Long = {
    val votes = new Array[Int](64)
    val md = java.security.MessageDigest.getInstance("MD5")
    toks.foreach { t =>
      val d = md.digest(t.getBytes("UTF-8"))
      md.reset()
      var p = 0
      while (p < 16) {
        // hex char p: even p = high nibble of byte p/2, odd p = low
        val v = if (p % 2 == 0) (d(p / 2) >> 4) & 0xf else d(p / 2) & 0xf
        var b = 0
        while (b < 4) {
          if (((v >> b) & 1) == 1) votes(p * 4 + b) += 1
          else votes(p * 4 + b) -= 1
          b += 1
        }
        p += 1
      }
    }
    var sig = 0L
    var i = 0
    while (i < 64) { if (votes(i) > 0) sig |= (1L << i); i += 1 }
    sig
  }

  private val simhashMd5Udf = udf((toks: Seq[String]) => simhashMd5(toks))

  /** SimHash near-dups with the md5 bit family — the ORACLED face of
    * [[simhashNearDups]] (the q176/q177 replayable-variant pattern):
    * same pigeonhole banding (maxHamming+1 chunks), but every stage —
    * per-token bits, votes, signature, chunk keys, Hamming distance —
    * is recomputable in ANSI SQL from md5 strings. Exact banding (no
    * bucket cap): the SQL replay has none either. */
  def simhashNearDupsReplayable(df: DataFrame, idCol: String,
      textCol: String, maxHamming: Int = 3): DataFrame =
    hammingNearDups(
      df.select(col(idCol).as("id"),
        simhashMd5Udf(tokens(col(textCol))).as("sig")),
      maxHamming, maxBucket = 0, capLabel = "simhash-md5")

  /** SimHash near-dup candidates with Hamming distance ≤ maxHamming,
    * banded by the pigeonhole principle: split the 64-bit signature into
    * maxHamming+1 chunks — any pair within the distance budget must agree
    * on at least one chunk exactly, so candidates come from one groupBy on
    * (chunk index, chunk value), never an all-pairs scan.
    *
    * `maxBucket` carries the same recall trade as [[minhashNearDups]]:
    * over-cap chunk buckets emit only star pairs around their min-id
    * representative; pass `maxBucket <= 0` for exact pigeonhole recall. */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucket: Int = DefaultMaxBucket): DataFrame =
    hammingNearDups(
      df.select(col(idCol).as("id"),
        simhashUdf(tokens(col(textCol))).as("sig")),
      maxHamming, maxBucket, capLabel = "simhash")

  /** Generic banded Hamming near-dup pairing over any 64-bit signature
    * frame ((id, sig) rows) — the pigeonhole core of [[simhashNearDups]],
    * shared by the image dHash family ([[graft.multimodal.Multimodal
    * .dHash64]]): any signature works as long as "near-duplicate" means
    * "Hamming distance ≤ maxHamming on 64 bits". */
  def hammingNearDups(sigs: DataFrame, maxHamming: Int,
      maxBucket: Int = DefaultMaxBucket,
      capLabel: String = "hamming"): DataFrame = {
    // maxHamming >= 64 would give bitsPer = 0 (every chunk value 0 →
    // the candidate join degenerates to all-pairs); < 0 gives zero or
    // negative chunk counts. Neither is a meaningful 64-bit threshold.
    require(maxHamming >= 0 && maxHamming < 64,
      s"maxHamming must be in [0, 64) for 64-bit signatures, got $maxHamming")
    // persist the NARROW (id, sig) frame: the plan below consumes the
    // banded expansion through several exchanges (bucket sizing, the
    // size join, both self-join sides), and Spark does not share
    // common subtrees across operators — without the cache the
    // caller's signature expression (a perceptual WAV/PNG decode for
    // q167/q170, simhash over the token stream for q45/q174) is
    // re-evaluated once PER EXCHANGE (r16 optimization round: q170's
    // registry run measured 8.2 s per repeat vs ~1 s with signatures
    // cached — the decode was the whole gap). 16 bytes/row at any
    // corpus size; MEMORY_AND_DISK spills rather than OOMs at 100 TB.
    // The returned pair frame is materialized below while this cache
    // is alive, then ownership follows the triangleCounts contract
    // (returned frame persisted; the caller/bench settle releases it).
    val sp = sigs.select(col("id"), col("sig")).persist()
    val chunks = maxHamming + 1
    val bitsPer = 64 / chunks
    val chunkVals = array((0 until chunks).map(c =>
      shiftright(col("sig"), c * bitsPer)
        .bitwiseAND(lit((1L << bitsPer) - 1))): _*)
    val banded = sp.select(col("id"), col("sig"), posexplode(chunkVals))
      .select(col("id"), col("sig"), col("pos").as("chunk"),
        col("col").as("chunk_val"))
    val pairs =
      if (maxBucket <= 0) {
        val l = banded.select(col("chunk"), col("chunk_val"),
          col("id").as("id_a"), col("sig").as("sig_a"))
        val r = banded.select(col("chunk"), col("chunk_val"),
          col("id").as("id_b"), col("sig").as("sig_b"))
        l.join(r, Seq("chunk", "chunk_val"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
      } else {
        // same occupancy cap as lshCandidates: oversized chunk buckets
        // emit a linear star around their min-id representative
        val sizes = CapObserver.observeCapped(
          banded.groupBy(col("chunk"), col("chunk_val"))
            .agg(count(lit(1)).as("n"), min(col("id")).as("rep"),
              min_by(col("sig"), col("id")).as("rep_sig")),
          capLabel, maxBucket)
        val sized = banded.join(sizes, Seq("chunk", "chunk_val"))
        val small = sized.filter(col("n") <= maxBucket)
        val smallPairs = small
          .select(col("chunk"), col("chunk_val"),
            col("id").as("id_a"), col("sig").as("sig_a"))
          .join(small.select(col("chunk"), col("chunk_val"),
            col("id").as("id_b"), col("sig").as("sig_b")),
            Seq("chunk", "chunk_val"))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            bit_count(col("sig_a").bitwiseXOR(col("sig_b"))).as("hamming"))
        val starPairs = sized
          .filter(col("n") > maxBucket && col("id") =!= col("rep"))
          .select(col("rep").as("id_a"), col("id").as("id_b"),
            bit_count(col("rep_sig").bitwiseXOR(col("sig"))).as("hamming"))
        smallPairs.union(starPairs)
      }
    val out = pairs.distinct().filter(col("hamming") <= maxHamming)
    // evict any stale entry from a previous plan-identical call, then
    // materialize while the signature cache is alive and release it
    // (the triangleCounts eager-ownership pattern)
    out.unpersist()
    val res = out.persist()
    res.count()
    sp.unpersist()
    res
  }

  // -------------------------------------------------- dedup finalization

  /** Materialize the DEDUPLICATED corpus: keep every document except
    * non-canonical members of a duplicate family (id ≠ component min).
    * One anti-join against the reduced victim list — the final step of
    * identify → group → keep-one; at 100 TB the victim list is the only
    * thing shuffled alongside the corpus scan.
    *
    * Completeness is bounded by the recall of `pairs`: when they come
    * from a `maxBucket`-capped LSH run (see [[minhashNearDups]]), dup
    * pairs dropped by the cap are invisible here and both copies are
    * kept. Feed uncapped pairs (`maxBucket <= 0`) when exhaustive
    * keep-one matters more than bounding the candidate join. */
  def keepCanonical(docs: DataFrame, idCol: String,
      pairs: DataFrame): DataFrame = {
    val victims = connectedComponents(pairs)
      .filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    docs.join(victims, Seq(idCol), "left_anti")
  }

  /** Score-aware canonical selection: keep the BEST member of each
    * duplicate family — argmax of `scoreCol`, ties to the smallest
    * id — where [[keepCanonical]] keeps the min id blindly. "Keep the
    * longest copy" / "keep the highest-quality copy" is the policy
    * real curation wants once a quality signal exists. Docs outside
    * every family pass through untouched; same recall caveat as
    * [[keepCanonical]] (completeness bounded by `pairs`). One window
    * over family members only (families are near-dup-sized, never
    * corpus-sized) + one anti-join against the victim list. */
  def keepBest(docs: DataFrame, idCol: String, pairs: DataFrame,
      scoreCol: String): DataFrame = {
    val comp = connectedComponents(pairs)
    val scored = docs
      .select(col(idCol).cast("long").as("id"), col(scoreCol).as("s"))
      .join(comp, "id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("component"))
      .orderBy(col("s").desc, col("id").asc)
    val victims = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") =!= 1)
      .select(col("id").as(idCol))
    docs.join(victims, Seq(idCol), "left_anti")
  }

  /** Connected components over near-dup pair edges: groups transitive
    * duplicates into clusters keyed by their minimum id (so "keep min id
    * per component" deduplicates whole duplicate FAMILIES, not just
    * pairs). Ids must be integral (long-castable).
    *
    * Two paths, chosen by measured edge count:
    *
    *  - edge list ≤ `localEdgeLimit`: union-find on the driver. The edge
    *    list is pairs of near-DUPLICATES — a vanishing fraction of the
    *    corpus — so even a 100 TB corpus's dup-pair set (millions of
    *    edges ≈ tens of MB) fits comfortably; one collect replaces an
    *    O(diameter) join loop. This is a finishing step on reduced data,
    *    not a driver-side scan of data rows. The pair count is measured
    *    by that same collect, bounded at one row over the limit: one
    *    pass, no cache, no separate count. Each pair counts as two
    *    directed edges, duplicates included.
    *
    *  - larger: distributed min-label propagation. Each iteration is one
    *    edge⋈label join + one aggregation, with the convergence flag
    *    computed inline (no second join); converges in O(diameter)
    *    iterations, and duplicate families have tiny diameters.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 10,
      localEdgeLimit: Long = 4L << 20): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val ends = pairs.select(col("id_a").cast("long").as("src"),
      col("id_b").cast("long").as("dst"))
    // each pair is two directed edges, so the local path holds at most
    // localEdgeLimit / 2 pairs; collecting one more row than that is the
    // whole measurement
    val maxPairs = localEdgeLimit / 2
    val es =
      if (localEdgeLimit < 0) Array.empty[(Long, Long)]
      else ends.limit(math.min(maxPairs, Int.MaxValue - 1L).toInt + 1)
        .as[(Long, Long)].collect()
    if (localEdgeLimit >= 0 && es.length <= maxPairs) {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x // path compression
        while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      es.foreach { case (s, d) =>
        parent.getOrElseUpdate(s, s)
        parent.getOrElseUpdate(d, d)
        val rs = find(s); val rd = find(d)
        if (rs != rd) parent(math.max(rs, rd)) = math.min(rs, rd)
      }
      val rows = parent.keysIterator.toSeq.sorted.map(id => (id, find(id)))
      spark.createDataset(rows).toDF("id", "component")
    } else {
      // undirected edge list, both directions
      val edges = ends.union(ends.select(col("dst"), col("src")))
        .distinct().persist()
      try {
        // each persist below first evicts a plan-identical stale entry
        // from a PREVIOUS call on the same input (the final round's
        // frame is returned persisted and caller-owned, so it outlives
        // the call) — same reasoning as pageRankUndirected: without the
        // eviction the re-persist no-ops against the old entry and this
        // call would silently serve the previous run's blocks
        var labels = edges.select(col("src").as("id")).distinct()
          .withColumn("component", col("id"))
        labels.unpersist()
        labels = labels.persist()
        var iter = 0
        var changed = 1L
        while (iter < maxIter && changed > 0) {
          // every node adopts the min component among itself + neighbors;
          // 'moved' rides along so convergence costs no extra join
          val next = edges
            .join(labels.withColumnRenamed("id", "dst")
              .withColumnRenamed("component", "dst_comp"), Seq("dst"))
            .groupBy(col("src").as("id"))
            .agg(min(col("dst_comp")).as("nbr_comp"))
            .join(labels, Seq("id"))
            .select(col("id"),
              least(col("component"), col("nbr_comp")).as("component"),
              (col("nbr_comp") < col("component")).as("moved"))
          next.unpersist()
          next.persist()
          changed = next.filter(col("moved")).count()
          labels.unpersist()
          labels = next.drop("moved")
          iter += 1
        }
        labels
      } finally edges.unpersist()
    }
  }
}

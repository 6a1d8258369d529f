package graft.llm

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Large-scale text deduplication for training-data pipelines, over the
  * `documents` fixture. Four tiers:
  *
  *  - exact: normalize → md5 → group (one shuffle on the hash);
  *  - MinHash + LSH banding: per-doc signatures (embarrassingly parallel),
  *    band-bucket self-join for candidates — never all-pairs;
  *  - SimHash: 64-bit fingerprints, 16-bit band join, hamming verify;
  *  - exact n-gram Jaccard verification on LSH candidates only.
  *
  * At 100 TB the candidate-join cardinality is governed by band width, not
  * corpus size — the only O(n²) work happens inside buckets.
  */
object TextDedup {

  private val NumHashes = 16
  private val NumBands = 8 // 2 rows per band

  /** Default per-bucket membership cap for banded LSH joins. A band
    * bucket with b members contributes O(b²) candidate pairs; natural
    * corpora put boilerplate (empty pages, licence headers) into a few
    * giant buckets whose pairs are worthless for dedup but dominate the
    * join at 100 TB. Capping keeps the lowest-doc_id members per bucket
    * (deterministic), so the join is provably ≤ cap² per bucket; docs
    * trimmed from one oversized bucket stay candidates through their
    * other bands. 1024 is far above any fixture bucket (asserted in
    * LlmSpec) and bounds a worst-case bucket at ~500k pairs. */
  val MaxBucketDefault = 1024

  /** Keep at most `maxBucket` members per (band, bucket), lowest doc_id
    * first. The row_number shuffles on the same key the candidate join
    * uses, so the guard adds no extra exchange pattern beyond one sort. */
  private[llm] def capBuckets(banded: DataFrame, keyCols: Seq[String], maxBucket: Int): DataFrame =
    capBucketsBy(banded, keyCols, Seq(col("doc_id")), maxBucket)

  /** [[capBuckets]] under an explicit keep order — the l55 streaming
    * tier caps by ARRIVAL order (seed corpus first, then stream ids)
    * instead of raw doc_id; see [[incrementalStreamStep]]. */
  private[llm] def capBucketsBy(banded: DataFrame, keyCols: Seq[String],
                                order: Seq[Column], maxBucket: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    banded.withColumn("__rn", row_number().over(
        Window.partitionBy(keyCols.map(col): _*).orderBy(order: _*)))
      .filter(col("__rn") <= maxBucket).drop("__rn")
  }

  /** Per-doc SURVIVAL BITMAP over the capped band rows (round 12): bit k
    * set iff the doc's band-k row survived [[capBuckets]]. Attached by a
    * window keyed on doc_id — one shuffle of the ≤4N band rows, bounded
    * by corpus size, never by the candidate-pair stream. The bitmap lets
    * the first-agreeing-band residual skip bands where either doc was
    * capped away, restoring the pre-residual (any-co-surviving-band)
    * recall without reintroducing the pair DISTINCT: a pair's kept row
    * is its first band where BOTH survive and the bands agree — exactly
    * the bands on which the join emits the pair, so exactly one row per
    * pair survives. */
  private def withSurvivalMask(capped: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    capped.withColumn("__surv",
      bit_or(expr("shiftleft(1, band_id)")).over(Window.partitionBy("doc_id")))
  }

  /** The residual condition: band k is ELIGIBLE for a pair when the
    * band values agree and both docs' survival bits are set at k. */
  private def survEligible(k: Int, agree: Column): Column =
    agree &&
      (col("a_surv").bitwiseAND(lit(1 << k)) =!= 0) &&
      (col("b_surv").bitwiseAND(lit(1 << k)) =!= 0)

  /** Exact dedup: whitespace-collapse + lowercase + md5. */
  def exactDedupStats(documents: DataFrame): DataFrame = {
    val norm = md5(lower(regexp_replace(trim(col("text")), "\\s+", " ")))
    val grouped = documents.withColumn("text_hash", norm)
      .groupBy("text_hash").agg(count(lit(1)).as("cnt"))
    grouped.agg(
      sum(col("cnt")).as("total_docs"),
      count(lit(1)).as("distinct_texts"),
      coalesce(sum(when(col("cnt") > 1, col("cnt"))), lit(0L)).as("docs_in_dup_groups"),
      sum(col("cnt") - 1).as("removable_dups"))
  }

  private val l01Sql =
    """SELECT cast(sum(cnt) as bigint) AS total_docs,
      | count(*) AS distinct_texts,
      | cast(coalesce(sum(CASE WHEN cnt > 1 THEN cnt END), 0) as bigint) AS docs_in_dup_groups,
      | cast(sum(cnt - 1) as bigint) AS removable_dups
      |FROM (SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS text_hash, count(*) AS cnt
      |      FROM documents GROUP BY 1)""".stripMargin

  /** Word-3-gram shingle sets + 16-hash MinHash signatures. */
  private[llm] def withNativeSignatures(documents: DataFrame): DataFrame =
    // Computed by the native codegen'd expression
    // ([[graft.plans.MinHash16]]): one map-side pass per doc — no shingle
    // explode, no doc_id shuffle, no 16-column min aggregate. Signatures
    // are bit-identical to the previous explode + 16×MIN formulation
    // (same engine xxhash64 folds; LlmSpec pins the equivalence against
    // exactly that pipeline). Docs under 3 tokens yield null (the old
    // size filter) and are dropped.
    documents
      .select(col("doc_id"), expr("minhash16(split(text, ' '))").as("sig"))
      .where(col("sig").isNotNull)

  /** Fast-path band key: engine-native hash of two adjacent slots. */
  private def nativeBandKey(b: Int): Column =
    expr(s"hash($b, sig[${2 * b}], sig[${2 * b + 1}])")

  /** Portable band key: the l04 string concat DuckDB can reproduce. */
  private def portableBandKey(b: Int): Column =
    concat(col("sig").getItem(2 * b), lit("|"), col("sig").getItem(2 * b + 1))

  /** UNCAPPED (doc_id, band_id, band_hash) rows — the single band
    * construction every consumer caps on top of ([[bandedSigs]] for the
    * batch tiers, the l55 append-only band store for streaming). */
  private[graft] def bandRows(sigs: DataFrame, bandKey: Int => Column): DataFrame =
    sigs
      .withColumn("bands", array((0 until NumBands).map(bandKey): _*))
      .select(col("doc_id"), posexplode(col("bands")).as(Seq("band_id", "band_hash")))

  /** (doc_id, band_id, band_hash) rows with the bucket cap applied — the
    * "band index" both the self-join (full dedup) and the one-sided
    * incremental join probe. */
  private def bandedSigs(sigs: DataFrame, bandKey: Int => Column,
                         maxBucket: Int): DataFrame =
    capBuckets(bandRows(sigs, bandKey), Seq("band_id", "band_hash"), maxBucket)

  /** LSH candidate pairs (id_a, id_b): docs sharing any (band, band-hash)
    * bucket, with oversized buckets capped (see [[MaxBucketDefault]]).
    * Only the ids ride through the self-join + distinct — the 16-slot
    * signatures are functionally dependent on doc_id and would add
    * ~256 B/row to the distinct's shuffle for nothing; consumers that
    * need them re-join against `sigs`. */
  private def lshCandidatePairs(sigs: DataFrame, bandKey: Int => Column,
                                maxBucket: Int): DataFrame = {
    val banded = bandedSigs(sigs, bandKey, maxBucket)
    val a = banded.select(col("doc_id").as("id_a"), col("band_id"), col("band_hash"))
    val b = banded.select(col("doc_id").as("id_b"), col("band_id"), col("band_hash"))
    a.join(b, Seq("band_id", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
      .distinct()
  }

  /** Estimated Jaccard = matching-signature fraction (single definition
    * shared by detection and removal so the scores can't drift apart). */
  private def estJaccard(sigA: Column, sigB: Column): Column =
    aggregate(zip_with(sigA, sigB, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / NumHashes

  /** The portable tier's scored candidate frame at the default cap — the
    * store-backed shape ([[SigStore.portableCands]]) shared by removal,
    * clustering, ranking, the source matrix, and the agreement audit. */
  private[llm] def portableScoredCandidates(sigs: DataFrame): DataFrame =
    scoredCandidates(sigs, portableBandKey, MaxBucketDefault)

  /** Candidate pairs scored by estimated Jaccard. `sigs` is persisted by
    * the caller-facing entry points: it feeds the band join and two
    * payload re-joins, and recomputing the explode+aggregate pipeline —
    * the module's dominant cost — per consumer would triple it. Works on
    * both the native (16 longs) and portable (16 hex strings) signature
    * shapes — equality and the matching fraction are shape-agnostic. */
  private def scoredCandidates(sigs: DataFrame, bandKey: Int => Column,
                               maxBucket: Int): DataFrame =
    lshCandidatePairs(sigs, bandKey, maxBucket)
      .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard", estJaccard(col("sig_a"), col("sig_b")))

  /** MinHash near-dup: candidates ranked by estimated Jaccard (matching
    * signature fraction). Top-100 — not SQL-oracle-expressible; driver
    * does the rows-only check. */
  def minhashNearDup(documents: DataFrame,
                     maxBucket: Int = MaxBucketDefault,
                     sigsOpt: Option[DataFrame] = None): DataFrame =
    scoredCandidates(
        sigsOpt.getOrElse(graft.CacheScope.manage(withNativeSignatures(documents).persist())),
        nativeBandKey, maxBucket)
      .select("id_a", "id_b", "est_jaccard")
      .orderBy(col("est_jaccard").desc, col("id_a"), col("id_b"))
      .limit(100)

  /** SimHash fingerprint: per-token 64-bit hashes vote per bit position;
    * candidates share one of four 16-bit bands; ranked by hamming.
    * Oversized band buckets are capped (see [[MaxBucketDefault]]) — the
    * classic Manku design is quadratic inside a bucket, and a fixed
    * 2^16 band space means bucket occupancy grows linearly with corpus
    * size, so the guard is what makes this shape safe at 100 TB. */
  /** The fast tier's 64-bit xxhash64 SimHash fingerprint (doc_id,
    * simhash) — the stored frame ([[SigStore.nativeSimhash]]).
    * Computed by the native codegen'd expression
    * ([[graft.plans.SimHash64]]): one map-side pass per doc — no token
    * explode, no doc_id shuffle, no 64-column vote aggregate. The
    * expression dedups token hashes internally, so the fingerprints are
    * bit-identical to the previous explode + 64×SUM formulation
    * (LlmSpec pins the equivalence against exactly that pipeline). */
  private[llm] def nativeSimhashFp(documents: DataFrame): DataFrame =
    documents.select(col("doc_id"),
      expr("simhash64(split(text, ' '))").as("simhash"))

  /** Banded fingerprint rows (doc_id, simhash, band_id, band_val),
    * bucket-capped — shared by the ranked query (l03) and the fast-tier
    * candidate set. */
  private def nativeSimhashBanded(fp: DataFrame, maxBucket: Int): DataFrame = {
    val sims = fp
      .withColumn("bands", array((0 until 4).map(k =>
        expr(s"shiftright(simhash, ${16 * k}) & 65535")): _*))
      .select(col("doc_id"), col("simhash"), posexplode(col("bands")).as(Seq("band_id", "band_val")))
    capBuckets(sims, Seq("band_id", "band_val"), maxBucket)
  }

  /** Fast-tier candidate pairs (id_a, id_b), unlimited. */
  private[llm] def nativeSimhashCands(documents: DataFrame, maxBucket: Int,
                                      fpOpt: Option[DataFrame] = None): DataFrame = {
    val capped = nativeSimhashBanded(
      fpOpt.getOrElse(graft.CacheScope.manage(nativeSimhashFp(documents).persist())), maxBucket)
    val a = capped.select(col("doc_id").as("id_a"), col("band_id"), col("band_val"))
    val b = capped.select(col("doc_id").as("id_b"), col("band_id"), col("band_val"))
    a.join(b, Seq("band_id", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  def simhashNearDup(documents: DataFrame,
                     maxBucket: Int = MaxBucketDefault,
                     fpOpt: Option[DataFrame] = None): DataFrame = {
    val capped = withSurvivalMask(nativeSimhashBanded(
      fpOpt.getOrElse(graft.CacheScope.manage(nativeSimhashFp(documents).persist())), maxBucket))
    val a = capped.select(col("doc_id").as("id_a"), col("simhash").as("sim_a"),
      col("band_id"), col("band_val"), col("__surv").as("a_surv"))
    val b = capped.select(col("doc_id").as("id_b"), col("simhash").as("sim_b"),
      col("band_id"), col("band_val"), col("__surv").as("b_surv"))
    // A pair sharing several bands would surface once per shared band;
    // instead of a DISTINCT — a full shuffle of the candidate-pair
    // stream, the dominant cost once a popular band value piles up —
    // keep the pair only in its FIRST ELIGIBLE band (bands agree AND
    // both docs co-survive the bucket cap there — the survival bitmap,
    // see [[withSurvivalMask]]): exact dedup for free inside the join
    // stage, the top-k reduces map-side via TakeOrdered, and (round 12)
    // capped-regime recall equals the retired any-surviving-band
    // DISTINCT exactly — LlmSpec pins the equality on capped AND
    // uncapped corpora.
    def agree(k: Int): Column =
      (shiftright(col("sim_a"), 16 * k).bitwiseAND(lit(65535L))) ===
        (shiftright(col("sim_b"), 16 * k).bitwiseAND(lit(65535L)))
    val firstEligible = (0 until 3).foldRight(lit(3): Column) { (k, rest) =>
      when(survEligible(k, agree(k)), lit(k)).otherwise(rest)
    }
    a.join(b, Seq("band_id", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("band_id") === firstEligible)
      .withColumn("hamming", expr("bit_count(sim_a ^ sim_b)"))
      .select("id_a", "id_b", "hamming")
      .orderBy(col("hamming"), col("id_a"), col("id_b"))
      .limit(100)
  }

  /** Exact n-gram Jaccard, verified only on MinHash-LSH candidate pairs.
    *
    * Unlike l02's xxhash64 fast path, this variant's whole pipeline —
    * shingling, MinHash, banding, exact verify — is defined over
    * engine-portable primitives (raw 3-gram strings; 16 32-bit hash
    * slots cut from 4 md5 digests), so an independent engine (the DuckDB
    * oracle) reproduces the candidate set AND the scores bit-for-bit.
    * The execution shape is the same codegen'd explode + 16 min() aggs;
    * md5-on-string costs more per shingle than xxhash64 but stays linear
    * and map-side-combinable. */
  /** Raw word-3-gram shingles (engine-portable: plain strings). */
  private[llm] def portableShingles(documents: DataFrame): DataFrame = documents
    .withColumn("ts", split(col("text"), " "))
    .filter(size(col("ts")) >= 3)
    .select(col("doc_id"), explode(expr(
      """array_distinct(transform(sequence(0, size(ts)-3),
        |  i -> concat_ws(' ', element_at(ts, i+1), element_at(ts, i+2), element_at(ts, i+3))))""".stripMargin))
      .as("sh"))

  /** Portable signatures in the same (doc_id, sig array) shape as
    * [[withNativeSignatures]], so the scoring/banding machinery is
    * shared: 16 slots of 8-hex-char substrings cut from 4 salted md5
    * digests per shingle — lexicographic min over hex strings is the
    * same total order in every engine, which is what lets DuckDB
    * reproduce the whole LSH pipeline bit-for-bit (the l04 recipe).
    * Computed by the native codegen'd expression
    * ([[graft.plans.MinHashMd5]]): one map-side pass per doc — no
    * shingle explode, no doc_id shuffle, no 16-column string-min
    * aggregate. Signatures are bit-identical to the composed
    * explode + 16×MIN(substring(md5(…))) formulation (same digest, and
    * hex-min ≡ uint32-min; LlmSpec pins the equivalence against exactly
    * that pipeline). Registered queries share one computation per
    * corpus via [[SigStore]]. */
  private[graft] def withPortableSignatures(documents: DataFrame): DataFrame =
    documents
      .select(col("doc_id"), expr("minhash_md5(split(text, ' '))").as("sig"))
      .where(col("sig").isNotNull)

  def ngramJaccard(documents: DataFrame,
                   maxBucket: Int = MaxBucketDefault,
                   shOpt: Option[DataFrame] = None,
                   candsOpt: Option[DataFrame] = None): DataFrame = {
    require(candsOpt.isEmpty || maxBucket == MaxBucketDefault,
      "candsOpt carries candidates capped at MaxBucketDefault; a custom maxBucket needs candsOpt=None")
    val sh = shOpt.getOrElse(graft.CacheScope.manage(portableShingles(documents).persist()))
    // the banding below IS the portable chain (signatures from the same
    // shingles, portableBandKey band keys, same cap), so the stored
    // candidate frame substitutes exactly
    // persisted: referenced by the id-set prune AND the verify joins
    val cands = candsOpt.map(_.select("id_a", "id_b")).getOrElse(
      graft.CacheScope.manage(
        lshCandidatePairs(withPortableSignatures(documents), portableBandKey, maxBucket)
          .persist()))
    // collect the shingle SETS only for docs that appear in a candidate
    // pair: the candidate list is bucket-capped (bounded), so the id set
    // broadcasts and the heavy per-doc collect_set — the verify stage's
    // dominant cost at corpus scale — prunes from |corpus| to
    // |candidate docs| before the shuffle. Joins below are inner, so
    // the result is unchanged.
    val candIds = broadcast(
      cands.select(col("id_a").as("doc_id"))
        .union(cands.select(col("id_b").as("doc_id"))).distinct())
    val shset = sh.join(candIds, "doc_id")
      .groupBy("doc_id").agg(collect_set(col("sh")).as("s"))
    cands
      .join(shset.select(col("doc_id").as("id_a"), col("s").as("sh_a")), Seq("id_a"))
      .join(shset.select(col("doc_id").as("id_b"), col("s").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .select("id_a", "id_b", "jaccard")
      .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
      .limit(100)
  }

  // Mirrors ngramJaccard term for term: shares the portable candidate
  // chain (toks→sh→sig→capped bands→cands) with every other portable
  // oracle via [[pairsCtesSql]]; the exact-verify tail joins the full
  // shingle sets back per candidate.
  private lazy val l04Sql = pairsCtesSql + ",\n" +
    """shset AS (SELECT doc_id, list(sh) AS s FROM sh GROUP BY doc_id)
      |SELECT id_a, id_b,
      |  cast(len(list_intersect(a.s, b.s)) as double)
      |    / len(list_distinct(list_cat(a.s, b.s))) AS jaccard
      |FROM cands JOIN shset a ON id_a = a.doc_id JOIN shset b ON id_b = b.doc_id
      |ORDER BY jaccard DESC, id_a, id_b LIMIT 100""".stripMargin

  /** Near-dup REMOVAL (the pipeline step after detection): drop every doc
    * that has a candidate near-dup with a smaller doc_id (est. Jaccard ≥
    * threshold), keeping one representative per dup pair chain. One
    * anti-join against the candidate pairs — no transitive closure pass,
    * which matches the greedy keep-first policy common in corpus dedup. */
  def dedupFilter(documents: DataFrame, minJaccard: Double = 0.5,
                  portable: Boolean = false,
                  maxBucket: Int = MaxBucketDefault,
                  sigsOpt: Option[DataFrame] = None,
                  candsOpt: Option[DataFrame] = None): DataFrame = {
    require(candsOpt.isEmpty || (portable && maxBucket == MaxBucketDefault),
      "candsOpt carries the portable chain's candidates capped at MaxBucketDefault; " +
        "portable=false or a custom maxBucket needs candsOpt=None")
    val cands = candsOpt.getOrElse {
      val sigs = sigsOpt.getOrElse(graft.CacheScope.manage(
        (if (portable) withPortableSignatures(documents) else withNativeSignatures(documents)).persist()))
      scoredCandidates(sigs, if (portable) portableBandKey else nativeBandKey, maxBucket)
    }
    val toDrop = cands
      .filter(col("est_jaccard") >= minJaccard)
      .select(col("id_b").as("doc_id")).distinct()
    documents.join(toDrop, Seq("doc_id"), "left_anti")
  }

  /** l17 — dedup-filter rollup: per-lang kept/removed counts. Runs on the
    * portable md5 signature pipeline so the DuckDB oracle reproduces the
    * removal set exactly; `dedupFilter`'s default stays the xxhash64 fast
    * path (LlmSpec keeps the recall bound on that one). */
  def dedupFilterStats(documents: DataFrame,
                       sigsOpt: Option[DataFrame] = None,
                       candsOpt: Option[DataFrame] = None): DataFrame = {
    val kept = dedupFilter(documents, portable = true, sigsOpt = sigsOpt, candsOpt = candsOpt)
      .groupBy("lang").agg(count(lit(1)).as("kept_docs"))
    val total = documents.groupBy("lang").agg(count(lit(1)).as("total_docs"))
    total.join(kept, Seq("lang"), "left_outer")
      .withColumn("kept_docs", coalesce(col("kept_docs"), lit(0L)))
      .withColumn("removed_docs", col("total_docs") - col("kept_docs"))
      .orderBy("lang")
  }

  /** l28 — engine-portable twin of l02: candidate pairs ranked by
    * estimated Jaccard (matching-slot fraction) over the md5-substring
    * signatures, so the whole detection tier — signatures, bands,
    * candidates, scores, ranking — reproduces bit-for-bit in DuckDB.
    * Completes the portable family: l04 (exact verify), l17 (removal),
    * l24 (simhash), l26 (clusters), l28 (minhash ranking); l02 stays the
    * xxhash64 fast path. */
  def minhashPortable(documents: DataFrame,
                      maxBucket: Int = MaxBucketDefault,
                      sigsOpt: Option[DataFrame] = None,
                      candsOpt: Option[DataFrame] = None): DataFrame = {
    require(candsOpt.isEmpty || maxBucket == MaxBucketDefault,
      "candsOpt carries candidates capped at MaxBucketDefault; a custom maxBucket needs candsOpt=None")
    candsOpt.getOrElse(scoredCandidates(
        sigsOpt.getOrElse(graft.CacheScope.manage(withPortableSignatures(documents).persist())),
        portableBandKey, maxBucket))
      .select("id_a", "id_b", "est_jaccard")
      .orderBy(col("est_jaccard").desc, col("id_a"), col("id_b"))
      .limit(100)
  }

  private lazy val l28Sql = pairsCtesSql + "\n" +
    s"""SELECT id_a, id_b, cast($sqlMatches as double)/$NumHashes AS est_jaccard
       |FROM cands JOIN sig a ON id_a = a.doc_id JOIN sig b ON id_b = b.doc_id
       |ORDER BY est_jaccard DESC, id_a, id_b LIMIT 100""".stripMargin

  /** Ground-truth universe knobs for [[minhashRecall]]: a pair enters
    * the audit when the docs share ≥ [[MinSharedRare]] shingles whose
    * corpus doc-frequency is ≤ [[RareShingleDf]]. Measured at sf0.1:
    * df≤8 + shared≥2 keeps 240 of the 256 true pairs the far looser
    * df≤64 universe finds, from 3.6k exact verifications instead of
    * 1.13M — the verify stage is the quadratic-ish part, so the universe
    * definition is what makes the audit itself scale-safe. */
  private val RareShingleDf = 8
  private val MinSharedRare = 2

  /** l44 — LSH recall audit (the text analog of l31's ANN recall): how
    * many TRUE near-dup pairs does the banded MinHash pipeline actually
    * surface, bucketed by exact-Jaccard band? Banding theory says recall
    * rises steeply with similarity (P(caught) = 1-(1-j^r)^b); this query
    * measures that curve on the corpus itself — the number a curation
    * pipeline needs before trusting the fast path to do removal.
    *
    * Ground truth is pairs sharing ≥ [[MinSharedRare]] RARE shingles
    * (2 ≤ doc freq ≤ [[RareShingleDf]]) with exact shingle-Jaccard ≥
    * 0.5 — exact all-pairs is O(n²) and impossible at scale, but a
    * ≥0.5-Jaccard pair shares half its shingles, so it misses the
    * universe only when at most one shared shingle is rare — i.e. the
    * pair's entire overlap is boilerplate-common text, which is not a
    * meaningful dup pair. The rare-shingle self-join is bounded at
    * RareShingleDf² pairs per shingle — the same capped-bucket
    * discipline as the LSH join itself (constants: see the knobs above).
    * The oracle replays the identical pruned universe, so the audit is
    * oracle-exact. */
  /** The ground-truth near-dup universe over a shingle frame: pairs
    * sharing ≥ [[MinSharedRare]] rare shingles with exact Jaccard ≥ 0.5
    * (see [[minhashRecall]]'s scaladoc for why this prunes soundly). */
  private[llm] def truthPairs(sh: DataFrame): DataFrame = {
    val dfreq = sh.groupBy("sh").agg(count(lit(1)).as("df"))
    val rare = sh.join(dfreq.filter(col("df").between(2, RareShingleDf)), Seq("sh"))
    // persisted: referenced by the id-set prune AND the verify joins
    val truCand = graft.CacheScope.manage(
      rare.select(col("doc_id").as("id_a"), col("sh"))
        .join(rare.select(col("doc_id").as("id_b"), col("sh")), Seq("sh"))
        .filter(col("id_a") < col("id_b"))
        .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared"))
        .filter(col("shared") >= MinSharedRare)
        .select("id_a", "id_b")
        .persist())
    // same prune as the l04 verify: the truth-candidate list is bounded
    // (rare-shingle join, ≥MinSharedRare), so only its docs need their
    // full shingle set collected — inner joins keep the result identical
    val candIds = broadcast(
      truCand.select(col("id_a").as("doc_id"))
        .union(truCand.select(col("id_b").as("doc_id"))).distinct())
    val shset = sh.join(candIds, "doc_id")
      .groupBy("doc_id").agg(collect_set(col("sh")).as("s"))
    truCand
      .join(shset.select(col("doc_id").as("id_a"), col("s").as("sh_a")), Seq("id_a"))
      .join(shset.select(col("doc_id").as("id_b"), col("s").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b", "jaccard")
  }

  /** Left-join the truth universe against a candidate set and roll up
    * per exact-similarity band — the shared tail of l44 and l48. */
  private def recallRollup(truPairs: DataFrame, cands: DataFrame): DataFrame =
    truPairs.join(cands.withColumn("caught", lit(1)), Seq("id_a", "id_b"), "left_outer")
      .withColumn("j_band",
        when(col("jaccard") >= 0.9, "0.9-1.0")
          .when(col("jaccard") >= 0.7, "0.7-0.9")
          .otherwise("0.5-0.7"))
      .groupBy("j_band")
      .agg(
        count(lit(1)).as("n_true"),
        sum(coalesce(col("caught"), lit(0))).as("n_caught"))
      .withColumn("recall", col("n_caught").cast("double") / col("n_true"))
      .orderBy("j_band")

  def minhashRecall(documents: DataFrame,
                    maxBucket: Int = MaxBucketDefault,
                    sigsOpt: Option[DataFrame] = None,
                    shOpt: Option[DataFrame] = None,
                    truthOpt: Option[DataFrame] = None): DataFrame = {
    val tru = truthOpt.getOrElse(truthPairs(
      shOpt.getOrElse(graft.CacheScope.manage(portableShingles(documents).persist()))))
    val sigs = sigsOpt.getOrElse(graft.CacheScope.manage(
      withPortableSignatures(documents).persist()))
    recallRollup(tru,
      lshCandidatePairs(sigs, portableBandKey, maxBucket).select("id_a", "id_b"))
  }

  /** l48 — SimHash recall audit: the l44 question asked of the OTHER
    * sketch family. Same exact-Jaccard truth universe, caught = the
    * portable md5-bit SimHash banding (4 × 16-bit bands, hamming-0
    * within a band to collide) — fully DuckDB-reproducible, so the row
    * is oracle-exact. The number this publishes is the reason the
    * minhash tier is the removal path: 16-bit-exact banding recalls only
    * ~⅔ of true ≥0.5-Jaccard pairs (measured 148/240 at sf0.1), where
    * the banded MinHash pipeline is near-complete (l44) — SimHash's
    * fixed 2^16 band space trades recall for a 64-bit fingerprint and is
    * kept as the cheap secondary signal, not the gate. */
  def simhashRecall(documents: DataFrame,
                    maxBucket: Int = MaxBucketDefault,
                    shOpt: Option[DataFrame] = None,
                    fpOpt: Option[DataFrame] = None,
                    truthOpt: Option[DataFrame] = None): DataFrame = {
    val tru = truthOpt.getOrElse(truthPairs(
      shOpt.getOrElse(graft.CacheScope.manage(portableShingles(documents).persist()))))
    val fp = fpOpt.getOrElse(graft.CacheScope.manage(portableSimhashFp(documents).persist()))
    recallRollup(tru,
      portableSimhashPairs(fp, maxBucket).select("id_a", "id_b"))
  }

  // The truth-universe CTEs over the `sh` shingle CTE — shared by the
  // two recall audits (l44 minhash, l48 simhash).
  private lazy val truthCtesSql: String =
    s"""dfq AS (SELECT sh, count(*) AS df FROM sh GROUP BY 1),
       |rare AS (SELECT s.doc_id, s.sh FROM sh s JOIN dfq USING (sh)
       |         WHERE df BETWEEN 2 AND $RareShingleDf),
       |tc AS (SELECT id_a, id_b FROM (
       |         SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
       |         FROM rare a JOIN rare b USING (sh) WHERE a.doc_id < b.doc_id
       |         GROUP BY 1, 2)
       |       WHERE shared >= $MinSharedRare),
       |shset AS (SELECT doc_id, list(sh) AS s FROM sh GROUP BY doc_id),
       |tru AS (
       |  SELECT id_a, id_b,
       |    cast(len(list_intersect(a.s, b.s)) as double)
       |      / len(list_distinct(list_cat(a.s, b.s))) AS jaccard
       |  FROM tc JOIN shset a ON id_a = a.doc_id JOIN shset b ON id_b = b.doc_id)""".stripMargin

  /** The per-band recall rollup against a candidate CTE. */
  private def recallTailSql(candsCte: String): String =
    s"""jj AS (
       |  SELECT t.jaccard, CASE WHEN c.id_a IS NULL THEN 0 ELSE 1 END AS caught
       |  FROM (SELECT * FROM tru WHERE jaccard >= cast(0.5 as double)) t
       |  LEFT JOIN $candsCte c ON t.id_a = c.id_a AND t.id_b = c.id_b),
       |bnd AS (
       |  SELECT CASE WHEN jaccard >= cast(0.9 as double) THEN '0.9-1.0'
       |              WHEN jaccard >= cast(0.7 as double) THEN '0.7-0.9'
       |              ELSE '0.5-0.7' END AS j_band, caught
       |  FROM jj)
       |SELECT j_band, count(*) AS n_true,
       |  cast(sum(caught) as bigint) AS n_caught,
       |  cast(sum(caught) as double)/count(*) AS recall
       |FROM bnd GROUP BY 1 ORDER BY 1""".stripMargin

  // Shares the portable chain's sh/sig/banded/cands CTEs; the unused
  // `pairs` CTE costs nothing (DuckDB drops unreferenced CTEs).
  private lazy val l44Sql =
    pairsCtesSql + ",\n" + truthCtesSql + ",\n" + recallTailSql("cands")

  // Minhash truth chain + the prefixed simhash chain in one WITH clause:
  // caught = the simhash banding's candidates, truth = exact Jaccard.
  private lazy val l48Sql =
    pairsCtesSql + ",\n" + simhashCtesSql("s_") + ",\n" +
      truthCtesSql + ",\n" + recallTailSql("s_cands")

  /** l47 — fast-tier agreement audit, under the oracle: the
    * HIGH-CONFIDENCE near-dup pairs the portable md5 pipeline finds
    * (est. Jaccard ≥ [[FastTierMinEst]]) must ALSO be surfaced by the
    * xxhash64 fast path's candidate generation (l02's tier). The query
    * counts the portable high-sim pairs (n_high — oracle-exact, DuckDB
    * reproduces the portable chain bit-for-bit) and emits
    * `recall_ok` = fast tier caught ≥ [[FastTierMinRecall]] of them,
    * which the oracle pins to `true`. A thresholded RATIO, not exact
    * pair-set equality: banding theory only guarantees ~99.5% catch
    * probability PER PAIR at this similarity (1-(1-j²)⁸), so demanding
    * 100% would make a hash-exact driver gate out of a statistical
    * property — one unlucky pair in a new fixture or at a bigger scale
    * would turn the driver red with no real regression. A genuine
    * fast-tier recall collapse still drops `recall_ok` to false and
    * fails the row. Cost: the two banded candidate tiers (both capped),
    * one equi-join on the pair key — nothing quadratic. */
  def fastTierAgreement(documents: DataFrame,
                        maxBucket: Int = MaxBucketDefault,
                        sigsOpt: Option[DataFrame] = None,
                        fastSigsOpt: Option[DataFrame] = None,
                        candsOpt: Option[DataFrame] = None): DataFrame = {
    require(candsOpt.isEmpty || maxBucket == MaxBucketDefault,
      "candsOpt carries candidates capped at MaxBucketDefault; a custom maxBucket needs candsOpt=None")
    val high = candsOpt.getOrElse(scoredCandidates(
        sigsOpt.getOrElse(graft.CacheScope.manage(withPortableSignatures(documents).persist())),
        portableBandKey, maxBucket))
      .filter(col("est_jaccard") >= FastTierMinEst)
      .select("id_a", "id_b")
    val fast = lshCandidatePairs(
      fastSigsOpt.getOrElse(graft.CacheScope.manage(withNativeSignatures(documents).persist())),
      nativeBandKey, maxBucket)
    high.agg(count(lit(1)).as("n_high"))
      .crossJoin(high.join(fast, Seq("id_a", "id_b")).agg(count(lit(1)).as("n_caught")))
      .select(col("n_high"),
        // 0 ≥ 0 when no high-sim pairs exist: vacuously ok
        (col("n_caught").cast("double") >=
          col("n_high").cast("double") * lit(FastTierMinRecall)).as("recall_ok"))
  }

  /** High-confidence threshold for [[fastTierAgreement]]: ≥ 12 of 16
    * matching slots (fast-tier catch probability ≥ 99.5% per pair). */
  private val FastTierMinEst = 0.75

  /** Required fast-tier catch ratio over the portable high-sim pairs —
    * comfortably below the theoretical ~99.5%, far above any real
    * regression (a broken tier catches ~0%). */
  private val FastTierMinRecall = 0.95

  private lazy val l47Sql = pairsCtesSql + "\n" +
    s"""SELECT count(*) AS n_high, true AS recall_ok
       |FROM cands JOIN sig a ON id_a = a.doc_id JOIN sig b ON id_b = b.doc_id
       |WHERE cast($sqlMatches as double)/$NumHashes >= cast($FastTierMinEst as double)""".stripMargin

  /** l52 — simhash FAST-TIER fingerprint agreement audit, under the
    * oracle: the l47 pattern applied to l03's xxhash64 simhash tier,
    * closing the last rows-only surface without a driver-visible tether.
    * Universe = the portable md5 pipeline's HIGH-CONFIDENCE near-dup
    * pairs (est. Jaccard ≥ [[FastTierMinEst]] — n_high is oracle-exact,
    * DuckDB reproduces the portable chain bit-for-bit, the same count
    * l47 publishes). For each such pair the FAST fingerprints' hamming
    * distance must be small: `agree_ok` = at least
    * [[SimhashAgreeMinRatio]] of the pairs land within
    * [[SimhashAgreeMaxHamming]] of 64 bits, which the oracle pins to
    * `true`. Gating the fingerprint DISTANCE (the quantity l03 ranks by)
    * instead of band collisions keeps the statistical banding lottery
    * out of a hash-exact driver row: measured across all three fixture
    * scales the worst high-confidence pair sits at hamming 12, so the
    * ≤16 bound is far above realized error while a real fingerprint
    * regression (hash change, vote-sign bug) drives hamming to ~32
    * (random) and fails the row. Cost: the capped portable candidate
    * tier + two doc_id equi-joins against the fingerprint store —
    * nothing quadratic, and both frames are [[SigStore]]-shared. */
  def simhashFastAgreement(documents: DataFrame,
                           maxBucket: Int = MaxBucketDefault,
                           sigsOpt: Option[DataFrame] = None,
                           fpOpt: Option[DataFrame] = None,
                           candsOpt: Option[DataFrame] = None): DataFrame = {
    require(candsOpt.isEmpty || maxBucket == MaxBucketDefault,
      "candsOpt carries candidates capped at MaxBucketDefault; a custom maxBucket needs candsOpt=None")
    val high = candsOpt.getOrElse(scoredCandidates(
        sigsOpt.getOrElse(graft.CacheScope.manage(withPortableSignatures(documents).persist())),
        portableBandKey, maxBucket))
      .filter(col("est_jaccard") >= FastTierMinEst)
      .select("id_a", "id_b")
    val fp = fpOpt.getOrElse(graft.CacheScope.manage(nativeSimhashFp(documents).persist()))
    high
      .join(fp.select(col("doc_id").as("id_a"), col("simhash").as("sim_a")), Seq("id_a"))
      .join(fp.select(col("doc_id").as("id_b"), col("simhash").as("sim_b")), Seq("id_b"))
      .withColumn("ham", expr("bit_count(sim_a ^ sim_b)"))
      .agg(
        count(lit(1)).as("n_high"),
        // coalesce: an empty high set is vacuously ok (0 ≥ 0)
        (coalesce(sum(when(col("ham") <= SimhashAgreeMaxHamming, 1).otherwise(0)), lit(0))
          .cast("double") >=
          count(lit(1)).cast("double") * lit(SimhashAgreeMinRatio)).as("agree_ok"))
  }

  /** Fast-fingerprint hamming bound for [[simhashFastAgreement]] —
    * worst measured high-confidence pair is 12/64 across sf0.001–0.1;
    * a broken fingerprint sits at ~32 (random). */
  private val SimhashAgreeMaxHamming = 16

  /** Required in-bound ratio — observed 100%; far above any real
    * regression, below the statistical tail of a fresh fixture. */
  private val SimhashAgreeMinRatio = 0.95

  private lazy val l52Sql = pairsCtesSql + "\n" +
    s"""SELECT count(*) AS n_high, true AS agree_ok
       |FROM cands JOIN sig a ON id_a = a.doc_id JOIN sig b ON id_b = b.doc_id
       |WHERE cast($sqlMatches as double)/$NumHashes >= cast($FastTierMinEst as double)""".stripMargin

  /** l45 — cross-source duplication matrix: near-dup pairs (portable
    * est. Jaccard ≥ 0.5) bucketed by the UNORDERED source pair of their
    * two docs. The curation question this answers: which crawls/dumps
    * overlap each other (off-diagonal cells — keep one, or dedup across
    * them first) vs which duplicate internally (diagonal cells)? Cost
    * is two broadcast-able dim probes over the already-bounded candidate
    * set — the detection tier is reused through [[SigStore]], and the
    * matrix itself is |sources|² rows at most. */
  def crossSourceDupMatrix(documents: DataFrame,
                           minJaccard: Double = 0.5,
                           maxBucket: Int = MaxBucketDefault,
                           sigsOpt: Option[DataFrame] = None,
                           candsOpt: Option[DataFrame] = None): DataFrame = {
    require(candsOpt.isEmpty || maxBucket == MaxBucketDefault,
      "candsOpt carries candidates capped at MaxBucketDefault; a custom maxBucket needs candsOpt=None")
    val pairs = candsOpt.getOrElse(scoredCandidates(
        sigsOpt.getOrElse(graft.CacheScope.manage(withPortableSignatures(documents).persist())),
        portableBandKey, maxBucket))
      .filter(col("est_jaccard") >= minJaccard)
    val src = documents.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("src_of_a")), Seq("id_a"))
      .join(src.select(col("doc_id").as("id_b"), col("source").as("src_of_b")), Seq("id_b"))
      .select(
        least(col("src_of_a"), col("src_of_b")).as("src_a"),
        greatest(col("src_of_a"), col("src_of_b")).as("src_b"))
      .groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("cross_source", col("src_a") =!= col("src_b"))
      .orderBy("src_a", "src_b")
  }

  private lazy val l45Sql = pairsCtesSql + "\n" +
    """SELECT least(da.source, db.source) AS src_a,
      |  greatest(da.source, db.source) AS src_b,
      |  count(*) AS n_pairs,
      |  least(da.source, db.source) <> greatest(da.source, db.source) AS cross_source
      |FROM pairs
      |JOIN documents da ON id_a = da.doc_id
      |JOIN documents db ON id_b = db.doc_id
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  /** l26 — duplicate CLUSTERS via distributed connected components over
    * the near-dup candidate graph (edges = portable-signature pairs with
    * est. Jaccard ≥ threshold). l17's one-pass anti-join is greedy: in a
    * chain A≈B≈C where A and C never share a band, it can only drop
    * per-pair; the transitive closure groups the whole chain under one
    * representative — the semantics corpus dedup actually wants when dup
    * families are larger than a pair.
    *
    * Algorithm: min-label propagation — every node starts labeled with
    * its own id, and each round takes the min of its own and its
    * neighbors' labels; converges in O(component diameter) rounds, each
    * one shuffle keyed by doc_id. The per-round `changed` count is a
    * driver-side SCALAR (like the q08 watermark — aggregated, never
    * data), the standard Spark convergence check. Dup-cluster diameters
    * are tiny in practice; the 64-round cap is a runaway guard.
    *
    * Output: one row per cluster — (cluster_id = min doc_id, n_docs,
    * removable = n_docs - 1). Reproduced exactly in DuckDB via a
    * recursive-CTE reachability closure over the same edge set. */
  def dupComponents(documents: DataFrame, minJaccard: Double = 0.5,
                    maxBucket: Int = MaxBucketDefault,
                    sigsOpt: Option[DataFrame] = None,
                    candsOpt: Option[DataFrame] = None,
                    labelsOpt: Option[DataFrame] = None): DataFrame = {
    require(labelsOpt.isEmpty || (minJaccard == 0.5 && maxBucket == MaxBucketDefault),
      "labelsOpt carries labels propagated at the default knobs; custom knobs need labelsOpt=None")
    labelsOpt.getOrElse(
        componentLabels(documents, minJaccard, maxBucket, sigsOpt, candsOpt))
      .groupBy("comp").agg(count(lit(1)).as("n_docs"))
      .select(col("comp").as("cluster_id"), col("n_docs"),
        (col("n_docs") - 1).as("removable"))
      .orderBy("cluster_id")
  }

  /** (id, comp) assignment for every doc that appears in a near-dup pair;
    * comp = min doc_id reachable in the candidate graph. See
    * [[dupComponents]] for the algorithm notes. */
  private[llm] def componentLabels(documents: DataFrame, minJaccard: Double,
                                   maxBucket: Int,
                                   sigsOpt: Option[DataFrame] = None,
                                   candsOpt: Option[DataFrame] = None): DataFrame = {
    val cands = candsOpt.getOrElse(scoredCandidates(
      sigsOpt.getOrElse(graft.CacheScope.manage(withPortableSignatures(documents).persist())),
      portableBandKey, maxBucket))
    propagateMinLabels(cands
      .filter(col("est_jaccard") >= minJaccard)
      .select("id_a", "id_b"))
  }

  /** Min-label propagation over an undirected pair list `(id_a, id_b)`:
    * returns `(id, comp)` where comp = min id reachable. Shared by the
    * text-side ([[componentLabels]]) and embedding-side
    * ([[Similarity.embedDupComponents]]) clustering. */
  private[llm] def propagateMinLabels(p0: DataFrame): DataFrame = {
    // Lineage cut, not just a cache: Catalyst re-analyzes each round's
    // FULL input plan, and the signature pipeline behind the edge list is
    // hundreds of expression nodes — with plain persist() every round
    // paid ~2 s of re-optimization for a sub-ms join on the (tiny) edge
    // list. localCheckpoint materializes it eagerly and gives every
    // round an O(1)-size plan. (On a real cluster, reliable
    // `checkpoint()` to the cluster FS is the fault-tolerant knob.)
    val edges = p0.union(p0.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .localCheckpoint()
    // pointer-jump helper (path compression): comp ← label(comp). Plain
    // neighbor propagation needs O(diameter) rounds — a 70-link chain
    // of near-dups would exhaust the round cap and silently return
    // unconverged labels; jumping through the label table halves the
    // remaining path per round, so 64 rounds covers any component a
    // 64-bit id space can express. comp is always itself a node id,
    // but left_outer+coalesce keeps the step total regardless.
    def jump(folded: DataFrame): DataFrame = folded
      .join(folded.select(col("id").as("comp"), col("comp").as("__jump")),
        Seq("comp"), "left_outer")
      .select(col("id"), coalesce(col("__jump"), col("comp")).as("comp"))
    // Convergence probe (r19): per-id comp is NON-INCREASING — the fold
    // takes min(own, neighbors') and the jump replaces comp by
    // label(comp) ≤ comp (labels(x) ≤ x holds from round 1 on) — and the
    // id set is fixed, so a round changed something iff the EXACT sum of
    // comps dropped (decimal(38,0): exact at any node count, no
    // wraparound ambiguity). The sum and the row count are observed
    // metrics of the round's own localCheckpoint job, so a round is one
    // action: no join-back + count job, no separate aggregate job.
    def checkpoint(labels: DataFrame): (DataFrame, (java.math.BigDecimal, Long)) = {
      val probe = org.apache.spark.sql.Observation()
      val cp = labels.observe(probe,
        sum(col("comp").cast(org.apache.spark.sql.types.DecimalType(38, 0))),
        count(lit(1))).localCheckpoint()
      val r = scala.concurrent.Await.result(probe.future, scala.concurrent.duration.Duration("10 min"))
      (cp, (r.getDecimal(0), r.getLong(1)))
    }
    // Round 1 fused: every neighbor's INITIAL label is its own id, so
    // the first propagation needs no label join — one aggregate computes
    // min(id, min(neighbor ids)) per node (edges carry both directions,
    // so the id_a side enumerates every node).
    var (labels, prev) = checkpoint(jump(edges.groupBy(col("id_a"))
      .agg(min(col("id_b")).as("__nbr"))
      .select(col("id_a").as("id"), least(col("id_a"), col("__nbr")).as("comp"))))
    var converged = false
    var iter = 1
    while (!converged && iter < 64) {
      val fromNbr = edges
        .join(labels.select(col("id").as("id_b"), col("comp")), Seq("id_b"))
        .select(col("id_a").as("id"), col("comp"))
      val folded = labels.union(fromNbr)
        .groupBy("id").agg(min(col("comp")).as("comp"))
      val (next, s) = checkpoint(jump(folded))
      converged = s == prev
      prev = s
      labels = next // superseded checkpoints are reclaimed by the ContextCleaner
      iter += 1
    }
    require(converged,
      s"component label propagation did not converge after $iter rounds")
    labels
  }

  /** The matching-slot count between two signature rows aliased a/b. */
  private lazy val sqlMatches = (0 until NumHashes).map(i =>
    s"(CASE WHEN a.mh_$i = b.mh_$i THEN 1 ELSE 0 END)").mkString(" + ")

  // Shared DuckDB chain: portable signatures → capped bands → candidate
  // pairs → est-Jaccard-thresholded `pairs`. (The WITH RECURSIVE prefix is
  // harmless for non-recursive consumers and lets [[reachCtesSql]] extend
  // the same text with the reachability closure.)
  private[llm] lazy val pairsCtesSql: String = pairsCtes("doc_id")

  /** The same chain under an explicit bucket-cap keep ORDER — l55's
    * arrival-order contract forks only this one clause. */
  private def pairsCtes(capOrderSql: String): String = {
    val mins = (for { j <- 0 until 4; w <- 0 until 4 } yield
      s"min(substr(md5('$j:' || sh), ${1 + 8 * w}, 8)) AS mh_${4 * j + w}").mkString(", ")
    val bands = (0 until NumBands).map(b =>
      s"SELECT doc_id, $b AS band_id, mh_${2 * b} || '|' || mh_${2 * b + 1} AS band_key FROM sig")
      .mkString("\nUNION ALL ")
    val matches = sqlMatches
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, string_split(text, ' ') AS ts FROM documents
       |  WHERE len(string_split(text, ' ')) >= 3),
       |sh AS (
       |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS sh
       |  FROM (SELECT doc_id, ts, unnest(range(1, len(ts)-1)) AS i FROM toks)),
       |sig AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       |banded0 AS ($bands),
       |banded AS (SELECT doc_id, band_id, band_key FROM (
       |  SELECT *, row_number() OVER (PARTITION BY band_id, band_key ORDER BY $capOrderSql) AS rn
       |  FROM banded0) WHERE rn <= $MaxBucketDefault),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM banded a JOIN banded b USING (band_id, band_key)
       |  WHERE a.doc_id < b.doc_id),
       |pairs AS (
       |  SELECT id_a, id_b
       |  FROM cands JOIN sig a ON id_a = a.doc_id JOIN sig b ON id_b = b.doc_id
       |  WHERE cast($matches as double)/$NumHashes >= cast(0.5 as double))""".stripMargin
  }

  // The recursive reachability closure over a `pairs(id_a, id_b)` CTE
  // (undirected edges → reachable set ≡ component; min reachable id ≡ the
  // propagated label). Appended after any chain that defines `pairs` —
  // the text chain here and Similarity's cosine chain (l36).
  private[llm] lazy val closureCtesSql: String =
    """edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |          UNION ALL SELECT id_b, id_a FROM pairs),
      |nodes AS (SELECT DISTINCT src AS id FROM edges),
      |reach(src, dst) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src)""".stripMargin

  // pairs chain + closure — shared by l26 and Sampling's l29 oracle.
  private[llm] lazy val reachCtesSql: String = pairsCtesSql + ",\n" + closureCtesSql

  private lazy val l26Sql = reachCtesSql + "\n" +
    """SELECT comp AS cluster_id, count(*) AS n_docs,
      |       cast(count(*) - 1 as bigint) AS removable
      |FROM (SELECT src, min(dst) AS comp FROM reach GROUP BY 1)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** l53 — quality-aware CANONICAL selection: one representative per
    * near-dup component, chosen as the HIGHEST-quality member (l12's
    * length×diversity score; ties to the smallest doc_id) instead of
    * l17's greedy-first survivor — the pipeline op that decides which
    * copy of a crawl duplicate actually enters the training mix.
    * Singletons are their own canonical. Rolled up per language
    * (canonical count + decimal-routed mean score). The oracle replays
    * the same choice declaratively: the portable closure (l26's
    * component CTE) + the l12 score formula + the same rank — every
    * stage already oracle-proven on its own, composed here.
    *
    * At 100 TB: the rank is a window over components — the same key
    * clustering the label-propagation output already carries — and the
    * score is a map-side scalar; nothing new shuffles beyond l26's
    * machinery. */
  def canonicalSelection(documents: DataFrame,
                         sigsOpt: Option[DataFrame] = None,
                         candsOpt: Option[DataFrame] = None,
                         labelsOpt: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val labels = labelsOpt.getOrElse(componentLabels(
      documents, 0.5, MaxBucketDefault, sigsOpt, candsOpt))
    val lenScore = least(lit(1.0), col("n_chars").cast("double") / lit(500.0))
    val words = split(col("text"), " ")
    val diversity = size(array_distinct(words)).cast("double") / size(words)
    val scored = documents.select(col("doc_id"), col("lang"),
      (lenScore * lit(0.5) + diversity * lit(0.5)).as("score"))
    val withComp = scored
      .join(labels.select(col("id").as("doc_id"), col("comp")), Seq("doc_id"), "left_outer")
      .withColumn("comp", coalesce(col("comp"), col("doc_id")))
    val w = Window.partitionBy("comp").orderBy(col("score").desc, col("doc_id").asc)
    withComp.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .groupBy("lang")
      .agg(count(lit(1)).as("canonical_docs"),
        graft.functions.Det.davg(col("score")).as("avg_canonical_score"))
      .orderBy(col("lang").asc_nulls_last)
  }

  private lazy val l53Sql = reachCtesSql + ",\n" +
    s"""scored AS (
       |  SELECT doc_id, lang,
       |         least(cast(1.0 as double), n_chars/cast(500.0 as double))*cast(0.5 as double)
       |       + (cast(len(list_distinct(string_split(text, ' '))) as double)
       |          / len(string_split(text, ' ')))*cast(0.5 as double) AS score
       |  FROM documents),
       |comps AS (SELECT src AS doc_id, min(dst) AS comp FROM reach GROUP BY 1),
       |canon AS (
       |  SELECT lang, score,
       |         row_number() OVER (PARTITION BY comp
       |                            ORDER BY score DESC, doc_id ASC) AS rn
       |  FROM (SELECT s.doc_id, s.lang, s.score, coalesce(c.comp, s.doc_id) AS comp
       |        FROM scored s LEFT JOIN comps c ON c.doc_id = s.doc_id))
       |SELECT lang, count(*) AS canonical_docs,
       |  ${graft.functions.Det.sqlDavg("score")} AS avg_canonical_score
       |FROM canon WHERE rn = 1
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** l24 — engine-portable SimHash twin of l03: each distinct token's 64
    * fingerprint bits come from the first 16 hex nibbles of its md5,
    * votes decide each bit's sign, bands are four 16-bit ints rebuilt
    * from the vote signs, and hamming is popcount over per-band XOR.
    * DuckDB reproduces fingerprints, bands, candidates, and distances
    * bit-for-bit from the hex-string SQL chain (the l04 recipe applied
    * to SimHash); l03 keeps the cheaper xxhash64 bit source. */
  /** The portable md5-bit SimHash fingerprint as four 16-bit band ints
    * (bit j of band k = bit 16k+j of the fingerprint); ints keep
    * XOR/popcount portable. Caller persists. */
  private[llm] def portableSimhashFp(documents: DataFrame): DataFrame =
    // Computed by the native codegen'd expression
    // ([[graft.plans.Md5SimHashBands]]): one map-side pass per doc — no
    // token explode, no doc_id shuffle, no 64-column vote aggregate. The
    // band ints are bit-identical to the previous explode + md5-nibble +
    // 64×SUM formulation (same MD5 digest, same nibble→bit mapping;
    // LlmSpec pins the equivalence against exactly that pipeline), so
    // the DuckDB oracle keeps reproducing them from the SQL chain.
    documents
      .select(col("doc_id"), expr("simhash_md5_bands(split(text, ' '))").as("bands"))
      .where(col("bands").isNotNull)
      .select(col("doc_id") +:
        (0 until 4).map(k => col("bands").getItem(k).as(s"b_$k")): _*)

  /** Banded candidate pairs scored by hamming over a persisted portable
    * fingerprint frame — unlimited (l24 ranks + limits; l48 thresholds).
    *
    * Round 11: the band columns ride THROUGH the band join, so a pair
    * sharing several bands dedups by the first-agreeing-band residual
    * (see [[simhashNearDup]] — exact on uncapped corpora, LlmSpec pins
    * pair-set equality with the retired DISTINCT) and the hamming is
    * computed inline from the carried bands. That removes the
    * candidate-stream DISTINCT shuffle AND the two fingerprint
    * re-joins the old shape paid — at 100 TB those were both
    * proportional to the candidate-pair stream, the pipeline's largest
    * intermediate.
    *
    * Capped-regime semantics (round 12, mirrored EXACTLY by the oracle
    * CTE — [[simhashCtesSql]] applies the same survival-bitmap CASE over
    * the capped band rows): the residual keeps a pair at its first band
    * where the bands agree AND both docs co-survive the bucket cap
    * ([[withSurvivalMask]]), so a pair whose first agreeing band was
    * capped away resurfaces at its first UNCAPPED agreeing band. That
    * restores the retired DISTINCT's recall EXACTLY (same pair set:
    * "some co-surviving agreeing band exists"), recovering round 11's
    * measured sliver (l48 recall 0.584 → 0.618 at sf0.1) while keeping
    * the pair-stream shuffle deleted — the bitmap costs one corpus-
    * bounded window over the ≤4N band rows, never a pair-stream pass. */
  private[llm] def portableSimhashPairs(fp: DataFrame, maxBucket: Int): DataFrame = {
    val exploded = fp.select(col("doc_id") +:
      (0 until 4).map(k => col(s"b_$k")) :+
      posexplode(array((0 until 4).map(k => col(s"b_$k")): _*)).as(Seq("band_id", "band_val")): _*)
    val banded = withSurvivalMask(capBuckets(exploded, Seq("band_id", "band_val"), maxBucket))
    def side(s: String) = banded.select(
      Seq(col("doc_id").as(s"id_$s"), col("band_id"), col("band_val"),
        col("__surv").as(s"${s}_surv")) ++
        (0 until 4).map(k => col(s"b_$k").as(s"${s}_b_$k")): _*)
    val firstEligible = (0 until 3).foldRight(lit(3): Column) { (k, rest) =>
      when(survEligible(k, col(s"a_b_$k") === col(s"b_b_$k")), lit(k)).otherwise(rest)
    }
    side("a").join(side("b"), Seq("band_id", "band_val"))
      .filter(col("id_a") < col("id_b"))
      .filter(col("band_id") === firstEligible)
      .withColumn("hamming", expr(
        (0 until 4).map(k => s"bit_count(a_b_$k ^ b_b_$k)").mkString(" + ")).cast("int"))
      .select("id_a", "id_b", "hamming")
  }

  def simhashPortable(documents: DataFrame,
                      maxBucket: Int = MaxBucketDefault,
                      fpOpt: Option[DataFrame] = None): DataFrame =
    portableSimhashPairs(
        fpOpt.getOrElse(graft.CacheScope.manage(portableSimhashFp(documents).persist())),
        maxBucket)
      .orderBy(col("hamming"), col("id_a"), col("id_b"))
      .limit(100)

  /** The portable SimHash chain (mirrors [[portableSimhashFp]] +
    * [[portableSimhashPairs]] term for term) as CTE text, names prefixed
    * with `p` so it can share a WITH clause with the minhash chain
    * (l48). Ends with `${p}cands`. DuckDB: `>>`/`&` are the int bit ops,
    * xor() is bitwise, bit_count() is popcount. */
  private def simhashCtesSql(p: String): String = {
    val nibs = (0 until 16).map(i =>
      s"ascii(substr(hx, ${i + 1}, 1)) - (CASE WHEN substr(hx, ${i + 1}, 1) >= 'a' THEN 87 ELSE 48 END) AS n_$i")
      .mkString(", ")
    val votes = (0 until 64).map(b =>
      s"sum(CASE WHEN ((n_${b / 4} >> ${b % 4}) & 1) = 1 THEN 1 ELSE -1 END) AS v_$b")
      .mkString(", ")
    val bands = (0 until 4).map(k =>
      (0 until 16).map(j => s"(CASE WHEN v_${16 * k + j} > 0 THEN ${1 << j} ELSE 0 END)")
        .mkString(" + ") + s" AS b_$k").mkString(", ")
    val bandRows = (0 until 4).map(k =>
      s"SELECT doc_id, $k AS band_id, b_$k AS band_val FROM ${p}fp").mkString("\nUNION ALL ")
    s"""${p}tok AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS t FROM documents),
       |${p}h AS (SELECT doc_id, md5(t) AS hx FROM ${p}tok),
       |${p}nib AS (SELECT doc_id, $nibs FROM ${p}h),
       |${p}votes AS (SELECT doc_id, $votes FROM ${p}nib GROUP BY doc_id),
       |${p}fp AS (SELECT doc_id, $bands FROM ${p}votes),
       |${p}banded0 AS ($bandRows),
       |${p}banded AS (SELECT doc_id, band_id, band_val FROM (
       |  SELECT *, row_number() OVER (PARTITION BY band_id, band_val ORDER BY doc_id) AS rn
       |  FROM ${p}banded0) WHERE rn <= $MaxBucketDefault),
       |${p}mask AS (SELECT doc_id, bit_or(1 << band_id) AS surv
       |            FROM ${p}banded GROUP BY doc_id),
       |${p}cands AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM ${p}banded a JOIN ${p}banded b USING (band_id, band_val)
       |  JOIN ${p}fp fa ON fa.doc_id = a.doc_id
       |  JOIN ${p}fp fb ON fb.doc_id = b.doc_id
       |  JOIN ${p}mask ma ON ma.doc_id = a.doc_id
       |  JOIN ${p}mask mb ON mb.doc_id = b.doc_id
       |  WHERE a.doc_id < b.doc_id
       |    AND band_id = (CASE
       |      WHEN fa.b_0 = fb.b_0 AND (ma.surv & 1) != 0 AND (mb.surv & 1) != 0 THEN 0
       |      WHEN fa.b_1 = fb.b_1 AND (ma.surv & 2) != 0 AND (mb.surv & 2) != 0 THEN 1
       |      WHEN fa.b_2 = fb.b_2 AND (ma.surv & 4) != 0 AND (mb.surv & 4) != 0 THEN 2
       |      ELSE 3 END))""".stripMargin
  }

  private lazy val l24Sql = {
    val ham = (0 until 4).map(k => s"bit_count(xor(a.b_$k, b.b_$k))").mkString(" + ")
    "WITH " + simhashCtesSql("") +
      s"""
         |SELECT id_a, id_b, cast($ham as int) AS hamming
         |FROM cands JOIN fp a ON id_a = a.doc_id JOIN fp b ON id_b = b.doc_id
         |ORDER BY hamming, id_a, id_b LIMIT 100""".stripMargin
  }

  // Mirrors dedupFilterStats via the shared portable chain
  // ([[pairsCtesSql]]: same bands, cap, est-Jaccard threshold), then
  // greedy keep-first removal and the per-lang rollup.
  private lazy val l17Sql = pairsCtesSql + ",\n" +
    """dropped AS (SELECT DISTINCT id_b AS doc_id FROM pairs),
      |kept AS (
      |  SELECT lang, count(*) AS kept_docs FROM documents d
      |  WHERE NOT EXISTS (SELECT 1 FROM dropped x WHERE x.doc_id = d.doc_id)
      |  GROUP BY 1),
      |total AS (SELECT lang, count(*) AS total_docs FROM documents GROUP BY 1)
      |SELECT lang, total_docs, cast(coalesce(kept_docs, 0) as bigint) AS kept_docs,
      |       cast(total_docs - coalesce(kept_docs, 0) as bigint) AS removed_docs
      |FROM total LEFT JOIN kept USING (lang) ORDER BY lang""".stripMargin

  /** l35 — INCREMENTAL dedup: the shape a pipeline actually runs daily at
    * 100 TB, where re-deduping the whole corpus per ingest is off the
    * table. The arriving batch (here the deterministic 10% slice
    * `doc_id % 10 = 7`) is deduped against the existing corpus AND
    * keep-first within itself: a batch doc is dropped if it has a
    * near-dup partner in the corpus (any id) or an earlier batch doc.
    *
    * The candidate join is ONE-SIDED: only batch-side bands probe the
    * (capped) band index, so corpus–corpus pairs are never generated,
    * joined, or scored — the join and the signature re-joins all scale
    * with the batch, not the corpus². (In production the index side is
    * the precomputed signature store; here [[SigStore]] plays that role.)
    * Per-language rollup; oracle replays the same candidate chain and
    * membership arithmetic — its full pair set filters down to the same
    * batch-touching pairs this plan is restricted to from the start. */
  def incrementalDedup(documents: DataFrame,
                       maxBucket: Int = MaxBucketDefault,
                       sigsOpt: Option[DataFrame] = None,
                       arrivalCap: Boolean = false): DataFrame = {
    val sigs = sigsOpt.getOrElse(
      graft.CacheScope.manage(withPortableSignatures(documents).persist()))
    val isBatch: Column => Column = c => c % 10 === 7
    // arrivalCap = the l55 streaming tier's batch-at-once REFERENCE:
    // cap overflowing buckets by arrival order (corpus first, then the
    // batch slice by id) instead of raw doc_id — identical whenever the
    // cap doesn't bind (every fixture; graft.BucketCheck)
    val banded =
      if (arrivalCap) capBucketsBy(bandRows(sigs, portableBandKey),
        Seq("band_id", "band_hash"), arrivalOrder, maxBucket)
      else bandedSigs(sigs, portableBandKey, maxBucket)
    val probe = banded.filter(isBatch(col("doc_id")))
      .select(col("doc_id").as("bid"), col("band_id"), col("band_hash"))
    val index = banded.select(col("doc_id").as("pid"), col("band_id"), col("band_hash"))
    val cand = probe.join(index, Seq("band_id", "band_hash"))
      .filter(col("bid") =!= col("pid"))
      .select("bid", "pid").distinct()
    val dropped = cand
      .join(sigs.select(col("doc_id").as("bid"), col("sig").as("sig_b")), Seq("bid"))
      .join(sigs.select(col("doc_id").as("pid"), col("sig").as("sig_p")), Seq("pid"))
      .filter(estJaccard(col("sig_b"), col("sig_p")) >= 0.5)
      .filter(!isBatch(col("pid")) || col("pid") < col("bid"))
      .select(col("bid").as("doc_id")).distinct()
      .withColumn("dr", lit(1))
    documents.filter(isBatch(col("doc_id")))
      .join(dropped, Seq("doc_id"), "left_outer")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("batch_docs"),
        sum(coalesce(col("dr"), lit(0))).as("dropped_docs"))
      .withColumn("kept_docs", col("batch_docs") - col("dropped_docs"))
      .orderBy("lang")
  }

  // ---- l55: streaming incremental dedup support ----------------------
  //
  // The streaming production twin of [[incrementalDedup]]: the batch
  // slice (doc_id % 10 = 7) ARRIVES in doc_id-ordered micro-batches
  // while the corpus side sits in a persisted signature + band store
  // (the store l35 already assumes precomputed). Each micro-batch
  // probes the store, appends itself, and emits its dropped ids.
  //
  // CAP SEMANTICS — the part that must be stated precisely. An
  // overflowing band bucket keeps only `maxBucket` members, and WHICH
  // members is a tie-break contract. l35's batch contract keeps the
  // cap-smallest doc_ids — a choice that needs the whole population in
  // hand, which a streaming system does not have: a future arrival
  // with a small id could retroactively evict an already-probed store
  // member. The streaming tier therefore caps by ARRIVAL order — seed
  // (corpus) members first by id, then stream arrivals by id:
  //
  //   every not-yet-arrived doc is a stream doc with a larger id than
  //   every arrived stream doc, so it ranks after ALL arrived rows
  //   (seed rows rank first by construction). Hence each arrived row's
  //   bucket rank over (seed ∪ arrived) is already its FINAL rank —
  //   later arrivals can never evict earlier ones — and the per-batch
  //   cap over (stored ∪ batch) equals the global arrival-order cap in
  //   EVERY regime, making the union of per-batch drops invariant to
  //   the micro-batch slicing.
  //
  // The arrival-order and id-order contracts coincide whenever no
  // bucket overflows the cap — true of every test fixture by a wide
  // margin (max portable-minhash bucket is 12 vs the 1024 cap at
  // sf0.1; `graft.BucketCheck`) — so l55 agrees with l35 there; under
  // a binding cap they differ only in which members represent an
  // overflowing bucket, and l55's DuckDB oracle ([[l55Sql]]) states
  // the arrival-order contract explicitly. LlmSpec pins composed
  // steps ≡ batch-at-once under BOTH caps: the default (where it also
  // equals plain l35) and cap=2 against [[incrementalDedup]]'s
  // arrival-cap variant (a cap tight enough to actually bind).

  /** UNCAPPED portable band rows (doc_id, band_id, band_hash) — the
    * append-only band store the l55 gate maintains. The bucket cap is
    * NOT baked into the store: it is re-derived per micro-batch over
    * (stored ∪ batch) by [[incrementalStreamStep]] under the
    * arrival-order contract above. */
  private[graft] def portableBandRows(sigs: DataFrame): DataFrame =
    bandRows(sigs, portableBandKey)

  /** The l55 arrival-order cap rank: seed (corpus) docs first by id,
    * then stream (batch-slice) docs by id — the order in which the
    * incremental system actually saw the rows. */
  private def arrivalOrder: Seq[Column] =
    Seq(col("doc_id") % 10 === 7, col("doc_id"))

  /** One l55 micro-batch: the batch's dropped doc_ids against the store
    * plus itself. ONE-SIDED like l35 — only batch bands probe, so the
    * per-trigger join cost tracks the batch and the touched buckets,
    * never corpus². The stored side is first semi-joined down to the
    * buckets the batch actually touches; at production scale the band
    * store is bucketed on (band_id, band_hash) (the q62 layout) so that
    * semi-join is a pruned read instead of a scan, and the sig lookup
    * is keyed on doc_id the same way. */
  private[graft] def incrementalStreamStep(
      batchSigs: DataFrame, batchBands: DataFrame,
      storedSigs: DataFrame, storedBands: DataFrame,
      maxBucket: Int = MaxBucketDefault): DataFrame = {
    val touched = batchBands.select("band_id", "band_hash").distinct()
    val arrived = storedBands.join(touched, Seq("band_id", "band_hash"), "left_semi")
      .unionByName(batchBands)
    // per-batch ARRIVAL-ORDER cap over (stored ∪ batch) ≡ the global
    // arrival-order cap — the rank-finality argument above
    val capped = capBucketsBy(arrived, Seq("band_id", "band_hash"),
      arrivalOrder, maxBucket)
    val probe = capped
      .join(batchSigs.select("doc_id"), Seq("doc_id"), "left_semi")
      .select(col("doc_id").as("bid"), col("band_id"), col("band_hash"))
    val index = capped.select(col("doc_id").as("pid"), col("band_id"), col("band_hash"))
    val cand = probe.join(index, Seq("band_id", "band_hash"))
      .filter(col("bid") =!= col("pid"))
      .select("bid", "pid").distinct()
    val partnerSigs = storedSigs.unionByName(batchSigs)
    cand
      .join(batchSigs.select(col("doc_id").as("bid"), col("sig").as("sig_b")), Seq("bid"))
      .join(partnerSigs.select(col("doc_id").as("pid"), col("sig").as("sig_p")), Seq("pid"))
      .filter(estJaccard(col("sig_b"), col("sig_p")) >= 0.5)
      // same drop rule as l35: any corpus partner, or an earlier batch
      // doc — "earlier" and "pid < bid" coincide under ordered arrival
      .filter(col("pid") % 10 =!= 7 || col("pid") < col("bid"))
      .select(col("bid").as("doc_id")).distinct()
  }

  private lazy val incrementalTailSql =
    """bd AS (SELECT id_b AS bid, id_a AS pid FROM pairs
      |       UNION ALL SELECT id_a, id_b FROM pairs),
      |dropped AS (
      |  SELECT DISTINCT bid AS doc_id FROM bd
      |  WHERE bid % 10 = 7 AND (pid % 10 <> 7 OR pid < bid)),
      |b AS (
      |  SELECT d.lang, CASE WHEN x.doc_id IS NOT NULL THEN 1 ELSE 0 END AS dr
      |  FROM documents d LEFT JOIN dropped x USING (doc_id)
      |  WHERE d.doc_id % 10 = 7)
      |SELECT lang, count(*) AS batch_docs,
      |  cast(sum(dr) as bigint) AS dropped_docs,
      |  cast(count(*) - sum(dr) as bigint) AS kept_docs
      |FROM b GROUP BY 1 ORDER BY 1""".stripMargin

  private[graft] lazy val l35Sql = pairsCtesSql + ",\n" + incrementalTailSql

  /** l55's oracle — l35's chain with the bucket cap's keep order stated
    * as the ARRIVAL order (corpus members first by id, then the batch
    * slice by id; see the l55 section comment). Identical to [[l35Sql]]
    * whenever no bucket overflows the cap — every fixture. */
  private[graft] lazy val l55Sql =
    pairsCtes("(doc_id % 10 = 7), doc_id") + ",\n" + incrementalTailSql

  /** l41 — segment-level dedup stats: the line-level dedup of published
    * web-corpus pipelines, adapted to unstructured text as tumbling
    * 8-word segments (fixture docs have no newlines). A segment occurring
    * in ≥3 distinct docs is boilerplate (headers, licence blocks,
    * templates) — the unit removed at sub-document granularity where
    * whole-doc dedup keeps both copies. Two aggregation shuffles (global
    * segment counts, per-lang rollup), both map-side combinable. The
    * count aggregate and join are keyed on md5(seg) by default: segments
    * are unbounded-width strings, and a fixed 32-char key keeps shuffle
    * rows uniform at corpus scale; 128 bits has negligible collision
    * odds (a 64-bit key is NOT enough there — the birthday bound bites
    * at ~10^10 distinct segments), and the oracle hashes identically so
    * the compare is still exact. `hashKeys = false` restores raw-string
    * keying for debugging (same result either way absent collisions). */
  def segmentDedupStats(documents: DataFrame, segWords: Int = 8,
                        minDocs: Int = 3, hashKeys: Boolean = true): DataFrame = {
    val raw = documents
      .withColumn("ts", split(col("text"), " "))
      .select(col("doc_id"), col("lang"), explode(expr(
        s"""transform(sequence(0, (size(ts)-1) div $segWords),
           |  i -> concat_ws(' ', slice(ts, i*$segWords+1, $segWords)))""".stripMargin))
        .as("seg"))
    val segs =
      if (hashKeys) raw.select(col("doc_id"), col("lang"), md5(col("seg")).as("segk"))
      else raw.withColumnRenamed("seg", "segk")
    val counts = segs.groupBy("segk")
      .agg(count_distinct(col("doc_id")).as("n_docs_with"))
    segs.join(counts, Seq("segk"))
      .groupBy("lang")
      .agg(
        count(lit(1)).as("segments"),
        sum(when(col("n_docs_with") >= minDocs, 1).otherwise(0)).as("boilerplate_segments"),
        count_distinct(when(col("n_docs_with") >= minDocs, col("segk"))).as("distinct_boilerplate"))
      .withColumn("boilerplate_frac",
        col("boilerplate_segments").cast("double") / col("segments"))
      .orderBy("lang")
  }

  private val l41Sql =
    """WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS ts FROM documents),
      |segs AS (
      |  SELECT doc_id, lang, md5(array_to_string(ts[i*8+1 : i*8+8], ' ')) AS segk
      |  FROM (SELECT doc_id, lang, ts, unnest(range(0, (len(ts)-1)//8 + 1)) AS i FROM t)),
      |counts AS (SELECT segk, count(DISTINCT doc_id) AS n_docs_with FROM segs GROUP BY 1)
      |SELECT lang, count(*) AS segments,
      |  cast(sum(CASE WHEN n_docs_with >= 3 THEN 1 ELSE 0 END) as bigint) AS boilerplate_segments,
      |  count(DISTINCT CASE WHEN n_docs_with >= 3 THEN segk END) AS distinct_boilerplate,
      |  cast(sum(CASE WHEN n_docs_with >= 3 THEN 1 ELSE 0 END) as double)/count(*) AS boilerplate_frac
      |FROM segs JOIN counts USING (segk)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  def all: Seq[Q] = Seq(
    Q("l01_dedup_exact", (s, d) => exactDedupStats(Tables.documents(s, d)), Some(l01Sql)),
    Q("l02_dedup_minhash_lsh", (s, d) =>
      minhashNearDup(Tables.documents(s, d), sigsOpt = Some(SigStore.native(s, d))), None),
    Q("l03_dedup_simhash", (s, d) =>
      simhashNearDup(Tables.documents(s, d), fpOpt = Some(SigStore.nativeSimhash(s, d))), None),
    Q("l04_ngram_jaccard", (s, d) =>
      ngramJaccard(Tables.documents(s, d), shOpt = Some(SigStore.shingles(s, d)),
        candsOpt = Some(SigStore.portableCands(s, d))), Some(l04Sql)),
    Q("l17_dedup_filter", (s, d) =>
      dedupFilterStats(Tables.documents(s, d), Some(SigStore.portable(s, d)),
        candsOpt = Some(SigStore.portableCands(s, d))), Some(l17Sql)),
    Q("l24_simhash_portable", (s, d) =>
      simhashPortable(Tables.documents(s, d), fpOpt = Some(SigStore.simhashFp(s, d))), Some(l24Sql)),
    Q("l26_dedup_components", (s, d) =>
      dupComponents(Tables.documents(s, d), sigsOpt = Some(SigStore.portable(s, d)),
        candsOpt = Some(SigStore.portableCands(s, d)),
        labelsOpt = Some(SigStore.compLabels(s, d))), Some(l26Sql)),
    Q("l28_minhash_portable", (s, d) =>
      minhashPortable(Tables.documents(s, d), sigsOpt = Some(SigStore.portable(s, d)),
        candsOpt = Some(SigStore.portableCands(s, d))), Some(l28Sql)),
    Q("l35_incremental_dedup", (s, d) =>
      incrementalDedup(Tables.documents(s, d), sigsOpt = Some(SigStore.portable(s, d))), Some(l35Sql)),
    Q("l41_segment_dedup", (s, d) => segmentDedupStats(Tables.documents(s, d)), Some(l41Sql)),
    Q("l44_minhash_recall", (s, d) =>
      minhashRecall(Tables.documents(s, d), sigsOpt = Some(SigStore.portable(s, d)),
        truthOpt = Some(SigStore.truth(s, d))), Some(l44Sql)),
    Q("l45_cross_source_dups", (s, d) =>
      crossSourceDupMatrix(Tables.documents(s, d), sigsOpt = Some(SigStore.portable(s, d)),
        candsOpt = Some(SigStore.portableCands(s, d))), Some(l45Sql)),
    Q("l48_simhash_recall", (s, d) =>
      simhashRecall(Tables.documents(s, d), fpOpt = Some(SigStore.simhashFp(s, d)),
        truthOpt = Some(SigStore.truth(s, d))), Some(l48Sql)),
    Q("l47_fast_tier_agreement", (s, d) =>
      fastTierAgreement(Tables.documents(s, d), sigsOpt = Some(SigStore.portable(s, d)),
        fastSigsOpt = Some(SigStore.native(s, d)),
        candsOpt = Some(SigStore.portableCands(s, d))), Some(l47Sql)),
    Q("l52_simhash_fast_agreement", (s, d) =>
      simhashFastAgreement(Tables.documents(s, d),
        fpOpt = Some(SigStore.nativeSimhash(s, d)),
        candsOpt = Some(SigStore.portableCands(s, d))), Some(l52Sql)),
    Q("l53_canonical_selection", (s, d) =>
      canonicalSelection(Tables.documents(s, d),
        labelsOpt = Some(SigStore.compLabels(s, d))), Some(l53Sql)))
}

package graft.text

import graft.functions.GraftFunctions
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication for large-scale training-data pipelines: exact, MinHash+LSH,
  * SimHash, and n-gram-Jaccard verification. All paths are shuffle-conscious:
  * counts pre-combine map-side, candidate generation goes through bounded LSH
  * buckets (never an all-pairs join), and pathological hot buckets are
  * dropped with an explicit cap rather than silently exploding quadratically.
  */
object Dedup {
  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Cap hot buckets and report the ones dropped, so capped coverage is
    * never silent (a dropped bucket means those docs were not compared —
    * SCALE.md). Returns (surviving buckets, cached counts, report
    * thunk): callers invoke the thunk AFTER materializing their result —
    * the drop count then reads the already-cached aggregate (~free)
    * instead of forcing an extra scheduling wave up front — and unpersist
    * the counts frame last. */
  private[graft] def capBuckets(
      buckets: DataFrame, counts: DataFrame, maxBucket: Int,
      what: String): (DataFrame, DataFrame, () => Unit) = {
    val cached = counts.persist()
    val report = () => {
      val dropped = cached.filter(col("count") > maxBucket).count()
      if (dropped > 0)
        log.warn(s"$what: $dropped bucket(s) over the $maxBucket-doc cap " +
          "were dropped; their members were not compared (raise maxBucket " +
          "or add bands to restore coverage)")
    }
    (buckets.join(cached.filter(col("count") <= maxBucket),
      Seq("band", "bucket")), cached, report)
  }

  /** Exact dedup: keep the row with the smallest `orderCol` per key group.
    * Hash-partition by content key; duplicate groups are tiny, so the
    * per-group window is skew-safe. */
  def exact(df: DataFrame, keys: Seq[String], orderCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col(orderCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Duplicate groups: one row per content key that occurs more than once,
    * with the keeper id and the duplicate count (no unbounded
    * `collect_list` — scale-safe). */
  def duplicateGroups(
      df: DataFrame, keys: Seq[String], idCol: String): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"), min(col(idCol)).as("keeper_id"))
      .filter(col("n_rows") > 1)

  /** MinHash signature: one xxhash64 per TOKEN, then the fused
    * shingle-combine + min-hash code-generated expression
    * ([[graft.functions.MinHashSignature]]) — no per-shingle string ever
    * materializes. */
  def minHashSignature(text: Column, numHashes: Int, shingleK: Int): Column =
    GraftFunctions.minhash_signature(
      transform(TextFunctions.tokensLower(text), t => xxhash64(t)),
      numHashes, shingleK)

  /** (id, band, bucket) rows for a signature frame (`idCol`, `__sig`). */
  private[text] def bucketsOfSig(
      withSig: DataFrame, idCol: String, bands: Int, r: Int): DataFrame =
    withSig
      .select(col(idCol), explode(array((0 until bands).map(j =>
        struct(lit(j).as("band"),
          xxhash64(lit(j), slice(col("__sig"), j * r + 1, r)).as("bucket"))
      ): _*)).as("__b"))
      .select(col(idCol), col("__b.band"), col("__b.bucket"))

  /** MinHash band buckets of a text frame: `(id, band, bucket)` rows.
    * The candidate generator inside [[minHashLSH]], exposed standalone as
    * the static side of streaming near-dup detection
    * ([[graft.streaming.Streaming.freezeNearDupCorpus]]) — works on
    * unbounded frames too (pure projection + explode, no state). */
  def bandBuckets(
      df: DataFrame, textCol: String, idCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleK: Int = 3): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val withSig = df
      .withColumn("__sig",
        minHashSignature(col(textCol), numHashes, shingleK))
      .filter(size(col("__sig")) > 0)
      .select(col(idCol), col("__sig"))
    bucketsOfSig(withSig, idCol, bands, numHashes / bands)
  }

  /** MinHash + banded LSH near-duplicate candidate pairs.
    *
    * shingle → per-shingle hash → `numHashes` min-hash signature → `bands`
    * band hashes → explode to (band, bucket) → equi-self-join within buckets.
    * Buckets larger than `maxBucket` docs are dropped (hot-bucket cap: a
    * degenerate bucket of B docs would emit B²/2 pairs; the cap bounds the
    * blowup and is logged in the result via the `capped` count being absent).
    * Returns (id_a, id_b, est_jaccard) with id_a < id_b, est_jaccard = share
    * of agreeing signature positions.
    *
    * `withEstimate = false` skips the est_jaccard computation entirely
    * (two signature joins) and returns (id_a, id_b) only — the right call
    * when candidates go straight to [[verifyJaccard]]: the exact verify
    * re-scores every pair anyway, and an estimate PREFILTER is strictly a
    * recall risk there (a true pair with unlucky signature agreement below
    * `minEstJaccard` would be dropped before the exact check could save
    * it). */
  def minHashLSH(
      df: DataFrame,
      textCol: String,
      idCol: String,
      numHashes: Int = 64,
      bands: Int = 16,
      shingleK: Int = 3,
      maxBucket: Int = 100,
      minEstJaccard: Double = 0.0,
      withEstimate: Boolean = true): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // signatures feed three join branches (buckets, both pair sides) —
    // persist so the hash pass runs once, not 3×
    val withSig = df
      .withColumn("__sig",
        minHashSignature(col(textCol), numHashes, shingleK))
      .filter(size(col("__sig")) > 0)
      .select(col(idCol), col("__sig"))
      .persist()

    val buckets = bucketsOfSig(withSig, idCol, bands, r)

    // aggregate + join (not a window): pre-combines map-side and lets AQE
    // broadcast the small count relation; a window over (band,bucket) would
    // funnel each hot bucket through one task.
    val counts = buckets.groupBy("band", "bucket").count()
    val (ok0, countsCached, reportDrops) = capBuckets(buckets, counts,
      maxBucket, "minHashLSH")
    val ok = ok0.select(col("band"), col("bucket"), col(idCol))

    val pairs = ok.toDF("band", "bucket", "id_a")
      .join(ok.toDF("band", "bucket", "id_b"), Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()

    val est = aggregate(
      zip_with(col("__sig_a"), col("__sig_b"),
        (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / lit(numHashes.toDouble)

    val result = (if (!withEstimate) pairs
      else pairs
        .join(withSig.select(col(idCol).as("id_a"), col("__sig").as("__sig_a")),
          "id_a")
        .join(withSig.select(col(idCol).as("id_b"), col("__sig").as("__sig_b")),
          "id_b")
        .withColumn("est_jaccard", est)
        .filter(col("est_jaccard") >= minEstJaccard)
        .select("id_a", "id_b", "est_jaccard"))
      .persist()
    // the returned frame stays persisted (callers filter/join it repeatedly;
    // unpersist it when done) — materializing lets the signature cache go
    result.count()
    reportDrops()
    withSig.unpersist()
    countsCached.unpersist()
    result
  }

  /** Engine-portable 60-bit token hash — the value DuckDB recomputes as
    * `('0x'||substr(md5(t),1,15))::BIGINT` (same trick as
    * [[graft.text.Corpus.hashUniform]]), computed digest-direct by the
    * fused [[graft.functions.Md5Hash60]] expression (no hex-string/conv
    * allocations in the per-token loop). */
  private def md5TokenHash(t: Column): Column =
    graft.functions.GraftFunctions.md5_hash60(t)

  /** 64-bit SimHash of the text (majority vote over token-hash bits — one
    * codegen'd loop, [[graft.functions.SimHash64]]). `portable = true` hashes
    * tokens with the 60-bit md5 prefix instead of xxhash64: bits 60-63 are
    * then always 0 (majority of all-zero bits), and the signature is exactly
    * reproducible by any SQL engine with md5 — the q_dedup_simhash oracle
    * recomputes it. xxhash64 stays the default (faster, full 64 bits). */
  def simHash(text: Column, portable: Boolean = false): Column =
    GraftFunctions.simhash64(
      transform(TextFunctions.tokensLower(text),
        t => if (portable) md5TokenHash(t) else xxhash64(t)))

  /** SimHash near-duplicate pairs with Hamming distance ≤ `maxHamming`.
    * Candidates come from 4 × 16-bit chunk banding: any pair within Hamming
    * distance 3 must agree on at least one chunk (pigeonhole), so the recall
    * of the bucket join is exact for maxHamming ≤ 3 — which is also why the
    * oracle for the portable mode can skip the banding and compare all-pairs
    * Hamming distances directly. */
  def simHashNearDup(
      df: DataFrame,
      textCol: String,
      idCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 1000,
      portable: Boolean = false): DataFrame =
    hammingNearDup(
      df.select(col(idCol), simHash(col(textCol), portable).as("__sim")),
      idCol, "__sim", maxHamming, maxBucket, "simHashNearDup")

  /** Banded Hamming near-dup over ANY precomputed 64-bit signature column
    * (simhash, perceptual image hash, …): the [[simHashNearDup]] engine,
    * signature-generic. Output (id_a, id_b, hamming), id_a < id_b. */
  def hammingNearDup(
      sigsIn: DataFrame,
      idCol: String,
      sigCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 1000,
      tag: String = "hammingNearDup"): DataFrame = {
    require(maxHamming <= 3, "4x16 banding guarantees recall only to 3 bits")
    val sigs = sigsIn.select(col(idCol), col(sigCol).as("__sim"))
      .persist()
    val buckets = sigs.select(col(idCol), col("__sim"),
      explode(array((0 until 4).map(j => struct(lit(j).as("band"),
        // mask, NOT `% 65536`: % keeps the dividend's sign, so a negative
        // signature (bit 63 set) would land in a different bucket than a
        // positive one with the same low 16 bits, breaking exact recall
        shiftrightunsigned(col("__sim"), j * 16).bitwiseAND(lit(0xFFFFL))
          .as("bucket"))
      ): _*)).as("__b"))
      .select(col(idCol), col("__sim"), col("__b.band"), col("__b.bucket"))
    val counts = buckets.groupBy("band", "bucket").count()
    val (ok, countsCached, reportDrops) = capBuckets(buckets, counts,
      maxBucket, tag)
    val a = ok.select(col("band"), col("bucket"), col(idCol).as("id_a"),
      col("__sim").as("__sim_a"))
    val b = ok.select(col("band"), col("bucket"), col(idCol).as("id_b"),
      col("__sim").as("__sim_b"))
    val result = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .withColumn("hamming",
        bit_count(col("__sim_a").bitwiseXOR(col("__sim_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming").distinct()
      .persist()
    result.count() // materialize, then release the signature cache
    reportDrops()
    sigs.unpersist()
    countsCached.unpersist()
    result
  }

  /** Cross-document repeated-span statistics — the word-k-gram
    * approximation of substring dedup (Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better": repeated ≥50-token spans
    * are memorization fuel). For every doc: how many of its distinct word
    * `k`-grams also appear in at least `minDocs − 1` OTHER docs, and the
    * duplicated fraction. Docs shorter than `k` tokens emit no grams and
    * are absent from the output.
    *
    * Shape at 100 TB: each doc explodes to its DISTINCT gram fingerprints
    * via the fused [[graft.functions.ShingleHashes]] expression (8-byte
    * xxhash combination of per-token hashes — no per-gram string ever
    * materializes; same identity argument as [[graft.text.Corpus
    * .contamination]]: collision odds ~2⁻⁶⁴ per gram pair, and the
    * q_span_dedup oracle recomputes the counts from exact gram strings and
    * matches), the gram-frequency aggregate pre-combines map-side, and the
    * per-doc stats come from one mark-join + one aggregate — never an
    * all-pairs doc comparison. Output: (idCol, n_grams, n_dup_grams,
    * dup_frac). */
  def duplicateSpans(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 10, minDocs: Int = 2): DataFrame = {
    require(k >= 1 && minDocs >= 2, "need k >= 1, minDocs >= 2")
    val grams0 = graft.functions.GraftFunctions.shingle_hashes(
      transform(TextFunctions.tokensLower(col(textCol)), t => xxhash64(t)), k)
    val grams = when(size(grams0) >= 1, array_distinct(grams0))
    // the gram explode feeds the frequency aggregate and the mark join —
    // persist so the shingle+md5 pass runs once
    val g = df.select(col(idCol), explode(grams).as("__gram")).persist()
    // per-doc-distinct grams → count(*) per gram == containing-doc count;
    // filtered to the duplicated grams only, the relation is small and AQE
    // broadcasts the mark join — the big frame then shuffles just ONCE
    // (the per-doc aggregate), not once per statistic
    val dupGrams = g.groupBy("__gram").agg(count(lit(1)).as("__n_docs"))
      .filter(col("__n_docs") >= minDocs)
      .withColumn("__is_dup", lit(1))
      .drop("__n_docs")
    val result = g.join(dupGrams, Seq("__gram"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_grams"), count(col("__is_dup")).as("n_dup_grams"))
      .withColumn("dup_frac", col("n_dup_grams") / col("n_grams"))
      .persist()
    result.count() // materialize, then release the gram cache
    g.unpersist(blocking = false)
    result
  }

  /** WITHIN-document repeated-span statistics — the self-repetition
    * counterpart to [[duplicateSpans]], closing the one semantic gap vs
    * exact substring dedup that SCALE.md's round-9 accuracy measurement
    * documents (a span repeated only inside one document is invisible to
    * the cross-document contract, while a suffix-array dedup would flag
    * its second occurrence). Per doc: total word-`k`-gram occurrences,
    * occurrences that repeat an earlier gram in the SAME doc
    * (`total − distinct`), and the repeated fraction — the "looping
    * text" quality signal (boilerplate chrome, scraper stutter, decoding
    * loops). Docs shorter than `k` tokens emit no grams and are absent,
    * matching [[duplicateSpans]].
    *
    * Shape at 100 TB: a pure per-row projection over the fused
    * [[graft.functions.ShingleHashes]] expression — zero shuffles, zero
    * joins, no aggregation at all; the identity argument is the same
    * 8-byte-hash collision bound the q_span_dedup oracle validates.
    * Output: (idCol, n_grams, n_rep_grams, rep_frac). */
  def selfRepeatedSpans(
      df: DataFrame, textCol: String, idCol: String, k: Int = 10)
      : DataFrame = {
    require(k >= 1, "need k >= 1")
    val grams = graft.functions.GraftFunctions.shingle_hashes(
      transform(TextFunctions.tokensLower(col(textCol)), t => xxhash64(t)), k)
    df.select(col(idCol), grams.as("__g"))
      .filter(size(col("__g")) >= 1)
      .select(col(idCol),
        size(col("__g")).cast("long").as("n_grams"),
        (size(col("__g")) - size(array_distinct(col("__g"))))
          .cast("long").as("n_rep_grams"))
      .withColumn("rep_frac", col("n_rep_grams") / col("n_grams"))
  }

  /** Cross-document span REMOVAL — the rewrite step of substring dedup
    * (Lee et al. 2021): every `k`-token span whose gram is owned by an
    * earlier document (ownership = smallest doc id containing the gram) is
    * deleted from later documents; the owner keeps its copy. Output:
    * (idCol, clean_text, n_tokens, n_removed) — docs shorter than `k`
    * tokens pass through untouched.
    *
    * Shape at 100 TB: positions ride the same fused [[graft.functions
    * .ShingleHashes]] explode as [[duplicateSpans]]; the ownership
    * aggregate pre-combines map-side; only POSITIONS of claimed spans
    * (rare) come back — as a per-doc int set bounded by doc length — via
    * one aggregate + one join; the rewrite itself is a pure per-row
    * expression over the token array. Matching is case-insensitive
    * (lowercased grams), the rewrite preserves original-case tokens. */
  def removeDuplicateSpans(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 10): DataFrame = {
    require(k >= 1, "need k >= 1")
    val reserved = Seq("__toks", "__starts", "__pos0", "__gh")
      .filter(df.columns.contains)
    require(reserved.isEmpty, s"$reserved reserved by removeDuplicateSpans")
    val lowerToks = transform(TextFunctions.tokens(col(textCol)),
      t => lower(t))
    val gramHashes = graft.functions.GraftFunctions.shingle_hashes(
      transform(lowerToks, t => xxhash64(t)), k)
    // persisted: the tokenize+hash+shingle explode feeds BOTH the ownership
    // aggregate and the claim join (same guard as duplicateSpans)
    val g = df.select(col(idCol),
      posexplode(gramHashes).as(Seq("__pos0", "__gh")))
      .persist()
    val owners = g.groupBy("__gh").agg(min(col(idCol)).as("__owner"))
    // 1-based span starts claimed by an EARLIER doc; bounded by doc length
    val dupStarts = g.join(owners, "__gh")
      .filter(col("__owner") < col(idCol))
      .groupBy(idCol)
      .agg(collect_set(col("__pos0") + 1).as("__starts"))
      .persist()
    // materialize the small claimed-positions relation, then release the
    // big gram explode; dupStarts stays cached inside the returned plan
    // (bounded: docs-with-dups × positions) until the plan is dropped
    dupStarts.count()
    g.unpersist(blocking = false)
    val starts = coalesce(col("__starts"),
      array().cast("array<int>"))
    val toks = TextFunctions.tokens(col(textCol))
    val kept = filter(col("__toks"), (t, i0) =>
      !exists(starts, s => (i0 + 1).between(s, s + lit(k - 1))))
    df.join(dupStarts, Seq(idCol), "left")
      .withColumn("__toks", toks)
      .select(col(idCol),
        array_join(kept, " ").as("clean_text"),
        size(col("__toks")).cast("long").as("n_tokens"),
        (size(col("__toks")) - size(kept)).cast("long").as("n_removed"))
  }

  /** C4-style LINE-level exact dedup across the whole corpus: every
    * distinct non-blank line (identity = exact trimmed text) is kept only
    * at its FIRST occurrence — the smallest (doc id, line position) — and
    * deleted from every later document; blank lines always stay (they
    * carry structure, not content). This is the classic paragraph/line
    * boilerplate killer (C4 deduplicated repeated three-sentence spans;
    * Gopher/RefinedWeb dedup at the line level) complementing
    * [[removeDuplicateSpans]]: lines are non-overlapping natural units, so
    * the rewrite never splits a sentence mid-window. `lineSep` is a
    * LITERAL separator (used for both split and rejoin). Output:
    * (idCol, clean_text, n_lines, n_removed).
    *
    * Shape at 100 TB: the line explode shuffles 8-byte xxhash64 line keys
    * (never the line text) into the first-occurrence aggregate — hash
    * identity, same ~2⁻⁶⁴ collision argument as [[duplicateSpans]], and
    * the q_dedup_lines oracle recomputes from exact strings and matches;
    * the keep-test is one broadcast-friendly join back (AQE broadcasts the
    * duplicated-lines side when small) and the reassembly one per-doc
    * aggregate bounded by document size. */
  def dedupLines(
      df: DataFrame, textCol: String, idCol: String,
      lineSep: String = "\n"): DataFrame = {
    require(lineSep.nonEmpty, "need a non-empty line separator")
    val reserved = Seq("__pos", "__line", "__key", "__first", "__kept")
      .filter(df.columns.contains)
    require(reserved.isEmpty, s"$reserved reserved by dedupLines")
    val sepRe = java.util.regex.Pattern.quote(lineSep)
    val lines = df.select(col(idCol),
        posexplode(split(col(textCol), sepRe)).as(Seq("__pos", "__line")))
      .withColumn("__key", xxhash64(trim(col("__line"))))
      .persist()
    val firsts = lines.filter(trim(col("__line")) =!= "")
      .groupBy("__key")
      .agg(min(struct(col(idCol).as("id"), col("__pos").as("pos")))
        .as("__first"))
    val rebuilt = lines.join(firsts, Seq("__key"), "left")
      .filter(trim(col("__line")) === "" ||
        struct(col(idCol).as("id"), col("__pos").as("pos")) === col("__first"))
      .groupBy(idCol)
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("__pos").as("p"),
            col("__line").as("l")))), s => s.getField("l")), lineSep)
          .as("clean_text"),
        count(lit(1)).as("__kept"))
    val result = df
      .select(col(idCol),
        size(split(col(textCol), sepRe)).cast("long").as("n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_lines"),
        (col("n_lines") - coalesce(col("__kept"), lit(0L))).as("n_removed"))
      .persist()
    result.count() // materialize, then release the line explode
    lines.unpersist(blocking = false)
    result
  }

  /** Within-DOCUMENT repeated-line removal — the doc-local half of C4's
    * line dedup ([[dedupLines]] is the cross-corpus half): keep each
    * line's FIRST occurrence in its document, preserving order; blank
    * lines always survive (they are paragraph separators, not content).
    * A PURE per-row expression — no explode, no shuffle, no state — so it
    * composes into any 100 TB scan for free; per-line cost is the
    * first-occurrence array_position probe, quadratic only in a single
    * document's line count. Lines compare EXACTLY (untrimmed) — the
    * trim-keyed variant is the cross-corpus path's trade. */
  def dedupLinesInDoc(
      df: DataFrame, textCol: String, out: String,
      lineSep: String = "\n"): DataFrame = {
    require(lineSep.nonEmpty, "need a non-empty line separator")
    require(!df.columns.contains("__ls"), "__ls reserved by dedupLinesInDoc")
    val sepRe = java.util.regex.Pattern.quote(lineSep)
    df.withColumn("__ls", split(col(textCol), sepRe))
      .withColumn(out,
        array_join(
          filter(col("__ls"), (x, i) =>
            trim(x) === "" ||
              array_position(col("__ls"), x) === (i + lit(1)).cast("long")),
          lineSep))
      .drop("__ls")
  }

  /** Frequency-thresholded BOILERPLATE line removal (RefinedWeb/CCNet's
    * other line rule — [[dedupLines]] keeps first occurrences; boilerplate
    * headers/footers/nav text must instead be removed EVERYWHERE): any
    * non-blank line (identity = exact trimmed text) occurring in at least
    * `minDocs` DISTINCT documents is deleted from every document; blank
    * lines always stay. Output: (idCol, clean_text, n_lines, n_removed).
    *
    * Shape at 100 TB: the explode shuffles 8-byte xxhash64 line keys (not
    * text); document frequency is one count_distinct aggregate over those
    * keys; the boilerplate key set (lines in ≥ minDocs docs — small by
    * construction for any real threshold) joins back hash-to-hash (AQE
    * broadcasts it when it fits); reassembly is one per-doc aggregate
    * bounded by document size. Same hash-identity collision argument as
    * [[dedupLines]] — and the q_boilerplate oracle recomputes from exact
    * strings and matches. */
  def removeBoilerplate(
      df: DataFrame, textCol: String, idCol: String, minDocs: Int,
      lineSep: String = "\n"): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    require(lineSep.nonEmpty, "need a non-empty line separator")
    val reserved = Seq("__pos", "__line", "__key", "__kept", "__bp")
      .filter(df.columns.contains)
    require(reserved.isEmpty, s"$reserved reserved by removeBoilerplate")
    val sepRe = java.util.regex.Pattern.quote(lineSep)
    val lines = df.select(col(idCol),
        posexplode(split(col(textCol), sepRe)).as(Seq("__pos", "__line")))
      .withColumn("__key", xxhash64(trim(col("__line"))))
    val boiler = lines.filter(trim(col("__line")) =!= "")
      .groupBy("__key")
      .agg(count_distinct(col(idCol)).as("__df"))
      .filter(col("__df") >= minDocs)
      .select(col("__key"), lit(true).as("__bp"))
    val rebuilt = lines.join(boiler, Seq("__key"), "left")
      .filter(trim(col("__line")) === "" || col("__bp").isNull)
      .groupBy(idCol)
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("__pos").as("p"),
            col("__line").as("l")))), s => s.getField("l")), lineSep)
          .as("clean_text"),
        count(lit(1)).as("__kept"))
    df.select(col(idCol),
        size(split(col(textCol), sepRe)).cast("long").as("n_lines"))
      .join(rebuilt, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        col("n_lines"),
        (col("n_lines") - coalesce(col("__kept"), lit(0L))).as("n_removed"))
  }

  /** Maximal duplicated-span RANGES — the span-extraction step of
    * substring dedup (Lee et al. 2021 report repeated spans, not gram
    * counts): for every document, the maximal token intervals covered by
    * `k`-token grams owned by an earlier document (ownership = smallest
    * containing doc id, same rule as [[removeDuplicateSpans]] — so
    * `removeDuplicateSpans` deletes exactly these ranges). Overlapping and
    * adjacent gram intervals merge: gram starts p, p' (p < p') merge iff
    * p' ≤ p + k (their [p, p+k−1] windows overlap or touch). Output:
    * (idCol, span_start, span_end, n_grams, span_tokens) with 1-based
    * inclusive token positions.
    *
    * Shape at 100 TB: same fused gram-hash explode + ownership aggregate
    * as [[removeDuplicateSpans]]; the interval merge is the classic
    * gaps-and-islands window (lag + cumulative break flags) partitioned by
    * DOCUMENT — per-partition state is bounded by one doc's gram count, so
    * no hot-group risk. */
  def duplicateSpanRanges(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 10): DataFrame = {
    require(k >= 1, "need k >= 1")
    val lowerToks = transform(TextFunctions.tokens(col(textCol)),
      t => lower(t))
    val gramHashes = graft.functions.GraftFunctions.shingle_hashes(
      transform(lowerToks, t => xxhash64(t)), k)
    // persisted: the tokenize+hash+shingle explode feeds both the
    // ownership aggregate and the claim join (same guard as the siblings)
    val g = df.select(col(idCol),
        posexplode(gramHashes).as(Seq("__pos0", "__gh")))
      .persist()
    val owners = g.groupBy("__gh").agg(min(col(idCol)).as("__owner"))
    val claimed = g.join(owners, "__gh")
      .filter(col("__owner") < col(idCol))
      .select(col(idCol), (col("__pos0") + 1).cast("long").as("__start"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("__start"))
    // first row per doc: lag is null → when() is null → otherwise(0),
    // which is the island-0 seed both engines agree on
    val brk = when(
      col("__start") > lag(col("__start"), 1).over(w) + k, 1L).otherwise(0L)
    val result = claimed
      .withColumn("__island", sum(brk).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__island"))
      .agg(min("__start").as("span_start"),
        (max("__start") + (k - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .withColumn("span_tokens", col("span_end") - col("span_start") + 1)
      .drop("__island")
      .persist()
    result.count() // materialize, then release the gram explode
    g.unpersist(blocking = false)
    result
  }

  /** Connected components over a near-duplicate pair list: every doc in a
    * transitive duplicate cluster gets the cluster's smallest id as
    * `component` — the canonical-representative step after LSH + verify
    * (keep one doc per component, drop the rest). Only docs appearing in
    * `pairs` are labeled (isolated docs are their own component
    * trivially); ids must be integral.
    *
    * Two paths, same contract as the encoders' FittedLookup: a pair
    * list at or under `maxCollect` rows is solved driver-side with
    * union-find straight off the raw pairs — no symmetrize, no distinct,
    * zero shuffles (verified duplicate pairs are rare by construction —
    * milliseconds, zero iterative jobs); above it, the pairs are
    * symmetrized + deduplicated and distributed min-label propagation runs —
    * each round every node takes the min of its own and its neighbors'
    * labels (one join + one aggregate per round), converging in
    * O(cluster diameter) rounds (near-dup clusters are dense, so diameter
    * is small; `maxIter` bounds pathological chains). */
  def duplicateComponents(
      pairs: DataFrame, idA: String = "id_a", idB: String = "id_b",
      maxIter: Int = 20, maxCollect: Long = 1000000L): DataFrame = {
    val spark = pairs.sparkSession
    // self-pairs carry no connectivity and are dropped up front — BOTH
    // paths then agree that a doc appearing only in (x, x) is unlabeled.
    // Undirected, possibly-duplicated pairs: union-find is insensitive to
    // edge direction and multiplicity, so the common (driver-side) path
    // pays NO shuffle at all — symmetrization + distinct happen only if
    // the edge list overflows into the iterative path.
    val undirected = pairs.select(col(idA).cast("long").as("a"),
        col(idB).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .persist()
    val nPairs = undirected.count()
    if (nPairs <= maxCollect) {
      // driver-side union-find with path compression + min-root finish
      val parent = scala.collection.mutable.LongMap.empty[Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
        var c = x
        while (parent.getOrElse(c, c) != r) {
          val next = parent.getOrElse(c, c); parent(c) = r; c = next
        }
        r
      }
      undirected.collect().foreach { r =>
        val (ra, rb) = (find(r.getLong(0)), find(r.getLong(1)))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      undirected.unpersist(blocking = false)
      val nodes = (parent.keys ++ parent.values).toArray.distinct
      val rows = nodes.map(n => Row(n, find(n))).toSeq
      import org.apache.spark.sql.types._
      return spark.createDataFrame(
        new java.util.ArrayList[Row](
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
        StructType(Seq(StructField(idA, LongType, nullable = false),
          StructField("component", LongType, nullable = false))))
    }
    val edges = undirected
      .union(undirected.select(col("b").as("a"), col("a").as("b")))
      .distinct().persist()
    edges.count()
    undirected.unpersist(blocking = false)
    // localCheckpoint (not persist): each round's plan would otherwise
    // nest the whole previous round's plan — after ~10 rounds the lineage
    // tree alone OOMs the driver. Checkpointing truncates lineage per
    // round; on a cluster with a checkpoint dir configured, swap in
    // reliable `checkpoint()` for fault tolerance across executor loss.
    // seed with round 1 folded in: label = min(self, direct neighbors) —
    // dense clusters (verify emits most intra-cluster pairs) then converge
    // on the first confirmation round
    var labels = edges.groupBy(col("a").as("node"))
      .agg(least(min(col("b")), col("a")).as("component"))
      .localCheckpoint(eager = true)
    // one label per node, constant cardinality across rounds — count
    // ONCE and broadcast the label side into the per-round edge join
    // when it fits (round 11, guide §2.4/§3.1): the persisted edge
    // relation is then never re-shuffled per round
    val nNodes = labels.count()
    var changed = true
    var it = 0
    while (changed && it < maxIter) {
      val nbrMin = edges
        .join(graft.util.Joins.maybeBroadcast(
          labels.select(col("node").as("b"),
            col("component").as("__nbr")), nNodes), "b")
        .groupBy(col("a").as("node")).agg(min("__nbr").as("__nbr"))
      val next = labels
        .join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("component"), coalesce(col("__nbr"), col("component")))
            .as("component"))
        .localCheckpoint(eager = true)
      // isEmpty stops at the FIRST changed row — non-converged rounds
      // (the common case) no longer evaluate the whole node-sized join
      // just to learn "something changed" (round 10, guide §1.2)
      changed = !next
        .join(labels.select(col("node"), col("component").as("__old")),
          "node")
        .filter(col("component") =!= col("__old")).isEmpty
      labels = next
      it += 1
    }
    if (changed)
      log.warn(s"duplicateComponents: not converged after $maxIter rounds " +
        "(a duplicate chain longer than maxIter links); labels are an " +
        "upper bound — raise maxIter")
    edges.unpersist(blocking = false)
    labels.withColumnRenamed("node", idA)
  }

  /** Quality-aware cluster representative selection — SemDeDup's keep
    * rule: within each duplicate component keep the row with the BEST
    * `scoreCol` (ties on the lower id), drop the dominated members, and
    * pass every un-clustered row through untouched. The upgrade over
    * [[duplicateComponents]]' min-id labeling when a quality signal
    * exists (Gopher score, length, LM perplexity): dedup should retain
    * the best exemplar, not the earliest-crawled one. Null scores rank
    * below every real score.
    *
    * Shape at 100 TB: components from the capped pair set (bounded —
    * see [[duplicateComponents]]), one broadcast-sized score join over
    * the clustered ids ONLY (near-dup members are a vanishing fraction
    * of the corpus), one max_by aggregate per component (map-side
    * combined), one anti join back — the corpus never shuffles. */
  def keepBestPerComponent(
      df: DataFrame, idCol: String, pairs: DataFrame,
      scores: DataFrame, scoreCol: String): DataFrame = {
    val comp = duplicateComponents(pairs)
    // LEFT join: a clustered id absent from `scores` must still compete
    // (with -Inf, the same rule as a null score) — an inner join would
    // silently retain it as an un-droppable, un-keepable ghost (ADVICE r5)
    val labeled = comp.join(
        scores.select(col(idCol).cast("long").as("id_a"),
          col(scoreCol).cast("double").as("__s_raw")),
        Seq("id_a"), "left")
      .withColumn("__s",
        coalesce(col("__s_raw"), lit(Double.NegativeInfinity)))
      .drop("__s_raw")
    val keepers = labeled.groupBy("component")
      .agg(max_by(col("id_a"), struct(col("__s"), -col("id_a")))
        .as("__keep"))
    val drops = labeled.join(keepers, "component")
      .filter(col("id_a") =!= col("__keep"))
      .select(col("id_a").as(idCol))
    df.join(drops, Seq(idCol), "left_anti")
  }

  /** Verify candidate pairs with exact n-gram Jaccard: join the texts back
    * and keep pairs at or above `threshold`. Each doc is shingled ONCE
    * (token array materialized first — see wordShinglesT's doc), the
    * distinct shingle arrays ride the joins, and each candidate pair pays
    * one array_intersect.
    *
    * `restrictToCandidates = true` first left_semi-joins `docs` to the
    * ids appearing in `pairs`, bounding the shingle work by the candidate
    * count instead of the corpus — the right call at 100 TB, where
    * near-dup candidates are a vanishing fraction of documents (on the
    * sf0.1 corpus, ~256 candidate pairs from 50k docs: measured equal
    * wall time to the unrestricted form, because local-mode stage floors
    * dominate — the asymmetry only pays off as corpus/candidates grows).
    * Default OFF for compatibility when candidates cover much of the
    * corpus (heavily duplicated inputs), where the two extra semi-join
    * stages buy nothing. */
  def verifyJaccard(
      pairs: DataFrame,
      docs: DataFrame,
      textCol: String,
      idCol: String,
      shingleK: Int = 3,
      threshold: Double = 0.8,
      restrictToCandidates: Boolean = false): DataFrame = {
    val base =
      if (!restrictToCandidates) docs
      else docs.join(
        pairs.select(col("id_a").as(idCol))
          .union(pairs.select(col("id_b").as(idCol))).distinct(),
        Seq(idCol), "left_semi")
    def shingled(idOut: String, shOut: String) = base
      .select(col(idCol).as(idOut),
        TextFunctions.tokensLower(col(textCol)).as("__ts"))
      .select(col(idOut),
        array_distinct(TextFunctions.wordShinglesT(col("__ts"), shingleK))
          .as(shOut))
    pairs.join(shingled("id_a", "__sh_a"), "id_a")
      .join(shingled("id_b", "__sh_b"), "id_b")
      .withColumn("jaccard",
        TextFunctions.shingleJaccard(col("__sh_a"), col("__sh_b")))
      .filter(col("jaccard") >= threshold)
      .drop("__sh_a", "__sh_b")
  }

  /** ASYMMETRIC near-duplicate (containment) pairs: `shared / min(|A|,|B|)`
    * over distinct `shingleK`-token gram sets — the score that catches a
    * short document quoted wholesale inside a longer one, which
    * Jaccard-based dedup structurally misses (a 100-gram doc inside a
    * 10 000-gram doc has Jaccard ≈ 0.01 but containment 1.0; MinHash
    * banding won't even surface the pair). The quote-detection /
    * subset-document primitive of corpus curation.
    *
    * Shape at 100 TB: each doc explodes ONCE to its distinct gram
    * fingerprints (fused [[graft.functions.ShingleHashes]] — 8-byte
    * hashes, no gram string materializes; same hash-identity argument as
    * [[duplicateSpans]]). The gram postings self-join is bounded by the
    * `maxPostings` document-frequency cap: grams above it (stopword runs,
    * boilerplate) are DROPPED from the intersection counts — logged, with
    * the knob named — so a gram contributes at most `maxPostings²/2`
    * pairs, never a quadratic blowup. df = 1 grams can't contribute and
    * are filtered before the join. The pair aggregate pre-combines
    * map-side; nothing all-pairs anywhere. Dropped hot grams make
    * containment an UNDERCOUNT (conservative): exact whenever every
    * shared gram's df ≤ maxPostings.
    *
    * Output: (id_a, id_b, n_grams_a, n_grams_b, shared_grams,
    * containment), id_a < id_b, containment ≥ `threshold`. The division
    * is a single double op over small integers — bit-replayable by any
    * engine, no rounding needed. */
  def containmentPairs(
      df: DataFrame, textCol: String, idCol: String,
      shingleK: Int = 5, threshold: Double = 0.5,
      maxPostings: Int = 1000): DataFrame = {
    require(shingleK >= 1, s"need shingleK >= 1, got $shingleK")
    require(maxPostings >= 2, s"need maxPostings >= 2, got $maxPostings")
    val grams0 = graft.functions.GraftFunctions.shingle_hashes(
      transform(TextFunctions.tokensLower(col(textCol)), t => xxhash64(t)),
      shingleK)
    // one shingle pass feeds sizes, document frequencies, and both join
    // sides — persist it
    val g = df.select(col(idCol).as("__id"),
        explode(array_distinct(grams0)).as("__g"))
      .persist()
    val sizes = g.groupBy("__id").agg(count(lit(1)).as("__n"))
    val dfreq = g.groupBy("__g").agg(count(lit(1)).as("__df")).persist()
    val ok = g.join(
      dfreq.filter(col("__df").between(2, maxPostings)).select("__g"),
      "__g")
    val shared = ok.select(col("__g"), col("__id").as("id_a"))
      .join(ok.select(col("__g"), col("__id").as("id_b")), "__g")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared_grams"))
    val result = shared
      .join(sizes.select(col("__id").as("id_a"), col("__n").as("n_grams_a")),
        "id_a")
      .join(sizes.select(col("__id").as("id_b"), col("__n").as("n_grams_b")),
        "id_b")
      .withColumn("containment", col("shared_grams").cast("double") /
        least(col("n_grams_a"), col("n_grams_b")))
      .filter(col("containment") >= threshold)
      .select("id_a", "id_b", "n_grams_a", "n_grams_b", "shared_grams",
        "containment")
      .persist()
    result.count() // materialize, then release + report drops from cache
    val hot = dfreq.filter(col("__df") > maxPostings).count()
    if (hot > 0)
      log.warn(s"containmentPairs: $hot gram(s) over the $maxPostings-doc " +
        "posting cap were dropped from intersection counts (containment " +
        "may undercount; raise maxPostings to restore exactness)")
    g.unpersist(blocking = false)
    dfreq.unpersist(blocking = false)
    result
  }

  /** Pairwise SOURCE overlap matrix: for every pair of values of
    * `srcCol`, the distinct-`shingleK`-gram set overlap — shared count,
    * Jaccard, and containment (`shared / min(|A|,|B|)`) — the
    * "which corpus slices duplicate each other" curation measure that
    * decides what to drop before training. All pairs are emitted, zero
    * overlap included.
    *
    * Shape at 100 TB: one distinct (source, gram) aggregate over the
    * fused 8-byte shingle fingerprints (no gram string materializes,
    * same hash-identity argument as [[containmentPairs]]); the gram
    * self-join needs NO posting cap because a gram's posting list is
    * bounded by the source count — it contributes ≤ sources²/2 pairs
    * regardless of document frequency. The result is sources² rows of
    * driver-scale output from exactly two corpus-shuffle passes. The
    * divisions are single double ops over integer counts —
    * bit-replayable, no rounding. */
  def sourceOverlap(
      df: DataFrame, textCol: String, srcCol: String,
      shingleK: Int = 5): DataFrame = {
    require(shingleK >= 1, s"need shingleK >= 1, got $shingleK")
    val grams0 = graft.functions.GraftFunctions.shingle_hashes(
      transform(TextFunctions.tokensLower(col(textCol)), t => xxhash64(t)),
      shingleK)
    val g = df.filter(col(srcCol).isNotNull)
      .select(col(srcCol).as("__s"),
        explode(array_distinct(grams0)).as("__g"))
      .distinct()
      .persist()
    val sizes = g.groupBy("__s").agg(count(lit(1)).as("__n"))
    val shared = g.select(col("__g"), col("__s").as("src_a"))
      .join(g.select(col("__g"), col("__s").as("src_b")), "__g")
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("shared_grams"))
    // all pairs from the tiny sizes relation; zero-overlap pairs coalesce
    val a = sizes.select(col("__s").as("src_a"), col("__n").as("n_grams_a"))
    val b = sizes.select(col("__s").as("src_b"), col("__n").as("n_grams_b"))
    val result = a.crossJoin(b).filter(col("src_a") < col("src_b"))
      .join(shared, Seq("src_a", "src_b"), "left")
      .withColumn("shared_grams", coalesce(col("shared_grams"), lit(0L)))
      .withColumn("jaccard", col("shared_grams").cast("double") /
        (col("n_grams_a") + col("n_grams_b") - col("shared_grams")))
      .withColumn("containment", col("shared_grams").cast("double") /
        least(col("n_grams_a"), col("n_grams_b")))
      .select("src_a", "src_b", "n_grams_a", "n_grams_b", "shared_grams",
        "jaccard", "containment")
      .persist()
    result.count() // materialize, then release the gram cache
    g.unpersist(blocking = false)
    result
  }

  /** Duplicate-cluster size distribution — the "how much of my corpus
    * is copies" curve: one row per observed group size with
    * `(group_size, n_groups, n_rows, row_share)` over the exact-match
    * key (`group_size` 1 = unique rows; the tail is the dup mass).
    * `n_rows = group_size · n_groups` stays exact; `row_share` is one
    * 6-dp division against the corpus total.
    *
    * Shape at 100 TB: one content-keyed count (the exact-dedup
    * aggregate), one size-keyed re-count over the GROUPS relation, and
    * a one-row broadcast total — the profile relation is
    * max-group-size-sized, never corpus-sized. */
  def duplicateSizeProfile(df: DataFrame, keyCols: Seq[String])
      : DataFrame = {
    require(keyCols.nonEmpty, "need at least one key column")
    val sizes = df.groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("__c").as("group_size"))
      .agg(count(lit(1)).as("n_groups"),
        sum("__c").as("n_rows"))
    val tot = sizes.agg(sum("n_rows").as("__tot"))
    sizes.crossJoin(broadcast(tot))
      .select(col("group_size"), col("n_groups"), col("n_rows"),
        round(col("n_rows").cast("double") / col("__tot"), 6)
          .as("row_share"))
  }
}

package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Exprs._

/** Deduplication operators for a training-data pipeline over `documents`:
  * exact (hash group-by), n-gram Jaccard (exact set similarity), MinHash+LSH
  * (banded approximate Jaccard) and SimHash (hamming-distance near-dup).
  *
  * Scale design: every variant is shuffle-bounded by design —
  *  - exact dedup: one hash aggregate on a 128-bit digest (no text shuffle);
  *  - n-gram Jaccard: candidate generation self-joins on the *shingle*, so
  *    only (doc_id, shingle-hash) pairs shuffle, never document text, and
  *    the quadratic blow-up is bounded per shingle bucket;
  *  - MinHash/LSH: fixed-width signatures (S longs/doc) replace the shingle
  *    set before any join — the join key is a band hash, which is the
  *    standard way to keep near-dup detection linear-ish at 100 TB;
  *  - SimHash: one 64-bit signature/doc, candidates via 16-bit band
  *    blocking.
  * All hashing is `xxhash64` (Spark-native, codegen'd, deterministic across
  * partitionings and engines).
  */
object Dedup {
  /** Shingle width for the EXACT-Jaccard pair family ([[ngramJaccardPairs]]
    * and its consumers — top pairs, threshold curve, dup clusters, keepers).
    * 5, not 3, and the choice is MEASURED, not aesthetic: candidate pairs
    * cost Σ_shingle df² in the self-join, and on a dense-vocabulary corpus
    * the trigram space SATURATES as the corpus grows — every trigram exists,
    * so df grows linearly with N and Σdf² quadratically (measured on the
    * Scaling corpus: 1×→10× data grew trigram Σdf² 91× — the r11 SCALING.md
    * super-linear wall times — while 5-gram Σdf² grew 10.8×, linear,
    * because the 5-gram space keeps growing with the corpus and dfs stay
    * O(dup multiplicity)). 5-token shingles are also the standard dedup
    * granularity (MinHash literature; Lee et al. 2021 use longer windows
    * still). The DF cap below remains the safety valve for genuine
    * boilerplate 5-grams. MinHash/SimHash and decontamination keep their
    * own width parameters — their recall specs are calibrated separately.
    * Interpolated into the DuckDB mirrors (the shared-constant rule). */
  val JaccardShingleWidth = 5

  /** Document-frequency cap for the exact-Jaccard self-join: shingles in
    * more than this many docs are dropped BEFORE the join (they carry ~no
    * Jaccard signal and cost df² candidate rows each). Interpolated into
    * the DuckDB mirrors (the shared-constant rule). */
  val MaxShingleDf = 1000

  /** Exact-duplicate groups keyed by md5(text): keeper (min doc_id) and
    * multiplicity per distinct text. */
  def exactDedup(documents: DataFrame): DataFrame =
    documents.groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .orderBy("keeper_id")

  /** Cross-source duplication provenance — which sources mirror each
    * other's documents (the CommonCrawl-vs-C4-style overlap question a
    * multi-source curation pipeline answers before mixing): for every
    * unordered source pair, the number of shared NORMALIZED fingerprints
    * ([[TextOps.fingerprintExpr]]'s order/repetition-invariant
    * bag-of-words digest — byte-exact cross-source copies are rare;
    * reordered/near-verbatim mirrors are the real signal) and each
    * side's distinct-fingerprint count for context.
    *
    * Null texts are excluded EXPLICITLY (the digest is NULL in both
    * engines, but a null digest would silently pair null-text docs as
    * "duplicates" — the null-text fingerprint rule). Shape: the only
    * shuffled payload is (digest, source) DISTINCT pairs — 32-char keys,
    * never text (the q_dedup_exact digest discipline); the self-join is
    * an equi-join on digest whose fan-out is bounded by sources² per
    * digest, and source totals broadcast back onto the pair report. */
  def crossSourceDups(documents: DataFrame): DataFrame = {
    val ds = documents.filter(col("text").isNotNull)
      .select(TextOps.fingerprintExpr(col("text")).as("digest"),
        col("source"))
      .distinct()
    val totals = ds.groupBy("source")
      .agg(count(lit(1)).as("n_distinct"))
    val pairs = ds.as("a")
      .join(ds.as("b"), col("a.digest") === col("b.digest") &&
        col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source1"), col("b.source").as("source2"))
      .agg(count(lit(1)).as("n_shared"))
    pairs
      .join(broadcast(totals.select(col("source").as("source1"),
        col("n_distinct").as("n_distinct1"))), "source1")
      .join(broadcast(totals.select(col("source").as("source2"),
        col("n_distinct").as("n_distinct2"))), "source2")
      .select(col("source1"), col("source2"), col("n_shared"),
        col("n_distinct1"), col("n_distinct2"))
      .orderBy(col("n_shared").desc, col("source1"), col("source2"))
  }

  /** Distinct word-trigram shingles per document (docs shorter than the
    * shingle width drop out). */
  def shingles(documents: DataFrame, width: Int = 3): DataFrame = {
    val toks = split(col("text"), " ")
    documents
      .filter(size(toks) >= width)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(0), size(toks) - width),
          i => concat_ws(" ", slice(toks, i + 1, lit(width)))))).as("shingle"))
  }

  /** Hashed shingle ids: (doc_id, h), h from [[TextExpressions.shingleHashes]]
    * (one O(tokens) pass per document). All downstream set arithmetic runs
    * on 16-byte (long, long) rows instead of shuffling shingle text — the
    * thing that matters when the corpus is 100 TB. Docs shorter than the
    * shingle width yield an empty set and drop out at the explode. */
  def hashedShingles(documents: DataFrame, width: Int = 3): DataFrame =
    documents.select(col("doc_id"),
      explode(TextExpressions.shingleHashes(col("text"), width)).as("h"))

  /** Exact n-gram Jaccard: top-k most-similar document pairs. Intersections
    * come from a shingle-hash-keyed self-join; the division is int/int in
    * IEEE doubles, so ordering is engine-exact.
    *
    * The self-join's per-shingle cost is quadratic in the shingle's document
    * frequency — a stop-phrase shingle in F docs emits F² candidate rows,
    * unbounded at corpus scale. `maxShingleDf` drops shingles present in
    * more than that many documents BEFORE the join (they carry ~no Jaccard
    * signal); sizes are computed on the same kept universe so numerator and
    * denominator stay consistent, and the DuckDB oracle applies the
    * identical cap. The cap itself is a skew-spread aggregate + join (see
    * [[jaccardPairsCore]]'s inline rationale — a per-h window would have
    * to co-locate the hot shingles it exists to discard); `sz` rides the
    * join rows (8 bytes) into the grouping keys instead of corpus-wide
    * re-joins against a sizes frame, and no caching is needed — the
    * self-join's identical sides collapse into shared shuffles
    * (ReusedExchange, spec-asserted), and nothing leaks into long-lived
    * sessions. */
  def ngramJaccardTopPairs(documents: DataFrame, k: Int = 20,
      maxShingleDf: Int = MaxShingleDf): DataFrame =
    ngramJaccardPairs(documents, maxShingleDf)
      .orderBy(col("jaccard").desc, col("doc1"), col("doc2"))
      .limit(k)

  /** All DF-capped candidate pairs with their exact Jaccard (shared by
    * [[ngramJaccardTopPairs]] and [[dupClusters]]); `doc1 < doc2`. */
  def ngramJaccardPairs(documents: DataFrame,
      maxShingleDf: Int = MaxShingleDf): DataFrame =
    jaccardPairsCore(documents, maxShingleDf, minJaccard = None)

  /** [[ngramJaccardPairs]] with a similarity floor the plan can exploit:
    * Jaccard ≥ t forces |A∩B| ≤ min(|A|,|B|) and |A∪B| ≥ max(|A|,|B|), so
    * min ≥ t·max is NECESSARY — candidate rows failing the size-ratio test
    * are discarded INSIDE the self-join, before the pair-count shuffle
    * (measured ~99.98% of candidate pairs die below a 0.5 floor on the
    * test corpus; the ratio test kills them before they cost a shuffle).
    * Lossless: the ε slack only ever keeps borderline candidates, and the
    * exact `jaccard ≥ t` filter still runs after the division. */
  def ngramJaccardPairsAtLeast(documents: DataFrame, minJaccard: Double,
      maxShingleDf: Int = MaxShingleDf): DataFrame =
    jaccardPairsCore(documents, maxShingleDf, Some(minJaccard))
      .filter(col("jaccard") >= minJaccard)

  /** Threshold-sweep curve for dedup tuning: how many candidate pairs sit
    * at or above each 0.1-wide Jaccard bucket. THE report you read before
    * choosing `minJaccard` — the knee of `pairs_at_or_above` is the
    * threshold where the dup population separates from the background.
    *
    * Cost is ONE [[ngramJaccardPairs]] pass (the same skew-spread shape);
    * the bucket histogram and the cumulative-from-above window run on ≤11
    * rows, so the "global window" here is a bounded-frame aggregate, not
    * a data-sized sort. Bucketing floors the 6dp-rounded jaccard —
    * identical integer-valued doubles in both engines. */
  def jaccardThresholdCurve(documents: DataFrame,
      maxShingleDf: Int = MaxShingleDf): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    ngramJaccardPairs(documents, maxShingleDf)
      .withColumn("j_bucket", floor(col("jaccard") * 10) / 10)
      .groupBy("j_bucket")
      .agg(count(lit(1)).as("n_pairs"))
      .withColumn("pairs_at_or_above",
        sum(col("n_pairs")).over(Window.orderBy(col("j_bucket").desc)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .orderBy("j_bucket")
  }

  private def jaccardPairsCore(documents: DataFrame, maxShingleDf: Int,
      minJaccard: Option[Double]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // DF cap as a SKEW-SPREAD aggregate + join, not a per-h window: a
    // window partitionBy(h) must co-locate every occurrence of a hash in
    // one task's sort BEFORE the cap can drop it — and the hot corpus-wide
    // shingles the cap exists to discard are exactly the ones that stall
    // such a task, with no AQE skew relief for window operators. The
    // aggregate sees ≤1 row per h per upstream partition (hashedShingles
    // is per-doc distinct, partials combine map-side) and the
    // occurrences ⋈ capped-stats equi-join is a shape AQE can skew-split;
    // the probe side re-runs the map-side shingle pass (linear, parallel).
    // Per-doc size stays a window count, but partitioned by doc_id —
    // bounded by one document's shingles, not a corpus-wide hash — over
    // the CAPPED universe (numerator/denominator consistency).
    val capped = hashedShingles(documents, JaccardShingleWidth)
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDf)
      .select("h")
    val kept = hashedShingles(documents, JaccardShingleWidth)
      .join(capped, Seq("h"))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
    // the downstream filter accepts round6(j) >= t, i.e. true jaccard
    // down to t - 5e-7 — so the necessary-size condition must be relaxed
    // by the SAME rounding window, SCALED by the set size (an absolute
    // 1e-9 would wrongly prune a borderline pair between ~10^6-shingle
    // docs whose rounded jaccard still clears t)
    val sizeRatio = minJaccard.map(t =>
      least(col("a.sz"), col("b.sz")).cast("double") >=
        greatest(col("a.sz"), col("b.sz")) * (t - 1e-6))
    val inter = kept.as("a").join(kept.as("b"),
        sizeRatio.foldLeft(
          col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))(_ && _))
      .groupBy(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"),
        col("a.sz").as("sz1"), col("b.sz").as("sz2"))
      .agg(count(lit(1)).as("common"))
    inter.select(col("doc1"), col("doc2"),
      round2(col("common").cast("double") /
        (col("sz1") + col("sz2") - col("common")), 6).as("jaccard"))
  }

  /** DIRECTED shingle containment C(src→dst) = |sh(src)∩sh(dst)| / |sh(src)|
    * (Broder 1997's containment coefficient): ≈1 when `src` is an excerpt,
    * quote, or near-subset of `dst` even when symmetric Jaccard is tiny —
    * the sub-document duplication signal [[ngramJaccardTopPairs]] cannot
    * see (a 50-token quote inside a 5000-token article has Jaccard ≈ 0.01
    * but containment ≈ 1). Top-`k` directed pairs with the source's kept
    * shingle count and the overlap, ordered (containment desc, src, dst).
    *
    * Same scale shape as [[jaccardPairsCore]]: the skew-spread DF cap
    * bounds the per-shingle join fan-out, only (doc_id, hash) pairs
    * shuffle, and the directed join emits each unordered candidate pair
    * twice (once per direction) — a constant factor, not a new asymptote.
    * Sizes are computed on the capped universe (numerator/denominator
    * consistency); the division is int/int in IEEE doubles, engine-exact,
    * and ordering uses the 6dp-rounded value in both engines. Docs shorter
    * than the shingle width have no shingles and drop out. */
  def containmentTopPairs(documents: DataFrame, k: Int = 20,
      maxShingleDf: Int = MaxShingleDf): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val capped = hashedShingles(documents, JaccardShingleWidth)
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDf)
      .select("h")
    val kept = hashedShingles(documents, JaccardShingleWidth)
      .join(capped, Seq("h"))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
    kept.as("a").join(kept.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("src_doc"), col("b.doc_id").as("dst_doc"),
        col("a.sz").as("src_sz"), col("b.sz").as("dst_sz"))
      .agg(count(lit(1)).as("common"))
      // the reverse direction rides the same row for free and is the
      // excerpt discriminator: full dups read 1/1, a quote inside a much
      // larger doc reads 1/<<1
      .select(col("src_doc"), col("dst_doc"), col("src_sz"), col("dst_sz"),
        col("common"),
        round2(col("common").cast("double") / col("src_sz"), 6)
          .as("containment"),
        round2(col("common").cast("double") / col("dst_sz"), 6)
          .as("reverse_containment"))
      .orderBy(col("containment").desc, col("src_doc"), col("dst_doc"))
      .limit(k)
  }

  /** [[prefixJaccardPairs]] threshold t = num/den as a RATIONAL so the
    * prefix length and the final similarity test are exact integer
    * arithmetic in both engines. */
  val PrefixTNum = 1L
  val PrefixTDen = 2L

  /** Exact Jaccard pairs at threshold t via PREFIX FILTERING (Chaudhuri
    * et al. 2006 / Bayardo et al. 2007 — the candidate scheme behind
    * PPJoin): order each doc's kept shingles by GLOBAL rarity (df asc,
    * hash asc — a total order both engines reproduce) and join only on
    * each doc's first |d| − ⌈t·|d|⌉ + 1 shingles. Any pair with
    * J ≥ t = num/den must share a prefix shingle (J ≥ t ⟹ overlap ≥
    * ⌈t·|d|⌉ for BOTH docs, and sets with overlap ≥ α intersect within
    * their (|d| − α + 1)-prefixes), so the scheme is LOSSLESS at the
    * threshold — and the DuckDB mirror is the NAIVE all-shared-shingles
    * join filtered at t, making the hash gate an algorithm-equivalence
    * certificate (the salted-join/bloom-decontamination discipline).
    *
    * Why it matters at 100 TB: the naive candidate mass is Σ_shingle df²
    * over ALL shared shingles; prefix filtering pays it only over each
    * doc's RAREST shingles — the candidate set shrinks by orders of
    * magnitude while exactness is preserved, which is the measured-scale
    * answer for the exact-verify stage (the LSH-banded path stays the
    * approximate route). The threshold test itself is INTEGER:
    * J ≥ num/den ⟺ (den+num)·common ≥ num·(sz1+sz2) — no rounding
    * anywhere in the decision path. ⌈t·n⌉ = (n·num + den − 1) div den on
    * non-negative longs (div ≡ //). Output: every pair with J ≥ t,
    * (doc1, doc2)-ordered. */
  def prefixJaccardPairs(documents: DataFrame,
      maxShingleDf: Int = MaxShingleDf): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dfs = hashedShingles(documents, JaccardShingleWidth)
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDf)
    val kept = hashedShingles(documents, JaccardShingleWidth)
      .join(dfs, Seq("h"))
      .withColumn("sz", count(lit(1)).over(Window.partitionBy("doc_id")))
    // ONE doc_id-keyed exchange feeds both the prefix ranking window and
    // the verify-set aggregation below (ReusedExchange — deriving `sets`
    // from the pre-window frame would shuffle the corpus by doc_id twice)
    val withRk = kept
      .withColumn("rk", row_number().over(Window.partitionBy("doc_id")
        .orderBy(col("df"), col("h"))).cast("long"))
    val prefix = withRk
      .filter(col("rk") <= col("sz") -
        expr(s"(sz * $PrefixTNum + $PrefixTDen - 1) div $PrefixTDen") + 1)
    // PPJoin's two remaining filters (Xiao et al. 2008), both applied
    // PER CANDIDATE ROW before any aggregation — the naive mirror
    // certifies that neither loses a ≥t pair:
    //  LENGTH: J ≥ num/den and common ≤ min(sz1, sz2) force
    //    num·max(sz1, sz2) ≤ den·min(sz1, sz2) — exact integer test.
    //  POSITIONAL: at a shared shingle sitting at prefix positions
    //    (p1, p2), every LATER common shingle sits later in BOTH docs
    //    (one global (df, h) order), so overlap before it is bounded by
    //    the shared-prefix minimality argument and after it by the
    //    remaining lengths: overlap ≤ 1 + min(sz1 − p1, sz2 − p2). That
    //    bound is NON-INCREASING across a pair's matches (both rk's grow
    //    along the order), so "first match passes" ⟺ "some match
    //    passes" — the filter is sound PER ROW, no first-match argmin
    //    aggregation needed, and the candidate dedup is a bare groupBy
    //    on (doc1, doc2, sz1, sz2) — 4 longs per row, map-side partial.
    val p1 = prefix.select(col("doc_id").as("doc1"), col("h"),
      col("rk").as("rk1"), col("sz").as("sz1"))
    val p2 = prefix.select(col("doc_id").as("doc2"), col("h"),
      col("rk").as("rk2"), col("sz").as("sz2"))
    val cands = p1.join(p2, "h")
      .filter(col("doc1") < col("doc2"))
      .filter(lit(PrefixTNum) * greatest(col("sz1"), col("sz2")) <=
        lit(PrefixTDen) * least(col("sz1"), col("sz2")))
      .filter(lit(PrefixTDen + PrefixTNum) *
        (lit(1L) + least(col("sz1") - col("rk1"),
          col("sz2") - col("rk2"))) >=
        lit(PrefixTNum) * (col("sz1") + col("sz2")))
      .select("doc1", "doc2", "sz1", "sz2")
      .distinct()
      // PINNED: two consumers (the verify join and the candidate-doc
      // semi-join) must not re-run the prefix self-join each — the
      // frame is candidate-pairs-sized, which verify materializes anyway
      .localCheckpoint(true)
    // VERIFY ships each doc's kept-shingle SET as ONE sorted array (the
    // hashes are the per-doc DISTINCT set by construction, so
    // |array_intersect| ≡ the h-join match count): a candidate row
    // carries 8 bytes per shingle instead of a ~40-byte
    // (doc1, doc2, sz1, sz2, h) row per shingle — the verify re-join was
    // the board's highest absolute shuffle before this. Arrays build
    // ONLY for docs that survived into a candidate pair (a semi-join
    // riding the window's existing doc_id partitioning — measured ~6%
    // of docs at 30×), never the whole corpus.
    val candDocs = cands.select(col("doc1").as("doc_id"))
      .unionByName(cands.select(col("doc2").as("doc_id")))
      .distinct()
    val sets = withRk.join(candDocs, Seq("doc_id"), "left_semi")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(col("h"))).as("hs"))
    cands
      .join(sets.select(col("doc_id").as("doc1"), col("hs").as("hs1")),
        "doc1")
      .join(sets.select(col("doc_id").as("doc2"), col("hs").as("hs2")),
        "doc2")
      .select(col("doc1"), col("doc2"), col("sz1"), col("sz2"),
        size(array_intersect(col("hs1"), col("hs2"))).cast("long")
          .as("common"))
      .filter(lit(PrefixTDen + PrefixTNum) * col("common") >=
        lit(PrefixTNum) * (col("sz1") + col("sz2")))
      .select(col("doc1"), col("doc2"), col("sz1"), col("sz2"),
        col("common"),
        round2(col("common").cast("double") /
          (col("sz1") + col("sz2") - col("common")), 6).as("jaccard"))
      .orderBy("doc1", "doc2")
  }

  /** [[tfidfTopPairs]] constants, shared with the generated mirror:
    * sublinear tf cap (bounds every Σw² accumulator inside int64 at any
    * doc length), candidate DF window (df 1 contributes no pair; the cap
    * bounds the self-join fan-out AND the idf table size), report size,
    * and the milli-nat idf quantization. */
  val TfidfTfCap = 255L
  val TfidfPairMaxDf = 64
  val TfidfPairsK = 20
  val IdfScale = 1000L

  /** The `df → idf` milli-nat table for [[tfidfTopPairs]], computed ONCE
    * on the driver (ln has no cross-engine correctly-rounded guarantee —
    * the trainDsirRatios discipline): idf(df) = ln((N+1)/(df+1)),
    * floor-quantized, for df ∈ 1..[[TfidfPairMaxDf]]. `n` is the doc
    * count of the tf universe (non-null text). */
  def idfTable(n: Long): Array[Long] =
    Array.tabulate(TfidfPairMaxDf)(i => math.floor(
      math.log((n + 1).toDouble / (i + 2).toDouble) * IdfScale + 0.5)
      .toLong)

  /** TF-IDF-weighted cosine top pairs — the WEIGHTED lexical near-dup
    * signal next to [[ngramJaccardTopPairs]]'s set-based one: two docs
    * sharing rare vocabulary score high even when their common-word
    * overlap is unremarkable (the classic IR duplicate detector over
    * sparse tf-idf vectors). Weights w = min(tf, cap) · idf_milli(df)
    * are exact longs; dots and norms are exact long sums over the
    * DF-capped term universe (numerator/denominator consistency — the
    * capped-universe convention of the Jaccard family); cosine divides
    * through IEEE sqrt and 6dp floor-rounds; top-k orders on the rounded
    * value with (doc1, doc2) tiebreaks. Zero-idf terms (df+1 = N+1 in a
    * tiny corpus) are dropped on BOTH sides, so every surviving doc has
    * a positive norm and the division needs no zero guard.
    *
    * Scale shape = [[jaccardPairsCore]]: only (doc_id, term, weight)
    * longs shuffle, candidate pairs are bounded by Σ_term df² under the
    * DF cap, and the idf table is a broadcast constant. */
  def tfidfTopPairs(documents: DataFrame, idfMilli: Array[Long],
      k: Int = TfidfPairsK): DataFrame = {
    val spark = documents.sparkSession
    import spark.implicits._
    val idfDf = broadcast(idfMilli.toIndexedSeq.zipWithIndex
      .collect { case (w, i) if w > 0 => ((i + 1).toLong, w) }
      .toDF("df", "idf"))
    val tf = documents.filter(col("text").isNotNull)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok")
      .agg(least(count(lit(1)), lit(TfidfTfCap)).as("tf"))
    val dfs = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= TfidfPairMaxDf)
    val w = tf.join(dfs, "tok").join(idfDf, "df")
      .select(col("doc_id"), col("tok"), (col("tf") * col("idf")).as("w"))
    val nrm = w.groupBy("doc_id").agg(sum(col("w") * col("w")).as("n2"))
    val dots = w.select(col("doc_id").as("doc1"), col("tok"),
        col("w").as("wa"))
      .join(w.select(col("doc_id").as("doc2"), col("tok"),
        col("w").as("wb")), "tok")
      .filter(col("doc1") < col("doc2"))
      .groupBy("doc1", "doc2").agg(sum(col("wa") * col("wb")).as("dot"))
    dots
      .join(nrm.select(col("doc_id").as("doc1"), col("n2").as("n2a")),
        "doc1")
      .join(nrm.select(col("doc_id").as("doc2"), col("n2").as("n2b")),
        "doc2")
      .select(col("doc1"), col("doc2"), col("dot"),
        round2(col("dot").cast("double") /
          (sqrt(col("n2a").cast("double")) *
            sqrt(col("n2b").cast("double"))), 6).as("cosine"))
      .orderBy(col("cosine").desc, col("doc1"), col("doc2"))
      .limit(k)
  }

  /** Span-level duplicate detection (the distributed shape of the
    * suffix-array substring dedup of Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better", arXiv:2107.06499 §4.1):
    * per document, the count of `width`-token windows that also occur in
    * at least `minDocFreq - 1` OTHER documents, and the number of token
    * positions those duplicated windows cover (overlapping windows merged
    * — the gaps-and-islands sum: a window starting `gap` after the
    * previous duplicated start adds `min(gap, width)` newly covered
    * tokens). Document-level dedup (Jaccard/MinHash) misses boilerplate
    * SPANS inside otherwise-unique documents; this measures exactly that,
    * and `dup_token_share` is the drop/trim signal.
    *
    * Scale: cross-doc window matching inherently compares every window —
    * the same corpus-sized pass a suffix array makes — but each window
    * ships as ONE 8-byte rolling hash from the one-pass
    * [[TextExpressions.shinglePosHashes]] expression (never text), the
    * cross-doc frequency comes from the skew-spread aggregate+join of
    * [[dupWindowStream]], and everything downstream of the frequency
    * filter is bounded by duplicated windows only. The per-doc
    * span merge is a window function over duplicated
    * starts — dup-windows-sized, not corpus-sized. Intra-doc repeats
    * don't count as duplication (the doc-frequency is over DISTINCT docs),
    * but once a window IS cross-doc-duplicated, every occurrence of it in
    * a doc is flagged (all its copies are removable). */
  /** One row per `width`-token window occurrence: `(doc_id, pos, h)` from
    * a single [[TextExpressions.shinglePosHashes]] pass. */
  private def windowStream(documents: DataFrame, width: Int): DataFrame =
    documents.select(col("doc_id"),
      posexplode(TextExpressions.shinglePosHashes(col("text"), width))
        .as(Seq("pos", "h")))

  /** The shared duplicated-window stream of [[dupNgramSpans]] and
    * [[removeDupSpans]]: window occurrences `(doc_id, pos, h)` joined to
    * per-hash stats — `df` (number of DISTINCT docs containing the hash)
    * and `owner` (the min doc_id containing it) — keeping occurrences with
    * `df >= minDocFreq`.
    *
    * Shape choice is about SKEW, not shuffle count: a window-function
    * formulation (partitionBy h, the jaccardPairsCore trick) would get
    * df/owner from one exchange, but it forces EVERY occurrence of a hash
    * into one task's sort — a boilerplate n-gram present across a 100 TB
    * corpus stalls that task, and window operators get no AQE skew
    * handling. Here every step spreads the hot key: the distinct is
    * hash-partitioned on BOTH (doc_id, h); the per-h count/min aggregate
    * sees at most one row per h per upstream partition (map-side
    * partials); and the final occurrences ⋈ stats equi-join is a shape
    * AQE can skew-split. The price is re-evaluating the tokenize+hash
    * scan for the join's probe side — a map-side linear pass,
    * embarrassingly parallel: the safe side of the trade.
    * ([[jaccardPairsCore]] applies the same aggregate+join shape to its
    * DF cap; span detection additionally must KEEP the hot windows — they
    * are the most duplicated content — so there is no cap to bound a
    * window-form sort even in principle.) */
  private def dupWindowStream(documents: DataFrame, width: Int,
      minDocFreq: Int): DataFrame = {
    val stats = windowStream(documents, width)
      .select("doc_id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("df"), min("doc_id").as("owner"))
      .filter(col("df") >= minDocFreq)
    windowStream(documents, width).join(stats, Seq("h"))
  }

  def dupNgramSpans(documents: DataFrame, width: Int = 5,
      minDocFreq: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val dupWins = dupWindowStream(documents, width, minDocFreq)
    val gap = col("pos") - lag("pos", 1).over(
      Window.partitionBy("doc_id").orderBy("pos"))
    val cover = dupWins
      .withColumn("newly", coalesce(least(gap, lit(width)), lit(width)))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_windows"),
        sum(col("newly")).cast("long").as("n_dup_tokens"))
    documents
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      .filter(col("n_tokens") >= width)
      .withColumn("n_windows", col("n_tokens") - (width - 1))
      .join(cover, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_dup_tokens"), lit(0L)).as("n_dup_tokens"))
      .withColumn("dup_token_share",
        round2(col("n_dup_tokens").cast("double") / col("n_tokens")))
      .orderBy("doc_id")
  }

  /** Window width and doc-frequency floor of [[dupSubstringSpans]],
    * interpolated into the generated mirror (the shared-constant rule). */
  val DupSpanWidth = 5
  val DupSpanMinDocFreq = 2

  /** Substring-LEVEL exact duplicate spans (the Lee et al. 2021
    * suffix-array family's output, r15 verdict #5): one row per MAXIMAL
    * duplicated token range per document — exact 1-based extents
    * (`span_start`/`span_end`/`span_len`), the window count that covers
    * it, and the duplicated text itself. [[dupNgramSpans]] reports
    * per-doc coverage TOTALS; this is the span INVENTORY a
    * span-removal/audit pipeline consumes ("which tokens, exactly, are
    * duplicated — and what do they say?").
    *
    * Exact-semantics claim (why a width-gram cover equals the
    * suffix-array answer): a token position lies inside SOME cross-doc
    * duplicated substring of length ≥ width ⟺ it is covered by a
    * duplicated width-gram (⇐ by definition; ⇒ because any length-L ≥
    * width duplicated substring containing the position contains a
    * width-gram through it, and a substring of a duplicated substring
    * is duplicated). Merging covered window starts whose gap ≤ width
    * (overlap-or-abut, equal widths ⇒ the previous start bounds the
    * running end) therefore yields EXACTLY the maximal union-spans of
    * all duplicated substrings of length ≥ width — no suffix array
    * needed, and the whole computation is width-gram local, so it
    * distributes. Duplication is CROSS-document (`df` counts distinct
    * docs, the [[dupWindowStream]] semantics); within-doc repeats alone
    * do not flag.
    *
    * Scale: the corpus-sized steps are [[dupWindowStream]]'s skew-spread
    * distinct + stats equi-join (AQE-splittable; no window-function
    * hot-key sort on the gram stream). The merge is a per-doc window
    * over DUPLICATED window starts only — bounded by doc length
    * (spillable WindowExec, the bounded-sequence discipline) — and the
    * text slice joins one bounded span list per affected doc against
    * the scan. */
  def dupSubstringSpans(documents: DataFrame,
      width: Int = DupSpanWidth,
      minDocFreq: Int = DupSpanMinDocFreq): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    val gap = col("pos") - lag("pos", 1).over(w)
    val spans = dupWindowStream(documents, width, minDocFreq)
      .select(col("doc_id"), col("pos"))
      .withColumn("new_span",
        when(gap.isNull || gap > width, 1L).otherwise(0L))
      .withColumn("span_id", sum(col("new_span")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "span_id")
      .agg((min(col("pos")) + 1).cast("long").as("span_start"),
        (max(col("pos")) + width).cast("long").as("span_end"),
        count(lit(1)).as("n_windows"))
    documents
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .join(spans, Seq("doc_id"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1).as("span_len"),
        col("n_windows"),
        concat_ws(" ", slice(col("toks"), col("span_start"),
          col("span_end") - col("span_start") + 1)).as("span_text"))
      .orderBy("doc_id", "span_start")
  }

  /** The transform [[dupNgramSpans]] measures: REMOVE duplicated spans,
    * keeping one copy corpus-wide (Lee et al. 2021 §4.1 drop exactly one
    * occurrence; here the keeper is deterministic: the min doc_id
    * containing the window — the `owner` — keeps ALL its occurrences,
    * every other doc drops every token covered by a foreign-owned
    * duplicated window). Output is the cleaned text plus removal
    * accounting; docs with nothing to remove pass through verbatim, and a
    * doc that was entirely duplicated collapses to the empty string.
    *
    * Scale: the corpus-sized shuffles are [[dupWindowStream]]'s
    * skew-spread distinct + join; the removal-position expansion (`width` rows per
    * duplicated window occurrence) and the per-doc position sets are
    * bounded by duplicated content, and the final join ships one
    * int-array per AFFECTED doc against the full scan. Token re-assembly
    * is the one-pass [[TextExpressions.RemoveTokensAt]] expression —
    * tokenize once, skip flagged indices, re-join. */
  def removeDupSpans(documents: DataFrame, width: Int = 5,
      minDocFreq: Int = 2): DataFrame = {
    val foreign = dupWindowStream(documents, width, minDocFreq)
      .filter(col("owner") =!= col("doc_id"))
    val removalSets = foreign
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (width - 1))).as("rpos"))
      .groupBy("doc_id")
      .agg(sort_array(collect_set(col("rpos"))).as("rposs"))
    documents.join(removalSets, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        coalesce(size(col("rposs")), lit(0)).cast("long").as("n_removed"),
        TextExpressions.removeTokensAt(col("text"),
          coalesce(col("rposs"), lit(Array.empty[Int]))).as("clean_text"))
      .orderBy("doc_id")
  }

  /** Transitive near-dup clusters: connected components over the
    * jaccard-thresholded pair graph, labeling every clustered doc with the
    * min doc_id reachable from it (the canonical keeper) plus the
    * component size. Pairwise dedup misses chains (A≈B≈C with A̸≈C); this
    * is the step that turns pair lists into drop groups.
    *
    * Algorithm: min-label propagation — per round, every vertex takes the
    * min of its own and its neighbors' labels; converges in
    * O(component diameter) rounds (near-dup components are shallow: dup
    * chains, not paths across the corpus). Each round is one
    * edges⋈labels shuffle + a min aggregate — the scalable Pregel shape —
    * with `localCheckpoint` truncating the growing plan lineage per round.
    * Deterministic: min-label is order- and partitioning-independent.
    * Throws if `maxIters` rounds don't converge (pathological diameter)
    * rather than returning a half-propagated labeling. */
  def dupClusters(documents: DataFrame, minJaccard: Double = 0.5,
      maxShingleDf: Int = MaxShingleDf, maxIters: Int = 25): DataFrame =
    clustersOf(documents, minJaccard, maxShingleDf,
      connectedComponents(_, maxIters))

  /** Duplicate-cluster SIZE DISTRIBUTION — the report that sizes a dedup
    * run before it executes (how many docs does keeper-selection delete?
    * is there a mega-cluster that needs a template rule instead?):
    * clusters-per-size over [[dupClusters]]' labeling, with the
    * singleton row (docs in NO near-dup pair) derived by subtraction
    * from the corpus total. The clusters frame pins once for its two
    * consumers (the distribution + the clustered-doc count — the
    * topSupplier discipline); all aggregates are exact longs over
    * clusters-sized frames, so the report rides the hash gate on the
    * shared reachability oracle. */
  def clusterSizeDist(documents: DataFrame): DataFrame = {
    val clusters = dupClusters(documents).localCheckpoint(true)
    val dist = clusters.groupBy("cluster_id")
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("cluster_size")).as("n_docs"))
    val tot = documents.agg(count(lit(1)).as("n"))
    val clustered = clusters.agg(count(lit(1)).as("n2"))
    val singles = tot.crossJoin(broadcast(clustered))
      .select(lit(1L).as("cluster_size"),
        (col("n") - col("n2")).as("n_clusters"),
        (col("n") - col("n2")).as("n_docs"))
    singles.unionByName(dist).orderBy("cluster_size")
  }

  /** [[dupClusters]] on the [[connectedComponentsStar]] scale path —
    * identical output (both label with the component-min doc_id), different
    * round complexity: O(log n) alternating-star rounds instead of
    * O(diameter) propagation rounds. The near-dup graph is usually shallow
    * (propagation wins on constants), but adversarial corpora produce long
    * dup CHAINS — template pages each ~0.5-similar to the next — where
    * diameter grows with the corpus and propagation stops converging. */
  def dupClustersStar(documents: DataFrame, minJaccard: Double = 0.5,
      maxShingleDf: Int = MaxShingleDf, maxIters: Int = 25): DataFrame =
    clustersOf(documents, minJaccard, maxShingleDf,
      connectedComponentsStar(_, maxIters))

  /** The CLUSTERING path a 100 TB corpus actually runs: component labels
    * over the MinHash+LSH candidate edges ([[minhashNearDupPairs]] —
    * banded buckets, never an exact all-shingle self-join) instead of
    * [[dupClusters]]' exact-Jaccard edge set. Edges carry the exact
    * verified jaccard (LSH only proposes; the slim shingle joins confirm).
    * Two documented divergences from [[dupClusters]]: (1) banding RECALL —
    * a pair whose bands never collide is missed; the default 16 bands × 2
    * rows is chosen so recall HOLDS AT THE ADVERTISED THRESHOLD: the miss
    * probability at j=0.5 is (1-0.5²)¹⁶ ≈ 0.01 (j=0.4: 0.06, exact dup: 0)
    * — versus ≈0.6 at j=0.5 for the 8×4 banding, which is only safe well
    * above threshold. The price of the flatter S-curve is more low-j
    * candidates (a j=0.1 pair collides with p ≈ 0.15 vs ≈ 0.001), all of
    * which die in the exact verification joins — a verification-cost /
    * recall trade, spec-pinned at j≈0.5 on a planted grid;
    * (2) the verification universe differs — verification runs over the
    * UNCAPPED width-3 shingle set (the width the MinHash signatures are
    * built on, so estimate and verdict agree), while [[dupClusters]]
    * computes jaccard over the DF-capped [[JaccardShingleWidth]]-gram set;
    * borderline edges can differ in either direction (and the bucket
    * fan-out, bounded by band collisions rather than a DF cap, is this
    * path's skew exposure). Output schema and
    * labeling match [[labelClusters]] exactly (shared code); no oracle
    * (hash-dependent candidate set) — the spec pins it against the exact
    * clustering on planted dups. */
  def dupClustersLsh(documents: DataFrame, minJaccard: Double = 0.5,
      numHashes: Int = 32, bands: Int = 16, maxIters: Int = 25): DataFrame =
    labelClusters(
      minhashNearDupPairs(documents, numHashes, bands, minJaccard),
      connectedComponents(_, maxIters))

  /** Incremental cluster MAINTENANCE — merge a new batch's near-dup edges
    * into an existing clustering without re-clustering history: the
    * standing labels re-enter as star edges (doc → its cluster label),
    * which encode exactly the components they came from, and the union
    * with the new edges re-converges under star contraction. Because the
    * existing components are ALREADY stars, rounds are spent only on
    * chains created by the new edges — per-increment cost is O(new edges +
    * touched components), not the corpus. Pairs with
    * [[minhashNearDupsIncremental]] (which produces exactly the
    * batch-self + batch-vs-history edge stream this consumes); the spec
    * pins incremental ≡ one-shot, including NEW docs bridging two
    * previously-separate components. Output contract = [[dupClusters]]:
    * min reachable doc_id labels, component sizes; singleton label rows
    * (doc_id == cluster_id with no surviving edge) stay singletons. */
  def mergeClusterLabels(labels: DataFrame, newEdges: DataFrame): DataFrame =
    labelClusters(
      labels.select(col("doc_id").as("doc1"), col("cluster_id").as("doc2"))
        .unionByName(newEdges.select(col("doc1"), col("doc2"))),
      connectedComponentsStar(_))

  /** (doc1, doc2) edge frame → the (doc_id, cluster_id, cluster_size)
    * output contract, via the given connected-components algorithm —
    * shared by every clustering entry point so the contract lives once. */
  private def labelClusters(edges: DataFrame,
      cc: DataFrame => DataFrame): DataFrame =
    cc(edges.select(col("doc1"), col("doc2")))
      .select(col("id").as("doc_id"), col("component").as("cluster_id"),
        col("component_size").as("cluster_size"))
      .orderBy("doc_id")

  private def clustersOf(documents: DataFrame, minJaccard: Double,
      maxShingleDf: Int, cc: DataFrame => DataFrame): DataFrame =
    labelClusters(
      ngramJaccardPairsAtLeast(documents, minJaccard, maxShingleDf), cc)

  /** LEAKAGE-SAFE train/test split: every member of a near-dup cluster
    * inherits its cluster REPRESENTATIVE's hash split (the
    * component-min doc_id), so near-duplicates can never straddle train
    * and test — the evaluation-contamination guard a naive per-doc hash
    * split silently violates (a test doc whose near-dup sits in train
    * leaks the answer). Unclustered docs are their own representative;
    * the assignment rule is [[TextOps.splitExpr]]'s md5-bucket split
    * (reprocessing-stable at any scale), and the mirror replays the
    * shared reachability oracle + the same md5 rule, so atomicity rides
    * the hash gate per doc. */
  def leakageSafeSplit(documents: DataFrame, minJaccard: Double = 0.5,
      maxShingleDf: Int = MaxShingleDf): DataFrame = {
    val clusters = dupClusters(documents, minJaccard, maxShingleDf)
      .select(col("doc_id"), col("cluster_id"))
    documents.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("doc_id")).as("rep_doc"))
      .withColumn("split", TextOps.splitExpr(col("rep_doc")))
      .orderBy("doc_id")
  }

  /** The DROP decision [[dupClusters]]' cluster list exists for: one row
    * per near-dup cluster with the KEEPER — the longest member (token
    * count), ties to the smallest doc_id — and the member count. "Keep
    * longest" is the usual corpus-dedup policy (the longest variant of a
    * templated page carries the most content); swap the ordering for any
    * other quality signal. The ranking shuffles (cluster_id, n_tokens)
    * pairs only — clusters-sized, not corpus-sized. */
  def clusterKeepers(documents: DataFrame, minJaccard: Double = 0.5,
      maxShingleDf: Int = MaxShingleDf): DataFrame = {
    val clusters = dupClusters(documents, minJaccard, maxShingleDf)
    val sized = clusters.join(
      documents.select(col("doc_id"),
        size(split(col("text"), " ")).as("n_tokens")),
      "doc_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(col("n_tokens").desc, col("doc_id"))
    sized.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("keeper_id"),
        col("cluster_size"))
      .orderBy("cluster_id")
  }

  /** Connected components over an undirected edge list (any 2-column long
    * pair frame): labels every vertex with the min vertex id reachable from
    * it plus the component size — the graph primitive under
    * [[dupClusters]], usable for any entity-resolution grouping. Min-label
    * propagation (see dupClusters scaladoc for the scale argument);
    * isolated vertices don't appear (an edge list carries none), but a
    * vertex present ONLY via self-loops does — as a singleton component —
    * and [[connectedComponentsStar]] makes the same choice. */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    val p = pairs.toDF("u", "v")
    val edges = p.union(p.select(col("v"), col("u")))
      .toDF("src", "dst").localCheckpoint(true)
    // seed with min(id, min neighbor): one aggregate replaces the
    // distinct + self-label AND banks the first propagation round
    var labels = edges.groupBy(col("src")).agg(min(col("dst")).as("m"))
      .select(col("src").as("id"), least(col("src"), col("m")).as("label"))
      .localCheckpoint(true)
    var iter = 0
    var changed = 1L
    // labelsCk tracks the actual checkpoint frame (labels is a projection
    // over it from round 1 on) so the superseded round's blocks release
    // deterministically (the Graph-loop storage-region discipline)
    var labelsCk = labels
    while (changed > 0 && iter < maxIters) {
      val nb = edges.join(labels, col("dst") === col("id"))
        .groupBy(col("src")).agg(min(col("label")).as("nb"))
      val next = labels.withColumnRenamed("label", "old")
        .join(nb, col("id") === col("src"), "left")
        .select(col("id"),
          least(col("old"), col("nb")).as("label"), // least() skips nulls
          col("old"))
        .localCheckpoint(true)
      changed = next.filter(col("label") =!= col("old")).count()
      Graph.releaseLocalCheckpoint(labelsCk)
      labelsCk = next
      labels = next.select("id", "label")
      iter += 1
    }
    require(changed == 0,
      s"connectedComponents did not converge in $maxIters rounds")
    withComponentSizes(labels)
  }

  /** Connected components by alternating large-star/small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — same output contract as [[connectedComponents]] (min
    * reachable id + component size; isolated vertices absent), different
    * convergence: O(log n) rounds regardless of diameter, where min-label
    * propagation needs O(diameter) rounds. On a 100 TB near-dup graph the
    * diameter is not under your control — a chain of pairwise-similar
    * template pages makes propagation unbounded while star contraction
    * still halves every path each round. Propagation remains cheaper per
    * round (one shuffle vs three), so [[dupClusters]] defaults to it and
    * [[dupClustersStar]] exposes this path.
    *
    * Each edge is kept once, canonically oriented `u > v`:
    *  - large-star: every node rewires its LARGER neighbors to the minimum
    *    of its closed neighborhood;
    *  - small-star: every node rewires its smaller-or-equal neighbors (and
    *    itself) to the minimum of them.
    * The fixpoint is a forest of stars, each node pointing at its
    * component's min id. Convergence is detected by an order-independent
    * edge-set signature (count + xor-fold of xxhash64(u,v)) and then VERIFIED
    * structurally — the result must be a star forest (no label is itself
    * relabeled) — so a signature collision cannot return a wrong answer.
    * Self-loops carry no connectivity and are dropped from the contraction,
    * but a vertex present ONLY via self-loops still appears — as a
    * singleton component, the same contract as [[connectedComponents]]. */
  def connectedComponentsStar(pairs: DataFrame, maxIters: Int = 25): DataFrame = {
    val all = pairs.toDF("u", "v")
    val selfOnly = all.filter(col("u") === col("v"))
      .select(col("u").as("id")).distinct()
    val p = all.filter(col("u") =!= col("v"))
    var edges = p
      .select(greatest(col("u"), col("v")).as("u"),
        least(col("u"), col("v")).as("v"))
      .distinct().localCheckpoint(true)

    // (count, xor-fold of row hashes): permutation-invariant set signature.
    // XOR instead of sum: overflow-free under ANSI mode; the edge set is
    // distinct, so no two equal rows can cancel each other out.
    def signature(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    var sig = signature(edges)
    var converged = edges.isEmpty
    var iter = 0
    while (!converged && iter < maxIters) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val nextSig = signature(next)
      converged = nextSig == sig
      Graph.releaseLocalCheckpoint(edges)
      edges = next
      sig = nextSig
      iter += 1
    }
    require(converged,
      s"connectedComponentsStar did not converge in $maxIters rounds")
    // structural fixpoint check: in a star forest no edge target is itself
    // a source (one cheap semi-join, guards the 2^-64 signature collision)
    require(edges.as("a")
        .join(edges.as("b"), col("a.v") === col("b.u"), "left_semi").isEmpty,
      "connectedComponentsStar signature converged on a non-star edge set")
    val labeled = edges.select(col("u").as("id"), col("v").as("label"))
      .union(edges.select(col("v"), col("v")).distinct().toDF("id", "label"))
    // self-loop-only vertices: singleton components (contract parity with
    // connectedComponents); vertices that also have real edges are already
    // labeled above
    val singletons = selfOnly.join(labeled, Seq("id"), "left_anti")
      .select(col("id"), col("id").as("label"))
    withComponentSizes(labeled.union(singletons))
  }

  /** Large-star: for each node, rewire all strictly-larger neighbors to the
    * min of its closed neighborhood. Input and output canonical (u > v);
    * emitted edges (bigNeighbor, min) satisfy min <= node < bigNeighbor. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy(col("u").as("c"))
      .agg(min(col("v")).as("mn"))
      .select(col("c"), least(col("c"), col("mn")).as("m"))
    sym.filter(col("v") > col("u"))
      .join(mins, col("u") === col("c"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Small-star: for each node, rewire its smaller neighbors and itself to
    * their minimum. Canonical input (u > v) means the group's neighbors are
    * exactly the smaller ones; emitted (neighbor, min) keeps u > v. */
  private def smallStar(edges: DataFrame): DataFrame = {
    val mins = edges.groupBy(col("u").as("c")).agg(min(col("v")).as("m"))
    val rewired = edges.join(mins, col("u") === col("c"))
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    rewired.union(mins.select(col("c").as("u"), col("m").as("v")))
      .distinct()
  }

  private def withComponentSizes(labels: DataFrame): DataFrame =
    labels
      .join(labels.groupBy("label").agg(count(lit(1)).as("component_size"))
          .withColumnRenamed("label", "cl"),
        col("label") === col("cl"))
      .select(col("id"), col("label").as("component"), col("component_size"))

  /** MinHash signatures in ONE map-side pass per document
    * ([[TextExpressions.MinHashSig]]): no explode, no (doc_id, shingle)
    * shuffle. Output: (doc_id, sig array<long>[numHashes]); docs shorter
    * than the shingle width drop out (null sig), matching the aggregate
    * path's explode drop. */
  def minhashSignatures(documents: DataFrame, numHashes: Int = 32): DataFrame =
    // pre-filter on the CHEAP token-count predicate, not on sig IS NOT
    // NULL: the optimizer pushes a result-null filter below the project as
    // Filter(isnotnull(MinHashSig(text))), evaluating the expensive
    // expression twice per row
    documents.filter(size(split(col("text"), " ")) >= 3)
      .select(col("doc_id"),
        TextExpressions.minhashSig(col("text"), 3, numHashes).as("sig"))

  /** The mergeable-aggregate formulation over the exploded shingle stream
    * — the right shape when shingles arrive pre-exploded/streamed rather
    * than as whole documents; kept spec-equal to the one-pass expression. */
  private[graft] def minhashSignaturesAgg(documents: DataFrame,
      numHashes: Int = 32): DataFrame =
    hashedShingles(documents)
      .groupBy("doc_id")
      .agg(MinHashAggregate.minhashSig(col("h"), numHashes).as("sig"))

  /** Banded LSH buckets from (doc_id, sig) rows: one 64-bit bucket per
    * band (xxhash64 over the band's signature slice), `bands` rows per
    * doc. Shared by the batch and incremental near-dup paths. */
  private def bandedBuckets(sigs: DataFrame, numHashes: Int,
      bands: Int): DataFrame = {
    val rows = numHashes / bands
    sigs.select(col("doc_id"),
        posexplode(array((0 until bands).map(b =>
          xxhash64(lit(b), slice(col("sig"), b * rows + 1, rows))): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
  }

  /** MinHash-estimated Jaccard: the fraction of equal signature
    * components — k/numHashes is binary-exact in doubles, so thresholds
    * compare deterministically. Interpreted HOF, but evaluated only on
    * CANDIDATE pairs (post-banding), never the corpus stream. */
  private def estJaccard(a: Column, b: Column, numHashes: Int): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, v) => acc + v).cast("double") / lit(numHashes)

  /** Incremental near-dup detection against a PERSISTED signature index —
    * the shape a production pipeline actually runs: a 100 TB corpus is
    * deduped once, and every daily increment afterwards is compared
    * against history WITHOUT rescanning it. The index stores one
    * (doc_id, sig array<long>[numHashes]) row per document ever seen —
    * ~vanishing vs the corpus (32 longs per doc vs the text) — and each
    * call:
    *
    *  1. signatures the new batch (one-pass [[minhashSignatures]]);
    *  2. finds candidates batch-vs-batch (band self-join) and
    *     batch-vs-history — the batch's band buckets are BROADCAST
    *     against the index scan, so history never shuffles and
    *     per-increment cost is O(batch + bucket matches);
    *  3. scores candidates with [[estJaccard]] (signature-estimated —
    *     history's shingle sets are gone by design, so exact
    *     verification is not available; raise numHashes to tighten the
    *     estimate) and keeps pairs ≥ `threshold`;
    *  4. commits the batch's signatures to the index ATOMICALLY (results
    *     are materialized first, so the commit cannot feed back).
    *
    * CRASH CONTRACT (single writer; spec-pinned in DedupSpec):
    *  - The index is a directory of per-batch parquet subdirs. Each commit
    *    stages under a dot-prefixed dir (invisible to Spark's file listing)
    *    and goes live with ONE atomic rename — the index is never torn: a
    *    crash leaves it either without the batch (the stale stage is swept
    *    on the next call) or with the complete batch.
    *  - Crash BEFORE the rename → re-running the batch is a plain retry:
    *    the anti-join sees none of its docs, so the rerun ≡ first run.
    *  - Crash AFTER the rename but before the caller persisted the returned
    *    pairs → re-run with `reemit = true`: the batch's docs are treated
    *    as fresh for PAIR EMISSION (regenerating exactly the lost report)
    *    while the signature commit stays deduplicated by doc_id — the index
    *    never accumulates duplicate rows no matter how often a batch
    *    replays.
    *
    * Replaying increments is equivalent to one-shot processing: the spec
    * pins two-batch ≡ one-shot over the union. Returns
    * (doc1, doc2, est_jaccard), doc1 < doc2, ordered. */
  def minhashNearDupsIncremental(newDocs: DataFrame, indexPath: String,
      numHashes: Int = 32, bands: Int = 16,
      threshold: Double = 0.5, reemit: Boolean = false): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val spark = newDocs.sparkSession
    val root = Paths.get(indexPath)
    // sweep stale stage dirs (a crash between write and rename): invisible
    // to reads, but disk residue — single-writer contract makes this safe
    if (Files.isDirectory(root))
      graft.Fs.list(root).filter(_.getFileName.toString.startsWith(".stage-"))
        .foreach(graft.Fs.deleteRecursively)
    val hasIndex = readSigIndexOpt(spark, indexPath).isDefined
    def index() = readSigIndex(spark, indexPath)
    // idempotent under at-least-once delivery: a doc_id already in the
    // index is dropped from the increment BEFORE signing — re-submitting
    // a batch (retry, re-crawl of an unchanged id) neither duplicates
    // signature rows in the index nor multiplies candidate-pair rows.
    // `reemit` keeps indexed docs ONLY for pair emission (crash recovery,
    // see contract above). Content UPDATES under a reused id are out of
    // scope (append-only index); re-ingest updated docs under a new id.
    val freshDocs =
      if (hasIndex && !reemit)
        newDocs.join(index().select("doc_id"), Seq("doc_id"), "left_anti")
      else newDocs
    val newSigs = minhashSignatures(freshDocs, numHashes).localCheckpoint(true)
    val newBands = bandedBuckets(newSigs, numHashes, bands)
    val candSelf = newBands.as("a").join(newBands.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
    val cand = (if (hasIndex) {
      val idxBands = bandedBuckets(index(), numHashes, bands)
      // history side never shuffles: the increment's buckets broadcast
      val cross = idxBands.as("i").join(broadcast(newBands).as("n"),
          col("i.band") === col("n.band") &&
            col("i.bucket") === col("n.bucket") &&
            col("i.doc_id") =!= col("n.doc_id"))
        .select(least(col("i.doc_id"), col("n.doc_id")).as("doc1"),
          greatest(col("i.doc_id"), col("n.doc_id")).as("doc2"))
      candSelf.union(cross)
    } else candSelf).distinct()
    // under reemit the batch's sigs exist on BOTH sides — dedup by doc_id
    // (signatures are deterministic, so the copies are identical)
    val allSigs =
      (if (hasIndex) index().unionByName(newSigs) else newSigs)
        .dropDuplicates("doc_id")
    val result = cand
      .join(allSigs.select(col("doc_id").as("doc1"), col("sig").as("sig1")),
        "doc1")
      .join(allSigs.select(col("doc_id").as("doc2"), col("sig").as("sig2")),
        "doc2")
      .select(col("doc1"), col("doc2"),
        estJaccard(col("sig1"), col("sig2"), numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= threshold)
      .orderBy("doc1", "doc2")
      .localCheckpoint(true) // materialize BEFORE the index commit below
    // atomic commit: stage (dot-dir, invisible) → one rename; only sigs
    // not already indexed are written, so replays never duplicate rows
    val toCommit =
      if (hasIndex)
        newSigs.join(index().select("doc_id"), Seq("doc_id"), "left_anti")
      else newSigs
    if (!toCommit.isEmpty) {
      val id = java.util.UUID.randomUUID().toString
      val stage = root.resolve(s".stage-$id")
      toCommit.write.mode("overwrite").parquet(stage.toString)
      Files.move(stage, root.resolve(s"b-$id"),
        StandardCopyOption.ATOMIC_MOVE)
    }
    result
  }

  /** Read the signature index committed by [[minhashNearDupsIncremental]]:
    * per-batch parquet subdirs under `indexPath` (recursive lookup;
    * dot/underscore-prefixed staging dirs are invisible by Spark's listing
    * rules). Also reads the flat single-table layout. */
  def readSigIndex(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): DataFrame =
    readSigIndexOpt(spark, indexPath).getOrElse(
      throw new IllegalStateException(s"no signature index at $indexPath"))

  private def readSigIndexOpt(spark: org.apache.spark.sql.SparkSession,
      indexPath: String): Option[DataFrame] = {
    val root = java.nio.file.Paths.get(indexPath)
    val visible = java.nio.file.Files.isDirectory(root) &&
      graft.Fs.list(root).exists { p =>
        val n = p.getFileName.toString
        !n.startsWith(".") && !n.startsWith("_")
      }
    if (visible)
      Some(graft.ingest.Sources.parquet(spark, indexPath, recursive = true))
    else None
  }

  /** MinHash + LSH banding near-dup candidates, verified with exact Jaccard.
    *
    * numHashes=32 split into 16 bands × 2 rows: docs agreeing on any full
    * band become candidates (prob ≈ 1-(1-j²)¹⁶ — recall ≈ 0.99 at the
    * default j=0.5 threshold; see [[dupClustersLsh]] for the banding-choice
    * math and the verification-cost trade). Only (long, long) rows ever
    * shuffle: band buckets for candidate generation, hashed shingles for
    * the exact verification — no document text or arrays move. Returns
    * pairs with exact jaccard ≥ `threshold`, globally ordered;
    * [[minhashNearDupPairs]] is the unsorted core for compositions
    * (clustering) that reshuffle anyway. */
  def minhashNearDups(documents: DataFrame, numHashes: Int = 32,
      bands: Int = 16, threshold: Double = 0.5): DataFrame =
    minhashNearDupPairs(documents, numHashes, bands, threshold)
      .orderBy("doc1", "doc2")

  /** [[minhashNearDups]] without the output sort. */
  def minhashNearDupPairs(documents: DataFrame, numHashes: Int = 32,
      bands: Int = 16, threshold: Double = 0.5): DataFrame = {
    // uncached (see ngramJaccardTopPairs): recompute-from-pruned-scan beats
    // pinning the exploded shingle stream in executor storage at scale
    val sh = hashedShingles(documents)
    val sig = minhashSignatures(documents, numHashes)
    val banded = bandedBuckets(sig, numHashes, bands)
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"))
      .distinct()
    // exact verification: |A∩B| via two slim joins on the shingle hash
    val common = cand
      .join(sh.withColumnRenamed("doc_id", "doc1"), "doc1")
      .join(sh.withColumnRenamed("doc_id", "doc2"), Seq("doc2", "h"))
      .groupBy("doc1", "doc2").agg(count(lit(1)).as("common"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    common
      .join(sizes.withColumnRenamed("doc_id", "doc1")
        .withColumnRenamed("sz", "sz1"), "doc1")
      .join(sizes.withColumnRenamed("doc_id", "doc2")
        .withColumnRenamed("sz", "sz2"), "doc2")
      .select(col("doc1"), col("doc2"),
        round2(col("common").cast("double") /
          (col("sz1") + col("sz2") - col("common")), 6).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** 64-bit SimHash of the token multiset: per bit, majority vote of the
    * tokens' xxhash64 bits; sign vector packed into one long. SQL-expressed
    * (the Scala shift builtins only take Int shift amounts) — still a single
    * codegen'd expression, one pass over the tokens, and the vote array is
    * referenced exactly once so it is not recomputed per bit. Bitwise
    * OR-fold packing avoids integer-sum overflow (ANSI mode). */
  def simhashExpr(textCol: String): Column = expr(
    s"""aggregate(
       |  zip_with(
       |    aggregate(split($textCol, ' '), array_repeat(0, 64),
       |      (acc, t) -> zip_with(acc,
       |        transform(sequence(0, 63),
       |          k -> if((shiftright(xxhash64(t), k) & 1L) = 1L, 1, -1)),
       |        (a, b) -> a + b)),
       |    sequence(0, 63),
       |    (v, k) -> if(v > 0, shiftleft(1L, k), 0L)),
       |  0L, (acc, x) -> acc | x)""".stripMargin)

  /** SimHash signatures in ONE map-side pass per document
    * ([[TextExpressions.SimHash64]]): no explode, no token-stream shuffle —
    * the previous explode + 64-conditional-sum aggregate shuffled every
    * token on doc_id, which is corpus-sized at scale. Identical signatures
    * (votes are commutative sums; spec pins expr ≡ agg ≡ HOF equality). */
  def simhashSignatures(documents: DataFrame): DataFrame =
    // null-text docs drop (parity with the agg form's explode drop) —
    // filtered on the cheap column predicate, never on the sig result
    documents.filter(col("text").isNotNull)
      .select(col("doc_id"),
        TextExpressions.simhash64(col("text")).as("sig"))

  /** The explode + aggregate formulation, kept for the three-way
    * equivalence spec (and as the shape to reach for if a weighted-token
    * simhash variant ever needs aggregate-side fusion). */
  private[graft] def simhashSignaturesAgg(documents: DataFrame): DataFrame = {
    val tok = documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("t"))
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
    val votes = (0 until 64).map(k =>
      sum(when(shiftright(col("h"), k).bitwiseAND(1L) === 1L, 1)
        .otherwise(-1)).as(s"v$k"))
    val packed = (0 until 64).map(k =>
      when(col(s"v$k") > 0, lit(1L << k)).otherwise(0L))
      .reduce((a, b) => a.bitwiseOR(b))
    tok.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .select(col("doc_id"), packed.as("sig"))
  }

  /** SimHash near-dup pairs: candidates block on any equal 16-bit quarter of
    * the signature (a hamming-distance ≤ 3 pair must agree on ≥1 of 4
    * bands), verified with `bit_count(xor) <= maxHamming`. */
  def simhashNearDups(documents: DataFrame, maxHamming: Int = 3): DataFrame = {
    val sigs = simhashSignatures(documents)
    val banded = sigs.select(col("doc_id"), col("sig"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("sig"), b * 16).bitwiseAND(0xFFFF)): _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "chunk")
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc1"), col("b.doc_id").as("doc2"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .dropDuplicates("doc1", "doc2")
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc1"), col("doc2"))
  }
}

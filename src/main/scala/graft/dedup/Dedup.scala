package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.text.TextFunctions

/** Deduplication operators for training-data pipelines: exact
  * (hash-groupBy), MinHash+LSH banding, n-gram Jaccard verification,
  * SimHash. All distributed-first: shuffles only on hash keys (never
  * on raw text), map-side combines everywhere, candidate generation
  * via LSH buckets instead of all-pairs.
  *
  * Hashing is md5-based so results are engine-independent (the DuckDB
  * oracle reproduces signatures exactly); min-over-hex-strings is the
  * minhash order. For raw throughput the md5 could be swapped for
  * xxhash64 — kept md5 for cross-engine verifiability.
  */
object Dedup {

  /** Exact duplicates: groups of identical normalized text. Output one
    * row per document that belongs to a duplicate group:
    * (id, fingerprint, group_size, canonical_id = min id). */
  def exactDuplicates(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val fp = TextFunctions.fingerprint(col(textCol))
    val w = Window.partitionBy(col("fingerprint"))
    df.select(col(idCol).as("id"), fp.as("fingerprint"))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("canonical_id", min(col("id")).over(w))
      .where(col("group_size") > 1)
      .select(col("id"), col("fingerprint"), col("group_size"), col("canonical_id"))
  }

  /** Corpus with exact duplicates REMOVED: one representative (the
    * minimum id) per normalized-content fingerprint — the filter step
    * a pipeline runs on [[exactDuplicates]]' findings before
    * training. Scale shape: the keep-set aggregates (fingerprint, id)
    * PAIRS with map-side combine — the text never rides that shuffle —
    * and the corpus then left-semi-joins on the id; AQE broadcasts the
    * keep-set when it is small, co-shuffles otherwise. */
  def removeExactDuplicates(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val fp = TextFunctions.fingerprint(col(textCol))
    val keep = df.select(col(idCol).as("_kid"), fp.as("_kfp"))
      .groupBy(col("_kfp")).agg(min(col("_kid")).as("_kid"))
    df.join(keep, df(idCol) === keep("_kid"), "left_semi")
  }

  /** Word k-shingles of a materialized WORD-ARRAY column. Callers
    * must bind the normalize+split to its own projection first —
    * referencing `split(...)` directly from the transform lambda
    * makes codegen re-run the whole tokenization once per shingle
    * position (the Decontaminate n-gram fix measured 6x on exactly
    * this shape). Fewer than k words yield an empty array. */
  def shinglesOfWords(words: Column, k: Int): Column =
    when(size(words) >= k,
      transform(sequence(lit(1), size(words) - (k - 1)),
        i => concat_ws(" ", slice(words, i, lit(k)))))
      .otherwise(array())

  /** Word k-shingles of the normalized text, as an array column.
    * Documents with fewer than k words yield an empty array.
    * Convenience form; hot paths go through [[shinglesOfWords]] with
    * a bound token column. */
  def shingles(text: Column, k: Int): Column =
    shinglesOfWords(split(TextFunctions.normalized(text), " "), k)

  /** Exploded (id, shingle) rows — the word array is bound to its own
    * projection so the shingle lambda slices a materialized array;
    * band fan-out happens on the exploded rows (an inner-transform
    * formulation re-evaluates the whole normalize+split+slice
    * pipeline per band — 8x the work). */
  private def explodedShingles(df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame =
    graft.core.Parallelism.ensure(df)
      .select(col(idCol).as("id"),
        split(TextFunctions.normalized(col(textCol)), " ").as("_w"))
      .select(col("id"), explode(shinglesOfWords(col("_w"), k)).as("sh"))

  /** Per-(doc, band) minhash rows: ONE md5 per shingle occurrence
    * yields a 28-bit base hash; each band applies an affine universal
    * hash `(2b+1)*H + 7919b + 13 mod 1e9+7` (integer arithmetic both
    * engines reproduce exactly; an md5-per-band variant costs 8x the
    * hashing). */
  /** Both md5-prefix reductions of each shingle occurrence in one
    * projection — `hv` (28-bit, minhash base) and `sh60` (60-bit,
    * Jaccard set key) come from ONE md5 per occurrence, so a pipeline
    * needing both ([[removeNearDuplicates]]) scans, normalizes,
    * shingles and hashes the corpus once. */
  private def hashedShingles(
      df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame =
    explodedShingles(df, textCol, idCol, k)
      .withColumn("_h", md5(col("sh").cast("binary")))
      .select(col("id"),
        conv(substring(col("_h"), 1, 7), 16, 10).cast("long").as("hv"),
        conv(substring(col("_h"), 1, 15), 16, 10).cast("long").as("sh60"))

  private def minhashOfHashes(hs: DataFrame, bands: Int): DataFrame =
    hs.select(col("id"), explode(sequence(lit(0), lit(bands - 1))).as("band"), col("hv"))
      .groupBy(col("id"), col("band"))
      .agg(min(((col("band") * 2 + 1) * col("hv") + col("band") * 7919 + 13) % 1000000007L).as("h"))

  private[dedup] def minhashRows(df: DataFrame, textCol: String, idCol: String,
      k: Int, bands: Int): DataFrame =
    minhashOfHashes(hashedShingles(df, textCol, idCol, k), bands)

  private def candidatePairsOf(sig: DataFrame): DataFrame = {
    // SHUFFLE_HASH (round 18): the bucket self-join has no downstream
    // sort-order consumer; sort-merge paid two sorts of the signature
    // rows per call
    val a = sig.as("a"); val b = sig.hint("shuffle_hash").as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.h") === col("b.h") &&
      col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
  }

  /** LSH candidate pairs: documents sharing any minhash band value
    * (banding with r=1 rows/band). Output distinct (id1 < id2).
    * The self-join key is (band, minhash) — tiny vs the corpus; no
    * all-pairs comparison ever materializes. */
  def lshCandidatePairs(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, bands: Int = 8): DataFrame =
    candidatePairsOf(minhashRows(df, textCol, idCol, k, bands))

  /** n-gram Jaccard similarity for candidate pairs:
    * |A∩B| / |A∪B| over distinct k-shingles. Pure joins + aggregates —
    * spills, scales, no driver state. Shingles are reduced to 60-bit
    * md5-prefix keys AT THE SCAN so the intersection joins shuffle
    * 8-byte longs, never raw shingle text (a 100-word document's
    * shingle text is ~20x its size; the hash collision odds at 2^60
    * are negligible and the set algebra is unchanged). */
  def ngramJaccard(
      df: DataFrame, pairs: DataFrame, textCol: String, idCol: String,
      k: Int = 3): DataFrame =
    jaccardOfHashes(hashedShingles(df, textCol, idCol, k), pairs)

  private def jaccardOfHashes(hs: DataFrame, pairs: DataFrame): DataFrame = {
    val sh = hs.select(col("id"), col("sh60").as("sh")).distinct()
    val counts = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = pairs
      .join(sh.as("s1"), col("id1") === col("s1.id"))
      .join(sh.as("s2"), col("id2") === col("s2.id") && col("s1.sh") === col("s2.sh"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("inter"))
    pairs
      .join(inter, Seq("id1", "id2"), "left")
      .join(counts.select(col("id").as("id1"), col("n").as("n1")), Seq("id1"))
      .join(counts.select(col("id").as("id2"), col("n").as("n2")), Seq("id2"))
      .select(col("id1"), col("id2"),
        round(coalesce(col("inter"), lit(0L)).cast("double") /
          (col("n1") + col("n2") - coalesce(col("inter"), lit(0L))).cast("double"), 6)
          .as("jaccard"))
  }

  /** End-to-end near-duplicate REMOVAL — the filter a training
    * pipeline actually runs, composed from the verified parts:
    * [[lshCandidatePairs]] (banded minhash candidates, never
    * all-pairs) → [[ngramJaccard]] ≥ `threshold` (exact shingle-set
    * verification of candidates only) → [[duplicateClusters]]
    * (connected components, so transitive near-dup chains collapse to
    * ONE survivor, not one per pairwise edge) → keep each cluster's
    * minimum id plus every unclustered document. The drop set is
    * id-only — document text rides no shuffle beyond the shingle
    * scans — and the final keep is one left-anti join AQE broadcasts
    * while the drop set is small. */
  def removeNearDuplicates(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, bands: Int = 8, threshold: Double = 0.7): DataFrame = {
    require(threshold >= 0.0 && threshold <= 1.0,
      s"jaccard threshold must be in [0, 1], got $threshold")
    // Loud failure instead of a silent no-op (ADVICE r17): clustering
    // casts ids to long, and a non-numeric id (string doc keys) casts
    // to NULL — the drop set empties and the anti join keeps every
    // near-duplicate without any error. Map string ids to a surrogate
    // long (xxhash64 / monotonically_increasing_id) before calling.
    val idType = df.schema(idCol).dataType
    require(idType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"removeNearDuplicates requires a numeric id column (the cluster " +
      s"ids it drops by are longs); got $idCol: ${idType.simpleString} — " +
      "derive a surrogate long id (e.g. xxhash64) first")
    // ONE corpus scan: the hashed-shingle frame (both md5 prefixes
    // from one md5 per occurrence) is RDD-materialized once, so the
    // minhash and Jaccard branches read cached partitions instead of
    // re-scanning + re-normalizing + re-hashing the corpus. An
    // exchange barrier here coalesces to a handful of tasks at gate
    // scale and makes every consumer pay a shuffle re-read; the RDD
    // cache keeps the scan's width and block-local reads.
    val hs = graft.core.Materialize(hashedShingles(df, textCol, idCol, k))
    val cand = candidatePairsOf(minhashOfHashes(hs, bands))
    val dup = jaccardOfHashes(hs, cand)
      .where(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"))
    val drop = duplicateClusters(dup)
      .where(col("id") =!= col("cluster_id"))
      .select(col("id").as("_dropid"))
    df.join(drop, col(idCol).cast("long") === col("_dropid"), "left_anti")
  }

  /** End-to-end SimHash near-duplicate removal —
    * [[removeNearDuplicates]]' sibling on the 64-bit signature path:
    * [[simhash64Pairs]] banded Hamming-neighbor edges →
    * [[duplicateClusters]] connected components → keep each cluster's
    * minimum id plus every unclustered document. Star compression
    * above `identicalCliqueCap` changes only the explicit pair list,
    * never the components, so the survivor set is cap-invariant. */
  def removeNearDuplicatesSimhash(
      df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, identicalCliqueCap: Int = 1024): DataFrame = {
    val idType = df.schema(idCol).dataType
    require(idType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"removeNearDuplicatesSimhash requires a numeric id column; got " +
      s"$idCol: ${idType.simpleString} — derive a surrogate long id first")
    val pairs = simhash64Pairs(df, textCol, idCol, maxHamming, identicalCliqueCap)
      .select(col("id1"), col("id2"))
    val drop = duplicateClusters(pairs)
      .where(col("id") =!= col("cluster_id"))
      .select(col("id").as("_dropid"))
    df.join(drop, col(idCol).cast("long") === col("_dropid"), "left_anti")
  }

  /** 16-bit SimHash (oracle-checkable size; [[simhash64]] is the
    * production variant): per distinct token, md5 hex digit j's low bit
    * votes ±count for bit j; bit set iff the vote sum is positive. */
  def simhash16(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // Votes are occurrence-weighted, so the old distinct-(id, token)
    // aggregate was unnecessary: summing ±1 per OCCURRENCE equals
    // summing ±count per distinct token, bit for bit. Dropping it
    // (round 17) removes a whole shuffle AND keeps the md5 + 16-way
    // bit fan-out in the wide scan stage — AQE had coalesced the tiny
    // (id, token) shuffle to one task and serialized that CPU onto it
    // (an 0.86 s single-task stage at sf0.1). The only shuffles left
    // carry (id, bit) partial votes: ≤ 16 rows per id after map-side
    // combine. (md5 stays a per-row projection — Catalyst does not
    // inline it into the transform lambda across the Generate.)
    val toks = graft.core.Parallelism.ensure(df).select(col(idCol).as("id"),
        explode(split(TextFunctions.normalized(col(textCol)), " ")).as("tok"))
      .where(col("tok") =!= "")
      .withColumn("h", md5(col("tok").cast("binary")))
    val bits = toks.select(col("id"), posexplode(
      transform(sequence(lit(0), lit(15)),
        j => conv(substring(col("h"), 1, 16).substr(j + 1, lit(1)), 16, 10).cast("int") % 2))
      .as(Seq("bit", "v")))
    bits
      .groupBy(col("id"), col("bit"))
      .agg(sum(when(col("v") === 1, 1L).otherwise(-1L)).as("vote"))
      .groupBy(col("id"))
      .agg(sum(when(col("vote") > 0, expr("shiftleft(CAST(1 AS BIGINT), bit)")).otherwise(0L)).as("simhash"))
  }

  /** SimHash near-duplicate pairs: banded Hamming-neighbor join over
    * the 16-bit signatures. Each signature splits into 4 disjoint
    * 4-bit chunks; documents sharing any (chunk index, chunk value)
    * become candidates (pigeonhole: pairs within Hamming distance 3
    * differ in at most 3 chunks, so at least one chunk matches —
    * recall is exact for `maxHamming <= 3`). Exact Hamming distance
    * filters candidates. The join key is (band, nibble) — tiny vs the
    * corpus, never all-pairs. Output: (id1, id2, hamming), id1 < id2. */
  def simhashPairs(
      df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4 bands of 4 bits guarantee full recall only for maxHamming <= 3, got $maxHamming")
    val sig = simhash16(df, textCol, idCol)
    val banded = sig.select(col("id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("ck", expr("(simhash >> (band * 4)) & 15"))
    // explicit (AQE-respected) width for the candidate join: its INPUT
    // is tiny (4 rows per doc), so AQE coalesces the reader to one
    // partition — but the join EXPANDS quadratically within each
    // (band, nibble) group (~|group|^2/2 candidate pairs), and the
    // whole expansion+verify ran serial on that one task. Partitioning
    // by the join key keeps the expansion parallel; the 64-key space
    // (4 bands x 16 nibbles) bounds the spread — an inherent skew
    // residual of coarse signatures, same class as contig keys.
    val w = df.sparkSession.sparkContext.defaultParallelism
    val a = banded.repartition(w, col("band"), col("ck"))
      .select(col("id").as("id1"), col("simhash").as("_s1"),
        col("band"), col("ck"))
    // SHUFFLE_HASH (round 18): the banded self-join needs no sort
    // order downstream — sort-merge paid two sorts of the banded rows
    // per pair query; per-partition hash tables are bounded by the
    // band/chunk key space
    val b = banded.hint("shuffle_hash")
      .select(col("id").as("id2"), col("simhash").as("_s2"),
        col("band").as("_band2"), col("ck").as("_ck2"))
    a.join(b, col("band") === col("_band2") && col("ck") === col("_ck2") &&
        col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        expr("CAST(bit_count(_s1 ^ _s2) AS INT)").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** 64-bit SimHash as a DataFrame column op (the production width,
    * oracle-gated): per distinct token, md5 hex digit `j div 4`'s bit
    * `j mod 4` votes ±count for signature bit j — all 64 bits of the
    * first 16 hex digits. Bit 63 is the SIGN bit: it contributes
    * Long.MinValue to the sum (both engines' 64-bit two's-complement
    * word; DuckDB errors on `1 << 63`, so the oracle spells the same
    * constant) — the per-id sum of distinct powers never leaves the
    * signed range, so Spark's wrapping Long sum and DuckDB's
    * HUGEINT-then-cast sum agree bit for bit. */
  def simhash64Df(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // Round 18 (VERDICT r17 #1): the round-17 per-occurrence rewrite
    // kept the shuffle win but ran the 64-way bit fan-out per token
    // OCCURRENCE — a 3× CPU regression on repetitive text at this
    // width (the 16-bit family absorbs it; 64-bit does not). The
    // votes depend only on the md5 prefix, so occurrences aggregate
    // to (id, prefix) → count FIRST (8+16-byte keys, map-side
    // combine), and the fan-out runs once per DISTINCT hash. It is
    // also no longer a posexplode: the 16 hex digits decode once per
    // distinct hash (16 convs, was 64 per occurrence) and all 64
    // votes accumulate as aggregate columns of ONE groupBy(id) —
    // no 64× row expansion, and one shuffle fewer than either prior
    // formulation (occurrences → distinct-hash counts → per-id vote
    // vector; the (id, bit) exchange is gone).
    val toks = graft.core.Parallelism.ensure(df).select(col(idCol).as("id"),
        explode(split(TextFunctions.normalized(col(textCol)), " ")).as("tok"))
      .where(col("tok") =!= "")
      .select(col("id"),
        substring(md5(col("tok").cast("binary")), 1, 16).as("h"))
    // ONE explicit exchange keyed on id: HashPartitioning(id) satisfies
    // both downstream groupings ((id, h) and (id)), so the distinct
    // count, digit decode, and vote aggregate all run in a single
    // full-width stage — an implicit (id, h) aggregate exchange here
    // gets AQE-coalesced to one task (~4 MB of distinct hashes at
    // sf0.1) and serializes the decode CPU, the round-15 failure mode.
    val w = df.sparkSession.sparkContext.defaultParallelism
    val dist = toks.repartition(w, col("id"))
      .groupBy(col("id"), col("h")).agg(count(lit(1)).as("cnt"))
    val digits = dist.select(
      (Seq(col("id"), col("cnt")) ++ (0 until 16).map(i =>
        conv(substring(col("h"), i + 1, 1), 16, 10).cast("int").as(s"d$i"))): _*)
    val votes = digits.groupBy(col("id")).agg(
      sum(when((col("d0") % 2) === 1, col("cnt")).otherwise(-col("cnt"))).as("v0"),
      (1 until 64).map { j =>
        sum(when(shiftright(col(s"d${j / 4}"), j % 4) % 2 === 1, col("cnt"))
          .otherwise(-col("cnt"))).as(s"v$j")
      }: _*)
    val sig = (1 until 63).foldLeft(
        when(col("v0") > 0, 1L).otherwise(0L)) { (acc, j) =>
      acc + when(col(s"v$j") > 0, 1L << j).otherwise(0L)
    } + when(col("v63") > 0, Long.MinValue).otherwise(0L)
    votes.select(col("id"), sig.as("simhash"))
  }

  /** SimHash near-duplicate pairs over the PRODUCTION 64-bit
    * signatures: 4 disjoint 16-bit chunks, documents sharing any
    * (chunk index, chunk value) become candidates — the same
    * pigeonhole as [[simhashPairs]] (full recall for Hamming ≤ 3),
    * but the candidate-join key space is 4 bands × 65,536 chunk
    * values (262,144 keys), so the quadratic per-group expansion
    * spreads across the cluster instead of 64 coarse buckets. The
    * chunk mask (& 65535) makes arithmetic-vs-logical shift of the
    * sign bit irrelevant. Output: (id1, id2, hamming), id1 < id2.
    *
    * Hot-group guard (the 100 TB degenerate case): a signature shared
    * VERBATIM by a huge document class — boilerplate pages, template
    * spam — would put all its members in the same four (band, chunk)
    * groups and expand |class|²/2 pairs on single keys, a job-killer
    * at corpus scale. Identical-signature classes larger than
    * `identicalCliqueCap` therefore emit a linear STAR instead of the
    * full clique — every member pairs with the class minimum id at
    * Hamming 0 — and only the class representative enters the banded
    * join (cross-signature candidates connect through it). Connected
    * components, and thus [[duplicateClusters]] output, are identical
    * to the clique formulation; only the explicit pair list is
    * star-compressed, and ONLY above the cap (small classes keep
    * emitting full cliques, so fixed-scale gates are unchanged). */
  def simhash64Pairs(
      df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, identicalCliqueCap: Int = 1024): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4 bands of 16 bits guarantee full recall only for maxHamming <= 3, got $maxHamming")
    require(identicalCliqueCap >= 1, s"identicalCliqueCap must be >= 1")
    val sig = simhash64Df(df, textCol, idCol)
    // per-signature class size + representative (min id), one window
    // over the signature hash — shuffles on simhash, never a key with
    // more rows than the class itself
    val sw = org.apache.spark.sql.expressions.Window.partitionBy(col("simhash"))
    val g = sig.withColumn("_rep", min(col("id")).over(sw))
      .withColumn("_n", count(lit(1)).over(sw))
    val star = g.where(col("_n") > identicalCliqueCap && col("id") =!= col("_rep"))
      .select(col("_rep").as("id1"), col("id").as("id2"),
        lit(0).cast("int").as("hamming"))
    val kept = g.where(col("_n") <= identicalCliqueCap || col("id") === col("_rep"))
      .select(col("id"), col("simhash"))
    val banded = kept.select(col("id"), col("simhash"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("ck", expr("(simhash >> (band * 16)) & 65535"))
    // explicit width for the same reason as [[simhashPairs]]: the
    // banded input is tiny in bytes, so AQE coalesces the reader, but
    // the join expands ~|group|^2/2 within each (band, chunk) group
    val w = df.sparkSession.sparkContext.defaultParallelism
    val a = banded.repartition(w, col("band"), col("ck"))
      .select(col("id").as("id1"), col("simhash").as("_s1"),
        col("band"), col("ck"))
    // SHUFFLE_HASH: same rationale as [[simhashPairs]]
    val b = banded.hint("shuffle_hash")
      .select(col("id").as("id2"), col("simhash").as("_s2"),
        col("band").as("_band2"), col("ck").as("_ck2"))
    a.join(b, col("band") === col("_band2") && col("ck") === col("_ck2") &&
        col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        expr("CAST(bit_count(_s1 ^ _s2) AS INT)").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
      .unionByName(star)
  }

  /** 64-bit SimHash computed from md5 bytes in Scala (per-row library
    * hot path; the DataFrame variant [[simhash64Df]] is the
    * oracle-gated one — this byte-order formulation is covered by
    * unit tests). */
  def simhash64(tokens: Seq[String]): Long = {
    val votes = new Array[Long](64)
    val mdProto = java.security.MessageDigest.getInstance("MD5")
    tokens.foreach { t =>
      val d = mdProto.digest(t.getBytes("UTF-8"))
      var j = 0
      while (j < 64) {
        val bit = (d(j / 8) >> (7 - j % 8)) & 1
        votes(j) += (if (bit == 1) 1L else -1L)
        j += 1
      }
      mdProto.reset()
    }
    var sig = 0L
    var j = 0
    while (j < 64) { if (votes(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  /** Connected-component cluster assignment over a near-duplicate
    * pair set — the step a training-data pipeline runs after candidate
    * verification to pick one representative per duplicate group
    * (cluster id = smallest member id, the usual keep-lowest policy).
    *
    * Alternating min-label propagation: each iteration joins the
    * (symmetric) edge list against the current labels and takes the
    * neighborhood minimum, converging in O(component diameter)
    * rounds — near-dup clusters are shallow, so the driver loop runs
    * a handful of shuffles keyed on the vertex id and the only
    * driver-side values are the convergence counts. Deterministic:
    * the fixpoint is the component-minimum id regardless of iteration
    * order. Output: (id, cluster_id) for every vertex of a fully
    * NON-NULL pair — a pair with a null endpoint is dropped whole
    * (null ids cannot ride an equi-join), so a non-null id whose only
    * partner is null does not appear; near-dup edge producers in this
    * module never emit null endpoints.
    */
  def duplicateClusters(pairs: DataFrame, maxRounds: Int = 64,
      reliable: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions._
    // Pairs with a null endpoint are dropped WHOLE up front (ADVICE
    // r16/r17): the propagation hop is an equi-join on the vertex id,
    // and SQL's null === null is null — a null-id vertex would
    // silently vanish after the first hop rather than cluster, so the
    // documented contract is "every vertex of a fully non-null pair".
    val (p0, p0Rdd) = graft.core.Materialize.handle(
      pairs.select(col("id1").cast("long").as("a"), col("id2").cast("long").as("b"))
        .where(col("a").isNotNull && col("b").isNotNull),
      reliable)
    val sym = p0.unionByName(p0.select(col("b").as("a"), col("a").as("b")))
    // SELF-LOOPS fold the min(own, neighbors) step into the
    // neighborhood aggregate itself, so a propagation hop is ONE join
    // + ONE aggregate instead of join + groupBy + join-back (round 16:
    // the loop ran 84 scheduled stages / 1,564 tasks per sf0.1 call,
    // pure scheduler latency on ~500-row label frames). The edge list
    // is partitioned ON THE JOIN KEY once before the persist — every
    // hop previously re-shuffled all 2|E| edge rows (at cluster scale
    // the dominant per-round cost; at gate scale seven 64-task
    // zero-row stages per pass).
    //
    // Scale-adaptive loop width (round 18): the explicit repartition
    // pins EVERY hop join of the loop to this width, so a full-width
    // loop over a few hundred edges schedules 32 near-empty tasks per
    // hop stage — pure scheduler latency (d_dup_clusters: 561 tasks,
    // taskSec ~0.2 of a 1.2 s wall). Derive the width from the edge
    // count instead: ~64k 16-byte edge rows per partition stays far
    // below spill territory, and any cluster-scale edge list saturates
    // the session's full parallelism. The count job is free — the
    // materialization above already computed and cached the blocks.
    val w = math.min(
      pairs.sparkSession.sparkContext.defaultParallelism.toLong,
      p0Rdd.count() / 65536L + 1L).toInt
    val edges = sym
      .unionByName(sym.select(col("a")).distinct()
        .select(col("a"), col("a").as("b")))
      .repartition(w, col("b"))
      .persist()
    // Materialize.handle both caches the label table AND truncates its
    // LOGICAL plan — a plain persist keeps the full lineage, and since
    // every hop references `next` on both join sides the un-truncated
    // plan grows 8x per round (2^3 subtree copies), blowing up Catalyst
    // canonicalization after a few rounds. With the lineage cut, each
    // round's plan is constant size, and the returned RDD handle lets
    // the loop RELEASE the superseded generation (round 6 accumulated
    // one resident localCheckpoint per round for the whole session).
    // `reliable = true` routes every materialization through a
    // durable RDD.checkpoint (sc.setCheckpointDir required): on a real
    // cluster a local checkpoint dies WITH a lost executor — and its
    // truncated lineage cannot recompute — killing the whole loop.
    var (labels, labelsRdd) = graft.core.Materialize.handle(
      sym.select(col("a").as("id")).distinct().withColumn("lbl", col("id")),
      reliable)
    // what the round's hops READ: the previous round's labels composed
    // with themselves (pointer jump) — see the loop comment below
    var labelsIn = labels
    var changed = 1L
    var round = 0
    // THREE propagation hops + one pointer jump compose lazily between
    // materializations: the convergence check (the per-round fixed-cost
    // Spark job) runs once per round, shallow components converge in
    // one or two materialized rounds instead of paying scheduler
    // latency per hop, and the jump doubles the covered radius per
    // round so deep chains converge in O(log diameter) rounds.
    // The loop runs to CONVERGENCE (changed == 0) — min-label
    // propagation always reaches the component-minimum fixpoint in
    // O(diameter) hops — and `maxRounds` is only a runaway guard that
    // fails loudly instead of silently returning non-converged labels
    // that would diverge from the recursive-CTE oracle.
    while (changed > 0) {
      if (round >= maxRounds) {
        edges.unpersist(); labelsRdd.unpersist(false)
        throw new IllegalStateException(
          s"duplicateClusters did not converge in $maxRounds rounds " +
          "(each 3 hops plus a pointer jump; the covered radius doubles per " +
          "round) — component diameter exceeds the guard; raise maxRounds")
      }
      // Convergence = the LAST hop was a no-op (round 17; labels only
      // ever DECREASE, so h(L) == L is the fixpoint test): the final
      // hop's aggregate also emits the vertex's own ENTERING label via
      // the self-loop row (only the b == a row matches the when()),
      // and changed == rows where the hop still lowered it. The old
      // round-START comparison needed one full extra round of hops
      // just to observe "nothing changed" whenever the work finished
      // mid-round — at gate scale that was ~40% of the loop's stages.
      var next = labelsIn
      for (h <- 0 until 3) {
        val joined = edges
          .join(next.withColumnRenamed("id", "_nid"), col("b") === col("_nid"))
          .groupBy(col("a"))
        next = (if (h < 2)
          joined.agg(min(col("lbl")).as("lbl"))
        else
          joined.agg(min(col("lbl")).as("lbl"),
            min(when(col("b") === col("a"), col("lbl"))).as("lbl0")))
          .withColumnRenamed("a", "id")
      }
      val (mat, matRdd) = graft.core.Materialize.handle(
        next.select(col("id"), col("lbl"), col("lbl0")), reliable)
      changed = mat.where(col("lbl") =!= col("lbl0")).count()
      labelsRdd.unpersist(false)
      labels = mat.select(col("id"), col("lbl"))
      // POINTER JUMP (round 19, VERDICT r18 #4): the NEXT round's input
      // composes the materialized labels with themselves —
      // lbl ← lbl(lbl). Every label value is a vertex id present in
      // the label table (labels start as ids and propagate only ids),
      // so the inner self-join is total, and it runs over the
      // MATERIALIZED table (a leaf), never duplicating the hop
      // subtree. Covered radius per round roughly doubles
      // (a_k ≈ 2·a_{k-1} + 3: 3, 9, 21, 45, 93, …), turning
      // O(diameter) rounds into O(log diameter) on chain-shaped
      // components for one extra tiny label⋈label join per round —
      // and the join is LAZY, so the converged (confirm) round never
      // executes it. The fixpoint test is unchanged and stays sound:
      // labels only ever decrease and the jump is monotone
      // (lbl(u) ≤ u), so hop(L) == L still pins the one-hop fixpoint,
      // the component minimum — and jump(fixpoint) == fixpoint, so the
      // returned labels ARE the converged table.
      labelsIn = mat.join(
          mat.select(col("id").as("_jid"), col("lbl").as("_jlbl")),
          col("lbl") === col("_jid"))
        .select(col("id"), col("_jlbl").as("lbl"))
      labelsRdd = matRdd
      round += 1
    }
    edges.unpersist()
    if (sys.env.contains("GRAFT_CC_LOG"))
      // scalastyle:off println
      println(s"  [cc] converged rounds=$round width=$w")
      // scalastyle:on println
    labels.select(col("id"), col("lbl").as("cluster_id"))
  }
}

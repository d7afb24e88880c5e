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
  * oracle reproduces signatures exactly); the minhash order is the
  * numeric order of an integer affine hash over each shingle's md5
  * prefix ([[bandSignature]]). For raw throughput the md5 could be
  * swapped for xxhash64 — kept md5 for cross-engine verifiability.
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

  /** One row per document, `(id, hv, sh60, carry...)`: `hv` holds the
    * 28-bit md5 prefix of each shingle occurrence (the minhash base
    * hash), `sh60` the distinct 60-bit prefixes (the Jaccard set), both
    * from ONE md5 per shingle. Fewer than k words give empty arrays.
    * The word array and the md5 array are each bound in their own
    * projection, so no lambda re-runs the tokenization or the md5.
    * `carry` columns pass through by name. Starts no job and measures
    * no plan, so it runs on streaming frames too. */
  private[graft] def shingleHashes(df: DataFrame, id: Column, text: Column, k: Int,
      carry: Seq[Column] = Nil): DataFrame = {
    def prefix(h: Column, hexDigits: Int) = conv(substring(h, 1, hexDigits), 16, 10).cast("long")
    df.select(Seq(id.as("id"), split(TextFunctions.normalized(text), " ").as("_w")) ++ carry: _*)
      .select(Seq(col("id"),
        transform(shinglesOfWords(col("_w"), k), s => md5(s.cast("binary"))).as("_h")) ++ carry: _*)
      .select(Seq(col("id"), transform(col("_h"), prefix(_, 7)).as("hv"),
        array_distinct(transform(col("_h"), prefix(_, 15))).as("sh60")) ++ carry: _*)
  }

  /** [[shingleHashes]] of a batch corpus, widened first when its scan
    * under-parallelizes. */
  private def hashedShingles(
      df: DataFrame, textCol: String, idCol: String, k: Int): DataFrame =
    shingleHashes(graft.core.Parallelism.ensure(df), col(idCol), col(textCol), k)

  /** The minhash band signature of a document's `hv` array, as a
    * generator of `(band, h)` rows: band b's `h` is the minimum of the
    * affine universal hash `(2b+1)*hv + 7919b + 13 mod 1e9+7` (integer
    * arithmetic both engines reproduce exactly; an md5-per-band variant
    * costs 8x the hashing). Map-only, so it runs upstream of streaming
    * state as well as in batch. An empty `hv` (fewer than k words)
    * yields no rows. */
  def bandSignature(hv: Column, bands: Int): Column =
    inline(when(size(hv) > 0, transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band"),
        array_min(transform(hv, h => ((b * 2 + 1) * h + b * 7919 + 13) % 1000000007L)).as("h")))))

  /** Minhash candidate pairs of [[shingleHashes]] rows: documents
    * sharing any [[bandSignature]] `(band, h)` become candidates —
    * never all-pairs. Not [[simhashBandedPairs]]: the keys (~1e9
    * values per band) form tiny groups, so AQE sizes the exchange,
    * nothing needs verifying, and the distinct keeps its map-side
    * partial aggregate, which drops a pair's per-band copies before
    * they shuffle. No star guard: equal minhash vectors do not imply
    * equal shingle sets. SHUFFLE_HASH: no sort order is needed
    * downstream. Output: distinct (id1 < id2). */
  private def minhashPairs(hs: DataFrame, bands: Int): DataFrame = {
    val sig = hs.select(col("id"), bandSignature(col("hv"), bands))
    val a = sig.as("a"); val b = sig.hint("shuffle_hash").as("b")
    a.join(b, col("a.band") === col("b.band") && col("a.h") === col("b.h") &&
      col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
  }

  /** The banded self-join behind both SimHash widths (the banded
    * tables of Manku, Jain & Das Sarma, WWW 2007): each `(id, simhash)`
    * row fans out to 4 `(band, key)` rows, key = the band's disjoint
    * `chunkBits`-bit chunk of the signature, and documents sharing any
    * (band, key) become candidates — pigeonhole: pairs within Hamming
    * distance 3 differ in at most 3 chunks, so at least one chunk
    * matches and recall is exact for `maxHamming <= 3`. Candidates are
    * verified by exact Hamming distance. The chunk mask makes
    * arithmetic-vs-logical shift of the sign bit irrelevant.
    * Output: distinct (id1, id2, hamming), id1 < id2.
    *
    * Identical-signature star guard: a signature shared VERBATIM by a
    * huge class — boilerplate pages, template spam — puts all its
    * members in the same (band, key) groups and would expand
    * |class|²/2 pairs on single keys. Classes larger than
    * `identicalCliqueCap` therefore emit a linear STAR — every member
    * pairs with the class minimum id at Hamming 0 — and only that
    * representative enters the banded join (cross-signature candidates
    * connect through it). An identical signature is at Hamming 0, so
    * connected components, and thus [[duplicateClusters]] output, equal
    * the clique formulation's; classes at or below the cap keep
    * emitting full cliques. */
  private def simhashBandedPairs(sig: DataFrame, chunkBits: Int,
      maxHamming: Int, identicalCliqueCap: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4 bands of $chunkBits bits guarantee full recall only for maxHamming <= 3, got $maxHamming")
    require(identicalCliqueCap >= 1, s"identicalCliqueCap must be >= 1")
    // class size + representative (min id) in one window over the
    // signature — shuffles on it, never a key with more rows than the
    // class itself
    val sw = Window.partitionBy(col("simhash"))
    val g = sig.withColumn("_rep", min(col("id")).over(sw))
      .withColumn("_n", count(lit(1)).over(sw))
    val star = g.where(col("_n") > identicalCliqueCap && col("id") =!= col("_rep"))
      .select(col("_rep").as("id1"), col("id").as("id2"), lit(0).as("hamming"))
    val banded = g.where(col("_n") <= identicalCliqueCap || col("id") === col("_rep"))
      .select(col("id"), col("simhash").as("sig"), posexplode(array((0 until 4).map(b =>
        shiftright(col("simhash"), b * chunkBits).bitwiseAND((1L << chunkBits) - 1)): _*))
        .as(Seq("band", "key")))
    // Both sides read the SAME (band, key) exchange (reused), so the
    // banded rows shuffle once. The keys are coarse (16 or 65,536
    // values per band): the banded input is tiny in bytes, so AQE would
    // coalesce the reader to one partition while the join EXPANDS
    // ~|group|²/2 candidate pairs within each group, serial on that
    // task — so the exchange pins the session's full width.
    // SHUFFLE_HASH: no sort order is needed downstream; sort-merge paid
    // two sorts of the banded rows per call.
    val byKey = banded.repartition(
      sig.sparkSession.sparkContext.defaultParallelism, col("band"), col("key"))
    def side(i: Int) = byKey.select(byKey.columns.toSeq.map(c => col(c).as(s"$c$i")): _*)
    side(1).join(side(2).hint("shuffle_hash"),
        col("band1") === col("band2") && col("key1") === col("key2") &&
          col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        expr("CAST(bit_count(sig1 ^ sig2) AS INT)").as("hamming"))
      .where(col("hamming") <= maxHamming)
      // the distinct shuffles BEFORE it aggregates: a map-side partial
      // distinct held a task's whole candidate expansion in one hash map
      // (116 MB peak task memory on the 16-bit skew-probe corpus; 52 MB
      // with this exchange). No explicit width here: AQE coalesces the
      // pairs to a few partitions when they are few, and consumers that
      // keep the partitioning (duplicateClusters) pay per task.
      .repartition(col("id1"), col("id2")).distinct()
      .unionByName(star)
  }

  /** LSH candidate pairs: documents sharing any minhash band value
    * (banding with r=1 rows/band). Output distinct (id1 < id2). */
  def lshCandidatePairs(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, bands: Int = 8): DataFrame =
    minhashPairs(hashedShingles(df, textCol, idCol, k), bands)

  /** n-gram Jaccard similarity for candidate pairs:
    * |A∩B| / |A∪B| over distinct k-shingles, one output row per input
    * pair (a repeated pair repeats). A pair is dropped when an id is
    * absent from `df` or a side has no shingle (fewer than k words).
    * Shingles are 60-bit md5-prefix keys (the collision odds at 2^60
    * are negligible and the set algebra is unchanged); ids are assumed
    * unique in `df`. */
  def ngramJaccard(
      df: DataFrame, pairs: DataFrame, textCol: String, idCol: String,
      k: Int = 3): DataFrame =
    jaccardOfHashes(hashedShingles(df, textCol, idCol, k), pairs)

  /** Each pair meets its two documents' `sh60` arrays by id — two joins
    * on the id, no shingle-level rows — and the set algebra runs on the
    * arrays. The empty-side drop references BOTH sides on purpose: a
    * one-sided predicate on a hash array is pushed below the input's
    * round-robin repartition and runs the whole normalize/shingle/md5
    * pipeline on the scan's few tasks. */
  private def jaccardOfHashes(hs: DataFrame, pairs: DataFrame): DataFrame = {
    def side(i: Int) = hs.select(col("id").as(s"id$i"), col("sh60").as(s"_s$i"))
    val (a, b) = (col("_s1"), col("_s2"))
    val inter = size(array_intersect(a, b))
    pairs.join(side(1), "id1").join(side(2), "id2")
      .where(least(size(a), size(b)) > 0)
      .select(col("id1"), col("id2"),
        round(inter.cast("double") / (size(a) + size(b) - inter).cast("double"), 6)
          .as("jaccard"))
  }

  /** The removal tail both near-duplicate filters share: connected
    * components of `pairs` ([[duplicateClusters]], so transitive
    * near-dup chains collapse to ONE survivor, not one per pairwise
    * edge), then keep each cluster's minimum id plus every unclustered
    * document. The drop set is id-only and the keep is one left-anti
    * join AQE broadcasts while the drop set is small. `pairs` is by
    * name: the id check runs before any of it is built. */
  private def keepClusterMinima(df: DataFrame, idCol: String, op: String)(
      pairs: => DataFrame): DataFrame = {
    // Loud failure instead of a silent no-op (ADVICE r17): clustering
    // casts ids to long, and a non-numeric id (string doc keys) casts
    // to NULL — the drop set empties and the anti join keeps every
    // near-duplicate without any error. Map string ids to a surrogate
    // long (xxhash64 / monotonically_increasing_id) before calling.
    val idType = df.schema(idCol).dataType
    require(idType.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"$op requires a numeric id column (the cluster ids it drops by " +
      s"are longs); got $idCol: ${idType.simpleString} — derive a " +
      "surrogate long id (e.g. xxhash64) first")
    val drop = duplicateClusters(pairs)
      .where(col("id") =!= col("cluster_id"))
      .select(col("id").as("_dropid"))
    df.join(drop, col(idCol).cast("long") === col("_dropid"), "left_anti")
  }

  /** End-to-end near-duplicate REMOVAL — the filter a training
    * pipeline actually runs, composed from the verified parts:
    * [[lshCandidatePairs]] (banded minhash candidates, never
    * all-pairs) → [[ngramJaccard]] ≥ `threshold` (exact shingle-set
    * verification of candidates only) → [[duplicateClusters]] → keep
    * each cluster's minimum id plus every unclustered document.
    * Document text rides no shuffle beyond the shingle scans. */
  def removeNearDuplicates(
      df: DataFrame, textCol: String, idCol: String,
      k: Int = 3, bands: Int = 8, threshold: Double = 0.7): DataFrame = {
    require(threshold >= 0.0 && threshold <= 1.0,
      s"jaccard threshold must be in [0, 1], got $threshold")
    keepClusterMinima(df, idCol, "removeNearDuplicates") {
      // ONE corpus scan: the per-document hash frame (both arrays from
      // one md5 per shingle) is RDD-materialized once, so the
      // minhash and Jaccard branches read cached partitions instead of
      // re-scanning + re-normalizing + re-hashing the corpus. An
      // exchange barrier here coalesces to a handful of tasks at gate
      // scale and makes every consumer pay a shuffle re-read; the RDD
      // cache keeps the scan's width and block-local reads.
      val hs = graft.core.Materialize(hashedShingles(df, textCol, idCol, k))
      jaccardOfHashes(hs, minhashPairs(hs, bands)).where(col("jaccard") >= threshold)
    }
  }

  /** End-to-end SimHash near-duplicate removal —
    * [[removeNearDuplicates]]' sibling on the 64-bit signature path:
    * [[simhash64Pairs]] banded Hamming-neighbor edges →
    * [[duplicateClusters]] → keep each cluster's minimum id plus every
    * unclustered document. Star compression above `identicalCliqueCap`
    * changes only the explicit pair list, never the components, so the
    * survivor set is cap-invariant. */
  def removeNearDuplicatesSimhash(
      df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, identicalCliqueCap: Int = 1024): DataFrame =
    keepClusterMinima(df, idCol, "removeNearDuplicatesSimhash")(
      simhash64Pairs(df, textCol, idCol, maxHamming, identicalCliqueCap))

  /** SimHash signature kernel `(id, simhash)`: per distinct token, md5
    * hex digit `j div 4`'s bit `j mod 4` votes ±count for vote bit j
    * (j in 0..63, the first 16 hex digits), and `bits(p)`'s vote sets
    * signature bit p iff its sum is positive. Position 63 is the SIGN
    * bit (`1L << 63` is Long.MinValue, the two's-complement word both
    * engines use; DuckDB errors on `1 << 63`, so the oracle spells the
    * constant). */
  private def simhashOf(df: DataFrame, textCol: String, idCol: String,
      bits: Seq[Int]): DataFrame = {
    // Votes depend only on the md5 prefix, so occurrences aggregate to
    // (id, prefix) → count FIRST (map-side combine) and the bit fan-out
    // runs once per DISTINCT hash, not per occurrence (a 3× CPU cost on
    // repetitive text at 64 bits). No posexplode: the 16 hex digits
    // decode once per distinct hash and every vote is an aggregate
    // column of ONE groupBy(id) — no per-bit row expansion and no
    // (id, bit) exchange.
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
    // sf0.1) and serializes the decode CPU.
    val w = df.sparkSession.sparkContext.defaultParallelism
    val dist = toks.repartition(w, col("id"))
      .groupBy(col("id"), col("h")).agg(count(lit(1)).as("cnt"))
    val digits = dist.select(
      (Seq(col("id"), col("cnt")) ++ (0 until 16).map(i =>
        conv(substring(col("h"), i + 1, 1), 16, 10).cast("int").as(s"d$i"))): _*)
    val sig = bits.zipWithIndex.map { case (j, p) =>
      val vote = sum(when(shiftright(col(s"d${j / 4}"), j % 4) % 2 === 1, col("cnt"))
        .otherwise(-col("cnt")))
      when(vote > 0, 1L << p).otherwise(0L)
    }.reduce(_ bitwiseOR _)
    digits.groupBy(col("id")).agg(sig.as("simhash"))
  }

  /** 16-bit SimHash (oracle-checkable size): bit i is bit 4i of
    * [[simhash64Df]] — md5 hex digit i's low bit votes for it. */
  def simhash16(df: DataFrame, textCol: String, idCol: String): DataFrame =
    simhashOf(df, textCol, idCol, 0 until 64 by 4)

  /** 64-bit SimHash (the production width, oracle-gated): all 64 vote
    * bits of [[simhashOf]]. */
  def simhash64Df(df: DataFrame, textCol: String, idCol: String): DataFrame =
    simhashOf(df, textCol, idCol, 0 until 64)

  /** SimHash near-duplicate pairs over the 16-bit signatures: 4
    * disjoint 4-bit chunks, full recall for Hamming ≤ 3 (see
    * [[simhashBandedPairs]]). The 64-key space (4 bands × 16 nibbles)
    * bounds the spread of the candidate expansion — an inherent skew
    * residual of coarse signatures; identical-signature classes above
    * 1024 documents emit a star. Output: (id1, id2, hamming), id1 < id2. */
  def simhashPairs(
      df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3): DataFrame =
    simhashBandedPairs(simhash16(df, textCol, idCol), 4, maxHamming, 1024)

  /** SimHash near-duplicate pairs over the PRODUCTION 64-bit
    * signatures: the same pigeonhole as [[simhashPairs]] with 4
    * disjoint 16-bit chunks (full recall for Hamming ≤ 3), but the
    * candidate-join key space is 4 bands × 65,536 chunk values, so the
    * quadratic per-group expansion spreads across the cluster instead
    * of 64 coarse buckets. Identical-signature classes above
    * `identicalCliqueCap` emit a star (see [[simhashBandedPairs]]).
    * Output: (id1, id2, hamming), id1 < id2. */
  def simhash64Pairs(
      df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, identicalCliqueCap: Int = 1024): DataFrame =
    simhashBandedPairs(simhash64Df(df, textCol, idCol), 16, maxHamming, identicalCliqueCap)

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
    val (p0, _, nPairs) = graft.core.Materialize.handle(
      pairs.select(col("id1").cast("long").as("a"), col("id2").cast("long").as("b"))
        .where(col("a").isNotNull && col("b").isNotNull),
      reliable)
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
    // the session's full parallelism. The count is free — the
    // materialization above computed it. Every pre-loop stage runs at
    // this width too: the materialized pairs keep the CALLER's
    // partition count (33-partition SimHash pairs gave three 66-task
    // stages over ~600 edges), so they coalesce to `w` before the
    // symmetric edge list and the initial labels read them.
    val w = math.min(
      pairs.sparkSession.sparkContext.defaultParallelism.toLong,
      nPairs / 65536L + 1L).toInt
    val pw = p0.coalesce(w)
    val sym = pw.unionByName(pw.select(col("b").as("a"), col("a").as("b")))
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
    var (labels, labelsRdd, _) = graft.core.Materialize.handle(
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
      val (mat, matRdd, _) = graft.core.Materialize.handle(
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
    labels.select(col("id"), col("lbl").as("cluster_id"))
  }
}

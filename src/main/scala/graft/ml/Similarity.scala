package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity search over an embedding
  * column (`Array[Float]`).
  *
  * Determinism note: dot products and norms are computed over
  * fixed-point quantized components (`floor(x * 2^20)` as Long) —
  * integer sums are exact and order-independent, so results are
  * bit-identical across engines and partitionings; the final cosine is
  * a single double expression over those exact integers. The
  * quantization error (~1e-6 per component) is far below any
  * meaningful similarity resolution.
  */
object Similarity {

  private val Scale = 1048576L // 2^20

  /** Quantized component array. */
  private def quant(v: Column): Column =
    transform(v, x => floor(x.cast("double") * Scale).cast("long"))

  // Norms and quantization are per-VECTOR facts, so they are projected
  // once per row BEFORE a candidate join (the projection stays below
  // the join in the physical plan) and each pair pays only the single
  // O(dim) dot product over exact integer sums.

  /** Dot product of two ALREADY-quantized vectors. */
  private def qdot(aq: Column, bq: Column): Column =
    aggregate(zip_with(aq, bq, (x, y) => x * y), lit(0L), (acc, v) => acc + v)

  private def qnorm2(aq: Column): Column =
    aggregate(transform(aq, x => x * x), lit(0L), (acc, v) => acc + v)

  /** Cosine of the prepared vectors prefixed `a` and `b` (see [[prep]]),
    * rounded to 9 places. */
  private def cosine(a: String, b: String): Column =
    round(qdot(col(a + "_q"), col(b + "_q")).cast("double") /
      sqrt(col(a + "_n2").cast("double")) / sqrt(col(b + "_n2").cast("double")), 9)

  /** Projection prefix-`p`: (p_id, p_q quantized array, p_n2 norm). */
  private def prep(df: DataFrame, idCol: String, vecCol: String, p: String): DataFrame =
    df.select(col(idCol).as(p + "_id"), quant(col(vecCol)).as(p + "_q"))
      .withColumn(p + "_n2", qnorm2(col(p + "_q")))

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (excluding itself), ranked by (cosine desc, id).
    * The query side is broadcast; the corpus streams partition-parallel
    * — at 100 TB this is one broadcast-nested-loop with no shuffle of
    * the corpus, the right baseline for ANN verification. */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = prep(queries, idCol, vecCol, "q")
    val c = prep(graft.core.Parallelism.ensure(corpus), idCol, vecCol, "n")
    topK(c.crossJoin(broadcast(q)).where(col("q_id") =!= col("n_id")), k)
  }

  /** The rank tail of every top-k search: each candidate `(q_*, n_*)`
    * row is scored, and each query keeps its k best by (cosine desc,
    * id). Output (q_id, n_id, rank). */
  private def topK(candidates: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("cos").desc, col("n_id"))
    candidates.select(col("q_id"), col("n_id"), cosine("q", "n").as("cos"))
      .withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("q_id"), col("n_id"), col("rank"))
  }

  /** Random-hyperplane LSH bucket signature of an already-quantized
    * component array: `planes` sign bits, where hyperplane h's
    * component i is derived from md5 (deterministic,
    * engine-independent): digit = hex(md5(h||'_'||i)) mod 16 - 7.5,
    * realized as integer votes (2*digit - 15) to stay exact. */
  private def lshBucketPre(vq: Column, planes: Int, dim: Int): Column = {
    val bits = sequence(lit(0), lit(planes - 1))
    transform(bits, h => {
      val dot = aggregate(
        zip_with(vq, sequence(lit(0), lit(dim - 1)), (x, i) => {
          val digit = conv(substring(md5(concat(h.cast("string"), lit("_"),
            i.cast("string")).cast("binary")), 1, 1), 16, 10).cast("long")
          x * (digit * 2 - 15)
        }),
        lit(0L), (acc, x) => acc + x)
      when(dot > 0, lit(1)).otherwise(lit(0))
    })
  }

  /** [[prep]] plus the `planes`-bit bucket signature `p_sig`. */
  private def signed(df: DataFrame, idCol: String, vecCol: String, p: String,
      planes: Int, dim: Int): DataFrame =
    prep(df, idCol, vecCol, p).withColumn(p + "_sig", lshBucketPre(col(p + "_q"), planes, dim))

  /** Embedding-cosine near-duplicate pairs: candidates collide in an
    * LSH hyperplane bucket (high-cosine vectors agree on all sign
    * bits with high probability), then the exact cosine filters at
    * `threshold`. Output (id1 < id2, cos) — the embedding member of
    * the dedup family; shuffle key is the bucket signature, never the
    * vectors, so candidate generation scales like a hash join. */
  def nearDuplicatePairs(
      corpus: DataFrame, threshold: Double, planes: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val base = graft.core.Parallelism.ensure(corpus)
    val sig = (p: String) => signed(base, idCol, vecCol, p, planes, dim)
    sig("a").join(sig("b"),
        col("a_sig") === col("b_sig") && col("a_id") < col("b_id"))
      .select(col("a_id").as("id1"), col("b_id").as("id2"), cosine("a", "b").as("cos"))
      .where(col("cos") >= threshold)
  }

  /** IVF-style ANN: a deterministic coarse quantizer (every
    * `centEvery`-th corpus vector is a centroid — the derandomized
    * stand-in for k-means centroids, which both engines can reproduce
    * exactly) partitions the corpus into inverted lists by nearest
    * centroid; a query probes its `nprobe` nearest cells and ranks
    * exactly within them. The recall knob is `nprobe` — the
    * recall-controlled scale path the LSH variant lacks.
    *
    * Scale shape: the centroid table is tiny and broadcast twice
    * (corpus assignment + query routing) — both map-only over the big
    * side; the candidate join keys on the cell id, so the corpus
    * shuffles once on a low-cardinality-but-balanced key and the
    * probe set is broadcast. No all-pairs stage anywhere. */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      centEvery: Int, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val cent = prep(corpus.where(col(idCol) % centEvery === 1), idCol, vecCol, "c")
    val c = prep(graft.core.Parallelism.ensure(corpus), idCol, vecCol, "n")
    val wA = Window.partitionBy(col("n_id"))
      .orderBy(col("_sim").desc, col("c_id"))
    val inverted = c.crossJoin(broadcast(cent))
      .select(col("n_id"), col("n_q"), col("n_n2"), col("c_id"), cosine("n", "c").as("_sim"))
      .withColumn("_r", row_number().over(wA)).where(col("_r") === 1)
      .select(col("n_id"), col("n_q"), col("n_n2"), col("c_id").as("_cell"))
    val q = prep(queries, idCol, vecCol, "q")
    val wQ = Window.partitionBy(col("q_id"))
      .orderBy(col("_qsim").desc, col("c_id"))
    val probes = q.crossJoin(broadcast(cent))
      .select(col("q_id"), col("q_q"), col("q_n2"), col("c_id"), cosine("q", "c").as("_qsim"))
      .withColumn("_r", row_number().over(wQ)).where(col("_r") <= nprobe)
      .select(col("q_id"), col("q_q"), col("q_n2"), col("c_id").as("_cell"))
    topK(inverted.join(broadcast(probes), Seq("_cell")).where(col("q_id") =!= col("n_id")), k)
  }

  /** LSH-bucketed ANN: candidates share a bucket signature; top-k by
    * cosine within bucket. Trades recall for a corpus-sized shuffle-free
    * probe (buckets are the shuffle key, not vectors). */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame, k: Int, planes: Int, dim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = signed(queries, idCol, vecCol, "q", planes, dim)
    val c = signed(graft.core.Parallelism.ensure(corpus), idCol, vecCol, "n", planes, dim)
    topK(c.join(broadcast(q), col("q_sig") === col("n_sig") && col("q_id") =!= col("n_id")), k)
  }
}

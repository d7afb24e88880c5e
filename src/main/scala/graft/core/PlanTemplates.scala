package graft.core

import org.apache.spark.sql.{DataFrame, GraftPlanBridge, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.BaseRelation

/** Session-scoped plan templates: a plan whose construction depends
  * only on its inputs' SHAPE is built once and every later call binds
  * its own input files into a copy.
  *
  * A large operator (annotate: ~10K expressions) spends most of a
  * small call building and analyzing the same DataFrame. [[bind]]
  * builds it on the first call exactly as before and keeps a clone of
  * the analyzed plan plus the input file relations in leaf order. A
  * later call with the same key clones that plan, swaps each template
  * relation (matched by reference) for the caller's relation at the
  * same leaf position — `LogicalRelation.copy(relation = …)` keeps
  * every attribute id — and wraps it with `Dataset.ofRows`, so it
  * still takes the full optimizer → physical → AQE path.
  *
  * The key holds everything construction reads:
  *   - the entry tag (operator, options);
  *   - the session's SQL confs (ANSI mode, case sensitivity and
  *     `spark.bio.broadcast_build_limit` all shape construction);
  *   - each input's canonicalized analyzed plan, untruncated, and
  *     which leaves share one relation;
  *   - each input's schema — names, types, nullability and field
  *     metadata, all of which canonicalization erases but construction
  *     reads (output column names, the coordinate-system tag);
  *   - each file relation's format, index type, options (without the
  *     path), data and partition schema and bucketing;
  *   - the CONTEXT inputs' root paths: construction may embed their
  *     collected rows, so another directory is another template; the
  *     VARIANT inputs contribute only their shape.
  * Inputs with any leaf other than a file relation (in-memory frames,
  * RDDs, V2 scans) build as before and are never stored; so is a
  * built plan holding a leaf other than an input file relation or a
  * local relation. A template holds the localized context rows its
  * plan embeds: [[SessionCache.invalidate]] drops it (a stopped
  * session's templates go on the next access), and it assumes the
  * context files do not change under their paths, as the dim cache
  * does. */
object PlanTemplates {

  private final case class Template(plan: LogicalPlan, relations: Seq[HadoopFsRelation])

  private val templates = new SessionCache[String, Template](8)

  /** Template hits since start-up — lets specs assert reuse. */
  private[graft] val hits = new java.util.concurrent.atomic.AtomicLong()

  /** Templates held for `s`. */
  private[graft] def stored(s: SparkSession): Int = templates.size(s)

  /** `build` once per (session, `tag`, SQL confs, context), then bind
    * each later call's `variants` and `context` into the kept plan. */
  def bind(tag: String, variants: Seq[DataFrame], context: Seq[DataFrame])(
      build: => DataFrame): DataFrame = {
    val inputs = variants ++ context
    val spark = inputs.head.sparkSession
    val files = inputs.map(df => fileLeaves(df.queryExecution.analyzed))
    if (inputs.exists(_.sparkSession ne spark) || files.exists(_.isEmpty)) build
    else {
      val rels = files.flatMap(_.get)
      val key = Seq(
        tag,
        spark.conf.getAll.toSeq.sorted.mkString(","),
        inputs.map(df => canonicalString(df.queryExecution.analyzed)).mkString("\n"),
        inputs.map(_.schema.json).mkString("\n"),
        rels.map(r => rels.indexWhere(_ eq r)).mkString(","),
        rels.map(shape).mkString("\n"),
        files.drop(variants.size).flatMap(_.get)
          .map(_.location.rootPaths.mkString(",")).mkString(";")
      ).mkString("\u001E")
      templates.get(spark, key) match {
        case Some(t) =>
          hits.incrementAndGet()
          rebind(spark, t, rels)
        case None =>
          val df = build
          val plan = df.queryExecution.analyzed
          if (boundTo(plan, rels)) templates.put(spark, key, Template(plan.clone(), rels))
          df
      }
    }
  }

  private def leaves(plan: LogicalPlan): Seq[LogicalPlan] =
    plan.collectWithSubqueries { case p if p.children.isEmpty => p }

  /** The plan's file relations in leaf order, or None when any leaf
    * (subqueries included) is something else. */
  private def fileLeaves(plan: LogicalPlan): Option[Seq[HadoopFsRelation]] = {
    val all = leaves(plan)
    val fs = all.collect { case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r }
    if (fs.length == all.length) Some(fs) else None
  }

  /** Every leaf of the built plan is one of the inputs' relations or a
    * local relation, so rebinding the inputs rebinds the whole plan. */
  private def boundTo(plan: LogicalPlan, rels: Seq[HadoopFsRelation]): Boolean =
    leaves(plan).forall {
      case LogicalRelation(r, _, _, _, _) => rels.exists(_ eq r)
      case _: LocalRelation => true
      case _ => false
    }

  /** A file relation without its location. */
  private def shape(r: HadoopFsRelation): String = Seq(
    r.fileFormat.getClass.getName, r.location.getClass.getName,
    r.options.filter { case (k, _) => !k.equalsIgnoreCase("path") && !k.equalsIgnoreCase("paths") }
      .toSeq.sorted.mkString(","),
    r.dataSchema.json, r.partitionSchema.json, r.bucketSpec.toString).mkString("|")

  /** The canonicalized plan printed in full: the default rendering
    * truncates long field and argument lists, which would let two
    * plans that differ past the cut share a key. V1 file relations
    * print without their location, so callers that need the data's
    * identity add it themselves. */
  private[graft] def canonicalString(plan: LogicalPlan): String = {
    val conf = SQLConf.get.clone()
    conf.setConf(SQLConf.MAX_TO_STRING_FIELDS, Int.MaxValue)
    SQLConf.withExistingConf(conf) {
      plan.canonicalized.treeString(verbose = true, maxFields = Int.MaxValue)
    }
  }

  private def rebind(spark: SparkSession, t: Template, rels: Seq[HadoopFsRelation]): DataFrame = {
    val to = new java.util.IdentityHashMap[BaseRelation, BaseRelation]()
    t.relations.zip(rels).foreach { case (a, b) => to.put(a, b) }
    GraftPlanBridge.ofAnalyzed(spark, t.plan.clone().transformUpWithSubqueries {
      case lr: LogicalRelation if to.containsKey(lr.relation) =>
        lr.copy(relation = to.get(lr.relation))
    })
  }
}
